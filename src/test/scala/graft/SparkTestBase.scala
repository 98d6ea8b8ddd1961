package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate global state destructively).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Run `body` with the given session confs set, restoring each key's
    * previous value (or unsetting it) afterwards. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A `spark.graft.ann.replicateIndexBytes` budget halfway between the
    * int8 and float resident estimates of `index`'s copy, from the same
    * row estimate the replicate gate acts on: the float rung declines and
    * the int8 rung replicates. */
  def int8OnlyBudget(index: graft.operators.Similarity.IvfIndex): Long = {
    val dim = index.centroids.head._2.length.toLong
    val rows = graft.operators.Similarity.estRowsHonest(index.assigned, 4 * dim + 24)._1
    ((rows * (dim + 40) + rows * (4 * dim + 24)) / 2).toLong
  }
}
