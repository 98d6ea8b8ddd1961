package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual harness (Test/runMain graft.CcDiagManual <sfDir>...) — stage
  * attribution for the q92/q146 family: times the exact n-gram Jaccard
  * pair build and [[graft.operators.Dedup.connectedComponents]] separately
  * (the bench rows only show their sum), on both the LIVE pair frame (as
  * the queries consume it) and a parquet-staged copy (lineage-free), so a
  * superlinear tier ratio can be pinned to pair generation, CC itself, or
  * lineage re-execution inside CC's edge build.
  */
object CcDiagManual {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[cc-diag]   $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    for (dir <- args) {
      println(s"[cc-diag] dir=$dir")
      val docs = Tables(spark, dir, "documents")
      val pairs = graft.operators.Dedup
        .ngramJaccardAllPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      val nPairs = timed("pairs count (one full build)")(pairs.count())
      println(s"[cc-diag]   pairs=$nPairs")
      timed("CC on LIVE pair frame (query shape)") {
        graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b").count()
      }
      val dir2 = s"/tmp/ccdiag-${java.util.UUID.randomUUID()}"
      pairs.write.mode("overwrite").parquet(dir2)
      val staged = spark.read.parquet(dir2)
      timed("CC on STAGED pairs (lineage-free)") {
        graft.operators.Dedup.connectedComponents(staged, "id_a", "id_b").count()
      }
    }
    spark.stop()
  }
}
