package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** `Tables.apply` reads a table's schema from its footer on the driver:
  * building the frame runs no Spark job, and the frame has exactly the
  * schema `spark.read.parquet` infers (names, types, nullability), for
  * single-file tables and for directories a Spark write leaves.
  */
class TablesSpec extends SparkSpec {

  /** The sf0.001 and sf0.01 test tables (TESTDATA.md). */
  private val dirs = Seq(sf0001, s"${new java.io.File(sf0001).getParent}/sf0.01")

  /** `body`'s result and the Spark jobs that started while it ran. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The schema Spark's own inference gives the table, `events`
    * normalized under the `nanosAsLong` setting `Tables` reads it with. */
  private def inferred(dir: String, name: String) = {
    val path = s"$dir/$name.parquet"
    if (name == "events")
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        Tables.normalizeEventTs(spark.read.parquet(path)).schema
      }
    else spark.read.parquet(path).schema
  }

  private def fields(s: org.apache.spark.sql.types.StructType) =
    s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  test("Tables.apply runs no Spark job") {
    for (dir <- dirs; name <- Tables.names) {
      val (_, jobs) = jobsDuring(Tables(spark, dir, name))
      assert(jobs == 0, s"$dir $name: $jobs jobs building the frame")
    }
  }

  test("Tables.apply gives exactly the schema spark.read.parquet infers") {
    for (dir <- dirs; name <- Tables.names) {
      val (got, want) = (Tables(spark, dir, name).schema, inferred(dir, name))
      assert(fields(got) == fields(want), s"$dir $name")
      assert(got == want, s"$dir $name: field metadata differs")
    }
  }

  test("a table written by Spark as a directory reads its first data file's footer, in no job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "s", "d")
      .repartition(3).write.parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsDuring(Tables(spark, dir, "t"))
    assert(jobs == 0)
    assert(fields(df.schema) == fields(spark.read.parquet(s"$dir/t.parquet").schema))
    assert(df.count() == 3)
  }
}
