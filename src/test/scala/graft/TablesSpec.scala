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

  test("events with ts as TIMESTAMP(NANOS) read as ns div 1000, and the caller's nanosAsLong is never written") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    // sub-µs bits at 2023 magnitudes, a whole µs, and one before 1970
    val ns = Seq(1700000000123456789L, 1700000000123456000L, 1L, -1500L)
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet")).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ns.zipWithIndex.foreach { case (t, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", t)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.0)
        .append("props", "{}"))
    } finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key -> "false") {
      val events = Tables(spark, dir, "events")
      assert(spark.conf.get(key) == "false", "building the frame wrote the caller's conf")
      assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val got = events.selectExpr("event_id", "unix_micros(ts)").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(spark.conf.get(key) == "false", "running the frame wrote the caller's conf")
      assert(got == ns.zipWithIndex.map { case (t, i) => i.toLong -> t / 1000 }.toMap)
    }
  }

  test("Dedup.stage runs one job, its write, and reads back the schema spark.read.parquet infers") {
    import spark.implicits._
    val df = Seq((1L, "a", Option(1.5)), (2L, null, None), (3L, "c", Option(-0.5)))
      .toDF("id", "s", "d")
      .withColumn("arr", org.apache.spark.sql.functions.array($"id", $"id" * 2))
    val (staged, jobs) = jobsDuring(graft.operators.Dedup.stage(df, "tables-spec"))
    assert(jobs == 1, s"$jobs jobs staging the frame")
    val dir = new org.apache.hadoop.fs.Path(staged.inputFiles.head).getParent.toString
    assert(staged.schema == spark.read.parquet(dir).schema)
    assert(staged.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }
}
