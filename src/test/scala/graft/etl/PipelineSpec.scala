package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}

/** E2E: CSV manifest → backup → all-text staging → narrowing → atomic swap
  * → history — the reference's daily pipeline (load_tables_daily.py:562–650)
  * over synthesized fixtures.
  */
class PipelineSpec extends SparkSpec {

  private def writeCsv(dir: Path, name: String, lines: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("tableNameFor normalizes like the reference (F3)") {
    assert(Ingest.tableNameFor("Patient_Labs.CSV") == "patient_labs")
    assert(Ingest.tableNameFor("/data/in/Encounters.csv") == "encounters")
    assert(Ingest.tableNameFor("plain") == "plain")
  }

  test("readCsvAllText stages every column as string (D1 two-phase schema)") {
    val dir = Files.createTempDirectory("ingest")
    val f = writeCsv(dir, "t.csv", Seq("id,amount,when", "1,2.5,2024-01-01"))
    val df = Ingest.readCsvAllText(spark, f)
    assert(df.schema.forall(_.dataType == StringType))
    assert(df.columns.toSeq == Seq("id", "amount", "when"))
    assert(df.count() == 1)
  }

  test("backupFiles copies into a dated history folder (F1)") {
    val dir = Files.createTempDirectory("bk")
    val f = writeCsv(dir, "a.csv", Seq("x", "1"))
    val hist = dir.resolve("history").toString
    val copied = Ingest.backupFiles(spark, Seq(f), hist,
      java.time.LocalDate.of(2026, 8, 12))
    assert(copied.size == 1)
    assert(copied.head.contains("upload_2026_08_12"))
    assert(Files.exists(java.nio.file.Paths.get(
      new java.net.URI(copied.head).getPath match {
        case "" | null => copied.head
        case p => p
      })) || Files.exists(java.nio.file.Paths.get(copied.head.stripPrefix("file:"))))
  }

  test("readManifest skips blanks and comments (F2)") {
    val dir = Files.createTempDirectory("mf")
    val f = writeCsv(dir, "files.list", Seq("a.csv", "", "# comment", "b.csv"))
    assert(Ingest.readManifest(spark, f) == Seq("a.csv", "b.csv"))
  }

  test("lifecycle: build → swap → history → clone (D1–D5, A1)") {
    import spark.implicits._
    val t = "lc_orders"
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    TableLifecycle.stageBuild(v1, t)
    assert(TableLifecycle.tableExists(spark, TableLifecycle.buildName(t)))
    TableLifecycle.swap(spark, t)
    assert(TableLifecycle.tableExists(spark, t))
    assert(!TableLifecycle.tableExists(spark, TableLifecycle.buildName(t)))
    assert(TableLifecycle.recordCount(spark, t) == 2)

    // refresh with v2: readers see old or new count, never partial
    val v2 = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    TableLifecycle.stageBuild(v2, t)
    assert(TableLifecycle.recordCount(spark, t) == 2) // prod untouched while staged
    TableLifecycle.swap(spark, t)
    assert(TableLifecycle.recordCount(spark, t) == 3)

    TableLifecycle.snapshotToHistory(spark, t)
    TableLifecycle.snapshotToHistory(spark, t)
    val hist = spark.table(TableLifecycle.historyName(t))
    assert(hist.count() == 6) // append-only
    assert(hist.columns.contains("load_time"))

    TableLifecycle.cloneStructure(spark, t, s"${t}_clone")
    val clone = spark.table(s"${t}_clone")
    assert(clone.count() == 0)
    assert(clone.schema == spark.table(t).schema)
  }

  test("swap leaves no _prev table, and a _prev left by a crash does not break the next swap") {
    import spark.implicits._
    val t = "lc_swap"
    val prev = s"${t}_prev"
    Seq(t, prev, TableLifecycle.buildName(t)).foreach(TableLifecycle.dropIfExists(spark, _))
    TableLifecycle.stageBuild(Seq(1, 2).toDF("id"), t)
    TableLifecycle.swap(spark, t)
    assert(!TableLifecycle.tableExists(spark, prev))
    TableLifecycle.stageBuild(Seq(1, 2, 3).toDF("id"), t)
    TableLifecycle.swap(spark, t)
    assert(TableLifecycle.recordCount(spark, t) == 3)
    assert(!TableLifecycle.tableExists(spark, prev))
    // a crash after prod → _prev and before build → prod left prod as
    // _prev; the next load stages a build and swaps in over it
    spark.sql(s"ALTER TABLE `$t` RENAME TO `$prev`")
    TableLifecycle.stageBuild(Seq(1, 2, 3, 4).toDF("id"), t)
    TableLifecycle.swap(spark, t)
    assert(TableLifecycle.recordCount(spark, t) == 4)
    assert(!TableLifecycle.tableExists(spark, prev))
    // a _prev left beside prod (a crash before its final drop) is replaced
    Seq(9).toDF("id").write.saveAsTable(prev)
    TableLifecycle.stageBuild(Seq(5).toDF("id"), t)
    TableLifecycle.swap(spark, t)
    assert(spark.table(t).as[Int].collect().toSeq == Seq(5))
    assert(!TableLifecycle.tableExists(spark, prev))
    TableLifecycle.dropIfExists(spark, t)
  }

  test("the stage write's committed count is the table's count: rows, blank lines, header only") {
    val dir = Files.createTempDirectory("committed")
    val extracts = Seq(
      writeCsv(dir, "Counted_Rows.csv", Seq("id,v") ++ (1 to 2500).map(i => s"$i,x$i")),
      writeCsv(dir, "Counted_Blank.csv", Seq("id,v", "", "", "")),
      writeCsv(dir, "Counted_Header.csv", Seq("id,v")))
    val report = Pipeline.runDaily(spark, extracts, dir.resolve("history").toString, withHistory = true)
    assert(report.tables.map(_.rows) == Seq(2500L, 0L, 0L))
    report.tables.foreach(t => assert(t.rows == TableLifecycle.recordCount(spark, t.table), t.table))
    val typed = TypeInference.inferAndNarrow(Ingest.readCsvAllText(spark, extracts.head))
    assert(TableLifecycle.stageBuild(typed, "counted_again") == 2500L)
    assert(spark.table(TableLifecycle.buildName("counted_again")).schema == spark.table("counted_rows").schema)
  }

  /** The `load_time` partitions of `table`'s history: stamp → data files. */
  private def historyPartitions(table: String): Map[java.time.Instant, Int] = {
    val h = spark.table(TableLifecycle.historyName(table))
    h.select("load_time").distinct().collect().map(_.getTimestamp(0).toInstant).map { t =>
      t -> h.where(org.apache.spark.sql.functions.col("load_time") === java.sql.Timestamp.from(t)).inputFiles.length
    }.toMap
  }

  private def micros(t: java.time.Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000

  test("a 0-byte extract loads as nothing and leaves its table and history; the day's other extracts load") {
    val dir = Files.createTempDirectory("emptyday")
    val hist = dir.resolve("history").toString
    val day1 = Files.createDirectory(dir.resolve("d1"))
    Pipeline.runDaily(spark, Seq(writeCsv(day1, "Empty_X.csv", Seq("a,b", "1,x", "2,y"))), hist,
      withHistory = true)
    def snapshot(t: String) = (spark.table(t).schema, spark.table(t).collect().map(_.toString).sorted.toSeq)
    val (table, history) = (snapshot("empty_x"), snapshot("empty_x_history"))
    val day2 = Files.createDirectory(dir.resolve("d2"))
    val files = Seq(writeCsv(day2, "Normal_Y.csv", Seq("k,v", "1,a", "2,b", "3,c")),
      writeCsv(day2, "Empty_X.csv", Nil),
      writeCsv(day2, "Header_Only.csv", Seq("p,q")))
    assert(Files.size(java.nio.file.Paths.get(files(1))) == 0)
    val report = Pipeline.runDaily(spark, files, hist, withHistory = true)
    val byTable = report.tables.map(r => r.table -> (r.rows, r.columns)).toMap
    assert(byTable == Map("normal_y" -> (3L, 2), "empty_x" -> (0L, 0), "header_only" -> (0L, 2)))
    spark.catalog.refreshTable("empty_x")
    spark.catalog.refreshTable("empty_x_history")
    assert(snapshot("empty_x") == table)
    assert(snapshot("empty_x_history") == history)
    assert(!spark.catalog.tableExists("empty_x_build"))
    assert(spark.table("normal_y").count() == 3 && spark.table("header_only").count() == 0)
  }

  test("stageBuild writes an unpartitioned _build even from a partitioned source, and swap keeps its rows") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.mode("overwrite").partitionBy("k").saveAsTable("part_src")
    def partitionColumns(t: String) = {
      val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(t)).partitionColumnNames
    }
    assert(partitionColumns("part_src") == Seq("k"))
    assert(TableLifecycle.stageBuild(spark.table("part_src"), "part_dst") == 3L)
    assert(partitionColumns(TableLifecycle.buildName("part_dst")).isEmpty)
    TableLifecycle.swap(spark, "part_dst")
    assert(spark.table("part_dst").count() == 3)
  }

  test("history snapshots copy prod's files into one load_time partition each, in no job") {
    import spark.implicits._
    val t = "hist_copy"
    Seq(t, TableLifecycle.historyName(t)).foreach(TableLifecycle.dropIfExists(spark, _))
    val base = java.time.Instant.parse("2026-03-01T08:15:30.123456Z")
    val stamps = (0 until 3).map(d => base.plusSeconds(86400L * d).plusNanos(1000L * d))
    stamps.zipWithIndex.foreach { case (stamp, d) =>
      TableLifecycle.stageBuild((1 to 100 + d).map(i => (i, s"v$i")).toDF("id", "v").repartition(3 + d), t)
      TableLifecycle.swap(spark, t)
      val prodFiles = spark.table(t).inputFiles.length
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        TableLifecycle.snapshotToHistory(spark, t, micros(stamp))
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get() == 0, s"snapshot ${d + 1} ran ${jobs.get()} jobs")
      assert(historyPartitions(t)(stamp) == prodFiles, s"snapshot ${d + 1}")
    }
    assert(historyPartitions(t).keySet == stamps.toSet)
    val h = spark.table(TableLifecycle.historyName(t))
    assert(h.columns.toSeq == Seq("id", "v", "load_time"))
    assert(h.count() == 100 + 101 + 102)
    assert(h.where($"load_time" === java.sql.Timestamp.from(stamps(1))).drop("load_time")
      .as[(Int, String)].collect().sorted.toSeq == (1 to 101).map(i => (i, s"v$i")))
    assert(spark.sql(s"SHOW PARTITIONS ${TableLifecycle.historyName(t)}").count() == 3)
  }

  test("two snapshots in the same µs share one partition and keep both copies") {
    import spark.implicits._
    val t = "hist_same_us"
    Seq(t, TableLifecycle.historyName(t)).foreach(TableLifecycle.dropIfExists(spark, _))
    TableLifecycle.stageBuild((1 to 10).toDF("id").repartition(2), t)
    TableLifecycle.swap(spark, t)
    val stamp = java.time.Instant.parse("2026-03-01T08:15:30.000001Z")
    TableLifecycle.snapshotToHistory(spark, t, micros(stamp))
    TableLifecycle.snapshotToHistory(spark, t, micros(stamp))
    assert(historyPartitions(t) == Map(stamp -> 2 * spark.table(t).inputFiles.length))
    assert(spark.table(TableLifecycle.historyName(t)).count() == 20)
  }

  test("type drift appends by name as before: a cast that fits appends, an overflow fails") {
    import spark.implicits._
    val t = "hist_drift"
    Seq(t, TableLifecycle.historyName(t)).foreach(TableLifecycle.dropIfExists(spark, _))
    def load(values: Seq[Int], sqlType: String): Unit = {
      TableLifecycle.stageBuild(values.toDF("n").selectExpr(s"cast(n as $sqlType) as n"), t)
      TableLifecycle.swap(spark, t)
    }
    // the history takes the integer day's type; a smallint day then appends
    load(Seq(70000, 1), "int")
    TableLifecycle.snapshotToHistory(spark, t)
    load(Seq(7, 8), "smallint")
    TableLifecycle.snapshotToHistory(spark, t)
    val h = spark.table(TableLifecycle.historyName(t))
    assert(h.schema("n").dataType == IntegerType)
    assert(h.select("n").as[Int].collect().sorted.toSeq == Seq(1, 7, 8, 70000))
    assert(h.select("load_time").distinct().count() == 2)
    // a smallint history cannot take an integer day's 70000
    val u = "hist_overflow"
    Seq(u, TableLifecycle.historyName(u)).foreach(TableLifecycle.dropIfExists(spark, _))
    TableLifecycle.stageBuild(Seq(7.toShort).toDF("n"), u)
    TableLifecycle.swap(spark, u)
    TableLifecycle.snapshotToHistory(spark, u)
    TableLifecycle.stageBuild(Seq(70000).toDF("n"), u)
    TableLifecycle.swap(spark, u)
    val err = intercept[org.apache.spark.SparkThrowable](TableLifecycle.snapshotToHistory(spark, u))
    assert(err.getCondition == "CAST_OVERFLOW_IN_TABLE_INSERT", err.getCondition)
    assert(spark.table(TableLifecycle.historyName(u)).count() == 1)
  }

  test("an unpartitioned history table is refused with its conversion, which then works") {
    import spark.implicits._
    val t = "hist_old_layout"
    val h = TableLifecycle.historyName(t)
    Seq(t, h).foreach(TableLifecycle.dropIfExists(spark, _))
    TableLifecycle.stageBuild(Seq(1, 2).toDF("id"), t)
    TableLifecycle.swap(spark, t)
    spark.table(t).withColumn("load_time", org.apache.spark.sql.functions.current_timestamp())
      .write.saveAsTable(h)
    val err = intercept[IllegalStateException](TableLifecycle.snapshotToHistory(spark, t))
    assert(err.getMessage.contains("MIGRATION.md"), err.getMessage)
    val conversion = Seq(s"ALTER TABLE `$h` RENAME TO `${h}_unpartitioned`",
      s"CREATE TABLE `$h` USING parquet PARTITIONED BY (load_time) AS SELECT * FROM `${h}_unpartitioned`")
    assert(err.getMessage.contains(conversion.mkString("; ")), err.getMessage)
    conversion.foreach(spark.sql)
    TableLifecycle.snapshotToHistory(spark, t)
    assert(spark.table(h).count() == 4)
    assert(spark.table(h).select("load_time").distinct().count() == 2)
    TableLifecycle.dropIfExists(spark, s"${h}_unpartitioned")
  }

  test("inference runs ONE job regardless of column count") {
    import spark.implicits._
    // 20-column all-text frame: the naive per-column probe would launch 20+
    // jobs; the single-pass vote must launch exactly one (plus none for the
    // bounded count, which is skipped when sampleRows is given).
    val cols = (1 to 20).map(i => s"c$i")
    val df = (1 to 50).map(i => cols.map(c => s"$i")).map {
      vs => (vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6), vs(7), vs(8), vs(9),
        vs(10), vs(11), vs(12), vs(13), vs(14), vs(15), vs(16), vs(17), vs(18), vs(19))
    }.toDF(cols: _*)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val types = TypeInference.inferColumnTypes(df, sampleRows = Some(50))
      Thread.sleep(500) // let the listener bus drain (no public flush API)
      assert(types.size == 20 && types.values.forall(_ == DType.SmallInt))
      // one aggregation query (AQE may stage it as 2 jobs); the per-column
      // formulation launched 20
      assert(jobs <= 2, s"expected one inference query, saw $jobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ddlFor emits CREATE TABLE from a narrowed schema (D6)") {
    import spark.implicits._
    val df = Seq(("1", "x")).toDF("id", "name")
    val typed = TypeInference.narrow(df,
      Map("id" -> DType.SmallInt, "name" -> DType.Text))
    val ddl = TypeInference.ddlFor(typed, "t")
    assert(ddl == "CREATE TABLE IF NOT EXISTS `t` (`id` SMALLINT, `name` STRING)")
    spark.sql("DROP TABLE IF EXISTS t")
    spark.sql(ddl) // must be valid Spark SQL
    assert(spark.catalog.tableExists("t"))
    spark.sql("DROP TABLE t")
  }

  test("firstColumn extracts the leading column client-side (Q10)") {
    import spark.implicits._
    val vals = TableLifecycle.firstColumn(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(vals == Seq(1, 2))
  }

  test("manifest DataSource drives the daily pipeline end-to-end") {
    val dir = Files.createTempDirectory("mpipe")
    val f1 = writeCsv(dir, "T_One.csv", Seq("a,b", "1,x"))
    val f2 = writeCsv(dir, "T_Two.csv", Seq("c", "true"))
    val manifest = dir.resolve("files.list")
    Files.writeString(manifest, s"$f1\n$f2\n")
    val files = spark.read.format("graft.sources.ManifestDataSource")
      .option("path", manifest.toString).load()
      .select("file_path").collect().map(_.getString(0)).toSeq
    val report = Pipeline.runDaily(spark, files, dir.resolve("hist").toString)
    assert(report.tables.map(_.table).toSet == Set("t_one", "t_two"))
    assert(spark.table("t_one").schema("a").dataType == ShortType)
    assert(spark.table("t_two").schema("c").dataType == BooleanType)
  }

  test("ORC roundtrip: a third columnar format writes and reads losslessly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("orc").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "d")
    df.write.mode("overwrite").orc(s"$dir/t")
    val back = spark.read.orc(s"$dir/t")
    // file formats read back as nullable; names and types must match
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("runDaily E2E over a 3-file manifest (X1)") {
    val dir = Files.createTempDirectory("daily")
    val files = Seq(
      writeCsv(dir, "Labs.csv", Seq("mrn,value,drawn", "0042,1.5,2024-01-01", "0099,2.0,2024-01-02")),
      writeCsv(dir, "Visits.csv", Seq("visit_id,seen", "100,2024-03-01 10:00:00", "101,2024-03-02 11:30:00")),
      writeCsv(dir, "Flags.csv", Seq("flag,active", "a,true", "b,false")))
    val report = Pipeline.runDaily(spark, files, dir.resolve("history").toString,
      withHistory = true)
    assert(report.tables.map(_.table).toSet == Set("labs", "visits", "flags"))
    assert(report.tables.forall(_.rows == 2))
    val labs = spark.table("labs")
    val m = labs.schema.map(f => f.name -> f.dataType).toMap
    assert(m("mrn") == StringType)            // leading zeros preserved
    assert(m("value") == DecimalType(38, 18))
    assert(m("drawn") == DateType)
    assert(spark.table("visits").schema("seen").dataType == TimestampType)
    assert(spark.table("flags").schema("active").dataType == BooleanType)
    assert(spark.table("labs_history").count() == 2)
    val counts = Pipeline.countReport(spark, Seq("labs", "visits", "flags"))
    assert(counts.collect().map(_.getLong(1)).sum == 6)
  }
}
