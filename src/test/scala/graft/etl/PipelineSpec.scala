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

  test("partitioned publish prunes partitions on the filter column") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, s"r$i", 2020 + i % 4)).toDF("id", "v", "yr")
    TableLifecycle.publishPartitioned(df, "pp_orders", Seq("yr"))
    val q = spark.table("pp_orders").filter($"yr" === 2021)
    assert(q.count() == 25)
    val scan = q.queryExecution.executedPlan.toString
    // partition filter must be applied at the source, not post-scan
    assert(scan.contains("PartitionFilters") && scan.contains("yr"), scan)
    assert(!scan.contains("Filter (yr"), "filter should be pruned into the scan")
  }

  test("compact rewrites into target file count, preserving rows") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, i % 7)).toDF("id", "g").repartition(20)
    df.write.mode("overwrite").saveAsTable("cmp_t")
    TableLifecycle.compact(spark, "cmp_t", targetFiles = 2, sortCols = Seq("id"))
    val back = spark.table("cmp_t")
    assert(back.count() == 200)
    assert(back.select("id").distinct().count() == 200)
    val files = back.inputFiles.length
    assert(files <= 2, s"expected <=2 files after compaction, got $files")
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
