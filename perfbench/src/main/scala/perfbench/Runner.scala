package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.etl.{Ingest, Pipeline, TableLifecycle, TypeInference}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, countDistinct, sum}
import org.apache.spark.sql.types._

/** One benchmark run in a fresh JVM, driven by `perfbench/run.py`.
  *
  * Modes (`--mode`):
  *  - `gen`: write the query tables to `--data`.
  *  - `inventory`: run every query in `--ops` once and record what each
  *    scanned, its plan shape and its digest.
  *  - `run`: set up, then run the operations of one workload in a closed
  *    loop with one client thread, and write the raw per-operation records
  *    (timings, output digests, errors) and run-level figures as JSON to
  *    `--out`. With `--trace 1` it also registers the [[Recorder]], writes
  *    the spans to `--spans`, and reports per-layer figures.
  *
  * The runner touches the program only through public entry points:
  * `SparkEntry.queries`, `Tables`, `etl.*`, `Calibration` and `VecKernels`.
  */
object Runner {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "gen" =>
        val spark = session(o)
        DataGen.tables(spark, o("data"))
        write(o("out"), Map("data" -> o("data")))
        spark.stop()
      case "run" => run(o)
      case "inventory" => inventory(o)
    }
  }

  private def nowEpochNs(): Long = {
    val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }

  def session(o: Map[String, String]): SparkSession = {
    val scratch = o.getOrElse("scratch", System.getProperty("java.io.tmpdir"))
    val n = o.getOrElse("cpus", "4")
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.graft.stagingDir", s"$scratch/staging")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session, forced confs, table registration and warm-up: everything
    * before the first timed operation can start. Registration reads every
    * table's footer. The warm-up digests the first rows of the tables that
    * between them hold every column type, and joins and aggregates two
    * more, so scans, the digest's own code path, joins, shuffles and
    * aggregation are warm whichever query the seed puts first; what stays
    * cold is each query's own code. */
  private def prepare(o: Map[String, String]): SparkSession = {
    val t0 = System.nanoTime()
    val spark = session(o)
    o.get("conf").filter(_.nonEmpty).foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    val t1 = System.nanoTime()
    if (o("workload") != "daily_load") {
      graft.Tables.registerAll(spark, o("data"))
      def head(n: String) = spark.table(n).limit(20000)
      Seq("lineitem", "events", "documents", "embeddings").foreach(n => Digest.of(head(n)))
      Digest.of(head("orders").join(head("customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(sum("o_totalprice"), countDistinct("o_orderstatus")))
    }
    setupParts += Seq((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    spark
  }
  private val setupParts = ArrayBuffer.empty[Seq[Double]]

  /** Sets up `--setup-samples` times and returns the last session with the
    * samples: the first from process launch (JVM, classes, session), the
    * others a full stop and set-up again inside the same JVM. */
  def setUp(o: Map[String, String]): (SparkSession, Seq[Double]) = {
    var spark = prepare(o)
    val first = (nowEpochNs() - o("launch-ns").toLong) / 1e9
    val again = (2 to o.getOrElse("setup-samples", "1").toInt).map { _ =>
      val t0 = System.nanoTime()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = prepare(o)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, first +: again)
  }

  // ------------------------------------------------------------------ run

  /** Reference pairs (step-by-step day, runDaily day) a traced daily_load
    * run makes after its timed days. */
  private val RefRounds = 3

  final case class Op(name: String, start: Long, end: Long, build: Double, action: Double,
                      rows: Long, schema: String, digest: String, error: String,
                      steps: Seq[(String, Long, Long)] = Nil) {
    def wall: Double = (end - start) / 1e9
  }

  private def run(o: Map[String, String]): Unit = {
    val traced = o("trace") == "1"
    val (spark, setups) = setUp(o)
    val sc = spark.sparkContext
    val rec = new Recorder
    if (traced) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
    val scratch = o("scratch")
    val extracts =
      if (o("workload") == "daily_load")
        DataGen.extracts(s"$scratch/extracts", o("seed").toLong, o("tables").toInt, o("rows").toLong)
      else Nil

    val hostBefore = hostState(scratch)
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cpu0 = os.getProcessCpuTime

    val (ops, etl) =
      if (o("workload") == "daily_load") dailyLoad(spark, o, extracts, traced, rec)
      else (queries(spark, o, traced, rec), Map.empty[String, Any])
    sc.setLocalProperty(Recorder.OpKey, null)
    sc.setLocalProperty(Recorder.PhaseKey, null)
    if (traced) PerfbenchBus.drain(sc)
    rec.currentOp = -1
    val timedWall = etl.get("day_walls").fold(ops.map(_.wall).sum)(_.asInstanceOf[Seq[Double]].sum)

    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val gcS = gcSeconds() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val hostAfter = hostState(scratch)
    // Traced daily_load: after the timed days, days made of runDaily's
    // steps (untagged, so they stay out of the layer figures) alternate
    // with untraced runDaily days in the same JVM, RefRounds of each, each
    // pair in the other order than the one before, so both sides are
    // equally warm. The median step-span sum must match the median
    // runDaily wall.
    val ref =
      if (traced && extracts.nonEmpty) {
        def steps() = stepDay(spark, extracts, s"$scratch/history", rec, -1)
          .flatMap(_._1.steps).map(s => (s._3 - s._2) / 1e9).sum
        def untraced() = {
          val t = System.nanoTime()
          Pipeline.runDaily(spark, extracts.map(_.path), s"$scratch/history", withHistory = true)
          (System.nanoTime() - t) / 1e9
        }
        val pairs = (1 to RefRounds).map { k =>
          if (k % 2 == 1) { val s = steps(); (s, untraced()) }
          else { val w = untraced(); (steps(), w) }
        }
        def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        Some((median(pairs.map(_._1)), median(pairs.map(_._2))))
      } else None
    val days = o.get("days").fold(1)(_.toInt) + ref.fold(0)(_ => 2 * RefRounds)
    val checked = if (extracts.isEmpty) ops else historyCheck(spark, ops, extracts, days)

    var out = Map[String, Any](
      "setup_s" -> setups,
      "setup_parts" -> setupParts.toSeq,
      "wall_s" -> timedWall,
      "cpu_s" -> cpuS,
      "peak_rss_mb" -> vmHwmMb(),
      "host" -> Map("before" -> hostBefore, "after" -> hostAfter),
      "ops" -> checked.map(op => Map("name" -> op.name, "wall_s" -> op.wall, "build_s" -> op.build,
        "action_s" -> op.action, "rows" -> op.rows, "schema" -> op.schema, "digest" -> op.digest,
        "error" -> op.error))) ++ etl
    if (traced) {
      PerfbenchBus.drain(sc)
      out ++= Map(
        "layers" -> (Layers.spark(rec, ops, timedWall, sc.defaultParallelism) ++
          Layers.queries(rec, ops) ++ Layers.plans(rec, compiles) ++ Layers.functions(spark, o("data")) ++
          Layers.etl(rec, ops, extracts, o.get("days").map(_.toInt).getOrElse(1)) ++
          Map("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb,
            "etl.type_match_frac" -> etl.getOrElse("type_match_frac", 0.0))),
        "layer_sum" -> Layers.layerSum(ops, ref))
      Spans.write(o("spans"), rec, ops)
    }
    write(o("out"), out)
    spark.stop()
  }

  /** Runs the operations in `--ops` once each and records, per query, the
    * tables it scanned and its job counts beside the output digest: the
    * data the workload lists and goldens are made from. */
  private def inventory(o: Map[String, String]): Unit = {
    val (spark, _) = setUp(o)
    val rec = new Recorder(recordScans = true)
    spark.sparkContext.addSparkListener(rec); spark.listenerManager.register(rec)
    val ops = queries(spark, o, traced = true, rec)
    PerfbenchBus.drain(spark.sparkContext)
    val jobs = rec.jobs.groupBy(_.op)
    val scans = rec.scans.groupBy(_._1)
    write(o("out"), ops.zipWithIndex.map { case (op, i) =>
      Map("name" -> op.name, "build_s" -> op.build, "action_s" -> op.action, "rows" -> op.rows,
        "schema" -> op.schema, "digest" -> op.digest, "error" -> op.error,
        "jobs" -> jobs.get(i).fold(0)(_.size),
        "build_jobs" -> jobs.get(i).fold(0)(_.count(_.phase == "build")),
        "tables" -> scans.getOrElse(i, Nil).flatMap(_._2).toSet.toSeq.sorted)
    })
    spark.stop()
  }

  /** Tags the jobs of the next step with the operation and step names. */
  private def tag(spark: SparkSession, op: Int, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(Recorder.OpKey, op.toString)
    spark.sparkContext.setLocalProperty(Recorder.PhaseKey, phase)
  }

  private def queries(spark: SparkSession, o: Map[String, String], traced: Boolean,
                      rec: Recorder): Seq[Op] = {
    val all = graft.SparkEntry.queries
    val names = Files.readAllLines(Path.of(o("ops"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    names.zipWithIndex.map { case (name, i) =>
      rec.currentOp = i
      val start = System.nanoTime()
      tag(spark, i, "build")
      var mid = start
      val op = try {
        val df = all(name)(spark, o("data"))
        mid = System.nanoTime()
        tag(spark, i, "action")
        val d = Digest.of(df)
        val end = System.nanoTime()
        // the built DataFrame's own analysis ran eagerly inside the build
        if (traced) rec.synchronized(rec.plans += Recorder.Plan(i,
          Recorder.phases(df.queryExecution).filter(_._1 == "analysis")))
        Op(name, start, end, (mid - start) / 1e9, (end - mid) / 1e9, d.rows, d.schema, d.digest, null)
      } catch {
        case e: Throwable =>
          val end = System.nanoTime()
          if (mid == start) mid = end
          Op(name, start, end, (mid - start) / 1e9, (end - mid) / 1e9, -1, "", "",
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      if (traced) PerfbenchBus.drain(spark.sparkContext)
      op
    }
  }

  private val SparkToDType: Map[DataType, String] = Map(
    ShortType -> "smallint", IntegerType -> "integer", LongType -> "bigint",
    BooleanType -> "boolean", DateType -> "date", TimestampType -> "timestamp", StringType -> "text")
  private def dtypeOf(t: DataType): String = t match {
    case _: DecimalType => "numeric"
    case other          => SparkToDType.getOrElse(other, other.simpleString)
  }

  /** Type mismatches between a loaded table's schema and the planted types. */
  private def typeMismatches(schema: StructType, x: DataGen.Extract): Seq[String] =
    x.columns.flatMap { c =>
      val got = schema.find(_.name == c.name).map(f => dtypeOf(f.dataType)).getOrElse("missing")
      if (got == c.dtype) None else Some(s"${c.name}: planted ${c.dtype}, inferred $got")
    }

  /** The paper's daily pipeline over `days` loads of the generated
    * extracts. Untraced, each day is one `Pipeline.runDaily` call and each
    * table load is one operation, timed by runDaily's own report. Traced,
    * the runner makes runDaily's public calls itself, in its order, so
    * every step gets its own span. */
  private def dailyLoad(spark: SparkSession, o: Map[String, String], extracts: Seq[DataGen.Extract],
                        traced: Boolean, rec: Recorder): (Seq[Op], Map[String, Any]) = {
    val days = o("days").toInt
    val history = s"${o("scratch")}/history"
    val paths = extracts.map(_.path)
    val ops = ArrayBuffer.empty[Op]
    var matched = 0
    var columns = 0
    val dayWalls = ArrayBuffer.empty[Double]
    for (day <- 1 to days) {
      val dayStart = System.nanoTime()
      if (!traced) {
        tag(spark, ops.size, "runDaily")
        val report = try Some(Pipeline.runDaily(spark, paths, history, withHistory = true))
        catch { case e: Throwable =>
          extracts.foreach(x => ops += Op(x.table, dayStart, System.nanoTime(), 0, 0, -1, "", "",
            s"runDaily: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
          None
        }
        val dayEnd = System.nanoTime()
        dayWalls += (dayEnd - dayStart) / 1e9
        report.foreach { r =>
          // runDaily times each table itself; place the loads back to back
          var at = dayEnd - (r.tables.map(_.seconds).sum * 1e9).toLong
          r.tables.zip(extracts).foreach { case (t, x) =>
            val end = at + (t.seconds * 1e9).toLong
            val bad = typeMismatches(spark.table(t.table).schema, x)
            matched += x.columns.size - bad.size; columns += x.columns.size
            val err = (if (t.rows != x.rows) Seq(s"rows ${t.rows} != planted ${x.rows}") else Nil) ++ bad
            ops += Op(x.table, at, end, 0, t.seconds, t.rows, "", "", if (err.isEmpty) null else err.mkString("; "))
            at = end
          }
        }
      } else {
        stepDay(spark, extracts, history, rec, ops.size).zip(extracts).foreach { case ((op, schema), x) =>
          val bad = if (schema == null) Nil else typeMismatches(schema, x)
          if (schema != null) { matched += x.columns.size - bad.size; columns += x.columns.size }
          ops += (if (bad.isEmpty) op else op.copy(error = (Option(op.error).toSeq ++ bad).mkString("; ")))
        }
        dayWalls += (System.nanoTime() - dayStart) / 1e9
      }
    }
    (ops.toSeq, Map(
      "type_match_frac" -> (if (columns == 0) 0.0 else matched.toDouble / columns),
      "rows_loaded" -> extracts.map(_.rows).sum * days,
      "csv_bytes" -> extracts.map(_.bytes).sum * days,
      "day_walls" -> dayWalls.toSeq))
  }

  /** One day as runDaily's public calls, made one at a time in its order,
    * each timed as a step: one operation per table, numbered from `first`,
    * with the inferred schema (null if the load threw). With `first` < 0
    * the jobs are left untagged, outside the layer figures. */
  private def stepDay(spark: SparkSession, extracts: Seq[DataGen.Extract], history: String,
                      rec: Recorder, first: Int): Seq[(Op, StructType)] = {
    val tagged = first >= 0
    if (tagged) { rec.currentOp = first; tag(spark, first, "backup") }
    val b0 = System.nanoTime()
    Ingest.backupFiles(spark, extracts.map(_.path), history)
    val backup = ("backup", b0, System.nanoTime())
    extracts.zipWithIndex.map { case (x, k) =>
      val i = first + k
      if (tagged) rec.currentOp = i
      val start = System.nanoTime()
      val steps = ArrayBuffer.empty[(String, Long, Long)]
      if (k == 0) steps += backup
      def step[A](name: String)(body: => A): A = {
        if (tagged) tag(spark, i, name)
        val s = System.nanoTime(); val a = body; steps += ((name, s, System.nanoTime())); a
      }
      val table = Ingest.tableNameFor(x.path)
      val result = try {
        val staged = step("read")(Ingest.readCsvAllText(spark, x.path))
        val typed = step("infer")(TypeInference.inferAndNarrow(staged))
        step("stage")(TableLifecycle.stageBuild(typed, table))
        step("swap")(TableLifecycle.swap(spark, table))
        step("history")(TableLifecycle.snapshotToHistory(spark, table))
        val rows = step("count")(TableLifecycle.recordCount(spark, table))
        val end = System.nanoTime()
        (Op(x.table, if (k == 0) b0 else start, end, 0, (end - start) / 1e9, rows, "", "",
          if (rows != x.rows) s"rows $rows != planted ${x.rows}" else null, steps.toSeq), typed.schema)
      } catch { case e: Throwable =>
        (Op(x.table, start, System.nanoTime(), 0, 0, -1, "", "",
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", steps.toSeq), null)
      }
      PerfbenchBus.drain(spark.sparkContext)
      result
    }
  }

  /** Every `_history` table holds one snapshot per day; a table whose
    * history is short fails its last load. Runs after the timed section. */
  private def historyCheck(spark: SparkSession, ops: Seq[Op], extracts: Seq[DataGen.Extract],
                           days: Int): Seq[Op] = {
    val lastDay = ops.size - extracts.size
    ops.zipWithIndex.map { case (op, i) =>
      if (i < lastDay) op
      else {
        val x = extracts(i - lastDay)
        val got = scala.util.Try(spark.table(TableLifecycle.historyName(Ingest.tableNameFor(x.path))).count())
          .getOrElse(-1L)
        if (got == days * x.rows) op
        else {
          val msg = s"history $got != $days x ${x.rows}"
          op.copy(error = Option(op.error).fold(msg)(_ + "; " + msg))
        }
      }
    }
  }

  // ---------------------------------------------------------- host state

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** CPU calibration and a fixed-size I/O probe (write, fsync, read of
    * 16 MiB in the run's scratch directory), recorded beside the metrics
    * so a host stall can be told apart from a regression. */
  private def hostState(scratch: String): Map[String, Any] = {
    val cal = graft.Calibration.measure(1)
    val f = Path.of(scratch, "io-probe.bin")
    val buf = new Array[Byte](1 << 20)
    new java.util.Random(1).nextBytes(buf)
    val w0 = System.nanoTime()
    val out = new java.io.FileOutputStream(f.toFile)
    try { (1 to 16).foreach(_ => out.write(buf)); out.getFD.sync() } finally out.close()
    val w1 = System.nanoTime()
    val in = new java.io.FileInputStream(f.toFile)
    try { while (in.read(buf) > 0) {} } finally in.close()
    val r1 = System.nanoTime()
    Files.delete(f)
    Map("calibration_s" -> cal, "io_write_fsync_s" -> (w1 - w0) / 1e9, "io_read_s" -> (r1 - w1) / 1e9)
  }

  // ---------------------------------------------------------------- output

  def write(path: String, v: Any): Unit =
    Files.writeString(Path.of(path), Json(v))
}

/** Minimal JSON rendering for the runner's output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
