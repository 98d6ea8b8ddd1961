package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

/** A row of the `events` shape, as the MemoryStreams below carry it. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double)

/** Streaming semantics under MemoryStream replay: tumbling windows close on
  * watermark, late-but-inside-watermark rows update their window, and
  * duplicate event_ids are dropped within the watermark.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._
  import EventStreams._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L, typ: String = "click",
                 v: Double = 1.0): Event = Event(id, ts(t), user, typ, v)

  test("tumbling hourly counts with watermark close in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val agg = hourlyTypeCounts(in.toDF())
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"),
        ev(3, "2024-01-01 11:10:00"))
      q.processAllAvailable()
      // advance watermark far past hour 10 and 11 so both windows close
      in.addData(ev(4, "2024-01-01 13:00:00"))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
      val h10 = rows.find(_.getTimestamp(0) == ts("2024-01-01 10:00:00"))
      assert(h10.isDefined && h10.get.getLong(2) == 2)
    } finally q.stop()
  }

  test("late row inside watermark lands in its window; beyond-late dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val agg = hourlyTypeCounts(in.toDF())
    val q = agg.writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:59:00"))
      q.processAllAvailable()
      in.addData(ev(3, "2024-01-01 11:05:00")) // watermark → 10:55
      q.processAllAvailable()
      in.addData(ev(4, "2024-01-01 10:58:00")) // late but inside watermark: counts
      q.processAllAvailable()
      in.addData(ev(5, "2024-01-01 14:00:00")) // closes everything
      q.processAllAvailable()
      in.addData(ev(6, "2024-01-01 10:01:00")) // beyond watermark: dropped
      q.processAllAvailable()
      val h10 = spark.table("late").collect()
        .find(_.getTimestamp(0) == ts("2024-01-01 10:00:00"))
      assert(h10.isDefined && h10.get.getLong(2) == 3) // ids 1,2,4 — not 6
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = dedupedStream(in.toDF()).writeStream.format("memory")
      .queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:01"),
        ev(2, "2024-01-01 10:00:02"))
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("content dedup drops same-text events across different ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = dedupedByContent(in.toDF(), "event_type").writeStream.format("memory")
      .queryName("content_dedup").outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        ev(1, "2024-01-01 10:00:00", typ = "same content"),
        ev(2, "2024-01-01 10:00:01", typ = "same content"),  // different id, dup content
        ev(3, "2024-01-01 10:00:02", typ = "other content"))
      q.processAllAvailable()
      assert(spark.table("content_dedup").count() == 2)
    } finally q.stop()
  }

  test("near-dup suppression runs stream-static (stateless on the stream side)") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq((0L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val filtered = graft.operators.Dedup.suppressNearDups(
      in.toDS().toDF("doc_id", "text"), reference, "text", "text", maxHamming = 6)
    val q = filtered.writeStream.format("memory").queryName("nd_suppress")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (11L, "a totally novel sentence about columnar execution and vectorized reads"))
      q.processAllAvailable()
      val kept = spark.table("nd_suppress").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L), s"kept $kept")
    } finally q.stop()
  }

  test("training-data ops compose on a live stream: sample → quality gate → chunk") {
    // Sampling.withSplit, the token-count gate, and Chunking.tokenWindows
    // are all scan-local, so the SAME operators run unmodified on a
    // streaming DataFrame — the "clean the live crawl" shape with zero
    // state. Output must equal the batch run over the same rows.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (1L, "tiny doc"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (3L, "spark streaming composes stateless operators without any changes at all"),
      (4L, "yet another document with enough tokens to clear the quality floor okay"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val sampled = graft.operators.Sampling.withSplit(df, "doc_id", Seq("keep" -> 0.8, "drop" -> 0.2))
        .filter(org.apache.spark.sql.functions.expr("split = 'keep' AND token_count_native(text) >= 10"))
        .drop("split")
      graft.operators.Chunking.tokenWindows(sampled, "doc_id", "text", size = 5, stride = 4)
    }
    val in = MemoryStream[(Long, String)]
    val q = pipeline(in.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("td_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(docs.take(2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(2): _*) // later micro-batch: same row-local results
      q.processAllAvailable()
      val streamed = spark.table("td_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
      val batch = pipeline(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
      assert(streamed == batch, s"stream/batch mismatch: $streamed vs $batch")
      assert(batch.nonEmpty && !batch.exists(_._1 == 1L), "tiny doc must be gated out")
    } finally q.stop()
  }

  test("round-7 stateless ops compose on a stream: bloom suppress → compression gate") {
    // suppressBloom's corpus side is a scan-local probe of a broadcast
    // filter (built ONCE, batch-side, at plan time) and compressionReport
    // is a pure map — both run unmodified on a streaming DataFrame, the
    // stream-static "suppress the live crawl against the reference
    // snapshot, gate on compressibility" shape. Stream ≡ batch asserted.
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq((100L, "known reference document body")).toDF("rid", "rtext")
    val docs = Seq(
      (0L, "known reference document body"),              // suppressed by bloom
      (1L, "spam ham " * 300),                            // gated: too compressible
      (2L, "a genuinely novel document with ordinary natural language inside it"),
      (3L, "another novel document that should survive both stages just fine"))
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      graft.operators.QualityRules.compressionReport(
          graft.operators.Dedup.suppressBloom(df, reference, "text", "rtext",
            expectedRefDocs = 1000L, fpp = 1e-9),
          "doc_id", "text")
        .filter(org.apache.spark.sql.functions.col("quality_class") === "ok")
    val in = MemoryStream[(Long, String)]
    val q = pipeline(in.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("r7_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(docs.take(2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("r7_stream").collect().map(_.getLong(0)).toSet
      val batch = pipeline(docs.toDF("doc_id", "text")).collect().map(_.getLong(0)).toSet
      assert(streamed == batch, s"stream/batch mismatch: $streamed vs $batch")
      assert(batch == Set(2L, 3L), s"expected only the novel natural docs, got $batch")
    } finally q.stop()
  }

  test("in-stream near-dup dedup catches cross-batch near-dups exactly (planted corpus)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(7)
    def randDoc() = Seq.fill(120)(words(rnd.nextInt(words.size)))
    val base = randDoc()
    val docs = Seq( // (id, ts, text) — near-dups of doc 1 arrive in a LATER batch
      (1L, ts("2024-01-01 10:00:00"), base.mkString(" ")),
      (2L, ts("2024-01-01 10:00:30"), randDoc().mkString(" ")),
      (3L, ts("2024-01-01 10:01:00"), base.mkString(" ")),                      // exact dup of 1
      (4L, ts("2024-01-01 10:01:30"), base.updated(60, "omega").mkString(" ")), // near-dup of 1
      (5L, ts("2024-01-01 10:02:00"), randDoc().mkString(" ")))

    // fixture validation + expected survivors from the ACTUAL signatures:
    // greedy in (ts, id) order, dup iff any earlier doc within hamming 3
    val sig = docs.toDF("doc_id", "ts", "text")
      .select(col("doc_id"), expr("simhash64_native(text)").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val expected = docs.map(_._1).filter(id =>
      !docs.map(_._1).filter(_ < id).exists(prev => ham(sig(prev), sig(id)) <= 3)).toSet
    assert(!expected.contains(3L) && !expected.contains(4L),
      "fixture must plant real near-dups of doc 1")
    assert(expected == Set(1L, 2L, 5L), s"fixture: expected survivors $expected")

    val in = MemoryStream[(Long, Timestamp, String)]
    val kept = scala.collection.mutable.Set[Long]()
    val q = dedupedNearStream(
      in.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text") { survivors =>
        kept.synchronized { kept ++= survivors.collect().map(_.getLong(0)) }
      }.start()
    try {
      in.addData((1L, docs(0)._2, docs(0)._3), (2L, docs(1)._2, docs(1)._3))
      q.processAllAvailable()
      // survivors emit in the SAME batch — no watermark-flush sentinel needed
      assert(kept.synchronized(kept.toSet) == Set(1L, 2L))
      in.addData((3L, docs(2)._2, docs(2)._3), (4L, docs(3)._2, docs(3)._3),
        (5L, docs(4)._2, docs(4)._3))
      q.processAllAvailable()
      assert(kept.synchronized(kept.toSet) == expected,
        s"streaming kept $kept, expected $expected")
    } finally q.stop()
  }

  test("in-stream near-dup state evicts on the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq.fill(120)("alpha beta gamma delta").mkString(" ")
    val in = MemoryStream[(Long, Timestamp, String)]
    val kept = scala.collection.mutable.Set[Long]()
    val q = dedupedNearStream(
      in.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text",
      delayMs = 10 * 60 * 1000L) { survivors =>
        kept.synchronized { kept ++= survivors.collect().map(_.getLong(0)) }
      }.start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), base))
      q.processAllAvailable()
      // advance the watermark far past doc 1's eviction point (10:10)
      in.addData((2L, ts("2024-01-01 11:00:00"), "watermark advancing sentinel"))
      q.processAllAvailable()
      // an exact dup arriving beyond the horizon is NOT suppressed — its
      // signature was evicted (bounded state, dropDuplicatesWithinWatermark
      // semantics); within the horizon (earlier test) it is
      in.addData((3L, ts("2024-01-01 11:05:00"), base))
      q.processAllAvailable()
      assert(kept.synchronized(kept.toSet) == Set(1L, 2L, 3L),
        s"kept $kept — doc 3 should survive after eviction")
    } finally q.stop()
  }

  test("file-source streaming read + foreachBatch atomic publish") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    // the file source streams a directory; stage the single parquet into one
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = readEventsStream(spark, dir.toString)
    assert(stream.isStreaming)
    val agg = stream.groupBy($"event_type").count()
    val q = publishEachBatch(agg, "events_by_type", ckpt).start()
    try {
      q.processAllAvailable()
      val published = spark.table("events_by_type")
      assert(published.count() == 5) // click/error/purchase/signup/view
      assert(published.agg(org.apache.spark.sql.functions.sum($"count"))
        .first().getLong(0) == 1000)
    } finally q.stop()
  }

  test("DQ gate: bad batch quarantined, prod untouched; good batches append") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-dq").toString
    Seq("events_gated", "events_gated_quarantine", "events_gated_dq_log")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val q = dqGatedPublish(in.toDF(), "events_gated", ckpt).start()
    // foreachBatch writes go through the stream's cloned session, so the
    // test session's table-relation cache must be refreshed before reads
    def freshCount(t: String): Long = {
      spark.catalog.refreshTable(t); spark.table(t).count()
    }
    try {
      // batch 0: clean → published
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      assert(freshCount("events_gated") == 2)
      // batch 1: duplicate event_id + negative value → quarantined whole,
      // prod table unchanged (not even the clean rows of the batch land)
      in.addData(ev(3, "2024-01-01 10:02:00"), ev(3, "2024-01-01 10:03:00"),
        ev(4, "2024-01-01 10:04:00", v = -5.0))
      q.processAllAvailable()
      assert(freshCount("events_gated") == 2, "bad batch must not publish")
      assert(freshCount("events_gated_quarantine") == 3)
      // batch 2: clean again → appends on top of batch 0
      in.addData(ev(5, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      assert(freshCount("events_gated") == 3)
      assert(freshCount("events_gated_quarantine") == 3)
      // the audit log explains the rejection: one failed batch, with the
      // dup and negative-value checks carrying the violations
      spark.catalog.refreshTable("events_gated_dq_log")
      val log = spark.table("events_gated_dq_log")
      val failed = log.filter(!$"passed").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(failed("events_dup_event_id") == 1L)
      assert(failed("events_negative_value") == 1L)
      assert(log.filter($"passed").select("batch_id").distinct().count() == 2)
    } finally q.stop()
  }

  test("streaming parquet sink partitioned by day: layout + content") {
    // the streaming twin of q94's batch layout: events land under d=<day>/
    // directories as they arrive, so downstream day queries partition-prune
    // data that was written by a stream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = java.nio.file.Files.createTempDirectory("stream-by-day").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-by-day").toString
    val q = in.toDF()
      .withColumn("d", org.apache.spark.sql.functions.to_date($"ts"))
      .writeStream.format("parquet")
      .partitionBy("d")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-02 09:00:00"))
      q.processAllAvailable()
      in.addData(ev(3, "2024-01-02 23:00:00")) // second batch, existing day
      q.processAllAvailable()
      val days = new java.io.File(out).listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_ == "_spark_metadata").toSet
      assert(days == Set("d=2024-01-01", "d=2024-01-02"), s"got $days")
      val back = spark.read.parquet(out)
      assert(back.count() == 3)
      assert(back.filter($"d" === "2024-01-02").count() == 2,
        "appends to an existing day must accumulate, not overwrite")
    } finally q.stop()
  }

  test("streaming CDC merge: latest-seq wins, tombstones block stale resurrection") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-cdc").toString
    spark.sql("DROP TABLE IF EXISTS `cdc_state`")
    val q = cdcMergeStream(in.toDF().toDF("k", "seq", "op", "v"), "cdc_state", ckpt).start()
    def state(): Map[Long, (Long, Boolean, Double)] = {
      spark.catalog.refreshTable("cdc_state")
      spark.table("cdc_state").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    }
    def live(): Map[Long, Double] =
      state().collect { case (k, (_, true, v)) => k -> v }
    try {
      // batch 0: three inserts (k4's insert carries seq 5)
      in.addData((1L, 1L, "I", 10.0), (2L, 1L, "I", 20.0), (4L, 5L, "I", 40.0))
      q.processAllAvailable()
      assert(live() == Map(1L -> 10.0, 2L -> 20.0, 4L -> 40.0))
      // batch 1: update k1, delete k2, insert k3, STALE update k4 (seq 3 < 5)
      //          plus an intra-batch I→U pair on k5 (latest-in-batch wins)
      in.addData((1L, 2L, "U", 11.0), (2L, 2L, "D", 0.0), (3L, 1L, "I", 30.0),
        (4L, 3L, "U", 99.0), (5L, 1L, "I", 50.0), (5L, 2L, "U", 55.0))
      q.processAllAvailable()
      assert(live() == Map(1L -> 11.0, 3L -> 30.0, 4L -> 40.0, 5L -> 55.0))
      assert(state()(2L)._2 == false, "delete must leave a tombstone, not vanish")
      // batch 2: stale update to the DELETED k2 (seq 1 < tombstone seq 2)
      // must NOT resurrect it; a fresh higher-seq insert must
      in.addData((2L, 1L, "U", 21.0))
      q.processAllAvailable()
      assert(!live().contains(2L), "stale update resurrected a tombstoned key")
      in.addData((2L, 3L, "I", 22.0))
      q.processAllAvailable()
      assert(live()(2L) == 22.0, "a fresh insert past the tombstone must land")
    } finally q.stop()
  }

  test("streaming CDC merge recovers full state from the prev snapshot after a mid-swap crash") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-cdc-rec").toString
    Seq("cdc_rec", "cdc_rec_prev", "cdc_rec_build")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val q1 = cdcMergeStream(in.toDF().toDF("k", "seq", "op", "v"), "cdc_rec", ckpt).start()
    try {
      in.addData((1L, 1L, "I", 10.0), (2L, 2L, "D", 0.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // simulate the crash window where table→prev renamed but build→table
    // didn't run: the prev snapshot is the ONLY copy of the state
    spark.catalog.refreshTable("cdc_rec")
    spark.sql("ALTER TABLE `cdc_rec` RENAME TO `cdc_rec_prev`")
    val q2 = cdcMergeStream(in.toDF().toDF("k", "seq", "op", "v"), "cdc_rec", ckpt).start()
    try {
      in.addData((3L, 1L, "I", 30.0), (2L, 1L, "U", 99.0)) // stale U vs tombstone
      q2.processAllAvailable()
      spark.catalog.refreshTable("cdc_rec")
      val state = spark.table("cdc_rec").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2))).toMap
      assert(state.keySet == Set(1L, 2L, 3L),
        s"recovered state lost keys: ${state.keySet}")
      assert(state(1L), "pre-crash key must survive recovery")
      assert(!state(2L), "the tombstone must survive recovery and block the stale update")
      assert(state(3L), "post-recovery insert must land")
      assert(!spark.catalog.tableExists("cdc_rec_prev"), "prev snapshot cleaned up")
    } finally q2.stop()
  }

  test("batch and streaming tumbling agg agree on the same data") {
    val batch = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"),
      ev(3, "2024-01-01 11:10:00")).toDF()
    val r = hourlyTypeCounts(batch).orderBy("window_start").collect()
    assert(r.length == 2 && r(0).getLong(2) == 2 && r(1).getLong(2) == 1)
  }

  test("DQ gate replay is idempotent: committed batches skip whole, half-landed batches don't double-append") {
    Seq("dq_replay", "dq_replay_quarantine", "dq_replay_dq_log")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    def fresh(t: String): Long = { spark.catalog.refreshTable(t); spark.table(t).count() }
    val batch = Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00")).toDF()
    dqProcessBatch(batch, 0L, "dq_replay")
    assert(fresh("dq_replay") == 2 && fresh("dq_replay_dq_log") > 0)
    val logRows = fresh("dq_replay_dq_log")
    // replay after full commit: the dq_log marker short-circuits everything
    dqProcessBatch(batch, 0L, "dq_replay")
    assert(fresh("dq_replay") == 2, "committed replay must not re-append prod rows")
    assert(fresh("dq_replay_dq_log") == logRows, "committed replay must not re-log")
    // crash window: data landed but the dq_log marker write never committed —
    // simulate by deleting the marker rows, then replay the same batch
    spark.sql("DROP TABLE `dq_replay_dq_log`")
    dqProcessBatch(batch, 0L, "dq_replay")
    assert(fresh("dq_replay") == 2,
      "replay after a pre-marker crash must not duplicate already-landed rows")
    assert(fresh("dq_replay_dq_log") == logRows, "replay must restore the marker")
    // every published row is stamped so downstream can audit/dedupe by batch
    assert(spark.table("dq_replay").columns.contains("batch_id"))
    // a genuinely new batch still appends on top
    dqProcessBatch(Seq(ev(3, "2024-01-01 10:02:00")).toDF(), 1L, "dq_replay")
    assert(fresh("dq_replay") == 3)
  }

  test("CDC merge breaks (k, seq) ties deterministically on (op, v)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-cdc-tie").toString
    Seq("cdc_tie", "cdc_tie_prev", "cdc_tie_build")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val q = cdcMergeStream(in.toDF().toDF("k", "seq", "op", "v"), "cdc_tie", ckpt).start()
    try {
      // k7: same (k, seq), same op, different v → highest v wins, every run
      // k8: same (k, seq), different op → op desc ('I' > 'D') wins, every run
      in.addData((7L, 1L, "U", 1.0), (7L, 1L, "U", 2.0),
        (8L, 1L, "D", 0.0), (8L, 1L, "I", 5.0))
      q.processAllAvailable()
      spark.catalog.refreshTable("cdc_tie")
      val state = spark.table("cdc_tie").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), r.getDouble(3))).toMap
      assert(state(7L) == (true, 2.0), s"k7 tie must pick v=2.0, got ${state(7L)}")
      assert(state(8L) == (true, 5.0), s"k8 tie must pick op=I, got ${state(8L)}")
    } finally q.stop()
  }
}
