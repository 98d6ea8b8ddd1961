package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Every transform is written against DataFrame so the identical logic runs
  * in batch (oracle-checked via SparkEntry) and streaming (tested with
  * MemoryStream). Watermarks bound state; windowed aggregations use
  * event-time, not arrival time — late rows inside the watermark update
  * their window, later ones are dropped.
  */
object EventStreams {

  /** Tumbling 1-hour counts per event type, 10-minute watermark. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding window: 1-hour windows every 15 minutes. */
  def slidingValueAvg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(round(avg(col("value")), 2).as("avg_value"))
      .select(col("window.start").as("window_start"), col("avg_value"))

  /** Session windows per user with a 5-minute inactivity gap. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-stream interval join: each error event joined to signup events
    * of the same user within the preceding 15 minutes. Both sides carry
    * watermarks and the join condition bounds event-time on both sides, so
    * state is evictable — the canonical shape for joining two live streams
    * without unbounded buffering.
    */
  def errorsWithRecentSignup(errors: DataFrame, signups: DataFrame): DataFrame = {
    val e = errors.withWatermark("ts", "10 minutes").alias("e")
    val s = signups.withWatermark("ts", "20 minutes").alias("s")
    e.join(s, expr(
        """e.user_id = s.user_id AND
          |s.ts >= e.ts - INTERVAL 15 MINUTES AND s.ts <= e.ts""".stripMargin))
      .select(col("e.event_id").as("error_id"), col("s.event_id").as("signup_id"),
        col("e.user_id").as("user_id"))
  }

  /** Streaming dedup on event_id with bounded state: duplicates arriving
    * within the watermark are dropped, state for older keys is evicted —
    * the streaming mirror of the reference's idempotent build→swap refresh.
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming exact-content dedup: duplicates BY CONTENT (not id) within
    * the watermark are dropped — the streaming mirror of the batch exact
    * dedup for a live document feed. Same 128-bit content key as
    * [[graft.operators.Dedup.exactCanonical]] (state stores two longs per
    * distinct document, never the document), same watermark-bounded state
    * story as [[dedupedStream]].
    */
  def dedupedByContent(stream: DataFrame, contentCol: String, tsCol: String = "ts",
                       delay: String = "10 minutes"): DataFrame =
    stream
      .withColumn("__ck1", xxhash64(col(contentCol)))
      .withColumn("__ck2", xxhash64(lit("g2#"), col(contentCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__ck1", "__ck2")
      .drop("__ck1", "__ck2")

  // ---- custom state: in-stream NEAR-dup dedup via flatMapGroupsWithState ----

  private[streaming] case class DocChunk(doc_id: Long, ts: Timestamp, sh: Long,
                                         chunk: Int, chunk_val: Long)
  private[streaming] case class SigEntry(sh: Long, tsMs: Long)
  private[streaming] case class ChunkDedupState(sigs: List[SigEntry])
  private[streaming] case class ChunkVerdict(doc_id: Long, ts: Timestamp, is_dup: Boolean)

  /** Per-chunk near-dup verdicts for documents WITHIN a live stream: a
    * document is flagged if its 64-bit SimHash is within `maxHamming` of
    * any document seen earlier in the stream (event-time order; ties by id)
    * and still inside the dedup horizon. This is the "dedupe the live crawl
    * against itself" shape — [[graft.operators.Dedup.suppressNearDups]]
    * covers the stream-vs-static-corpus case; this one needs state.
    *
    * Shape: simhash scan-local per doc → explode the 4×16-bit pigeonhole
    * chunks (hamming ≤ 3 ⟹ at least one identical chunk — same guarantee
    * as the batch operator) → `flatMapGroupsWithState` keyed by
    * (chunk, chunk_val) holding the full signatures recently seen in that
    * bucket → one verdict row per (doc, chunk): `is_dup` = that bucket held
    * an earlier signature within the hamming bound. State is bounded
    * exactly like `dropDuplicatesWithinWatermark`: signatures evict once
    * the watermark passes their event time + `delayMs` (EventTimeTimeout —
    * a processing-time timeout would hang `processAllAvailable` in tests
    * and replay differently from live runs). Each bucket stores full 8-byte
    * signatures, never documents, so state is ~16 bytes/doc/chunk.
    *
    * The all-chunks combine (a doc survives iff NO bucket flagged it) is
    * deliberately NOT a second stateful operator — Spark's global-watermark
    * check rightly rejects aggregations downstream of
    * `flatMapGroupsWithState`. Instead, a doc's 4 verdict rows are always
    * emitted in the SAME micro-batch as the doc itself (the operator only
    * emits for current-batch rows, never on timeout), so the combine is the
    * batch-local [[combineNearDupVerdicts]] inside `foreachBatch` — see
    * [[dedupedNearStream]]. That also means survivors emit immediately, not
    * a watermark delay later.
    *
    * Dedup is best-effort beyond the horizon (like
    * `dropDuplicatesWithinWatermark`): a near-dup arriving within `delayMs`
    * of the original's event time is guaranteed caught; one arriving later
    * may or may not be, depending on how far the watermark has advanced.
    */
  def nearDupVerdicts(stream: DataFrame, idCol: String, contentCol: String,
                      tsCol: String = "ts", maxHamming: Int = 3,
                      delayMs: Long = 10 * 60 * 1000L): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    graft.functions.NativeTextExpressions.register(spark)
    require(maxHamming <= 3,
      s"maxHamming $maxHamming > 3 breaks the 4-chunk pigeonhole recall guarantee")
    val delay = s"$delayMs milliseconds"

    val chunked = stream
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
        expr(s"simhash64_native($contentCol)").as("sh"))
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"), col("sh"),
        posexplode(array((0 until 4).map { c =>
          shiftrightunsigned(col("sh"), c * 16).bitwiseAND(lit(0xFFFFL))
        }: _*)).as(Seq("chunk", "chunk_val")))
      .as[DocChunk]

    val verdicts = chunked
      .groupByKey(dc => (dc.chunk, dc.chunk_val))
      .flatMapGroupsWithState[ChunkDedupState, ChunkVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[ChunkDedupState]) =>
          val wm = state.getCurrentWatermarkMs()
          def live(sigs: List[SigEntry]) = sigs.filter(_.tsMs + delayMs > wm)
          if (state.hasTimedOut) {
            // watermark passed every stored signature's eviction point —
            // unless a fresher signature arrived since the timeout was set.
            val kept = live(state.getOption.map(_.sigs).getOrElse(Nil))
            if (kept.isEmpty) state.remove()
            else {
              state.update(ChunkDedupState(kept))
              state.setTimeoutTimestamp(
                math.max(kept.map(_.tsMs).max + delayMs, wm + 1))
            }
            Iterator.empty
          } else {
            var sigs = live(state.getOption.map(_.sigs).getOrElse(Nil))
            // event-time order (ties by id) makes the greedy survivor
            // deterministic across micro-batch boundaries and replays
            val out = rows.toSeq.sortBy(dc => (dc.ts.getTime, dc.doc_id)).map { dc =>
              val dup = sigs.exists(s =>
                java.lang.Long.bitCount(s.sh ^ dc.sh) <= maxHamming)
              sigs ::= SigEntry(dc.sh, dc.ts.getTime)
              ChunkVerdict(dc.doc_id, dc.ts, dup)
            }
            state.update(ChunkDedupState(sigs))
            state.setTimeoutTimestamp(
              math.max(sigs.map(_.tsMs).max + delayMs, wm + 1))
            out.iterator
          }
      }

    verdicts.toDF()
  }

  /** Batch-local all-chunks combine for [[nearDupVerdicts]] output: a doc
    * survives iff none of its 4 chunk buckets flagged it. Safe as a plain
    * batch aggregation inside `foreachBatch` because a doc's verdict rows
    * never straddle micro-batches.
    */
  def combineNearDupVerdicts(verdictBatch: DataFrame): DataFrame =
    verdictBatch
      .groupBy(col("doc_id"))
      .agg(max(col("is_dup").cast("int")).as("__dup"), min(col("ts")).as("ts"))
      .filter(col("__dup") === 0)
      .select(col("doc_id"), col("ts"))

  /** In-stream near-dup dedup, ready to start: per-chunk stateful verdicts
    * ([[nearDupVerdicts]]) combined per micro-batch, survivors handed to
    * `sink`. Output rows are (doc_id, ts) of surviving documents; join
    * content back downstream if needed — shipping content through the 4×
    * chunk explosion would quadruple in-flight bytes for no benefit.
    */
  def dedupedNearStream(stream: DataFrame, idCol: String, contentCol: String,
                        tsCol: String = "ts", maxHamming: Int = 3,
                        delayMs: Long = 10 * 60 * 1000L)
                       (sink: DataFrame => Unit) =
    nearDupVerdicts(stream, idCol, contentCol, tsCol, maxHamming, delayMs)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(combineNearDupVerdicts(batch))
      }

  // ---- custom state: sessionization via flatMapGroupsWithState ----

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Int, total: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp, n_events: Int,
                        total_value: Double)

  /** Custom per-user sessionizer with explicit state + event-time timeout —
    * the `flatMapGroupsWithState` shape for semantics the built-in
    * session_window can't express (e.g. emit-on-close with session-spanning
    * aggregates). The timeout is what bounds state on a real stream: once
    * the watermark passes a session's last event + gap, the open session is
    * emitted and its state removed, so per-user state never outlives its
    * session (an event-time timeout, not processing-time, so batch-style
    * replays and catch-up reads close sessions identically to live runs).
    */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMs: Long = 5 * 60 * 1000L,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last event + gap: close and evict the session.
            val out = state.getOption.map(s =>
              SessionOut(userId, new Timestamp(s.start), s.n, s.total))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must exceed the current watermark or Spark rejects it —
              // a very-late straggler can otherwise set a timeout in the past.
              state.setTimeoutTimestamp(
                math.max(s.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Run any of the above on a streaming DataFrame into an in-memory sink —
    * the harness used by the streaming tests.
    */
  def runToMemory(df: DataFrame, queryName: String, mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream.format("memory").queryName(queryName).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming → table refresh via foreachBatch + the batch lifecycle's
    * atomic publish: every micro-batch overwrites the prod table through
    * the commit protocol, so readers always see a complete snapshot — the
    * streaming mirror of the reference's build→swap refresh
    * (load_tables_daily.py:227–244), with the update-capable aggregation
    * state living in the stream, not the table.
    */
  def publishEachBatch(agg: DataFrame, table: String, checkpointDir: String) =
    agg.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.TableLifecycle.publish(batch, table)
      }

  /** Micro-batch expectation checks over the events shape — (check_name,
    * violations), the same report shape as the batch DQ gate
    * (graft.Queries.dqReport): null/empty type, null timestamp, negative
    * value, duplicate event_id. One scan for the conditional checks plus a
    * combinable groupBy-count for the dup check — both map-side
    * combinable, so the per-batch cost stays scan-bound at any batch size.
    */
  def eventBatchChecks(batch: DataFrame): DataFrame = {
    val conditional = batch.agg(
      sum(when(col("event_type").isNull || length(col("event_type")) === 0, 1)
        .otherwise(0)).as("a"),
      sum(when(col("ts").isNull, 1).otherwise(0)).as("b"),
      sum(when(col("value") < 0, 1).otherwise(0)).as("c"))
      .selectExpr("stack(3, 'events_null_type', coalesce(a, 0), " +
        "'events_null_ts', coalesce(b, 0), " +
        "'events_negative_value', coalesce(c, 0)) AS (check_name, violations)")
    val dup = batch.groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0)).as("violations"))
      .select(lit("events_dup_event_id").as("check_name"), col("violations"))
    conditional.select(col("check_name"), col("violations").cast("long"))
      .unionByName(dup.select(col("check_name"), col("violations").cast("long")))
  }

  /** DQ-gated streaming publish — the streaming mirror of the reference's
    * pre-publish record-count reconciliation (load_tables_daily.py:365–372):
    * every micro-batch is validated BEFORE it can reach the prod table.
    * A batch whose total violations exceed `maxViolations` is quarantined
    * whole (`<table>_quarantine`, stamped with its batch_id) and the prod
    * table is left untouched; a passing batch is appended through the
    * write-commit protocol, so readers never see a partial or dirty batch.
    * Every batch's full check report lands in `<table>_dq_log` either way
    * — the audit trail that says WHY a batch was held back. The batch is
    * persisted across its three uses (report, gate, publish) and released
    * before the next trigger.
    *
    * Replay idempotence (foreachBatch is at-least-once): the dq_log row is
    * the COMMIT MARKER and is written LAST, after the data append. A
    * replayed batch whose batch_id already appears in dq_log was fully
    * processed and is skipped whole; a replay that crashed between the
    * data append and the log write finds its batch_id already in the
    * target table (every published/quarantined row is stamped with it)
    * and redoes only the log write. Both probes are batch_id-equality
    * filters — min/max column stats on a monotonically appended batch_id
    * prune them to a handful of row groups, so the check stays
    * metadata-cheap at any table size.
    */
  def dqGatedPublish(events: DataFrame, table: String, checkpointDir: String,
                     maxViolations: Long = 0,
                     checks: DataFrame => DataFrame = eventBatchChecks) =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dqProcessBatch(batch, batchId, table, maxViolations, checks)
      }

  /** One micro-batch of the DQ-gated publish — exposed so the replay
    * contract (calling it twice with the same batchId is a no-op) is
    * directly testable without staging a crash inside a running query.
    */
  private[graft] def dqProcessBatch(batch: DataFrame, batchId: Long, table: String,
                                    maxViolations: Long = 0,
                                    checks: DataFrame => DataFrame = eventBatchChecks): Unit = {
    val spark = batch.sparkSession
    def hasBatch(t: String): Boolean =
      spark.catalog.tableExists(t) &&
        !spark.table(t).filter(col("batch_id") === batchId).isEmpty
    if (!hasBatch(s"${table}_dq_log")) {
      batch.persist()
      try {
        val report = checks(batch)
          .select(col("check_name"), col("violations").cast("long")).persist()
        try {
          val total = report
            .agg(coalesce(sum(col("violations")), lit(0L))).first().getLong(0)
          val passed = total <= maxViolations
          val target = if (passed) table else s"${table}_quarantine"
          if (!hasBatch(target))
            batch.withColumn("batch_id", lit(batchId))
              .write.mode("append").saveAsTable(target)
          report
            .withColumn("batch_id", lit(batchId))
            .withColumn("passed", lit(passed))
            .write.mode("append").saveAsTable(s"${table}_dq_log")
        } finally report.unpersist()
      } finally batch.unpersist()
    }
  }

  /** Streaming CDC merge — the incremental mirror of the batch changelog
    * apply (graft.Queries.cdcApply): each micro-batch of (k, seq, op ∈
    * {I,U,D}, v) rows merges into a persistent keyed state table with
    * latest-seq-wins semantics. Deletes are kept as TOMBSTONES
    * (alive = false) rather than removed, so a stale cross-batch update
    * (lower seq than the delete) cannot resurrect a key — the guarantee
    * the tombstone-free LWW upsert (q109) cannot give.
    *
    * Crash safety: a plain overwrite-publish would drop the state table
    * before rewriting it, so a crash in that window plus foreachBatch's
    * replay would REINITIALIZE state from the replayed batch alone. The
    * publish here is build → (table→prev) → (build→table) → drop prev,
    * ordered so that AT EVERY INSTANT at least one of {table, prev}
    * holds a complete state snapshot; the merge reads whichever exists.
    * Replaying a batch against already-merged state is a no-op by
    * construction (equal seq takes the identical incoming row), so the
    * at-least-once foreachBatch contract composes with the swap. That
    * argument needs the per-key winner itself to be deterministic, so the
    * latest-op window breaks (k, seq) ties on (op, v) — two rows with the
    * same key and seq in one batch pick the same winner on every replay
    * instead of whichever the shuffle happened to order first.
    *
    * Scale posture: per batch, one window over the batch (latest op per
    * key — batches are small by definition) and one full-outer join
    * against the state table keyed on k; at 100 TB state the join is the
    * standard nightly-merge shuffle, and bucketing the state table on k
    * (TableLifecycle.publishBucketed) makes it co-located.
    */
  def cdcMergeStream(changes: DataFrame, table: String, checkpointDir: String) =
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val prev = graft.etl.TableLifecycle.prevName(table)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("seq").desc, col("op").desc, col("v").desc)
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("k").as("bk"), col("seq").as("bseq"),
            col("op"), col("v").as("bv"))
        // recovery read: prefer the live table, fall back to the prev
        // snapshot a mid-swap crash may have left as the only copy
        val stateTable =
          if (spark.catalog.tableExists(table)) Some(table)
          else if (spark.catalog.tableExists(prev)) Some(prev)
          else None
        val merged = stateTable match {
          case None =>
            latest.select(col("bk").as("k"), col("bseq").as("seq"),
              (col("op") =!= "D").as("alive"), col("bv").as("v"))
          case Some(st) =>
            val current = spark.table(st)
              .select(col("k").as("ck"), col("seq").as("cseq"),
                col("alive").as("calive"), col("v").as("cv"))
            val takeIncoming = col("bk").isNotNull &&
              (col("ck").isNull || col("bseq") >= col("cseq"))
            current.join(latest, col("ck") === col("bk"), "full_outer")
              .select(
                coalesce(col("bk"), col("ck")).as("k"),
                when(takeIncoming, col("bseq")).otherwise(col("cseq")).as("seq"),
                when(takeIncoming, col("op") =!= "D").otherwise(col("calive")).as("alive"),
                when(takeIncoming, col("bv")).otherwise(col("cv")).as("v"))
        }
        graft.etl.TableLifecycle.stageBuild(merged, table)
        graft.etl.TableLifecycle.swap(spark, table)
      }

  /** File-source streaming read of an events-shaped parquet directory —
    * the timestamp normalization mirrors [[graft.Tables.apply]]. The
    * stream schema is taken from a one-footer batch read so both the
    * legacy TIMESTAMP(NANOS)-as-long and the current TIMESTAMP(MICROS)
    * testdata shapes stream correctly.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    graft.Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(dir))
  }
}
