package graft

import org.apache.spark.sql.SparkSession

/** Validated accessors for the `spark.graft.*` tuning confs.
  *
  * Every knob the engine reads at plan-build time lives here so (a) a
  * typo'd value fails with a message NAMING the conf key, not a bare
  * NumberFormatException from deep inside the planner, and (b) the full
  * key inventory is greppable (ConfDocSpec checks that README's conf
  * table lists exactly the `spark.graft.*` keys read under `src/main`).
  */
object GraftConf {

  /** Int conf with a validating parse. */
  def int(spark: SparkSession, key: String, default: => Int): Int =
    spark.conf.getOption(key).map { raw =>
      scala.util.Try(raw.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"conf $key must be an integer, got '$raw'"))
    }.getOrElse(default)

  /** Long conf with a validating parse. */
  def long(spark: SparkSession, key: String, default: => Long): Long =
    spark.conf.getOption(key).map { raw =>
      scala.util.Try(raw.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"conf $key must be a long, got '$raw'"))
    }.getOrElse(default)

  /** Boolean conf with a strict parse: only literal true|false, never a
    * silent fall-through to the default. */
  def bool(spark: SparkSession, key: String, default: => Boolean): Boolean =
    spark.conf.getOption(key).map { raw =>
      raw.trim.toLowerCase match {
        case "true"  => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"conf $key must be true|false, got '$other'")
      }
    }.getOrElse(default)

  /** Double conf with a validating parse. */
  def double(spark: SparkSession, key: String, default: => Double): Double =
    spark.conf.getOption(key).map { raw =>
      scala.util.Try(raw.trim.toDouble).getOrElse(
        throw new IllegalArgumentException(
          s"conf $key must be a number, got '$raw'"))
    }.getOrElse(default)

  /** The one size gate between two physical regimes: `estimate` against
    * the budget conf `key` (`default` when unset), in the unit the key
    * names (bytes or rows). True picks the bounded regime (`regimes._1`:
    * local, broadcast, ...), false the unbounded one. A budget of 0 picks
    * the unbounded regime without evaluating the estimate, so forcing it
    * runs no estimate job. Every decision logs one line: operator,
    * regime, estimate and its source, budget, and whether the key was set.
    */
  private[graft] def gate(spark: SparkSession, op: String, regimes: (String, String),
      key: String, default: => Long, source: String)(estimate: => Long): Boolean = {
    val budget = long(spark, key, default)
    require(budget >= 0, s"$key must be >= 0, got $budget")
    val est = if (budget == 0) None else Some(estimate)
    val fits = est.exists(_ <= budget)
    gateLog.info(s"gate $op: ${if (fits) regimes._1 else regimes._2} regime " +
      s"(estimate ${est.fold("not run")(e => s"$e from $source")}, budget $budget, " +
      s"$key ${if (spark.conf.getOption(key).isDefined) "set" else "default"})")
    fits
  }

  private lazy val gateLog = org.slf4j.LoggerFactory.getLogger("graft.gate")

  /** Partition count for the fan-out repartition that pins parallelism on
    * explosive self-joins (KB-scale inputs, quadratic output — AQE sizes
    * their exchanges by input bytes and coalesces the real work onto 1–2
    * tasks; the sf1 measurement was 237–258 s single-threaded vs ~20 s
    * pinned).
    *
    * `spark.graft.explosiveJoin.fanout` overrides the default
    * `4 × defaultParallelism`. The default is read at PLAN-BUILD time; on
    * a dynamic-allocation cluster that can be stale (plan built before
    * executors arrive), so set the conf explicitly to the intended
    * steady-state core count there.
    */
  def explosiveFanout(spark: SparkSession): Int = {
    val v = int(spark, "spark.graft.explosiveJoin.fanout",
      4 * spark.sparkContext.defaultParallelism)
    require(v > 0, s"spark.graft.explosiveJoin.fanout must be positive, got $v")
    v
  }

  /** Byte budget below which a variable-width side table (shingle-hash
    * arrays, posting lists, packed vectors) is broadcast into the verify
    * join. Row-count gates are wrong for fat-array payloads: 100k docs of
    * long-document shingle arrays can be GBs.
    *
    * The default scales with the JVM: `max(64 MiB, min(1 GiB, maxHeap/16))`.
    * A fixed 64 MiB proved far too timid — the alternative to the
    * broadcast is an exchange carrying the CANDIDATE STREAM with vector
    * arrays attached (candidates × vector-bytes: measured at the 250k-doc
    * shape, ~150 M pairs × ~2.4 KB ≈ 360 GB through one exchange, where
    * the broadcast was 600 MB — a 600× byte trade). A GiB-scale broadcast
    * is the cheap side of that trade on any executor with ≥16 GiB. The
    * default reads the SMALLER of the driver heap and the configured
    * executor heap (`spark.executor.memory`, when set): the broadcast
    * build is materialized on executors, so a driver-only proxy would
    * push GiB-scale broadcasts into small executors on clusters where
    * executors < driver/16. The derived default is logged once per key
    * per session so a heap-dependent regime flip is greppable, exactly
    * like the `graft.gate` decision lines; set the conf explicitly to pin the
    * plan shape across environments.
    */
  def broadcastBytes(spark: SparkSession): Long = {
    val v = long(spark, "spark.graft.broadcastBytes", {
      val driverHeap = Runtime.getRuntime.maxMemory
      // executor heap if configured ("4g" strings) — min with the driver
      // heap so neither side of the exchange-vs-broadcast trade can be
      // sized off the larger JVM. local mode has no executor conf; the
      // driver heap IS the executor heap there.
      val execHeap = spark.conf.getOption("spark.executor.memory")
        .flatMap(parseExecutorMemoryBytes)
        .getOrElse(driverHeap)
      val derived =
        math.max(64L << 20, math.min(1L << 30, math.min(driverHeap, execHeap) / 16))
      logDerivedOnce(spark, "spark.graft.broadcastBytes",
        s"$derived B (min(driverHeap=$driverHeap, executorHeap=$execHeap)/16," +
          " clamped [64 MiB, 1 GiB])")
      derived
    })
    require(v > 0, s"spark.graft.broadcastBytes must be positive, got $v")
    v
  }

  /** `spark.executor.memory` as bytes, with MiB as the suffixless unit —
    * Spark itself reads this conf through `byteStringAsMb`, so "4096"
    * means 4096 MiB. `byteStringAsBytes` would read it as 4096 BYTES, a
    * 2²⁰× underestimate that silently collapses the derived
    * [[broadcastBytes]] default to its 64 MiB floor — the exact
    * too-timid regime the derived default exists to avoid.
    */
  private[graft] def parseExecutorMemoryBytes(m: String): Option[Long] =
    scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsMb(m) << 20).toOption

  /** Estimated raw band-collision count above which
    * [[graft.operators.Similarity.cosineNearDupPairs]] abandons SRP
    * banding for the IVF-shortlist route. At loose thresholds SRP banding
    * is near-exhaustive BY CONSTRUCTION: the table auto-tuner hits its
    * cap and expected within-bucket collisions grow ~N² (measured at the
    * sf5 shape: 5.0 B raw collisions, 86.3 s, 18.5× on 5× rows — the
    * wall-clock tracks candidate volume even though the plan is sound).
    * The estimate is an exact Σ C(bucket,2) aggregate over the banded
    * table (one linear job, the same signal the r13 audit used). The
    * default keeps the measured sf1 shape (~300 M collisions) on the
    * banded path and routes the sf5 shape (5.0 B). `0` forces the IVF
    * route (specs, scale runs); `Long.MaxValue` pins banding.
    */
  def srpRouteCandidates(spark: SparkSession): Long = {
    val v = long(spark, "spark.graft.srp.routeCandidates", 1000000000L)
    require(v >= 0, s"spark.graft.srp.routeCandidates must be >= 0, got $v")
    v
  }

  /** Per-search generic-id corpus audit
    * (`spark.graft.ann.auditGenericIdsPerSearch`, default false): the
    * corpus-side surrogate-collision audit (countDistinct(surrogate) ==
    * countDistinct(orig) over the whole corpus) normally runs ONCE per
    * index lifetime — memoized on the index instance, stamped into saved
    * artifacts, re-armed by appends. `true` restores the every-search
    * full-corpus scan (paranoia mode for corpora mutated outside the
    * graft API, where the memo could go stale). The query-side audit is
    * batch-sized and always runs.
    */
  def annAuditGenericIdsPerSearch(spark: SparkSession): Boolean =
    bool(spark, "spark.graft.ann.auditGenericIdsPerSearch", default = false)

  /** Shortlist overfetch of the int8 replicated probe: the
    * approximate scan keeps `rerankFactor`·k candidates per query for the
    * exact rerank (the same knob the PQ search routes default to 4).
    */
  def annRerankFactor(spark: SparkSession): Int = {
    val v = int(spark, "spark.graft.ann.rerankFactor", 4)
    require(v >= 1, s"spark.graft.ann.rerankFactor must be >= 1, got $v")
    v
  }

  /** Per-cell array-byte budget of the grid (fragment-and-replicate)
    * verify ([[graft.operators.Dedup.gridJaccardVerify]]): the fragment
    * count P is the smallest whose per-cell array volume
    * (2·corpusArrayBytes/P) fits this budget, so per-task memory is
    * bounded regardless of corpus size while total replicated array
    * traffic stays 2P·corpusBytes. Hash collisions can co-locate a few
    * cells per task — budget ~3× headroom under the per-core heap.
    */
  def gridVerifyCellBytes(spark: SparkSession): Long = {
    val v = long(spark, "spark.graft.gridVerify.cellBytes", 128L << 20)
    require(v > 0, s"spark.graft.gridVerify.cellBytes must be positive, got $v")
    v
  }

  /** Multiplier on the grid-vs-join crossover of the shuffle-regime
    * minhash verify. Past the broadcast gate the verify picks between two
    * shapes by measured cost: the JOIN-form (shuffle-hash, sort-free)
    * moves each doc's shingle array once per candidate referencing it
    * (avg pair-degree), while the grid co-group moves it 2P times
    * regardless of the candidate distribution. The grid is chosen iff
    * `est pair degree ≥ 2P · degreeFactor`. 0 forces the grid; a huge
    * value forces the join-form (both used by the plan-shape specs).
    */
  def gridVerifyDegreeFactor(spark: SparkSession): Double = {
    val v = double(spark, "spark.graft.gridVerify.degreeFactor", 1.0)
    require(v >= 0, s"spark.graft.gridVerify.degreeFactor must be >= 0, got $v")
    v
  }

  /** Upper bound on the grid verify's fragment count P. P grows linearly
    * with corpus array bytes (2·setBytes / cellBytes), so uncapped it
    * requests P² cells — ~1 TB of arrays at the 128 MiB default cell is
    * P≈16k ⇒ ~270 M shuffle partitions, and the Int cell product
    * overflows negative past P = 46341. When the uncapped P exceeds this
    * bound [[graft.operators.Dedup.shuffleVerify]] falls back to the
    * join-form verify (logged): a grid forced under the cap would exceed
    * its per-cell byte budget, i.e. per-task memory would no longer be
    * bounded — the property the grid exists to provide. The default
    * (512 ⇒ ≤262,144 cells, covering ≤32 GiB of arrays at the default
    * cell budget) keeps the exchange width in the range any real
    * scheduler handles.
    */
  def gridVerifyMaxFragments(spark: SparkSession): Int = {
    val v = int(spark, "spark.graft.gridVerify.maxFragments", 512)
    require(v >= 2 && v <= 46340,
      s"spark.graft.gridVerify.maxFragments must be in [2, 46340] " +
        s"(P² must stay a positive Int), got $v")
    v
  }

  /** One log line per (session, key) for heap/environment-derived conf
    * defaults — a regime flip caused by a different JVM sizing must be
    * greppable without being a per-plan log storm.
    */
  private val loggedDerived =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def logDerivedOnce(spark: SparkSession, key: String, detail: String): Unit =
    if (loggedDerived.add(s"${spark.sparkContext.applicationId}/$key"))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .info(s"derived default for $key: $detail")
}
