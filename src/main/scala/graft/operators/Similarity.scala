package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is always the small side — broadcast it and
  * make a single scan over the corpus compute all query×corpus scores, then
  * per-query top-k via `Window` + rank (which Spark executes as a partial
  * top-k per partition under AQE). The corpus is never self-joined
  * all-pairs: the near-dup and ANN variants confine comparison to LSH
  * buckets / inverted lists, so candidate volume stays linear in the corpus.
  *
  * SRP-LSH recall math (used by the auto-tuning below): a random hyperplane
  * puts two vectors with cosine c on the same side with probability
  * p = 1 − arccos(c)/π; a b-bit table catches the pair with p^b and T
  * independent tables with 1 − (1 − p^b)^T. Bits are derived from corpus
  * size (constant expected bucket population ⇒ linear candidate volume) and
  * tables from the recall target — the knobs trade recall for cost
  * explicitly instead of a fixed bucket count degrading quadratically as
  * the corpus grows.
  */
object Similarity extends org.apache.spark.internal.Logging {

  /** Exact brute-force top-k neighbors for each query vector.
    * `queries` must be small (broadcast); self-matches excluded. The score
    * is the codegen'd native [[graft.functions.CosineSimilarity]] — one
    * fused loop per pair instead of the HOF composition's intermediate
    * arrays (identical double-precision result).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("corpus_vec"))
    rankedTopK(c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorFunctions.cosine("query_vec", "corpus_vec")), k)
  }

  /** The per-query top-k every search ends in: rank each `query_id`'s
    * scored rows by (cosine desc, neighbor_id asc), keep ranks ≤ k, and
    * emit (query_id, neighbor_id, cosine rounded to 4 places, rk as int).
    * Ranking happens before the rounding, so equal rounded scores keep
    * their exact order.
    */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"),
        col("rk").cast("int").as("rk"))
  }

  /** Exact all-pairs cosine above a threshold — the oracle/recall baseline
    * the approximate operators are measured against. O(N²) comparisons by
    * definition (that is what "exact all-pairs" means); use it on bounded
    * corpora — small-SF verification, recall measurement, or a sampled
    * slice — and [[cosineNearDupPairs]] as the production path.
    */
  def exactCosinePairs(corpus: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine("v_a", "v_b"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Exact all-pairs over int8-QUANTIZED vectors: [[exactCosinePairs]] with
    * the scan reading 1 byte/dim. Unlike the LSH/IVF operators this is
    * deterministic end-to-end — symmetric quantization is a float32 scale
    * division plus exact floor(x+0.5) rounding, both replicable in ANSI
    * SQL — so it is oracle-checked bit-for-bit (q63), which pins the
    * quantizer's semantics, not just its recall.
    */
  def exactCosinePairsQuantized(corpus: DataFrame, threshold: Double,
                                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = corpus.select(col(idCol).as("id"), expr(s"quantize_i8($vecCol)").as("qv"))
    val a = q.select(col("id").as("id_a"), col("qv").as("q_a"))
    val b = q.select(col("id").as("id_b"), col("qv").as("q_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("c", expr("cosine_sim_i8(q_a, q_b)"))
      .filter(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 4).as("qcosine"))
  }

  /** Bits per SRP table for a target expected bucket population: with
    * 2^bits buckets, expected population is N/2^bits, so candidate pairs
    * per table stay ≈ N·targetBucket/2 — linear in N at any scale instead
    * of (N/constant)² quadratic.
    */
  def bitsFor(corpusSize: Long, targetBucket: Int = 4096): Int =
    math.max(2, math.ceil(
      math.log(math.max(corpusSize.toDouble / targetBucket, 1.0)) / math.log(2.0)).toInt)

  /** Cost ceiling on SRP table count: each table is a full hash pass + a
    * bucket join, so past this point more recall must come from fewer bits
    * (larger buckets), not more tables.
    */
  val MaxSrpTables = 32

  /** Per-node neighbor budget of the routed [[cosineNearDupPairs]]: the
    * IVF route emits the symmetric top-`SrpRouteK` neighbor EDGES above
    * the threshold (a k-NN graph, per-node degree ≤ ~2·SrpRouteK), not
    * the exhaustive pair set — the contract the recall gate measures.
    */
  private val SrpRouteK = 64

  /** Per-task byte budget of the cross-block probe-pack exchange (see
    * [[crossPackWidth]]). */
  private val PackPartitionBytes = 64L << 20

  /** Cap on the parquet footers [[footerRowCount]] reads; past it a
    * stride sample of footers extrapolates. */
  private val MaxFooterFiles = 1 << 15

  /** Tables needed to reach `recallTarget` with NO cap — the raw solution
    * of 1 − (1 − p^bits)^T ≥ recallTarget. Compare against [[MaxSrpTables]]
    * to learn whether the cap binds.
    */
  def tablesForUncapped(threshold: Double, bits: Int, recallTarget: Double = 0.9): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(threshold, 1.0))) / math.Pi
    val pb = math.pow(p, bits)
    if (pb >= 1.0) 1
    else math.max(1, math.ceil(math.log1p(-recallTarget) / math.log1p(-pb)).toInt)
  }

  /** The SRP band table: one (id, tbl, bucket) row per vector per table. */
  private[graft] def srpBanded(corpus: DataFrame, numTables: Int, bits: Int,
                        idCol: String, vecCol: String, seed: Long): DataFrame = {
    corpus
      .select(col(idCol).as("id"),
        expr(s"srp_buckets($vecCol, $numTables, $bits, ${seed}L)").as("buckets"))
      .select(col("id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))
  }

  /** All-pairs above a cosine threshold via banded SRP-LSH (embedding-cosine
    * near-duplicate detection). Auto-tuned: bits per table from corpus size
    * (constant expected bucket population ⇒ candidate volume linear in N),
    * table count from the recall target at the given threshold. Candidate
    * pairs are verified with the exact codegen'd cosine, so precision is
    * always 1.0 — the tables only control recall and cost.
    *
    * COST-GATED ROUTE: at loose thresholds banding goes near-exhaustive
    * by construction — the table tuner hits [[MaxSrpTables]] and expected
    * within-bucket collisions grow ~N² (the r13 sf5 measurement: 5.0 B
    * raw collisions, 18.5× wall-clock on 5× rows, with the plan itself
    * sound — candidate VOLUME is the scale-killer). Before building the
    * collision join, the operator therefore measures Σ C(bucket,2) over
    * the banded table (one linear job) and, past
    * `spark.graft.srp.routeCandidates`, switches to the IVF-shortlist
    * route (the q204 pattern): ~√n-list IVF index, each vector probes its
    * nprobe nearest lists for its top-[[SrpRouteK]] neighbors
    * at the exact-cosine floor, edges symmetrized and deduped. The routed
    * contract is the symmetric k-NN GRAPH above the threshold — per-node
    * degree capped at ~2·SrpRouteK — which is what near-dup CLUSTERING
    * consumes (connectivity, not every edge); recall vs the exhaustive
    * exact pair set is spec-gated ≥ 0.9 and precision stays 1.0 (the
    * kernel scores true vectors with the same exact cosine). The chosen
    * route is logged either way, like the IVF orientation gate.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         numTables: Int = 0, bitsPerTable: Int = 0,
                         recallTarget: Double = 0.9, targetBucket: Int = 4096,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         seed: Long = 42L): DataFrame = {
    val nRows = corpus.count()
    val bits = if (bitsPerTable > 0) bitsPerTable
               else bitsFor(nRows, targetBucket)
    val uncapped = tablesForUncapped(threshold, bits, recallTarget)
    val tables = if (numTables > 0) numTables else math.min(MaxSrpTables, uncapped)
    // never cap silently: warn exactly when the cap binds (uncapped demand
    // exceeds the budget), not whenever the count happens to equal it.
    if (numTables == 0 && uncapped > MaxSrpTables) {
      val p = 1.0 - math.acos(math.max(-1.0, math.min(threshold, 1.0))) / math.Pi
      val worst = 1.0 - math.pow(1.0 - math.pow(p, bits), tables)
      logWarning(f"cosineNearDupPairs: $tables tables (cap; $uncapped needed) give " +
        f"worst-case recall $worst%.3f < target $recallTarget%.2f at threshold $threshold " +
        s"with $bits bits/table; raise targetBucket (fewer bits) or accept the lower recall")
    }
    // route decision: exact expected raw-collision volume from the band
    // histogram — one linear job over N×T fixed-width rows, the same
    // signal the scale audit used. (c·(c−1) DIV 2 stays in long range:
    // c ≤ N, and N² < 2⁶³ for any corpus this operator can see.)
    val spark = corpus.sparkSession
    val routeGate = graft.GraftConf.srpRouteCandidates(spark)
    // Foregone decisions never pay the histogram JOB (the r14 gate ran it
    // unconditionally — q55 sf0.1 paid +0.13 s, 1.31x, for a decision that
    // at that scale cannot flip):
    //  - gate pinned to 0 (forced IVF) or Long.MaxValue (forced banding):
    //    the answer is the pin;
    //  - T x C(n,2) <= gate: even all-pairs collisions in every table
    //    cannot exceed the gate, so banding is safe without measuring.
    // Only past the floor does the exact histogram run - and then over a
    // STAGED band table the self-join also consumes, so srp_buckets is
    // computed once per corpus either way (it was computed twice before:
    // once for the histogram, once inside the join).
    val maxPossible =
      if (nRows < 2) BigInt(0)
      else BigInt(nRows) * (nRows - 1) / 2 * tables
    val (useIvf, estCollisions, stagedBanded) =
      if (nRows == 0) {
        // empty corpus: banded trivially returns empty; the IVF route
        // cannot even build a codebook, so no pin may send us there
        (false, -1L, None)
      } else if (routeGate == 0L) {
        logInfo("cosineNearDupPairs: IVF-SHORTLIST route (gate pinned to 0)")
        (true, -1L, None)
      } else if (routeGate == Long.MaxValue) {
        logInfo("cosineNearDupPairs: BANDED route (gate pinned to Long.MaxValue)")
        (false, -1L, None)
      } else if (maxPossible <= routeGate) {
        if (nRows > 0)
          logInfo(s"cosineNearDupPairs: BANDED route (floor: T*C(n,2) = $maxPossible" +
            s" <= gate $routeGate - banding cannot exceed the gate; no histogram job)")
        (false, -1L, None)
      } else {
        val banded = graft.operators.Dedup.stage(
          srpBanded(corpus, tables, bits, idCol, vecCol, seed), "srp-banded")
        val est = CandidatePairs.rawCollisions(banded, Seq("tbl", "bucket"),
          "cosineNearDupPairs")
        (est > routeGate, est, Some(banded))
      }
    if (useIvf) {
      if (estCollisions >= 0)
        logInfo(s"cosineNearDupPairs: IVF-SHORTLIST route ($estCollisions est raw " +
          s"band collisions > gate $routeGate; emitting the symmetric top-$SrpRouteK " +
          s"neighbor graph at threshold $threshold)")
      val emb = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      CandidatePairs.distinctPairs(ivfSelfSearch(emb, nRows, SrpRouteK, threshold)
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(least(col("query_id"), col("neighbor_id")).as("id_a"),
          greatest(col("query_id"), col("neighbor_id")).as("id_b"),
          col("cosine")), pinned = false)
    } else {
      if (estCollisions >= 0)
        logInfo(s"cosineNearDupPairs: BANDED route ($estCollisions est raw band " +
          s"collisions <= gate $routeGate)")
      val bandFits = CandidatePairs.bandGate(spark, "cosineNearDupPairs band", nRows * tables)
      val raw = CandidatePairs.keyPairs(
        stagedBanded.getOrElse(srpBanded(corpus, tables, bits, idCol, vecCol, seed)),
        Seq("tbl", "bucket"), bandFits)
      // Byte-based verify-broadcast gate (vectors are fixed-width, so
      // rows × (dim × 4B + row overhead) is exact — a row-count gate is
      // wrong at high dim: 200k rows is 51 MB at dim 64 but 820 MB at
      // dim 1024). The dim probe is one head() on the (tiny) plan. While
      // the vectors broadcast, a pair duplicated across T tables costs
      // T−1 extra in-pipeline dots — cheaper than deduping the raw
      // collision stream (hundreds of millions of rows on a
      // low-threshold corpus where the buckets barely discriminate).
      val budget = graft.GraftConf.broadcastBytes(spark)
      val verifyFits = graft.GraftConf.gate(spark, "cosineNearDupPairs verify",
          ("broadcast", "shuffle"), "spark.graft.broadcastBytes", budget, "count") {
        val dim = if (nRows == 0) 0
                  else corpus.select(size(col(vecCol))).head.getInt(0)
        nRows * (dim.toLong * 4L + 32L)
      }
      CandidatePairs.verifiedPairs(raw,
          corpus.select(col(idCol).as("id"), col(vecCol).as("v")), Seq("v"), verifyFits) {
        _.withColumn("cosine", VectorFunctions.cosine("v_a", "v_b"))
          .filter(col("cosine") >= threshold)
      }.select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }
  }

  /** √n IVF geometry with the capped probe fraction, measured on q204's
    * corpus ([[graft.Queries.annTopkTfidf]]: template-dense near-dup
    * text, hashed tf-idf vectors, 0.9 recall gate in spec).
    *
    *   - ~√n lists (the standard IVF sizing — 22 lists at sf0.01's 500
    *     docs, 71 at sf0.1's 5 000), never oversharding a small corpus
    *     below 4 lists too thin to recall from.
    *   - Probe `spark.graft.ann.nprobeNum`/8 of them: 2/8 once the
    *     geometry is fine enough (≥32 lists ⇒ ≥1 024 vectors), 3/8
    *     below it. Near-dup text spreads true ≥0.8 neighbors across
    *     lists, so the gate needs a substantial probe fraction — but the
    *     fraction SHRINKS as the geometry gets finer (more lists localize
    *     each neighborhood better). Measured: 22 lists → recall 0.943 @
    *     3/8, 0.924 @ 2/8; 71 lists → 0.985 @ 3/8, 0.969 @ 2/8. Every SF
    *     holds the gate with margin, and the probe scan (the dominant
    *     stage) drops by a third at bench scale.
    *   - Cap at ~`nprobeCapFactor`·nprobeNum·√nLists (default 1.1). The
    *     fraction rule alone holds the probe FRACTION constant, so probe
    *     work per query would grow linearly with the corpus and the whole
    *     search quadratically (the sf1-shape decade measurement exposed
    *     it). Capped, probed lists grow ~√nLists while list width grows
    *     ~√n/√nLists: per-query work ≈ O(√n·√√n), total ~n^1.25.
    *     Measured: recall 0.95+ wherever the fraction rule governs (≤71
    *     lists, cap not binding) and 0.9512 at the sf1 shape (224 lists,
    *     capped at 33 probes = 15% of lists vs 25% uncapped) — a thin
    *     margin that tightens at larger, unmeasured SFs since the cap
    *     shrinks the probed fraction as the corpus grows. Raise the factor
    *     (no code change) if a recall check at the next SF tier dips
    *     toward the gate.
    */
  def ivfAutoGeometry(spark: SparkSession, nVecs: Long): (Int, Int) = {
    val nLists = math.max(4, math.round(math.sqrt(nVecs.toDouble)).toInt)
    val nprobeNum = graft.GraftConf.int(spark, "spark.graft.ann.nprobeNum",
      if (nLists >= 32) 2 else 3)
    val capFactor = graft.GraftConf.double(spark,
      "spark.graft.ann.nprobeCapFactor", 1.1)
    val nprobe = math.max(8, math.min((nprobeNum * nLists + 7) / 8,
      math.ceil(capFactor * nprobeNum * math.sqrt(nLists.toDouble)).toInt))
    (nLists, nprobe)
  }

  /** Corpus-as-queries IVF search: each of the `nVecs` vectors of `emb`
    * (`vec_id`, `embedding`) gets its top-`k` neighbors at cosine ≥
    * `minCosine`, itself included. The geometry is [[ivfAutoGeometry]];
    * the index and the query side read one fan-out of `emb` (a staged
    * table reads back as one partition, and the scan-local list
    * assignment and probe selection would otherwise run in one task);
    * training runs `spark.graft.ann.trainIters` Lloyd iterations
    * (default 1: on q204's corpus more iterations lost recall, 0.924 at 1
    * → 0.908 at 5, because tighter centroids split near-dup
    * neighborhoods across list boundaries).
    */
  private[graft] def ivfSelfSearch(emb: DataFrame, nVecs: Long, k: Int, minCosine: Double,
                                   quantizedRerank: Option[Boolean] = None): DataFrame = {
    val spark = emb.sparkSession
    val fanned = emb.repartition(graft.GraftConf.explosiveFanout(spark))
    val (nLists, nprobe) = ivfAutoGeometry(spark, nVecs)
    val index = ivfBuild(fanned, numCentroids = nLists,
      trainIters = graft.GraftConf.int(spark, "spark.graft.ann.trainIters", 1))
    ivfSearch(index, fanned, k = k, nprobe = nprobe, minCosine = Some(minCosine),
      quantizedRerank = quantizedRerank)
  }

  /** Queries-side broadcast ceiling (rows). Below it the query side is
    * broadcast — every executor probes locally, zero shuffle of the corpus
    * side. Above it (corpus-vs-corpus ANN, 10⁸-row query batches) the
    * operators fall back to a plain shuffle join on their fixed-width keys:
    * same semantics, no single-executor materialization of the query side.
    */
  val DefaultMaxBroadcastQueries: Long = 1L << 20

  /** Broadcast `df` iff its estimated row count is within `maxRows`.
    * The estimate comes from Catalyst's own plan statistics (CBO row
    * count when available, else sizeInBytes over the schema's default
    * row width) — the same signal Spark's broadcast-join selection
    * uses, and crucially it costs NO job. An exact `count()` here ran
    * the query subtree (scan + any repartition shuffle) once per
    * search call purely to pick a join strategy; either join produces
    * identical rows, so an estimate is all the decision deserves.
    */
  private def maybeBroadcast(df: DataFrame, maxRows: Long) = {
    val stats = df.queryExecution.optimizedPlan.stats
    // stay in BigInt until the comparison: sizeInBytes can exceed Long
    // range (Catalyst uses it as "effectively infinite" for some plans)
    // and a truncating toLong could wrap negative — which would read as
    // "tiny, broadcast it" on exactly the plans that must never broadcast
    val estRows: BigInt = stats.rowCount.getOrElse {
      val rowBytes = BigInt(math.max(1, df.schema.defaultSize))
      stats.sizeInBytes / rowBytes
    }
    if (estRows <= BigInt(maxRows)) broadcast(df) else df
  }

  /** ANN top-k: bucket corpus and queries by banded SRP-LSH, join on
    * (table, bucket), dedup candidates, rank within query. Trades recall
    * for a ~2^bits reduction in scanned pairs per table; at 100 TB the
    * bucket join is a hash shuffle on fixed-width keys instead of a
    * broadcast fan-out of every query to every corpus row. Multi-table:
    * recall 1−(1−p^bits)^numTables per neighbor (see object doc). Query
    * sides beyond `maxBroadcastQueries` rows take the shuffle join path —
    * results are identical, only the physical join strategy changes.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numTables: Int = 8, bitsPerTable: Int = 0, targetBucket: Int = 4096,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L,
              maxBroadcastQueries: Long = DefaultMaxBroadcastQueries): DataFrame = {
    val bits = if (bitsPerTable > 0) bitsPerTable
               else bitsFor(corpus.count(), targetBucket)
    def banded(df: DataFrame, side: String) = df
      .select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"),
        expr(s"srp_buckets($vecCol, $numTables, $bits, ${seed}L)").as("buckets"))
      .select(col(s"${side}_id"), col(s"${side}_vec"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val cb = banded(corpus, "neighbor")
    val qb = banded(queries, "query")
    // score BEFORE the dedup: duplicate (query, neighbor) rows are
    // bit-identical once reduced to the cosine (the extra in-pipeline
    // dots are map-side), so the dedup exchange carries three scalars
    // per row instead of two dim-width vectors
    rankedTopK(cb.join(maybeBroadcast(qb, maxBroadcastQueries),
        Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("query_vec"),
        col("neighbor_vec").as("corpus_vec"))
      .withColumn("cosine",
        VectorFunctions.cosine("query_vec", "corpus_vec"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** The native codegen'd centroid scorer ([[graft.functions.NearestCentroids]])
    * as a Column: the packed codebook rides the plan as ONE binary
    * literal (small by definition — k × dim floats), every executor
    * unpacks it once, and centroid scoring becomes a scan-local fused
    * loop with NO join and NO shuffle. This replaced the interpreted-HOF
    * formulation (`aggregate`/`transform` over an array-of-struct
    * literal), which paid a boxed lambda per centroid per row on the two
    * per-row-hot IVF stages: full-corpus list assignment and the
    * corpus-as-queries probe selection of q204 (measured: the r11 probe
    * stage spent ~3 s in a single task precisely because the HOF forced
    * interpreted eval; the fused loop is also what lets whole-stage
    * codegen keep the probe inside the scan stage).
    */
  private def nearestCentroidsCol(vec: org.apache.spark.sql.Column,
                                  cents: Seq[(Long, Array[Float])],
                                  nprobe: Int): org.apache.spark.sql.Column =
    call_function("nearest_centroids", vec,
      lit(graft.functions.VectorFunctions.packBlock(cents)), lit(nprobe))

  /** Nearest-centroid id for a vector column (argmax cosine over the
    * plan-shipped codebook; ties → lowest centroid id).
    */
  private def nearestCentroid(vec: org.apache.spark.sql.Column,
                              cents: Seq[(Long, Array[Float])]) =
    element_at(nearestCentroidsCol(vec, cents, 1), 1)

  /** The `nprobe` nearest centroid ids for a query vector, nearest first. */
  private def probeLists(vec: org.apache.spark.sql.Column,
                         cents: Seq[(Long, Array[Float])], nprobe: Int) =
    nearestCentroidsCol(vec, cents, nprobe)

  /** Lloyd's k-means over the embedding column, trained entirely on a
    * bounded driver-side sample — the FAISS recipe (its coarse
    * quantizers train on a capped sample by default): centroid QUALITY
    * needs representative data, not all of it, and a codebook is k × dim
    * floats however it was trained. The corpus contributes one `limit`
    * job ([[trainingSample]]); every Lloyd iteration is then
    * driver-local float math ([[kMeans]] under cosine distance) — no
    * distributed pass per iteration, so training cost is independent of
    * corpus size. The full corpus is touched exactly once afterwards, by
    * the scan-local list ASSIGNMENT in [[ivfBuild]]/[[ivfTopK]].
    */
  def trainCentroidsLocal(corpus: DataFrame, numCentroids: Int, iters: Int = 3,
                          idCol: String = "vec_id", vecCol: String = "embedding"
                         ): Seq[(Long, Array[Float])] =
    coarseCentroids(trainingSample(corpus, numCentroids, idCol, vecCol), numCentroids, iters)

  /** The driver-side training sample: the first max(k, 1024) rows of
    * (sort key, vector) in scan order — one `limit` job, a partition or
    * two at any scale. The key only fixes the coarse trainer's point
    * order (determinism), so any deterministic i64 works: numeric ids
    * cast; generic ids (string UUIDs, composite keys rendered to text)
    * take the same xxhash64 surrogate the id-generic build uses.
    */
  private def trainingSample(corpus: DataFrame, numCentroids: Int, idCol: String,
                             vecCol: String): Array[(Long, Array[Float])] = {
    val sampleKey = corpus.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(idCol).cast("long")
      case _ => surrogateId(col(idCol))
    }
    corpus.select(sampleKey, col(vecCol))
      .limit(math.max(numCentroids, 1024)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  }

  /** Coarse (cosine) centroids over the sample sorted by key: the first
    * seed is the lowest-key vector, so a contiguous-id prefix cannot
    * degenerate the init. Centroid ids are 0 until k.
    */
  private def coarseCentroids(sample: Array[(Long, Array[Float])], numCentroids: Int,
                              iters: Int): Seq[(Long, Array[Float])] =
    if (sample.isEmpty) Seq.empty
    else kMeans(sample.sortBy(_._1).map(_._2), numCentroids, iters, cosineDistance)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq

  private def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - (if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb))
  }

  private def squaredL2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Driver-local k-means, the one kernel of the coarse quantizer and the
    * PQ subspaces. Farthest-first seeding — the deterministic variant of
    * k-means++'s D² weighting: the first seed is `pts.head`, each further
    * seed the point farthest (by `dist`) from its nearest chosen seed —
    * then `iters` Lloyd iterations. Every compare is strict, so ties go
    * to the lowest index (duplicate seeds are fine); a cell that loses
    * every member keeps its centroid, so k never shrinks. No RNG: replays
    * train identical centroids. min(k, |pts|) centroids (at least one).
    */
  private def kMeans(pts: Array[Array[Float]], k: Int, iters: Int,
                     dist: (Array[Float], Array[Float]) => Double): Array[Array[Float]] = {
    val seeds = scala.collection.mutable.ArrayBuffer(pts.head)
    val minDist = pts.map(dist(_, pts.head))
    while (seeds.size < math.min(k, pts.length)) {
      var best = 0
      var i = 1
      while (i < pts.length) { if (minDist(i) > minDist(best)) best = i; i += 1 }
      val s = pts(best)
      seeds += s
      pts.indices.foreach { j => val d = dist(pts(j), s); if (d < minDist(j)) minDist(j) = d }
    }
    var cents = seeds.toArray
    val dim = cents.head.length
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      pts.foreach { p =>
        var best = 0; var bd = dist(p, cents(0))
        var c = 1
        while (c < cents.length) { val d = dist(p, cents(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** A built IVF index: the trained codebook plus the corpus with its
    * inverted-list assignment. Build once, search many — the assignment
    * pass over the corpus is the expensive part, so amortize it across
    * query batches; at cluster scale write `assigned` to a table
    * partitioned or bucketed by `list_id` (probe joins then prune to the
    * probed lists at the scan).
    */
  final case class IvfIndex private[operators] (
      centroids: Seq[(Long, Array[Float])], assigned: DataFrame,
      packed: Option[DataFrame] = None) {
    /** Memo for the corpus-side surrogate-collision audit (generic-id
      * builds only): flips true after the one full-corpus
      * countDistinct(surrogate)==countDistinct(orig) scan passes, so
      * build-once-search-many callers pay it once per index LIFETIME,
      * not per search. Instance-scoped on purpose — [[ivfAppend]]
      * returns a fresh instance (new ids could collide), which re-arms
      * the audit automatically. [[ivfSave]] stamps a passed audit into
      * the artifact; [[ivfLoad]] pre-seeds from the stamp.
      */
    @transient private[operators] lazy val genericAuditPassed =
      new java.util.concurrent.atomic.AtomicBoolean(false)
  }

  /** Deterministic i64 surrogate for a non-long id column — the id-generic
    * ramp onto the long-id core: every kernel (pack_vec_block's blobs, the
    * int8 resident copy, the SIMD dots) carries ids as i64, so a
    * string/UUID/composite-key corpus maps ids once at BUILD time
    * (xxhash64 over the canonical string form — order-free, replay-stable)
    * and the original ids ride `assigned` as an `orig_id` column the
    * search decodes in its final projection. Collision budget: two ids
    * colliding would merge two vectors' identities, so the generic search
    * path AUDITS the mapping (countDistinct(surrogate) must equal
    * countDistinct(orig)) and fails loud — same 2⁻⁶⁴ budget as the gram
    * hashes, but checked, not assumed, because here a collision changes
    * an answer rather than one similarity score.
    */
  private[operators] def surrogateId(c: org.apache.spark.sql.Column) =
    xxhash64(c.cast("string"))

  /** The surrogate-collision audit: one combinable two-column agg over
    * `df`; fails loud (naming the caller `who` and the `side`, query or
    * corpus) unless `surrogate` has as many distinct values as `orig` —
    * a collision would merge two ids' identities. Returns the distinct
    * id count.
    */
  private def auditSurrogates(df: DataFrame, surrogate: String, orig: String,
                              who: String, side: String): Long = {
    val audit = df.agg(
      countDistinct(col(surrogate)).as("s"),
      countDistinct(col(orig)).as("o")).head()
    require(audit.getLong(0) == audit.getLong(1),
      s"$who: xxhash64 surrogate collision among $side ids " +
        s"(${audit.getLong(1)} distinct ids -> ${audit.getLong(0)} surrogates); " +
        s"re-key the $side side with explicit i64 ids")
    audit.getLong(1)
  }

  /** (neighbor_id, corpus_vec, list_id[, orig_id]) for a corpus/batch:
    * long ids pass through; generic ids take the surrogate and keep the
    * original alongside for decode.
    */
  private def assignCols(df: DataFrame, cents: Seq[(Long, Array[Float])],
                         idCol: String, vecCol: String): DataFrame =
    if (df.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
      df.select(col(idCol).as("neighbor_id"), col(vecCol).as("corpus_vec"),
        nearestCentroid(col(vecCol), cents).as("list_id"))
    else
      df.select(surrogateId(col(idCol)).as("neighbor_id"),
        col(vecCol).as("corpus_vec"),
        nearestCentroid(col(vecCol), cents).as("list_id"),
        col(idCol).as("orig_id"))

  /** Train the codebook and assign every corpus vector to its inverted
    * list — one scan-local pass after training (no join, no shuffle).
    * Non-long id columns are supported: ids map to an i64 surrogate at
    * build ([[surrogateId]]) and the original rides `assigned.orig_id`,
    * decoded transparently by [[ivfSearch]].
    */
  def ivfBuild(corpus: DataFrame,
               numCentroids: Int = 16, trainIters: Int = 3,
               idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val cents = trainCentroidsLocal(corpus, numCentroids, trainIters, idCol, vecCol)
    IvfIndex(cents, assignCols(corpus, cents, idCol, vecCol))
  }

  /** Width of the cross-block pack exchange: enough partitions that each
    * task's collect_list buffer holds ≤ `targetBytes` of the probe
    * stream, but no more than the exchange's `keys` distinct (list,
    * salt) keys — a hash exchange of K keys fills at most K partitions,
    * and every partition past that is an empty task. Never below the
    * explosive fan-out (small scales keep their plan), and capped so the
    * width cannot explode on a nonsense stats estimate. Pure —
    * unit-tested directly in IvfBlockTopKSpec.
    */
  private[graft] def crossPackWidth(estStreamBytes: BigInt,
                                    targetBytes: Long,
                                    fanout: Int,
                                    keys: Long): Int =
    (estStreamBytes / targetBytes.max(1L) + 1)
      .min(BigInt(keys)).min(BigInt(65536)).max(BigInt(fanout)).toInt

  /** Search a prebuilt index: each query scans only its `nprobe` nearest
    * inverted lists (≈ nprobe/numCentroids of the corpus), as a BLOCK
    * SCAN, not a pair join. The sf1-shape decade measurement falsified
    * the flat formulation (join probes×members, one cosine column, one
    * global window): at 50 k docs it materialized 666 M joined rows each
    * carrying both 1 KB vectors — ~1.3 TB of row-assembly traffic, 100+ s
    * while the float math itself is ~10 s — and its cost was
    * nprobe-INSENSITIVE because row assembly, not scoring, dominated.
    *
    * Here the inverted lists are packed into per-(list, chunk) binary
    * blobs ([[graft.functions.PackVecBlock]], ≤ `blockRows` vectors each)
    * once per search; the probe join's build side is that packed table
    * (total bytes = corpus bytes, row count = O(lists·chunks)) and each
    * (probe row × chunk) evaluates [[graft.functions.IvfBlockTopK]] — a
    * fused scan emitting only that chunk's top-k for that query. Pairs
    * never exist as rows, and the global top-k window's input collapses
    * from every above-floor pair to ≤ nprobe·k rows per query. Chunking
    * serves two masters: it bounds a blob to ~`blockRows`·dim·4 bytes (a
    * skewed list can't produce a GB row — at cluster scale rows must fit
    * an exchange page), and it splits the skewed-list straggler across
    * tasks.
    *
    * The per-chunk → global cascade is EXACT: scores use the same
    * [[graft.functions.CosineSimilarity]] arithmetic and the same
    * (cosine desc, neighbor_id asc) order at both levels, so every
    * global winner is a winner of its own chunk — same rows, same ranks
    * as the flat formulation (spec-pinned). The packed side broadcasts
    * while the corpus is broadcast-sized; beyond that the join shuffles
    * on list_id — at cluster scale persist `assigned` bucketed by
    * list_id so only the (small) packed blobs move.
    */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxBroadcastQueries: Long = DefaultMaxBroadcastQueries,
                minCosine: Option[Double] = None,
                blockRows: Int = DefaultBlockRows,
                quantizedRerank: Option[Boolean] = None): DataFrame = {
    // Non-long query ids: encode onto the i64 surrogate core and decode
    // in the final projection — EVERY orientation (replicated float/int8/
    // PQ, per-query, cross-block) is then available to a string-id corpus
    // (previously those corpora could not search at all: the packed-blob
    // kernel carries i64 ids by analysis-time contract).
    if (queries.schema(idCol).dataType != org.apache.spark.sql.types.LongType)
      return ivfSearchGenericIds(index, queries, k, nprobe, idCol, vecCol,
        maxBroadcastQueries, minCosine, blockRows, quantizedRerank)
    // Mixed-id guard, fail-loud (the [[ivfAppend]] convention for exactly
    // this mismatch class): a generic-built index carries xxhash64
    // SURROGATES as `neighbor_id` (the originals ride `orig_id`), so a
    // long-id query batch falling through to the long-id core would emit
    // raw surrogates that LOOK like caller data. Long-id callers of a
    // string-id index almost certainly mis-keyed one side; tell them,
    // don't hand them hashes.
    require(!index.assigned.columns.contains("orig_id"),
      s"ivfSearch: queries carry a long id column '$idCol' but the index was " +
        "built from a non-long-id corpus (assigned keeps orig_id beside the " +
        "xxhash64 surrogate) — query with the index's original id type, or " +
        "rebuild the index from a corpus keyed by explicit i64 ids")
    ivfSearchLongCore(index, queries, k, nprobe, idCol, vecCol,
      maxBroadcastQueries, minCosine, blockRows, quantizedRerank)
  }

  /** The long-id core every orientation runs on. Ids are i64 HERE by
    * contract: [[ivfSearch]] routes non-long query ids through the
    * surrogate encode/decode wrapper ([[ivfSearchGenericIds]]) and
    * fail-louds the mixed-id direction, and that wrapper re-enters here
    * directly (already-encoded queries must not re-trip the guard).
    */
  private def ivfSearchLongCore(index: IvfIndex, queries: DataFrame, k: Int,
                                nprobe: Int, idCol: String, vecCol: String,
                                maxBroadcastQueries: Long,
                                minCosine: Option[Double], blockRows: Int,
                                quantizedRerank: Option[Boolean]): DataFrame = {
    // Query vectors must match the index dimension, checked HERE — in the
    // probe scan itself, no extra job — so both probe orientations reject
    // a ragged query batch identically. Before this check the accepted
    // input domain depended on which side of the copy-bytes gate (a stats
    // ESTIMATE) the job landed: the per-query path scored mismatched
    // queries with min-length cosine semantics while the cross-block path
    // threw from inside pack_vec_block.
    val indexDim = index.centroids.head._2.length
    val checkedVec = when(size(col(vecCol)) === lit(indexDim), col(vecCol))
      .otherwise(raise_error(concat(
        lit("ivfSearch: query vector length "), size(col(vecCol)).cast("string"),
        lit(s" != index dim $indexDim"))))
    // Replicated probe: while the decoded index fits the
    // executor-heap-derived budget, broadcast it whole and probe entirely
    // map-side — no probe-stream exchange (the cross-block query pack
    // moves ~nprobe × queryBytes: 73 GB at the 1M-doc corpus-as-queries
    // shape) and no global top-k window shuffle (each query's final
    // top-k is computed where its row sits, by the same total order).
    // The budget gates what RESIDES on every executor, one rung per
    // scoring: the float arrays (dim·4B + id + double norm per vector),
    // then the int8 copy (dim·1B + id + long norm — a corpus up to ~4×
    // over the float budget still replicates quantized). Estimates clamp
    // at Long.MaxValue, so an unknown-stats plan reads as huge and lands
    // on the distributed path — the safe direction.
    val spark = queries.sparkSession
    val vecWidth = indexDim.toLong * 4L + 24L
    val (corpusRows, corpusSrc) = estRowsHonest(index.assigned, vecWidth)
    def replicate(scoring: String, width: Long, regimes: (String, String)): Boolean =
      graft.GraftConf.gate(spark, s"ivfSearch replicate $scoring", regimes,
          "spark.graft.ann.replicateIndexBytes", graft.GraftConf.broadcastBytes(spark),
          corpusSrc)((corpusRows * width).min(Long.MaxValue).toLong)
    if (maxBroadcastQueries <= 0L)
      logInfo("ivf probe scan: replicate ladder skipped " +
        "(maxBroadcastQueries <= 0 pins the no-broadcast shuffle plan)")
    else if (replicate("float", vecWidth, ("replicated", "declined")))
      return ivfSearchReplicated(index, queries, checkedVec, k, nprobe,
        idCol, vecCol, minCosine, blockRows, corpusRows, corpusSrc,
        int8 = false, rerank = false)
    else if (replicate("int8", indexDim + 40L, ("replicated", "distributed")))
      return ivfSearchReplicated(index, queries, checkedVec, k, nprobe,
        idCol, vecCol, minCosine, blockRows, corpusRows, corpusSrc,
        int8 = true, rerank = quantizedRerank.getOrElse(true))

    // per query: the nprobe nearest centroid lists (scan-local as well).
    val probes = queries.select(col(idCol).as("query_id"), checkedVec.as("query_vec"),
      explode(probeLists(col(vecCol), index.centroids, nprobe)).as("list_id"))

    // only the PROBED lists get packed: the semi-join against the (tiny,
    // broadcast) distinct probe-list set keeps the saved-index contract —
    // an `assigned` persisted partitioned by list_id is read through
    // dynamic partition pruning, touching ~nprobe/numCentroids of the
    // bytes on disk. Corpus-as-queries searches probe every list, where
    // the semi-join is a no-op. Chunk boundaries are per-list
    // (partitionBy list_id, orderBy id), so pruning whole lists cannot
    // move them.
    val probedLists = probes.select(col("list_id")).distinct()
    def pruneToProbed(df: DataFrame): DataFrame = df.join(
      if (maxBroadcastQueries <= 0L) probedLists else broadcast(probedLists),
      Seq("list_id"), "leftsemi")
    // The packed chunk table: pre-built when the index carries a PACKED
    // ARTIFACT ([[ivfSavePacked]]/[[ivfLoad]]) — the probe then scans the
    // persisted blobs directly, paying zero window/pack work per search
    // (the sf20 measurement: the per-run re-pack was the dominant
    // artifact-side cost; a 1M-doc corpus re-packed ~GBs through a
    // window + collect_list exchange on EVERY query batch). Otherwise
    // pack the probed lists on the fly. Either way the downstream plan
    // is identical — and the RESULT is identical under ANY chunking of a
    // list (every global winner wins its own chunk, so the per-chunk →
    // global cascade is chunking-invariant; spec-pinned), which is what
    // makes a pre-built layout legal in the first place.
    val packed = index.packed match {
      case Some(pre) =>
        logInfo("ivf probe scan: packed artifact (pre-built chunk blobs; no per-search pack)")
        pruneToProbed(pre.select(col("list_id"), col("block")))
      case None =>
        // pack each probed list into ≤blockRows chunks. The chunk window
        // shuffles on list_id and the pack groupBy reuses that
        // partitioning (clustering on a superset of the partition keys
        // adds no exchange).
        packLists(pruneToProbed(index.assigned), blockRows,
            index.centroids.length, vecWidth)
          .select(col("list_id"), col("block"))
    }

    val floor = minCosine.getOrElse(Double.NegativeInfinity)
    // maxBroadcastQueries keeps its role as the no-broadcast escape hatch
    // (0 ⇒ pure shuffle plan, spec-pinned); the broadcast side in the
    // block plan is the packed index, not the query batch.
    val packedSide =
      if (maxBroadcastQueries <= 0L) packed
      else maybeBroadcastBytes(packed, index.assigned, indexDim)
    // Two probe-scan orientations, gated on the BLOB-COPY volume.
    // Catalyst BinaryType access COPIES the blob out of its (broadcast)
    // row on EVERY evaluation (UnsafeRow.getBinary), so the one-row-per-
    // (query, chunk) formulation memcpy's a corpus chunk per probing
    // query. That is free at bench scale (GBs of copy) but was the
    // ENTIRE probe scan at the 250k-doc shape: ~15.7 M probe rows ×
    // ~0.5 MB chunk = 8 TB of copy+GC, ~300 of the scan's 300 s, dots
    // far from the compute roof. (An identity-keyed decode cache does
    // NOT fix it — every access yields a fresh array, so it never hits;
    // measured 2.9× worse.)
    //
    // The cross-block probe: pack the PROBING QUERIES per (list,
    // salt) and join packed-queries × packed-chunks — each row decodes
    // two blobs once and scores |qblock| × |chunk| pairs per copy, so
    // the scan is compute-bound (sf5 shape: 300 s → 114 s, identical
    // rows). Its cost is one explicit exchange of the probe stream
    // (fan-out-pinned, AQE-exempt — the band-join lesson) plus the pack
    // aggregation, a fixed ~1 s that the small-scale path should not
    // pay: below the copy-bytes gate the per-query probe stays.
    // The salt bounds one cross row's work so a dense list cannot
    // serialize the scan. Kernel arithmetic and ordering are EXACTLY
    // the flat join's in both orientations (spec-pinned bit-identical),
    // so the per-chunk → global-window cascade is unchanged.
    // Expected probe rows come from Catalyst stats (no job). The
    // arithmetic stays in BigInt until the gate clamps it: when a plan
    // has no stats Catalyst reports sizeInBytes = defaultSizeInBytes
    // (effectively Long.MaxValue), so estQueryRows ≈ 2e15 and a Long
    // product estProbeRows × estListRows × vecWidth would WRAP to an
    // arbitrary-sign value — silently picking the per-query
    // (copy-amplified) orientation at exactly the largest scales. An
    // unknown-stats plan lands on the cross-block side instead — the
    // direction that is safe to be wrong in (a fixed ~1 s exchange+pack
    // overhead, vs TBs of memcpy the other way).
    val (estQueryRows, querySrc) = estRowsHonest(queries, vecWidth)
    val nLists = math.max(1, index.centroids.size)
    val estProbeRows = estQueryRows * nprobe
    val perQuery = graft.GraftConf.gate(spark, "ivfSearch probe", ("per-query", "cross-block"),
        "spark.graft.ann.probeCopyBytes", 16L << 30,
        s"query rows from $querySrc × corpus rows from $corpusSrc") {
      val estListRows = (corpusRows / nLists + 1).min(BigInt(blockRows.toLong))
      (estProbeRows * estListRows * vecWidth).min(Long.MaxValue).toLong
    }
    val perChunk = if (perQuery) {
      probes
        .join(packedSide, Seq("list_id"))
        .select(col("query_id"),
          explode(call_function("ivf_block_topk", col("query_id"), col("query_vec"),
            col("block"), lit(k), lit(floor))).as("e"))
        .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
          col("e.cosine").as("cosine"))
    } else {
      val fanout = graft.GraftConf.explosiveFanout(spark)
      val qsalts = (estProbeRows / nLists / blockRows + 1)
        .min(BigInt(1024)).max(BigInt(1)).toInt
      // The pack exchange is sized by BYTES, not the fixed fan-out: the
      // collect_list aggregation holds every in-flight group's vectors in
      // task memory, so per-task live state is ~probeStreamBytes / width.
      // At the 1M-doc tier the probe stream is ~70 M rows × ~1 KB ≈ 73 GB
      // — at the fixed 128-way fan-out that is ~570 MB of aggregation
      // buffer per task, and 32 concurrent tasks OOM'd a 64 GiB heap
      // while SPILLING (Collect.serialize doubles the buffer it
      // serializes). Width = estProbeBytes / PackPartitionBytes bounds
      // the per-task buffer at any scale; below ~fanout·target bytes the
      // width stays the fan-out (bench plans unchanged), and it never
      // exceeds the (list, qsalt) key space, which no hash exchange can
      // spread wider.
      val packWidth = crossPackWidth(estProbeRows * vecWidth, PackPartitionBytes, fanout,
        nLists.toLong * qsalts)
      if (packWidth != fanout)
        logInfo(s"ivf probe scan: cross-block pack exchange widened to $packWidth " +
          s"(est probe stream ${estProbeRows * vecWidth} B)")
      val qpacked = probes
        .withColumn("qsalt",
          pmod(xxhash64(col("query_id")), lit(qsalts.toLong)).cast("int"))
        .repartition(packWidth, col("list_id"), col("qsalt"))
        .groupBy(col("list_id"), col("qsalt"))
        .agg(expr("pack_vec_block(collect_list(struct(query_id, query_vec)))")
          .as("qblock"))
        .select(col("list_id"), col("qblock"))
      qpacked
        .join(packedSide, Seq("list_id"))
        .select(explode(call_function("block_cross_topk",
          col("qblock"), col("block"), lit(k), lit(floor))).as("e"))
        .select(col("e.query_id").as("query_id"),
          col("e.neighbor_id").as("neighbor_id"),
          col("e.cosine").as("cosine"))
    }
    rankedTopK(perChunk, k)
  }

  /** [[ivfSearch]] for a non-long id column: encode query ids onto the
    * same i64 surrogate the generic [[ivfBuild]] stamped into `assigned`,
    * run the long-id core (every orientation available — replicated
    * float/int8 included, which the old non-long-id skip forbade), and
    * decode both id columns in the final projection. The decode joins are
    * SLIM: the query dictionary is the query batch's (orig, surrogate)
    * pairs (search-small — Spark broadcasts it under its own threshold),
    * and the corpus dictionary is two columns of `assigned` hash-joined on
    * i64 against k·|queries| result rows. Rank ties (equal cosines) break
    * on the surrogate, not the original id's collation — deterministic,
    * replay-stable, but not lexicographic (documented contract).
    *
    * The surrogate mapping is AUDITED on both sides (one combinable
    * two-column agg per side): countDistinct(surrogate) must equal
    * countDistinct(orig), else fail loud — a collision would merge two
    * vectors' (or two queries') identities. The query-side audit is
    * query-batch-sized (cheap, every search); the corpus-side audit is a
    * full corpus scan, so it runs ONCE per index lifetime: the result is
    * memoized on the [[IvfIndex]] instance, stamped into the saved
    * artifact by [[ivfSave]], and pre-seeded by [[ivfLoad]] — appends
    * produce a fresh instance / clear the stamp, which re-arms it.
    * `spark.graft.ann.auditGenericIdsPerSearch=true` restores the
    * every-search paranoia scan.
    */
  private def ivfSearchGenericIds(index: IvfIndex, queries: DataFrame,
                                  k: Int, nprobe: Int, idCol: String,
                                  vecCol: String, maxBroadcastQueries: Long,
                                  minCosine: Option[Double], blockRows: Int,
                                  quantizedRerank: Option[Boolean]): DataFrame = {
    require(index.assigned.columns.contains("orig_id"),
      s"ivfSearch: queries carry a non-long id column '$idCol' but the index " +
        "was built from a long-id corpus — build the index with ivfBuild over " +
        "the same id type (generic builds keep orig_id alongside the surrogate)")
    val spark = queries.sparkSession
    val encQueries = queries.select(surrogateId(col(idCol)).as(idCol), col(vecCol))
    val qDict = queries.select(col(idCol).as("__q_orig"),
      surrogateId(col(idCol)).as("query_id"))
    auditSurrogates(qDict, "query_id", "__q_orig", "ivfSearch", "query")
    val nDict = index.assigned.select(col("neighbor_id"),
      col("orig_id").as("__n_orig"))
    val perSearch = graft.GraftConf.annAuditGenericIdsPerSearch(spark)
    if (perSearch || !index.genericAuditPassed.get()) {
      val n = auditSurrogates(nDict, "neighbor_id", "__n_orig", "ivfSearch", "corpus")
      index.genericAuditPassed.set(true)
      logInfo(s"ivf generic ids: corpus surrogate audit PASSED ($n distinct ids" +
        (if (perSearch) ", per-search mode)" else "; memoized for this index)"))
    } else
      logInfo("ivf generic ids: corpus surrogate audit memoized (already " +
        "passed for this index; set spark.graft.ann.auditGenericIdsPerSearch" +
        "=true to rescan per search)")
    val res = ivfSearchLongCore(index, encQueries, k, nprobe, idCol, vecCol,
      maxBroadcastQueries, minCosine, blockRows, quantizedRerank)
    res.join(qDict, "query_id").join(nDict, "neighbor_id")
      .select(col("__q_orig").as("query_id"), col("__n_orig").as("neighbor_id"),
        col("cosine"), col("rk"))
  }

  /** Floor relaxation of the int8 shortlist scan: a candidate whose TRUE
    * cosine clears `minCosine` may score up to this much lower under the
    * int8 arithmetic, so the scan keeps everything above
    * `floor − margin` and the exact rerank re-applies the exact floor.
    * |Δcos| stays well under 1e-2 on unit-ish vectors (measured).
    */
  private[graft] val Int8FloorMargin = 0.02

  /** Honest row-count estimate for the replicate-budget / copy-volume
    * gates, tried in cost order:
    *
    *   1. Catalyst `rowCount` when CBO stats carry one (free);
    *   2. parquet FOOTER record counts summed over the plan's file
    *     relations — jobless metadata, and the fix for the budget breach
    *     measured at sf80: `stats.sizeInBytes` is COMPRESSED parquet
    *     bytes, and dividing it by the DECODED vector width under-read
    *     rows ~3.5×, so the gate admitted a 1.18 GB true int8 resident
    *     copy under its 1 GiB budget;
    *   3. the compressed-bytes fallback `sizeInBytes / decodedRowWidth`,
    *     kept only for plans with no parquet relation underneath
    *     (in-memory/computed inputs, whose sizeInBytes is already a
    *     decoded-width estimate, so the division is honest there).
    *
    * Footer counts are trusted only when every node between scan and root
    * preserves cardinality (project / repartition / sort); a filter, join
    * or aggregate changes row counts and falls through to (3) — the
    * conservative direction (over-reads rows ⇒ the gate declines and the
    * job takes the distributed path, never an OOM). Returns (rows, source)
    * so gate decisions can log which estimate they acted on.
    */
  private[graft] def estRowsHonest(df: DataFrame, decodedRowWidth: Long): (BigInt, String) = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount match {
      case Some(rc) => (rc, "plan rowCount stats")
      case None => footerRowCount(df) match {
        case Some(n) => (BigInt(n), "parquet footer record counts")
        case None => (st.sizeInBytes / decodedRowWidth + 1,
          "sizeInBytes / decoded row width (no file stats; compressed bytes under-read rows)")
      }
    }
  }

  /** Sum of parquet footer record counts under `df`'s plan, or None when
    * the plan is not a row-preserving tree over parquet file relations.
    * Footers are driver-side metadata reads (no Spark job); past
    * [[MaxFooterFiles]] a deterministic stride sample of
    * footers is read and extrapolated by the FileIndex's total bytes —
    * bounded driver time at any file count.
    */
  private[graft] def footerRowCount(df: DataFrame): Option[Long] = scala.util.Try {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, RepartitionOperation}
    import org.apache.spark.sql.execution.datasources.{LogicalRelation, HadoopFsRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val plan = df.queryExecution.optimizedPlan
    def rowPreserving(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case _: Project | _: Sort | _: RepartitionOperation => p.children.forall(rowPreserving)
      case _ => false
    }
    if (!rowPreserving(plan)) return None
    val rels = plan.collect { case lr: LogicalRelation => lr.relation }
    val fsRels = rels.collect {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] => h
    }
    if (fsRels.isEmpty || fsRels.size != rels.size) return None
    val conf = df.sparkSession.sessionState.newHadoopConf()
    def footerRows(path: String): (Long, Long) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(path), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (r.getRecordCount, in.getLength) finally r.close()
    }
    val total = fsRels.map { rel =>
      val files = rel.location.inputFiles
      if (files.length <= MaxFooterFiles) files.iterator.map(footerRows(_)._1).sum
      else {
        // stride-sample footers (deterministic: sorted paths) and scale
        // the sampled row count by the relation's total-bytes share
        val stride = (files.length + MaxFooterFiles - 1) / MaxFooterFiles
        val sampled = files.sorted.iterator.zipWithIndex
          .collect { case (p, i) if i % stride == 0 => footerRows(p) }.toSeq
        val (sRows, sBytes) = sampled.foldLeft((0L, 0L)) {
          case ((r, b), (fr, fb)) => (r + fr, b + fb)
        }
        (BigInt(sRows) * BigInt(rel.location.sizeInBytes) /
          BigInt(math.max(1L, sBytes))).toLong
      }
    }.sum
    Some(total)
  }.toOption.flatten

  /** The replicated probe: the whole packed index, decoded (float) or
    * decoded and quantized (int8) ON THE EXECUTORS into primitive arrays,
    * gathered to the driver and sent out in one torrent broadcast; each
    * query row probes its nprobe lists against the broadcast map in
    * place. Zero exchanges downstream of the query scan: no probe
    * fan-out, no query pack, no packed-side join, no global top-k window
    * — the per-query global top-k is computed locally under the exact
    * (cosine desc, neighbor_id asc) total order the window used
    * ([[graft.functions.VectorFunctions.replicatedTopK]], arithmetic
    * bit-identical to the block kernels; equality spec-pinned including
    * exact-tie ranks). [[ivfSearchLongCore]]'s replicate ladder picks the
    * scoring: the decoded arrays live on every executor, so the budget is
    * the heap-derived broadcast budget; TB-scale indexes keep the
    * distributed orientations. The blobs come from the persisted packed
    * artifact when the index carries one (zero pack work per search) and
    * from one pack pass otherwise.
    *
    * int8 scoring with `rerank` (the default): the quantized copy only
    * SELECTS a shortlist (rerankFactor·k per query, floor relaxed by the
    * int8 quantization margin); scores and the minCosine filter are EXACT
    * via an in-operator float rerank — the same recipe as the PQ search
    * routes, so taking the int8 rung never changes score semantics, only
    * shortlist membership (recall spec-gated). Without `rerank` (callers
    * that provably rerank exactly downstream, e.g. the q204 composition)
    * the approximate scores — int8 ~1e-2 error — are emitted directly,
    * with minCosine applied to the approximate score; the in-operator
    * rerank would be a redundant second pass there (measured sf20: it cost
    * ~4× the probe kernel before the slim-shortlist/hash-join form below).
    */
  private def ivfSearchReplicated(index: IvfIndex, queries: DataFrame,
                                  checkedVec: org.apache.spark.sql.Column,
                                  k: Int, nprobe: Int, idCol: String,
                                  vecCol: String, minCosine: Option[Double],
                                  blockRows: Int, corpusRows: BigInt,
                                  corpusSrc: String,
                                  int8: Boolean, rerank: Boolean): DataFrame = {
    import graft.functions.VectorFunctions
    val spark = queries.sparkSession
    val dim = indexDimOf(index).toLong
    val packedDf = index.packed match {
      case Some(pre) => pre.select(col("list_id"), col("block"))
      case None => packLists(index.assigned, blockRows,
          index.centroids.length, dim * 4L + 24L)
        .select(col("list_id"), col("block"))
    }
    val floor = minCosine.getOrElse(Double.NegativeInfinity)
    val qrows = queries.select(col(idCol).as("query_id"),
      checkedVec.as("query_vec"),
      probeLists(col(vecCol), index.centroids, nprobe).as("lists"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cosine",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rk",
        org.apache.spark.sql.types.IntegerType)))
    // group broadcast chunks by list once per task: ~|chunks| map inserts
    // over shared references, no data copy
    def groupByList[B](blks: Array[(Long, B)]): java.util.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[B]] = {
      val byList = new java.util.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[B]]()
      blks.foreach { case (l, blk) =>
        var b = byList.get(l)
        if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty; byList.put(l, b) }
        b += blk
      }
      byList
    }
    // r18 (guide §5 — the driver should do almost no data work): the
    // per-block decode (and int8 quantize) is a pure function, so it runs
    // on the executors (`rdd.map`), never single-threaded on the driver.
    // When the estimated gathered volume fits comfortably under
    // spark.driver.maxResultSize the blocks come back in ONE parallel
    // collect; past that gate they stream per partition, so the driver
    // never holds more than the gathered arrays + one in-flight partition.
    // Outputs are bit-identical either way (same per-block kernel; block
    // order is irrelevant — the probe groups blocks by list). The
    // last-resort sizeInBytes row source UNDER-reads rows on compressed
    // data (its own message says so) — an undercount would select the
    // single collect and abort on spark.driver.maxResultSize, where the
    // stream always completes (r18 ADVICE), so only the two exact sources
    // may choose the collect.
    def gatherBlocks[B: scala.reflect.ClassTag](
        what: String, perRowBytes: Long,
        f: Array[Byte] => B): Array[(Long, B)] = {
      val rdd = packedDf.rdd.map(r => (r.getLong(0), f(r.getAs[Array[Byte]](1))))
      val est = corpusRows * perRowBytes
      val heuristic = corpusSrc.startsWith("sizeInBytes")
      val gate = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.driver.maxResultSize", "1g")) / 2
      if (est <= gate && !heuristic) {
        logInfo(s"ivf probe scan: $what on executors, single parallel collect " +
          s"(est $est B <= ${gate} B = maxResultSize/2)")
        try rdd.collect()
        catch {
          // belt over the gate: if the exact-source estimate still missed
          // (e.g. stride-sampled footers on irregular files), fall back to
          // the streamed form rather than failing the search
          case e: org.apache.spark.SparkException
              if String.valueOf(e.getMessage).contains("maxResultSize") =>
            logWarning(s"ivf probe scan: $what single collect exceeded " +
              s"maxResultSize (est $est B); retrying streamed", e)
            rdd.toLocalIterator.toArray
        }
      } else {
        logInfo(s"ivf probe scan: $what on executors, streamed per-partition " +
          s"(est $est B > ${gate} B = maxResultSize/2" +
          (if (heuristic) "; estimate source is the compressed-bytes " +
            "heuristic, which under-reads rows — collect not trusted" else "") + ")")
        rdd.toLocalIterator.toArray
      }
    }
    // the one probe loop: broadcast the gathered blocks, then score each
    // query row's probed lists with the scoring's per-query kernel
    def probe[B: scala.reflect.ClassTag](what: String, perRowBytes: Long,
        f: Array[Byte] => B)(
        topK: (Long, Array[Float], Iterator[B]) => (Array[Long], Array[Double], Int)
        ): DataFrame = {
      val bc = spark.sparkContext.broadcast(gatherBlocks(what, perRowBytes, f))
      qrows.mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
        val byList = groupByList(bc.value)
        it.flatMap { r =>
          val qid = r.getLong(0)
          val q = r.getSeq[Float](1).toArray
          val blocks = r.getSeq[Long](2).iterator.flatMap { l =>
            val b = byList.get(l)
            if (b == null) Iterator.empty else b.iterator
          }
          val (ids, scores, size) = topK(qid, q, blocks)
          (0 until size).iterator.map(i =>
            org.apache.spark.sql.Row(qid, ids(i), scores(i), i + 1))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }
    val ranked =
      if (!int8)
        probe("float decode", dim * 4L + 24L, VectorFunctions.decodeBlock) {
          (qid, q, blocks) => VectorFunctions.replicatedTopK(qid, q, blocks, k, floor)
        }
      else {
        val kFetch =
          if (rerank) math.max(k, k * graft.GraftConf.annRerankFactor(spark)) else k
        val fetchFloor = if (rerank && minCosine.isDefined) floor - Int8FloorMargin
                         else floor
        probe("int8 quantize", dim + 48L,
            b => VectorFunctions.quantizeBlock(VectorFunctions.decodeBlock(b))) {
          (qid, q, blocks) => VectorFunctions.replicatedTopKI8(qid,
            graft.functions.VecKernels.quantizeI8(q, 0, q.length), blocks, kFetch, fetchFloor)
        }
      }
    if (!int8 || !rerank)
      // the same final projection as the window path: rank BEFORE
      // rounding, Catalyst round so the emitted doubles are bit-identical
      return ranked.select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rk"))
    // Exact rerank of the SLIM shortlist: (query_id, neighbor_id) rows
    // only — 16 B/row through the first exchange; the 1 KB float vectors
    // attach via two SHUFFLE_HASH joins so the fat stream is NEVER
    // SORTED (the first SMJ formulation carried query_vec per shortlist
    // row into a sort-merge join — sf20 measured the rerank at ~4× the
    // probe kernel, spilling GBs of sort data). Join order puts the
    // query_id join LAST so the top-k window reuses its partitioning:
    // one fat exchange total (corpus_vec per shortlist row), slim window
    // sort (column pruning drops both vectors before it).
    val slim = ranked.select(col("query_id"), col("neighbor_id"))
    // Corpus floats for the rerank: decode them from the PACKED blobs
    // when the index carries an artifact — `assigned/` is partitioned by
    // list_id into O(lists × writers) small files (sf20 artifact:
    // 113,576 parquet files; reading them once cost a large slice of the
    // first rerank measurement), while the blob table is a handful of
    // compact files holding the same float bits.
    val corpusSide: DataFrame = index.packed match {
      case Some(_) =>
        val decSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("neighbor_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("corpus_vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType, containsNull = false))))
        packedDf.select(col("block"))
          .mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
            it.flatMap { r =>
              val blk = VectorFunctions.decodeBlock(r.getAs[Array[Byte]](0))
              (0 until blk.n).iterator.map { i =>
                org.apache.spark.sql.Row(blk.ids(i),
                  java.util.Arrays.copyOfRange(
                    blk.vecs, i * blk.dim, (i + 1) * blk.dim))
              }
            }
          }(org.apache.spark.sql.Encoders.row(decSchema))
      case None => index.assigned.select(col("neighbor_id"), col("corpus_vec"))
    }
    val querySide = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val rescored = slim
      .join(corpusSide.hint("SHUFFLE_HASH"), "neighbor_id")
      .join(querySide.hint("SHUFFLE_HASH"), "query_id")
      .withColumn("cosine", VectorFunctions.cosine("query_vec", "corpus_vec"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    rankedTopK(minCosine match {
      case Some(t) => rescored.filter(col("cosine") >= t)
      case None => rescored
    }, k)
  }

  private def indexDimOf(index: IvfIndex): Int = index.centroids.head._2.length

  /** Packed inverted-list blobs per search task: bounds any one blob to
    * ~blockRows·dim·4 bytes and splits skewed-list work across tasks.
    */
  val DefaultBlockRows: Int = 4096

  /** Broadcast the packed-list table iff the UNDERLYING corpus is
    * broadcast-sized by Catalyst's own estimate (the packed table's bytes
    * ≈ the corpus vector bytes; its row-count stats are meaningless —
    * O(lists) fat rows). Past the cutoff the probe join shuffles on
    * list_id: the packed side is corpus-sized but chunk-bounded per row.
    *
    * Computed `assigned` plans with no file relation beneath can carry
    * the conservative default-size sentinel instead of a real estimate;
    * falling through to the shuffle plan there is a silent perf cliff,
    * so when the sentinel is detected fall back to rowCount × vector
    * width when row stats exist, and always LOG which physical shape was
    * chosen and from which estimate.
    */
  private def maybeBroadcastBytes(packed: DataFrame, corpus: DataFrame,
                                  dim: Int): DataFrame = {
    val stats = corpus.queryExecution.optimizedPlan.stats
    val sentinel = BigInt(packed.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.defaultSizeInBytes)
    val (bytes, source) =
      if (stats.sizeInBytes < sentinel) (stats.sizeInBytes, "plan stats")
      else stats.rowCount match {
        case Some(rc) => (rc * (dim.toLong * 4L + 24L), "rowCount × vector width")
        case None => (stats.sizeInBytes, "default sentinel (no file stats)")
      }
    val cutoff = BigInt(256L << 20)
    if (bytes <= cutoff) {
      logInfo(s"ivf probe join: BROADCAST packed side (corpus ≈ $bytes B via $source)")
      broadcast(packed)
    } else {
      logWarning(s"ivf probe join: SHUFFLE on list_id (corpus ≈ $bytes B via " +
        s"$source > ${cutoff} B cutoff); if the corpus is actually small, " +
        "stage `assigned` to parquet so Catalyst sees real file stats")
      packed
    }
  }

  // ---- product quantization (PQ) ----

  /** PQ codebooks: driver-local L2 [[kMeans]] per subspace over the
    * first 1024 sample rows (the standard PQ training recipe — FAISS
    * trains codebooks on a sample too). L2 here, not cosine, because PQ
    * reconstructs dot products additively and subvector magnitudes
    * matter. `codebooks(j)(c)` is centroid c of subspace j.
    */
  private def pqCodebooks(sample: Array[Array[Float]], m: Int, ksub: Int,
                          iters: Int): Array[Array[Array[Float]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m) { j =>
      kMeans(sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)),
        ksub, iters, squaredL2)
    }
  }

  /** Codebook for one subspace as an inline literal `array<array<float>>` —
    * same inline-the-codebook trick as the IVF coarse quantizer: encoding
    * and LUT construction stay scan-local, no join, no shuffle.
    */
  private def codebookLit(cb: Array[Array[Float]]) =
    array(cb.map(c => typedLit(c)).toIndexedSeq: _*)

  /** L2-nearest code (0-based) of `subVec` in the inlined codebook. */
  private def nearestCode(subVec: org.apache.spark.sql.Column,
                          cb: Array[Array[Float]]) = {
    val scored = transform(codebookLit(cb), c =>
      aggregate(zip_with(subVec, c, (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x))
    // argmin via (dist, idx) reduce; ties → lowest code, deterministic
    aggregate(
      zip_with(scored, sequence(lit(0), lit(cb.length - 1)),
        (d, i) => struct(d.as("d"), i.as("i"))),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("i")),
      (acc, x) => when(x.getField("d") < acc.getField("d"), x).otherwise(acc),
      acc => acc.getField("i"))
  }

  /** Per-query ADC lookup table: `lut(j)(c)` = dot(query subvector j,
    * codebook centroid c) — m × ksub doubles computed scan-local per query
    * row against the inlined codebooks.
    */
  private def pqQueryLut(codebooks: Array[Array[Array[Float]]], dim: Int,
                         vecCol: String) = {
    val m = codebooks.length
    val sub = dim / m
    array((0 until m).map { j =>
      transform(codebookLit(codebooks(j)), c =>
        aggregate(zip_with(slice(col(vecCol), j * sub + 1, sub), c,
          (a, b) => a * b), lit(0.0d), (acc, x) => acc + x))
    }: _*)
  }

  /** Per-code squared norms as an inline literal (m × ksub doubles). */
  private def pqCodeNorms(codebooks: Array[Array[Array[Float]]]) =
    array(codebooks.map { cb =>
      typedLit(cb.map(c => c.map(x => x.toDouble * x).sum))
    }.toIndexedSeq: _*)

  /** Reconstructed cosine from `codes` + `lut` + `q_norm` columns: the ADC
    * score — m table lookups per corpus vector, no float-vector access.
    */
  private def adcCosine(cnormLit: org.apache.spark.sql.Column) = {
    val approxDot = aggregate(
      zip_with(col("codes"), col("lut"), (c, l) => element_at(l, c + 1)),
      lit(0.0d), (acc, x) => acc + x)
    val approxNorm2 = aggregate(
      zip_with(col("codes"), cnormLit, (c, arr) => element_at(arr, c + 1)),
      lit(0.0d), (acc, x) => acc + x)
    when(approxNorm2 > 0.0d && col("q_norm") > 0.0d,
      approxDot / (col("q_norm") * sqrt(approxNorm2))).otherwise(lit(0.0d))
  }

  private def queryNorm(vecCol: String) =
    sqrt(aggregate(col(vecCol), lit(0.0d), (acc, x) => acc + x * x))

  // ---- IVF-PQ: coarse pruning over a compressed scan ----

  /** A built IVF-PQ index: coarse centroids partition the corpus into
    * inverted lists AND every vector is PQ-encoded — `assigned` carries
    * only (id, list_id, m codes). This is the billion-vector configuration:
    * IVF cuts the scanned fraction to ~nprobe/numCentroids, PQ cuts the
    * bytes per scanned vector to m + shared codebooks; the float column is
    * touched only for the rerank shortlist. Codes here encode the raw
    * vectors against shared codebooks (FAISS-style residual encoding —
    * codebooks over vector − centroid — is the next refinement; it
    * tightens ADC at the cost of per-list LUTs).
    */
  final case class IvfPqIndex private[operators] (
      centroids: Seq[(Long, Array[Float])],
      codebooks: Array[Array[Array[Float]]],
      assigned: DataFrame, dim: Int) {
    def m: Int = codebooks.length
  }

  /** Train coarse centroids and PQ codebooks on ONE bounded sample (one
    * `limit` job: [[trainingSample]]; the coarse quantizer reads it
    * sorted by id, the codebooks its first 1024 rows in scan order), then
    * assign and encode every corpus vector in ONE scan-local pass — no
    * join, no shuffle, the same build posture as [[ivfBuild]].
    * `numCentroids = 1` is flat PQ: one list holding the whole corpus.
    */
  def ivfPqBuild(corpus: DataFrame,
                 numCentroids: Int = 16, m: Int = 4, ksub: Int = 16,
                 trainIters: Int = 3,
                 idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    val sample = trainingSample(corpus, numCentroids, idCol, vecCol)
    require(sample.nonEmpty, "ivfPqBuild: empty corpus")
    val cents = coarseCentroids(sample, numCentroids, trainIters)
    val dim = sample.head._2.length
    val codebooks = pqCodebooks(sample.take(1024).map(_._2), m, ksub, trainIters)
    val sub = dim / m
    val codes = array((0 until m).map { j =>
      nearestCode(slice(col(vecCol), j * sub + 1, sub), codebooks(j))
    }: _*)
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      nearestCentroid(col(vecCol), cents).as("list_id"), codes.as("codes"))
    IvfPqIndex(cents, codebooks, assigned, dim)
  }

  /** Search: per query, probe the `nprobe` nearest lists, ADC-score only
    * their codes, rerank the shortlist exactly. The probe join is keyed on
    * `list_id` (broadcast below `maxBroadcastQueries`, hash shuffle above
    * — same switch as [[ivfSearch]]); each corpus vector lives in exactly
    * one list, so no candidate dedup is needed.
    */
  def ivfPqSearch(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                  k: Int, nprobe: Int = 4, rerankFactor: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxBroadcastQueries: Long = DefaultMaxBroadcastQueries): DataFrame = {
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      pqQueryLut(index.codebooks, index.dim, vecCol).as("lut"),
      queryNorm(vecCol).as("q_norm"),
      explode(probeLists(col(vecCol), index.centroids, nprobe)).as("list_id"))
    val shortlistW = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
    val shortlist = index.assigned
      .join(maybeBroadcast(probes, maxBroadcastQueries), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx_cosine", adcCosine(pqCodeNorms(index.codebooks)))
      .withColumn("srk", row_number().over(shortlistW))
      .filter(col("srk") <= k * math.max(rerankFactor, 1))
    // exact rerank: the float vectors join back for the shortlist rows only
    rankedTopK(shortlist
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("corpus_vec")),
        "neighbor_id")
      .withColumn("cosine", VectorFunctions.cosine("query_vec", "corpus_vec")), k)
  }

  /** One-shot [[ivfPqBuild]] + [[ivfPqSearch]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                numCentroids: Int = 16, m: Int = 4, ksub: Int = 16,
                trainIters: Int = 3, nprobe: Int = 4, rerankFactor: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqSearch(ivfPqBuild(corpus, numCentroids, m, ksub, trainIters, idCol, vecCol),
      corpus, queries, k, nprobe, rerankFactor, idCol, vecCol)

  /** PQ ANN top-k with asymmetric distance computation (ADC) + exact
    * rerank, over the whole corpus: the one-list IVF-PQ (one centroid,
    * one probe). Per query, the dot of the query subvector with every
    * codebook centroid is precomputed scan-local into an m × ksub lookup
    * table, so scoring a corpus vector is m table lookups over its codes
    * — the scan reads m ints/vector instead of dim floats. The
    * reconstructed cosine ranks a shortlist of `rerankFactor`·k
    * candidates, which a join back to the original vectors reranks
    * exactly. The query side must be the small side (PQ's scan is
    * brute-force over codes) — use more lists for huge query batches.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, ksub: Int = 16, trainIters: Int = 3, rerankFactor: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqTopK(corpus, queries, k, numCentroids = 1, m = m, ksub = ksub,
      trainIters = trainIters, nprobe = 1, rerankFactor = rerankFactor,
      idCol = idCol, vecCol = vecCol)

  // ---- index persistence: build once, query across sessions ----
  //
  // The inverted lists are written PARTITIONED BY list_id, so a loaded
  // index's probe join reads only the probed list directories: the probe
  // side is small (broadcast), and Spark's dynamic partition pruning turns
  // the join key into a scan-time partition filter. At 100 TB this is the
  // difference between "touch nprobe/numCentroids of the bytes" holding on
  // disk, not just in the plan.

  /** The artifact every saved index shares: `centroids/` and the
    * inverted lists `assigned/` (written by [[writeLists]]).
    */
  private def writeIndex(dir: String, cents: Seq[(Long, Array[Float])],
                         assigned: DataFrame): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    cents.map { case (cid, v) => (cid, v.toSeq) }.toDF("list_id", "centroid")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    writeLists(assigned, s"$dir/assigned", "overwrite")
  }

  /** (centroids by id, `assigned`) of a saved index ([[writeIndex]]). */
  private def readIndex(spark: SparkSession,
                        dir: String): (Seq[(Long, Array[Float])], DataFrame) = {
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    (cents, readLists(spark, s"$dir/assigned"))
  }

  /** Writes a list-partitioned table (`assigned/`, `packed/`) under
    * `path`, one directory per list_id. A hash shuffle on list_id first
    * lands each list wholly in one task ⇒ exactly one file per list;
    * without it EVERY writer task emits a file per list it holds —
    * O(lists × writers) tiny files (measured: 113,576 files for a
    * 1000-list `assigned/` at the 1M-doc tier, and the first rerank
    * measurement paid ~200 s just opening them). Content is
    * write-order-invariant (round-trip + append specs pin it).
    */
  private def writeLists(df: DataFrame, path: String, mode: String): Unit =
    df.repartition(col("list_id")).write.mode(mode).partitionBy("list_id").parquet(path)

  /** A [[writeLists]] table read back: partition discovery types
    * `list_id` as int, so it is cast back to long. */
  private def readLists(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).withColumn("list_id", col("list_id").cast("long"))

  /** Marker file stamping a PASSED corpus-side surrogate audit into a
    * saved generic-id index: [[ivfLoad]] pre-seeds the in-memory memo
    * from it, so loaded artifacts never re-pay the full-corpus audit
    * scan. [[ivfAppendToSaved]] DELETES it (appended ids are unaudited),
    * re-arming the audit on the next generic search of the loaded index.
    */
  private val GenericAuditMarker = "_generic_ids_audited"

  private def fsFor(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def ivfSave(index: IvfIndex, dir: String): Unit = {
    writeIndex(dir, index.centroids, index.assigned)
    // Generic-id builds: run the corpus surrogate audit HERE if it has
    // not already passed (save time is the natural once-per-lifetime
    // point — the corpus was just rewritten anyway) and stamp the result,
    // so every future load+search skips the full-corpus agg.
    if (index.assigned.columns.contains("orig_id")) {
      if (!index.genericAuditPassed.get()) {
        val n = auditSurrogates(index.assigned, "neighbor_id", "orig_id", "ivfSave", "corpus")
        index.genericAuditPassed.set(true)
        logInfo(s"ivfSave: corpus surrogate audit PASSED ($n distinct ids); stamping artifact")
      }
      val (fs, marker) = fsFor(index.assigned.sparkSession, s"$dir/$GenericAuditMarker")
      fs.create(marker, true).close()
    }
  }

  /** Pack each inverted list into ≤`blockRows` chunk blobs — the corpus
    * side of the probe join, exposed as a BUILD step. [[ivfSearch]] runs
    * this per search when the index has no packed artifact; persisting
    * the result once ([[ivfSavePacked]]) and scanning it directly removes
    * the per-search window + collect_list pack of the corpus entirely —
    * at the 1M-doc tier that pack was re-streaming corpus-scale bytes
    * through an aggregation exchange on every query batch.
    */
  private[graft] def packLists(assigned: DataFrame, blockRows: Int,
                               nLists: Int, rowBytes: Long): DataFrame = {
    // r18 (guide §2.4): one groupBy(list_id) + the in-kernel
    // sort-and-slice pack ([[graft.functions.PackVecBlocks]]) replaces
    // the row_number window + per-(list, chunk) groupBy — the window
    // form paid a full sort pass of the corpus between the list
    // exchange and the pack aggregation. Blob bytes and (list_id,
    // chunk) keys are IDENTICAL by construction (ids ascend within a
    // list either way; chunk i = rows [i·blockRows, (i+1)·blockRows) of
    // that order) — IvfBlockTopKSpec pins the bit-equality.
    // r19 (ADVICE): the single-group form buffers an ENTIRE list in one
    // collect_list aggregation group, which cannot spill — bounded only
    // by corpus/nLists × skew. Past a per-list byte estimate (avg list
    // bytes × an 8× skew margin vs `spark.graft.ann.packGroupMaxBytes`)
    // fall back to the window + per-(list, chunk) form, whose groups are
    // blockRows-bounded and whose sort spills; blobs are bit-identical
    // either way (same order, same slicing — spec-pinned), the fallback
    // just re-pays the corpus sort pass where memory demands it.
    val spark = assigned.sparkSession
    val avgListBytes = estRowsHonest(assigned, rowBytes)._1 * rowBytes /
      BigInt(nLists.max(1))
    val budget = graft.GraftConf.long(spark,
      "spark.graft.ann.packGroupMaxBytes", 256L << 20)
    if (avgListBytes * 8 > BigInt(budget)) {
      logInfo(s"packLists: window + per-chunk form (est avg list " +
        s"$avgListBytes B x 8 skew margin > $budget B budget; " +
        "single-group buffer cannot spill)")
      val byList = Window.partitionBy(col("list_id")).orderBy(col("neighbor_id"))
      assigned
        .withColumn("chunk",
          ((row_number().over(byList) - lit(1)) / lit(blockRows)).cast("int"))
        .groupBy(col("list_id"), col("chunk"))
        .agg(expr("pack_vec_block(collect_list(struct(neighbor_id, corpus_vec)))")
          .as("block"))
        .select(col("list_id"), col("chunk"), col("block"))
    } else
      assigned
        .groupBy(col("list_id"))
        .agg(expr(s"pack_vec_blocks(collect_list(struct(neighbor_id, corpus_vec)), $blockRows)")
          .as("__blocks"))
        .select(col("list_id"), posexplode(col("__blocks")).as(Seq("chunk", "block")))
  }

  /** [[ivfSave]] plus the packed chunk artifact: searches against the
    * loaded index scan the persisted blobs directly instead of re-packing
    * the corpus per query batch. Results are identical either way — the
    * per-chunk → global top-k cascade is invariant under ANY chunking of
    * a list (every global winner wins its own chunk), which is what makes
    * a persisted layout legal. Layout note: `blockRows` here fixes the
    * artifact's chunk geometry; the `blockRows` argument of a later
    * [[ivfSearch]] call is ignored on the pre-packed path.
    */
  def ivfSavePacked(index: IvfIndex, dir: String,
                    blockRows: Int = DefaultBlockRows): Unit = {
    ivfSave(index, dir)
    writeLists(packLists(index.assigned, blockRows, index.centroids.length,
      indexDimOf(index).toLong * 4L + 24L), s"$dir/packed", "overwrite")
  }

  def ivfLoad(spark: SparkSession, dir: String): IvfIndex = {
    val (cents, assigned) = readIndex(spark, dir)
    val (fs, packedPath) = fsFor(spark, s"$dir/packed")
    val packed =
      if (fs.exists(packedPath)) Some(readLists(spark, s"$dir/packed")) else None
    val idx = IvfIndex(cents, assigned, packed)
    // pre-seed the generic-id audit memo from the artifact stamp: a
    // loaded index whose save-time audit passed never re-pays the
    // full-corpus scan (ivfAppendToSaved deletes the stamp, re-arming it)
    val (mfs, marker) = fsFor(spark, s"$dir/$GenericAuditMarker")
    if (idx.assigned.columns.contains("orig_id") && mfs.exists(marker)) {
      idx.genericAuditPassed.set(true)
      logInfo(s"ivfLoad: corpus surrogate audit pre-seeded from artifact stamp ($dir)")
    }
    idx
  }

  /** Assign-only append of a new vector batch to an existing index — the
    * daily-crawl maintenance path: no retraining, one scan-local
    * nearest-centroid pass over the BATCH only (the standing corpus is
    * untouched — no join, no shuffle, no rescan). The trade is drift:
    * appended vectors are quantized against yesterday's centroids, so
    * recall degrades as the batch distribution diverges from the training
    * distribution (gated vs full retrain in OperatorsSpec); watch
    * [[ivfListStats]] and retrain when a list runs hot.
    */
  def ivfAppend(index: IvfIndex, batch: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val appended = assignCols(batch, index.centroids, idCol, vecCol)
    val standingGeneric = index.assigned.columns.contains("orig_id")
    require(standingGeneric == appended.columns.contains("orig_id"),
      "ivfAppend: batch id type (long vs generic-surrogate) must match the " +
        "standing index — a mixed corpus cannot decode consistently")
    val standingCols = (Seq("neighbor_id", "corpus_vec", "list_id") ++
      (if (standingGeneric) Seq("orig_id") else Nil)).map(col)
    // the in-memory union invalidates any packed artifact (it reflects
    // the pre-append corpus); drop it so searches re-pack correctly
    IvfIndex(index.centroids,
      index.assigned.select(standingCols: _*).unionByName(appended))
  }

  /** [[ivfAppend]] against a persisted index: assign the batch against the
    * saved centroids and append its rows into the partitioned `assigned`
    * layout — existing list files are never rewritten, so the write cost
    * is the batch, not the corpus.
    */
  def ivfAppendToSaved(spark: SparkSession, dir: String, batch: DataFrame,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (cents, saved) = readIndex(spark, dir)
    val assignedBatch = assignCols(batch, cents, idCol, vecCol)
    val savedGeneric = saved.columns.contains("orig_id")
    require(savedGeneric == assignedBatch.columns.contains("orig_id"),
      "ivfAppendToSaved: batch id type (long vs generic-surrogate) must match " +
        "the saved index — a mixed corpus cannot decode consistently")
    writeLists(assignedBatch, s"$dir/assigned", "append")
    // appended ids are UNAUDITED — drop the save-time audit stamp so the
    // next generic search of the loaded index re-runs the collision audit
    // over the widened corpus (a fresh id could collide with a standing one)
    if (savedGeneric) {
      val (mfs, marker) = fsFor(spark, s"$dir/$GenericAuditMarker")
      if (mfs.exists(marker)) {
        mfs.delete(marker, false)
        logInfo("ivfAppendToSaved: generic-id audit stamp cleared (appended " +
          "ids are unaudited; next search re-runs the collision audit)")
      }
    }
    // keep a packed artifact coherent: the batch packs into NEW blobs per
    // list (existing blobs are never rewritten — write cost stays batch-
    // sized). Chunk ids can repeat across appends; chunk is layout
    // metadata, not identity, and search results are chunking-invariant.
    // Appended blobs may run under-full until a re-save compacts them —
    // the probe reads proportionally more (small) rows, never wrong rows.
    val (fs, packedPath) = fsFor(spark, s"$dir/packed")
    if (fs.exists(packedPath))
      writeLists(packLists(assignedBatch, DefaultBlockRows, cents.length,
        cents.head._2.length.toLong * 4L + 24L), s"$dir/packed", "append")
  }

  /** Inverted-list occupancy after builds/appends — |lists| rows (bounded
    * by k, so the unpartitioned window is legal). `skewed` flags lists
    * holding more than `skewFactor` × the mean: the retrain signal after
    * repeated assign-only appends, and the probe-latency outlier either
    * way (a probed list's scan cost is its size).
    */
  def ivfListStats(index: IvfIndex, skewFactor: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    index.assigned
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("mean_n", avg(col("n_vectors")).over(Window.partitionBy()))
      .withColumn("skewed", col("n_vectors") > col("mean_n") * skewFactor)
      .select(col("list_id"), col("n_vectors"), round(col("mean_n"), 2).as("mean_n"),
        col("skewed"))
      .orderBy(col("list_id"))
  }

  /** IVF-flat ANN: partition the corpus into inverted lists by nearest
    * coarse centroid, then search only the `nprobe` lists whose centroids
    * are closest to the query. Centroids are k-means-trained
    * ([[trainCentroidsLocal]], `trainIters` Lloyd's iterations; 0 = the
    * deterministic id-sample init only). One-shot form of
    * [[ivfBuild]] + [[ivfSearch]].
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numCentroids: Int = 16, nprobe: Int = 4, trainIters: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSearch(ivfBuild(corpus, numCentroids, trainIters, idCol, vecCol),
      queries, k, nprobe, idCol, vecCol)

  /** SemDeDup-style semantic dedup: cluster the corpus (k-means over the
    * codebook machinery above), then drop every vector that has a
    * SMALLER-ID near-dup (exact cosine ≥ threshold) within its cluster.
    * Survivors are the deterministic min-id representatives; the rule is
    * "any smaller-id near-dup kills you", evaluated independently per
    * vector — no transitive chaining (that is [[graft.operators.Dedup
    * .connectedComponents]]'s job when cluster semantics are wanted).
    *
    * Exactness: candidate generation is approximate (pairs straddling a
    * cluster boundary are missed — recall gated in spec), but every DROP
    * is exact-verified cosine, so precision is 1.0 structurally:
    * identical vectors always land in the same cluster (same argmax), so
    * true duplicates are always caught.
    *
    * Scale: the only all-pairs work is within-cluster (Σ_c n_c² — size k
    * to bound it, ~n/avg_cluster_size); assignment is one scan-local pass
    * against the inlined codebook; the self-join shuffles on cluster id
    * with AQE handling uneven clusters. This is the standard embedding
    * dedup at 100 TB: brute force is n², LSH ignores cluster structure,
    * SemDeDup pays n²/k.
    */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    numCentroids: Int = 16, trainIters: Int = 3,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = trainCentroidsLocal(corpus, numCentroids, trainIters, idCol, vecCol)
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      nearestCentroid(col(vecCol), cents).as("cid"))
    val losers = assigned.as("a")
      .join(assigned.as("b"), col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .filter(call_function("cosine_sim", col("a.v"), col("b.v")) >= threshold)
      .select(col("b.id").as("loser")).distinct()
    corpus.join(losers, corpus(idCol) === losers("loser"), "left_anti")
  }
}
