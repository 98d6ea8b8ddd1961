package graft.operators

import graft.functions.NativeTextExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Deduplication operators over a document corpus.
  *
  * Scale design: every variant is bucket-first. The only shuffle key is
  * either the content hash (exact) or an LSH band bucket (near-dup), so
  * candidate comparison is confined to within-bucket pairs — never an
  * all-pairs cross join. Per-document features (shingle hashes, signatures)
  * are computed exactly once at scan time; the band table carries only
  * (id, band, hash) fixed-width rows; candidate pairs are deduplicated
  * *before* the verify step joins features back in. At 100 TB the band
  * table stays proportional to the corpus and AQE skew splitting handles
  * hot buckets (boilerplate-heavy shingles).
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Stage a DataFrame to parquet and read it back. Used for the (small)
    * pair RESULT of the LSH operators so their (large) signature cache can
    * be released before returning: the signature table is referenced by the
    * band table and both verify joins (3–4 recomputations without reuse),
    * so it is `persist()`ed during the build — but a persist with no
    * unpersist point would pin executor storage for the life of the
    * session. Materializing the result through a staged write gives a safe
    * release point: no cached RDDs outlive the operator (asserted in
    * OperatorsSpec). Set `spark.graft.stagingDir` to a cluster-visible path
    * (defaults to java.io.tmpdir, correct for local mode); staged dirs are
    * removed on JVM exit. At 100 TB the same write is simply the operator's
    * natural output materialization — near-dup pair sets are consumed many
    * times downstream. It is also how `Queries` stages a frame with
    * several consumers: Spark does no CSE across DataFrame references, so
    * each downstream reference would re-execute the whole subtree. Every
    * call writes its own directory, so two runs of one query never share
    * one. The write is the only job: the read-back takes its schema from a
    * footer read on the driver (`Tables.read`).
    */
  private[graft] def stage(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    val base = spark.conf.getOption("spark.graft.stagingDir").getOrElse {
      if (spark.sparkContext.isLocal) System.getProperty("java.io.tmpdir")
      else {
        // On a multi-node cluster each executor's java.io.tmpdir is its OWN
        // local disk — parquet parts would scatter across machines and the
        // driver-side read-back would silently see partial data. Fall back
        // to a tmp dir on the Hadoop default FS (cluster-visible) instead.
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        val d = new org.apache.hadoop.fs.Path(fs.getUri.toString + "/tmp").toString
        logWarning("spark.graft.stagingDir unset on a non-local master; " +
          s"staging to the cluster-visible default FS at $d — set the conf explicitly")
        d
      }
    }
    val dir = s"$base/graft-stage-$tag-${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
    graft.Tables.read(spark, dir)
  }

  /** Persist `sig`, materialize `result(sig)` through a staged write, then
    * unpersist — the cache exists exactly for the duration of the build.
    * The cache is populated eagerly (cheap one-pass count) BEFORE the
    * result job runs: the result plan references the signature table three
    * times (band table + both verify joins), and inside a single job those
    * subtrees race the cache — each would recompute the full
    * shingle+signature pass on a cold cache.
    */
  private def withCachedSig(sig: DataFrame, tag: String)(result: (DataFrame, Long) => DataFrame): DataFrame = {
    val cached = sig.persist()
    try {
      val n = cached.count()
      stage(result(cached, n), tag)
    } finally cached.unpersist(blocking = false)
  }

  /** The 128-bit content key of `c`: two independently seeded 64-bit
    * xxhash64 lanes. Keying on it keeps a shuffle or a state store
    * fixed-width (16 bytes per document, never the document) while staying
    * collision-safe at tens of billions of documents, where a single
    * 64-bit key would start birthday-colliding (~2³² docs). Every exact
    * content match derives it here: [[exactCanonical]], both sides of
    * [[suppressExact]] and the streaming
    * [[graft.streaming.EventStreams.dedupedByContent]].
    */
  private[graft] def contentKey(c: Column): (Column, Column) =
    (xxhash64(c), xxhash64(lit("g2#"), c))

  /** Exact dedup, canonical-representative form: keep min(id) per identical
    * `textCol`, grouped by the 128-bit [[contentKey]] — at 100 TB the
    * shuffle moves 16-byte hashes + ids, not documents.
    */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (h1, h2) = contentKey(col(textCol))
    docs
      .groupBy(h1.as("__h1"), h2.as("__h2"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_cnt"))
      .drop("__h1", "__h2")
  }

  /** Exact suppression against a reference corpus: drop rows of `df`
    * whose content appears verbatim in `reference` — the exact sibling of
    * [[suppressNearDups]] (same anti-join shape, 128-bit content keys
    * instead of simhash chunks), and the batch mirror of the streaming
    * [[graft.streaming.EventStreams.dedupedByContent]]. Stateless and
    * stream-static-safe; the shuffle carries 16-byte hashes, never
    * documents.
    */
  def suppressExact(df: DataFrame, reference: DataFrame,
                    textCol: String, refTextCol: String): DataFrame = {
    val (r1, r2) = contentKey(col(refTextCol))
    val (k1, k2) = contentKey(col(textCol))
    df.join(reference.select(r1.as("__r1"), r2.as("__r2")).distinct(),
      k1 === col("__r1") && k2 === col("__r2"), "left_anti")
  }

  /** Bloom-filter suppression against a reference corpus — the
    * shuffle-free scale path of [[suppressExact]]. The reference side
    * reduces to a Bloom filter over 64-bit content hashes (distributed
    * build via `stat.bloomFilter`'s treeAggregate; bit-array OR-merge is
    * order-independent, so the filter — and therefore the result — is
    * deterministic for a given input). The corpus side is then a
    * SCAN-LOCAL codegen'd filter against the plan-shipped filter: the 100 TB side never
    * shuffles at all, which is the entire point — `suppressExact`'s
    * anti-join shuffles both sides on the content key.
    *
    * Error direction: a Bloom filter has NO false negatives, so every
    * reference document is always suppressed (the direction that matters
    * for contamination); false positives OVER-suppress at rate ≤ `fpp`
    * (asserted ≤ 3×fpp on a planted corpus in OperatorsSpec). Sizing: the
    * filter needs ~1.44·log₂(1/fpp) bits per reference doc — 10⁹ reference
    * docs at fpp 1e-3 is ~1.7 GB, broadcastable; at larger reference
    * corpora shard the filter by hash prefix and probe the matching shard.
    * The driver holds the merged filter once (same budget as a broadcast
    * hash join build side).
    */
  def suppressBloom(df: DataFrame, reference: DataFrame,
                    textCol: String, refTextCol: String,
                    expectedRefDocs: Long = 1000000L, fpp: Double = 0.001): DataFrame = {
    val filter = reference.select(xxhash64(col(refTextCol)).as("__k"))
      .stat.bloomFilter("__k", expectedRefDocs, fpp)
    val out = new java.io.ByteArrayOutputStream()
    filter.writeTo(out)
    // probe via the codegen'd native expression, never a Scala UDF: the
    // probe sits in a scan-side FILTER over the full corpus, where an
    // interpreted UDF pays virtual eval + Long boxing PER ROW. The
    // serialized filter rides the plan as a BINARY LITERAL (not a hex
    // SQL string — a GB-scale filter must not be inlined into plan
    // text); `doGenCode`'s `addReferenceObj` ships the deserialized
    // bloom with the generated class, one object per executor, no
    // broadcast bookkeeping and no driver round-trips
    df.filter(!call_function("bloom_might_contain",
      xxhash64(col(textCol)), lit(out.toByteArray)))
  }


  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle-hash set → minhash signature (numHashes lanes, each lane a
    * seeded re-hash min) → band hashes → self-join per (band, bandHash)
    * bucket → distinct id pairs → verify with true shingle-set Jaccard.
    * With r rows/band and b bands, a pair with Jaccard s is caught with
    * probability 1-(1-s^r)^b; defaults (16 hashes, 2 bands of 8) target
    * s ≳ 0.8 — high-precision banding matters on corpora with shared
    * vocabulary, where loose bands degenerate toward all-pairs.
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 16, bands: Int = 2,
                            shingleK: Int = 5,
                            minJaccard: Double = -1.0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into equal bands")
    val rowsPerBand = numHashes / bands

    // (id, sh: array<long>, sig: array<long>) — one pass over the text via
    // the native expressions (single tight loop per row vs thousands of
    // interpreted HOF lambda evaluations — see NativeTextExpressions).
    // Cached for the build (band table + both verify joins), released on
    // return (see [[withCachedSig]]).
    // Null-text docs (null shingle set) are excluded HERE, before banding,
    // so every downstream shape sees the same corpus. Excluding them later
    // would be ROUTE-VARIANT: the verify joins key on id — a null-sh doc
    // still has an id row in the shingle table, so the broadcast/join-form
    // verifies would emit its pairs with a null jaccard while the grid
    // co-group (which keys its hash maps on the arrays themselves) would
    // drop them. A doc with no text has no shingle evidence to dedup on;
    // it is not a candidate under any regime (spec-pinned in
    // OperatorsSpec "null-text docs").
    // The filter is on the TEXT column, not on `sh`: `sh` is null iff the
    // text is null (shingle_hashes is a null-safe UnaryExpression), and a
    // filter on `sh` would be pushed below the projection by substituting
    // the alias — re-evaluating the expensive shingle pass once for the
    // predicate and once for the projection (measured 1.6× on the q36
    // scan leg). IsNotNull(text) pushes to the parquet scan for free.
    val rawSig = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), lower(col(textCol)).as("__lt"))
      .select(col("id"), expr(s"shingle_hashes(__lt, $shingleK)").as("sh"))
      .withColumn("sig", expr(s"minhash_sig(sh, $numHashes)"))

    withCachedSig(rawSig, "minhash-pairs") { (sig, nDocs) =>
      // fixed-width band table: (id, band, band_hash) only.
      val banded = sig.select(
        col("id"),
        posexplode(array((0 until bands).map { b =>
          xxhash64((0 until rowsPerBand).map(r => col("sig").getItem(b * rowsPerBand + r)): _*)
        }: _*)).as(Seq("band", "band_hash")))

      // Dedup stays BEFORE the verify in both regimes: the merge-Jaccard
      // over ~shingle-count arrays is the expensive step, so duplicated
      // verifies cost more than the (output-sized) dedup shuffle.
      // NOTE (r17, measured negative): applying the q80 recipe here —
      // repartitioning raw collisions on the pair key at a bytes-budgeted
      // width before the dedup — was tried and REVERTED: at the q36 sf20
      // shape (631M raw collisions) the widened raw-pair exchange cost
      // MORE than the dedup map churn it removed (455.4 → 567.7 s,
      // min-of-2 solo JVMs). The map-side duplicate collapse on the
      // id-partitioned stream is worth more than partial-agg-free
      // streaming at this shape; q36's decade superlinearity is the
      // verify-broadcast → grid REGIME boundary plus the grid's
      // documented 2P·bytes replication, not this dedup (PLANS.md r17).
      val spark = docs.sparkSession
      val candidates = CandidatePairs.bandPairs(banded, Seq("band", "band_hash"),
        "minhashCandidatePairs band", nDocs * bands)

      // verify: fetch each side's shingle set once; merge-join Jaccard over
      // the sorted hash arrays (O(|a|+|b|) per pair). While the shingle
      // table fits an executor, broadcast it so candidate rows never
      // shuffle with fat arrays attached. The gate is BYTE-based, not
      // row-count-based: the payload is one long per shingle, so a
      // long-document corpus can push 100k rows to GBs — measure the
      // actual array volume (one cheap agg over the already-cached sig).
      // PAST the gate the verify is chosen by a measured cost model
      // between the two shuffle shapes — see [[shuffleVerify]].
      val sets = sig.select(col("id"), col("sh"))
      val setBytes = sig.agg(coalesce(sum(size(col("sh"))), lit(0L)))
        .head.getLong(0) * 8L + nDocs * 32L
      val budget = graft.GraftConf.broadcastBytes(spark)
      val verified =
        if (graft.GraftConf.gate(spark, "minhashCandidatePairs verify",
              ("broadcast", "shuffle"), "spark.graft.broadcastBytes", budget, "aggregate")(setBytes))
          jaccardOf(CandidatePairs.attachSides(candidates, sets, Seq("sh"), Some("broadcast")))
        else shuffleVerify(banded, candidates, sets, setBytes, nDocs)
      if (minJaccard < 0) verified
      else verified.filter(col("jaccard") >= lit(minJaccard))
    }
  }

  /** Shuffle-regime verify (shingle table past the broadcast byte gate),
    * chosen between its two shapes by ESTIMATED EXCHANGED ARRAY BYTES:
    *
    *  - JOIN-form (shuffle-hash-hinted, sort-free): each doc's sorted
    *    shingle array rides the exchange once PER CANDIDATE referencing
    *    it — total ≈ candidates × avg array bytes = degree × corpusBytes,
    *    where degree = candidates / docs. Screening candidates first
    *    cannot shrink that: the r14 measurement of an EXACT fixed-width
    *    prefix screen rejected only 10.9% (106.3 M of 119.4 M candidates
    *    survived a Jaccard-upper-bound test at t=0.8 — high-precision
    *    bands already emit near-threshold pairs, and no sound bound can
    *    separate them from fixed-width evidence; 283.2 s, WORSE than the
    *    unscreened 230.8 s).
    *  - GRID co-group ([[gridJaccardVerify]]): each array moves 2P times
    *    TOTAL (P ∝ corpusBytes / cell budget) — independent of the
    *    candidate distribution.
    *
    * So the grid wins iff avg pair-degree > 2P — at the 250k-doc bench
    * shape degree ≈ 477 vs 2P = 12 (grid: 110.4 s vs 230.8 s join-form),
    * but the comparison FLIPS back at mega-corpus scale: with banding
    * keeping candidates ~linear in docs, degree stays flat while P grows
    * linearly with corpus bytes, so past ~P ≈ degree/2 (≈12 M docs at the
    * bench shape's 477) replicating fragments costs more than attaching
    * arrays per candidate. Degree is estimated as the exact Σ C(bucket,2)
    * over the band table (one linear job over fixed-width rows — the same
    * signal as the SRP route gate); it upper-bounds the deduped candidate
    * count (≤ bands× duplication), biasing toward the grid near the
    * crossover — the distribution-independent, per-task-bounded side.
    * The decision is logged; `spark.graft.gridVerify.degreeFactor`
    * scales the crossover (0 forces the grid, huge forces the join-form).
    */
  private[operators] def shuffleVerify(banded: DataFrame, candidates: DataFrame,
                                       sets: DataFrame, setBytes: Long,
                                       nDocs: Long): DataFrame = {
    val spark = candidates.sparkSession
    val estPairs = CandidatePairs.rawCollisions(
      banded, Seq("band", "band_hash"), "minhash shuffleVerify")
    val degree = CandidatePairs.pairDegree(estPairs, nDocs)
    val pUncapped = gridFragmentsUncapped(spark, setBytes)
    val maxP = graft.GraftConf.gridVerifyMaxFragments(spark)
    val p = gridFragments(spark, setBytes)
    val crossover = 2.0 * pUncapped * graft.GraftConf.gridVerifyDegreeFactor(spark)
    if (pUncapped > maxP) {
      // a capped grid would blow the per-cell byte budget (per-task memory
      // is 2·corpusBytes/P), and an uncapped one would request P² cells —
      // at this corpus size the join-form is the only bounded shape
      logInfo(s"minhash verify: JOIN-form regime (grid would need $pUncapped " +
        s"fragments > cap $maxP — per-cell budget unsatisfiable; est raw " +
        s"pairs $estPairs over $nDocs docs)")
      joinFormVerify(candidates, sets)
    } else if (degree >= crossover) {
      logInfo(f"minhash verify: GRID regime (est pair degree $degree%.1f ≥ " +
        f"crossover $crossover%.1f with P=$p; arrays move 2P× total, " +
        s"candidates thin; est raw pairs $estPairs over $nDocs docs)")
      gridJaccardVerify(candidates, sets, setBytes)
    } else {
      logInfo(f"minhash verify: JOIN-form regime (est pair degree $degree%.1f < " +
        f"crossover $crossover%.1f with P=$p; attaching arrays per candidate " +
        s"moves fewer bytes than 2P-replicating fragments; est raw pairs " +
        s"$estPairs over $nDocs docs)")
      joinFormVerify(candidates, sets)
    }
  }

  /** The sort-free join-form shuffle verify: the shingle sets attach by
    * SHUFFLE_HASH joins (see [[CandidatePairs.attachSides]]).
    */
  private def joinFormVerify(candidates: DataFrame, sets: DataFrame): DataFrame =
    jaccardOf(CandidatePairs.attachSides(candidates, sets, Seq("sh"), Some("shuffle_hash")))

  /** (id_a, id_b, jaccard) over pairs with both shingle sets attached. */
  private def jaccardOf(attached: DataFrame): DataFrame =
    attached.select(col("id_a"), col("id_b"),
      expr("jaccard_sorted(sh_a, sh_b)").as("jaccard"))

  /** Fragment count of the grid verify: smallest P whose per-cell array
    * volume (2·corpusBytes/P) fits the cell budget, floored so P² covers
    * the cores. Shared by [[gridJaccardVerify]] and the [[shuffleVerify]]
    * cost model (which compares 2P against the estimated pair-degree).
    */
  private[operators] def gridFragmentsUncapped(spark: SparkSession, setBytes: Long): Long = {
    val cellBytes = graft.GraftConf.gridVerifyCellBytes(spark)
    val cores = spark.sparkContext.defaultParallelism
    math.max(
      math.max(2L, (2L * setBytes + cellBytes - 1) / cellBytes),
      math.ceil(math.sqrt(cores.toDouble)).toLong)
  }

  /** Capped fragment count: P grows linearly with corpus array bytes, so
    * an uncapped grid at mega-corpus scale would request P² cells — a
    * ~1 TB array corpus at the 128 MiB default cell is P≈16k ⇒ 270 M
    * shuffle partitions, and `p * p` as Int overflows NEGATIVE past
    * P = 46341. [[shuffleVerify]] never routes to the grid when the
    * uncapped P exceeds `spark.graft.gridVerify.maxFragments` (it falls
    * back to the join-form verify with a log); the cap here is the
    * belt-and-braces for direct [[gridJaccardVerify]] callers.
    */
  private[operators] def gridFragments(spark: SparkSession, setBytes: Long): Int =
    math.min(gridFragmentsUncapped(spark, setBytes),
      graft.GraftConf.gridVerifyMaxFragments(spark).toLong).toInt

  /** Verify candidate pairs against their full sorted shingle-hash sets
    * WITHOUT attaching an array per pair — the fragment-and-replicate
    * (grid) co-group, the above-broadcast-gate regime of the minhash
    * verify.
    *
    * The doc space is hashed into P fragments; a pair (a, b) belongs to
    * grid cell (p(a), p(b)). One pinned exchange co-locates, per cell:
    * the candidates of that cell (THIN — two ids), every fragment-p(a)
    * array (replicated across the cell row), and every fragment-p(b)
    * array (replicated across the cell column). Exchange bytes are
    * therefore `2P · corpusArrayBytes + 16 B · candidates` — each array
    * moves 2P times TOTAL instead of once per candidate, so the cost is
    * independent of the candidate distribution (at the 250k-doc shape:
    * ~15 GB vs ~380 GB for the per-pair attach; [[shuffleVerify]]'s cost
    * model picks this shape exactly when pair-degree ≥ 2P, here ~477 vs
    * 16). P is the smallest fragment
    * count whose per-cell array volume (2·corpusBytes/P) fits
    * `spark.graft.gridVerify.cellBytes`, floored so P² covers the
    * cores. Within a task, rows arrive arrays-first (a bounded
    * per-partition sort on the `kind` tag — never the global
    * candidate-stream sort the r13 audit killed), arrays load into hash
    * maps, and candidates stream through the one merge-Jaccard kernel
    * the codegen'd `jaccard_sorted` calls (spec-pinned bit-identical;
    * null shingle sets cannot reach any verify shape —
    * [[minhashCandidatePairs]] filters null-text docs before banding,
    * which is what keeps the three routes result-identical). At cluster
    * scale the same plan holds: the one
    * exchange is hash-partitioned on (pa, pb) at width P², and
    * per-task memory is bounded by the cell budget regardless of
    * corpus size.
    */
  private[operators] def gridJaccardVerify(candidates: DataFrame,
                                           sets: DataFrame,
                                           setBytes: Long): DataFrame = {
    val spark = candidates.sparkSession
    val cellBytes = graft.GraftConf.gridVerifyCellBytes(spark)
    val p = gridFragments(spark, setBytes)
    logInfo(s"gridJaccardVerify: P=$p fragments (${p.toLong * p} cells; " +
      s"~${2L * setBytes / p} array B/cell vs budget $cellBytes; " +
      s"array bytes exchanged ~${2L * p * setBytes})")
    val pbs = lit((0 until p).toArray)
    def frag(c: Column) = pmod(xxhash64(c), lit(p.toLong)).cast("int")
    // (pa, pb, kind, id_a, id_b, sh): kind 1 = row-fragment arrays,
    // 2 = column-fragment arrays, 3 = candidates. Unused ids carry null —
    // kind discriminates, so the sentinel is never read ambiguously. Ids
    // stay their ORIGINAL type end-to-end (the map keys below are the
    // Row's external values, whose equals/hashCode are exact for every
    // Spark atomic type): the grid must accept any id type the
    // broadcast/join-form verifies accept, not silently require longs.
    val idType = sets.schema("id").dataType
    val aSide = sets.select(frag(col("id")).as("pa"), explode(pbs).as("pb"),
      lit(1).as("kind"), col("id").as("id_a"), lit(null).cast(idType).as("id_b"), col("sh"))
    val bSide = sets.select(explode(pbs).as("pa"), frag(col("id")).as("pb"),
      lit(2).as("kind"), lit(null).cast(idType).as("id_a"), col("id").as("id_b"), col("sh"))
    val cand = candidates.select(frag(col("id_a")).as("pa"), frag(col("id_b")).as("pb"),
      lit(3).as("kind"), col("id_a"), col("id_b"),
      lit(null).cast("array<bigint>").as("sh"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idType),
      org.apache.spark.sql.types.StructField("id_b", idType),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    aSide.unionByName(bSide).unionByName(cand)
      .repartition(p * p, col("pa"), col("pb"))
      .sortWithinPartitions(col("kind"))
      .observe(s"graft.grid_verify.${GridObs.incrementAndGet()}",
        count(when(col("kind") === 3, 1L)).as("candidates"),
        count(when(col("kind") =!= 3, 1L)).as("replicated_array_rows"))
      .mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
        // hash collisions can co-locate several cells in one partition;
        // key maps by (cell, id) so cells never mix
        val aMap = new java.util.HashMap[(Long, Any), ArrayData]()
        val bMap = new java.util.HashMap[(Long, Any), ArrayData]()
        def arr(r: org.apache.spark.sql.Row): ArrayData =
          if (r.isNullAt(5)) null else cellSet(r.getSeq[Long](5).toArray)
        it.flatMap { r =>
          val cell = r.getInt(0).toLong * p + r.getInt(1)
          r.getInt(2) match {
            case 1 =>
              val sh = arr(r); if (sh != null) aMap.put((cell, r.get(3)), sh)
              Iterator.empty
            case 2 =>
              val sh = arr(r); if (sh != null) bMap.put((cell, r.get(4)), sh)
              Iterator.empty
            case _ =>
              val a = aMap.get((cell, r.get(3))); val b = bMap.get((cell, r.get(4)))
              if (a == null || b == null) Iterator.empty
              else Iterator.single(org.apache.spark.sql.Row(
                r.get(3), r.get(4), NativeTextExpressions.jaccardSorted(a, b)))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** A shingle set as the grid verify holds it: wrapped once, when it
    * enters a cell map, for the `jaccard_sorted` kernel
    * ([[NativeTextExpressions.jaccardSorted]]) every candidate pair of
    * the cell then runs — the join-form verify's kernel, so the routes
    * give the same doubles.
    */
  private[operators] def cellSet(sh: Array[Long]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(sh)

  /** Monotone suffix for grid-observation names: Dataset.observe names
    * must be unique within one query, and two grid verifies can land in
    * the same composed query.
    */
  private val GridObs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The SimHash pigeonhole: a 64-bit signature is [[SimhashChunkCount]]
    * 16-bit chunks, so two signatures within Hamming distance 3 differ in
    * at most 3 chunks and share at least one identical chunk. Bucketing on
    * (chunk, chunk value) therefore finds every pair with maxHamming ≤ 3;
    * a larger bound still verifies correctly but may miss pairs whose
    * differing bits spread across all 4 chunks.
    */
  private val SimhashChunkCount = 4

  /** The `c`-th 16-bit chunk of the SimHash `sh` (see [[SimhashChunkCount]]). */
  private[graft] def simhashChunk(sh: Column, c: Int): Column =
    shiftrightunsigned(sh, c * 16).bitwiseAND(lit(0xFFFFL))

  /** The posexploded `(chunk, chunk_val)` rows of all chunks of `sh`. */
  private[graft] def simhashChunks(sh: Column): Column =
    posexplode(array((0 until SimhashChunkCount).map(simhashChunk(sh, _)): _*))
      .as(Seq("chunk", "chunk_val"))

  /** SimHash near-dup pairs: 64-bit signature, banded into its pigeonhole
    * chunks ([[SimhashChunkCount]]), bucket self-join per chunk on fixed-width
    * keys, distinct pairs, then verify with true hamming distance. Same
    * bucket-not-all-pairs scaling argument as MinHash.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // cached for the build, released on return — same reuse reason as the
    // MinHash signature table
    val spark = docs.sparkSession
    val rawSig = docs.select(col(idCol).as("id"),
      expr(s"simhash64_native($textCol)").as("sh"))
    withCachedSig(rawSig, "simhash-pairs") { (sig, nDocs) =>
      val candidates = CandidatePairs.bandPairs(sig.select(col("id"), simhashChunks(col("sh"))),
        Seq("chunk", "chunk_val"), "simhashNearDups band", nDocs * SimhashChunkCount)
      // the signature table is 16 bytes/doc: broadcast the verify while it
      // fits the broadcast budget; above that, hash joins with the
      // signature table as build side
      val verifyFits = graft.GraftConf.gate(spark, "simhashNearDups verify",
        ("broadcast", "shuffle"), "spark.graft.broadcastBytes",
        graft.GraftConf.broadcastBytes(spark), "count")(nDocs * 16)
      CandidatePairs.attachSides(candidates, sig, Seq("sh"),
          Some(if (verifyFits) "broadcast" else "shuffle_hash"))
        .select(col("id_a"), col("id_b"),
          hammingDistance(col("sh_a"), col("sh_b")).as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }
  }

  /** Near-duplicate SUPPRESSION against a static reference corpus: rows of
    * `df` whose SimHash is within `maxHamming` of any reference document
    * are dropped. Every step is stateless row-local or a join against the
    * static side (simhash scan-local; one anti-join per 16-bit pigeonhole
    * chunk — a doc survives iff no chunk bucket holds a reference doc
    * within the hamming bound), so the SAME operator runs in batch and in
    * Structured Streaming (stream-static joins need no state; composes
    * with watermarks and dedupedByContent for in-stream exact dups). This
    * is the "filter the incoming feed against the existing corpus" shape:
    * the reference chunk table is built ONCE (staged to parquet via
    * [[stage]]) and reused by all four anti-joins and every micro-batch.
    * The chunks are [[simhashChunks]], so the recall guarantee is the
    * pigeonhole's: exact for `maxHamming` ≤ 3.
    */
  def suppressNearDups(df: DataFrame, reference: DataFrame,
                       textCol: String, refTextCol: String,
                       maxHamming: Int = 3): DataFrame = {
    // Staged (scan + simhash ONCE): the fold below joins against the chunk
    // table four times, and without materialization each anti-join would
    // re-read and re-hash the whole reference corpus — 4 scans of what may
    // be a 100 TB table. Staging also keeps the static side static for the
    // stream-static form: every micro-batch reuses the same parquet.
    val refChunks = stage(reference
      .select(expr(s"simhash64_native($refTextCol)").as("__ref_sh"))
      .select(col("__ref_sh"), simhashChunks(col("__ref_sh"))), "suppress-ref")
    val withSh = df.withColumn("__sh", expr(s"simhash64_native($textCol)"))
    val survived = (0 until SimhashChunkCount).foldLeft(withSh) { (acc, c) =>
      val refC = refChunks.filter(col("chunk") === c)
        .select(col("chunk_val").as("__ref_cv"), col("__ref_sh"))
      acc.join(refC,
        simhashChunk(acc("__sh"), c) === col("__ref_cv") &&
          hammingDistance(acc("__sh"), col("__ref_sh")) <= maxHamming,
        "left_anti")
    }
    survived.drop("__sh")
  }

  /** Connected components over a duplicate-pair table — the step that
    * turns LSH/verify PAIRS into dedup CLUSTERS so each group keeps one
    * canonical document (min id = the cluster label). Two regimes behind
    * one byte gate (r19): a pair graph whose symmetric edge table fits
    * `spark.graft.cc.localEdgesBytes` (default 64 MiB ≈ 600k edges) is
    * solved in one driver-side union-find pass — the pair table is the
    * OUTPUT of LSH/verify pruning, typically corpus-tiny, and ~log rounds
    * of Spark jobs on a thousand-edge graph is pure scheduling overhead
    * on any cluster. Past the gate (or on non-long ids, or with the gate
    * conf'd to 0): min-label propagation with pointer jumping — each
    * round every vertex takes the minimum label among itself and its
    * neighbors, then follows its label's label (L(v) ← L(L(v))) —
    * rounds ≈ log₂(component diameter), so even deep chain-shaped
    * components converge in a handful of rounds at any corpus size.
    * Every round is one edge⋈label join, one min-aggregation, and one
    * label lookup join, all shuffle-partitioned on the vertex id; the
    * only driver-side value is the per-round changed probe (take(1)
    * existence — standard for iterative distributed algorithms). Labels
    * are checkpointed per round and the previous round unpersisted, so
    * peak storage is two label tables. Both regimes reach the identical
    * fixpoint (component min id; ComponentsSpec pins them row-for-row).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 24): DataFrame = {
    // cached once: every round joins against the edge table, and its
    // lineage (typically an LSH/verify pair computation) must not re-run
    // per round — same single-scan rule as the signature cache above.
    // Null-endpoint pairs are dropped once, before the regime split:
    // neither regime can label a null id, and filtering here (a narrow
    // transformation, no extra job) keeps the two regimes' edge sets
    // identical without a per-row check in either.
    val keyed = pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val edges = keyed.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(keyed.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist()
    // r19 physical-strategy gate (guide §1.2 step 1 — the same cost-based
    // regime choice as PrefixJoin's brute/index gate and Spark's own
    // broadcast decision): a pair graph small enough to hold on the
    // driver is solved by ONE union-find pass ([[LocalGraph]]) instead of
    // ~log(diameter) Spark rounds. A dedup pair table is usually a tiny
    // fraction of the corpus (it is the OUTPUT of the LSH/verify
    // pruning), so production runs with bounded near-dup density hit this
    // regime too — the loop below is the unbounded-size path, not the
    // common case. The gate charges [[LocalGraph.BytesPerEdge]] per
    // MATERIALIZED edge (the count materializes the cache the loop's init
    // aggregation would materialize anyway), is fail-safe in the decline
    // direction, long-id-only (the loop handles any ordered key type),
    // and the labeling is the identical fixpoint: union-by-min-root makes
    // every final root the component's min id — the same answer the loop
    // converges to, integer-exact (no float summation order to preserve).
    // `spark.graft.cc.localEdgesBytes=0` forces the distributed loop
    // (spec-pinned equality between both regimes).
    val spark = pairs.sparkSession
    if (LocalGraph.accepts(edges) && graft.GraftConf.gate(spark, "connectedComponents",
        ("local", "loop"), "spark.graft.cc.localEdgesBytes", 64L << 20, "count")(
        edges.count() * LocalGraph.BytesPerEdge)) {
      val out = LocalGraph.emit(spark, LocalGraph.components(LocalGraph.collect(edges)),
        ("id", "cluster_id"), "cc-labels")
      edges.unpersist(blocking = false)
      return out
    }
    // localCheckpoint (not just persist): each round's plan would otherwise
    // embed every previous round's plan, and Catalyst re-analysis of the
    // growing tree dwarfs the actual work after a few rounds — the classic
    // iterative-DataFrame trap. Checkpointing truncates lineage so every
    // round plans against a flat cached table. (On a cluster, prefer
    // `spark.sparkContext.setCheckpointDir` + `.checkpoint()` if executor
    // loss during the loop must be recoverable; the result itself is
    // re-staged to parquet below either way.)
    // fresh attribute ids per round (createDataFrame over the checkpointed
    // RDD): the loop's plans self-join and re-union the same table, and
    // reusing one attribute lineage across rounds trips Catalyst's Union
    // constraint rewrite (`key not found: id#N`) on some input shapes.
    def freshWrap(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    // init = min(id, min neighbor) rather than id: the node-set distinct
    // was already a groupBy(src) over the same rows, so folding the first
    // propagation into it is free (r18) — one fewer loop round for the
    // same fixpoint (labels monotonically decrease to the component min
    // from any upper-bound start).
    var labelsCk = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label"))
      .localCheckpoint(true)
    var labels = freshWrap(labelsCk)
    var changed = true
    var rounds = 0
    // +1 round of internal slack: the prev-checkpoint pointer jump lags
    // the same-round jump by ~one round, so a caller-provided maxIter
    // tuned to the pre-r18 form keeps its old effective depth margin
    // (r18 ADVICE; the default already carries 20 → 24 headroom).
    val iterCap = maxIter + 1
    while (changed && rounds < iterCap) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      // __prev (the vertex's incoming label) rides through the
      // aggregation — exactly one labels row per id, so max() selects it
      // past nbrMin's nulls — making the convergence test a narrow
      // filter-count over this round's checkpoint instead of an extra
      // shuffle join against the previous labels.
      val lblType = labels.schema("label").dataType
      val prop = labels.select(col("id"), col("label"), col("label").as("__prev"))
        .union(nbrMin.select(col("id"), col("label"),
          lit(null).cast(lblType).as("__prev")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("__prev")).as("__prev"))
      // Pointer jumping THROUGH THE PREVIOUS ROUND'S CHECKPOINT:
      // L(v) ← L_prev(L_propagated(v)) (r18, guide §1.2 step 1). The
      // r17 form materialized the propagation (localCheckpoint) and
      // self-joined it — two checkpoint jobs per round; the lookup side
      // here is the ALREADY-CHECKPOINTED previous labels, so one
      // materialization per round does the same work with the same
      // per-round exchange volume (agg + two join exchanges; the agg
      // runs once — no self-join, so no double-compute and no Catalyst
      // union-constraint trap either). Correctness is the same fixpoint
      // argument: every label IS a vertex id (mins of ids, self
      // included), so the lookup join is total; L_prev(x) ≤ x and
      // ≥ x's component minimum, so labels still decrease monotonically
      // to the unique fixpoint (component min id — the answer is
      // implementation-independent) and the convergence count is
      // unchanged. The jump now lags one round, so convergence can take
      // ~1 extra round (measured: 8 vs 7 on q72's 2000-vertex graph,
      // wall 5.38 s → 3.12 s for the whole loop; maxIter default has
      // headroom raised 20 → 24 to keep the same effective depth
      // margin). least() is defensive: __l2 ≤ a.label always holds.
      val next = prop.as("a")
        .join(freshWrap(labelsCk).select(col("id").as("__lid"), col("label").as("__l2")),
          col("a.label") === col("__lid"))
        .select(col("a.id").as("id"),
          least(col("a.label"), col("__l2")).as("label"),
          col("a.__prev").as("__prev"))
        .localCheckpoint(true)
      // convergence needs only EXISTENCE of a changed row, never the
      // count: isEmpty is take(1), which early-exits at the first changed
      // row — every non-converged round stops after a partition or two
      // instead of scanning the whole cached label table (at corpus scale
      // the old count() re-read ALL labels once per round just to compare
      // against zero; only the final, converged round still pays the full
      // proof-of-emptiness scan, which is irreducible).
      changed = !next.filter(col("label") =!= col("__prev")).isEmpty
      logDebug(s"connectedComponents round=$rounds changed=$changed")
      Checkpoints.release(labelsCk)
      labelsCk = next
      labels = freshWrap(next).select(col("id"), col("label"))
      rounds += 1
    }
    if (changed)
      logWarning(s"connectedComponents: not converged after $iterCap rounds; " +
        "labels are an upper approximation (raise maxIter for deep chains)")
    val out = stage(labels.withColumnRenamed("label", "cluster_id"), "cc-labels")
    Checkpoints.release(labelsCk)
    edges.unpersist(blocking = false)
    out
  }

  /** (id, sz, gh): one row per distinct word-`n`-gram hash of each
    * document, from the native `word_ngram_hashes`; `sz` is the document's
    * distinct gram count (the set is distinct, so size(set) = |A|, constant
    * per id). Grams are 8-byte xxhash64 keys, never strings.
    *
    * explode_outer, not explode: plain explode makes Catalyst push a
    * `size(word_ngram_hashes(..)) > 0` pre-filter below the project, which
    * evaluates the native expression TWICE per row. The outer variant needs
    * no pre-filter; the one null-gram row it emits for a null or gramless
    * text is dropped here, so the rows are plain explode's.
    */
  private[graft] def gramPostings(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int): DataFrame = {
    docs
      .select(col(idCol).as("id"), expr(s"word_ngram_hashes($textCol, $n)").as("__gs"))
      .select(col("id"), size(col("__gs")).as("sz"), explode_outer(col("__gs")).as("gh"))
      .filter(col("gh").isNotNull)
  }

  /** Inverted-index gram overlap between `left` and `right` (which may be
    * the same corpus): `(id_a, id_b, common, sz_a, sz_b)` for every pair of
    * documents sharing at least one gram — `common` = |A∩B| and `sz_a`,
    * `sz_b` = |A|, |B|, so any exact set score follows without
    * materializing gram sets per pair. `on` is an extra join predicate over
    * the sides aliased `a` and `b` (`a.id < b.id` for a self-join).
    *
    * Both [[gramPostings]] tables are repartitioned on `gh` at one width
    * ([[gramJoinWidthOf]] over max(left, right): the pair-count map carries
    * the LARGE side's grams regardless of which side is small). On a
    * self-join the two sides are then the IDENTICAL subplan shuffled on the
    * same key, so Spark reuses one exchange for both (one corpus scan + one
    * shuffle — asserted in PlanShapeSpec). `first()` recovers both set
    * sizes from the per-id-constant `sz`, with no per-document size joins.
    */
  private def gramOverlap(left: DataFrame, right: DataFrame, idCol: String,
                          textCol: String, n: Int, on: Column): DataFrame = {
    val w = gramJoinWidthOf(left.sparkSession,
      left.queryExecution.optimizedPlan.stats.sizeInBytes
        .max(right.queryExecution.optimizedPlan.stats.sizeInBytes))
    def grams(side: DataFrame) = gramPostings(side, idCol, textCol, n)
      .repartition(w, col("gh"))
    val joined = grams(left).as("a")
      .join(grams(right).as("b"), col("a.gh") === col("b.gh") && on)
    // the pair aggregation at the same width, so the FINAL pair-count map
    // scales with the corpus too (the groupBy's own exchange is elided —
    // the explicit partitioning satisfies its clustering requirement)
    (if (w > left.sparkSession.sessionState.conf.numShufflePartitions)
       joined.repartition(w, col("a.id"), col("b.id"))
     else joined)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"),
        first(col("a.sz")).as("sz_a"), first(col("b.sz")).as("sz_b"))
  }

  /** Width of the inverted-index gram self-join (and of the pair
    * aggregation downstream of it). The join stage holds the PARTIAL
    * pair-count hash map, whose key cardinality is per-task pairs =
    * per-task grams × df (df constant on a real corpus ⇒ linear in the
    * task's gram share) — at the default fixed width the map grows with
    * the corpus until it crosses the memory-subsystem cliff: q80 at the
    * 1M-doc tier spent its whole join stage inside
    * BytesToBytesMap.append/growAndRehash (~8M keys/task × 32 concurrent
    * ≈ the execution pool), 6.5× the wall of the 500k tier on 2× rows;
    * re-run at 4× the width it came back to ~linear. Width therefore
    * scales with the corpus bytes estimate (jobless, Catalyst stats) at
    * `spark.graft.ngram.joinPartitionBytes` per task, never below the
    * session default (small scales keep their exact plans — the widen
    * only fires past ~32 MiB of compressed docs at the 32-partition
    * default), capped like the other width pins. Logged when it widens.
    *
    * The gram tables are repartitioned at this width ALWAYS, not only when
    * it widens (r19). Without the explicit exchange, a gram table under the
    * broadcast threshold plans as a BroadcastHashJoin whose STREAM side
    * keeps the raw scan partitioning — a small corpus parquet is one split,
    * so the join, the pair partial-aggregation, and the gram evaluation
    * itself ran on ONE core (and the gram subtree was computed twice:
    * broadcast builds get no exchange reuse). Measured at sf0.1 (500 docs,
    * 260k gram rows, 1.27M candidates): join+pair-agg 2.0 s on the
    * single-task plan, 0.4 s with the pin.
    */
  private def gramJoinWidthOf(spark: SparkSession, est: BigInt): Int = {
    val default = spark.sessionState.conf.numShufflePartitions
    val budget = graft.GraftConf.long(spark,
      "spark.graft.ngram.joinPartitionBytes", 1L << 20)
    val w = (est / BigInt(budget.max(1L)) + 1)
      .max(BigInt(default)).min(BigInt(65536)).toInt
    if (w != default)
      logInfo(s"ngram inverted-index join: gram exchange widened to $w " +
        s"(est corpus $est B, budget $budget B/task, default $default)")
    w
  }

  /** EXACT n-gram Jaccard dedup, inverted-index form: every pair of
    * documents whose word-n-gram-set Jaccard similarity meets `threshold`,
    * with the exact similarity — no LSH, no candidate loss.
    *
    * Correctness of the candidate generation: any pair with Jaccard > 0
    * shares at least one n-gram, so grouping the inverted index
    * (gram-hash → ids) by id-pair enumerates a superset of every
    * qualifying pair; the common-gram COUNT produced by that same groupBy
    * plus the two per-document distinct-gram sizes give the exact Jaccard
    * (|A∩B| / (|A|+|B|−|A∩B|)) without ever materializing gram sets per
    * pair. Grams ride the shuffle as 8-byte xxhash64 keys, never strings
    * (a collision can only merge two grams — over-counts the intersection
    * with probability ~grams²/2⁻⁶⁴ per doc, vanishing; same budget as the
    * decontamination join, Decontaminate.scala:17–21).
    *
    * Scale posture: the inverted index is linear in corpus n-grams; the
    * self-join fan-out is Σ_g df(g)² — bounded in practice by dropping
    * nothing but *relying on AQE skew splitting* for boilerplate grams; a
    * stop-gram df cap would bound it further but changes semantics, so it
    * is deliberately NOT applied here. Compared to [[minhashCandidatePairs]]
    * this is the exact (recall-1.0) flavor; pick it when the corpus slice
    * is bounded (per-bucket, per-domain) and the answer must be exact, and
    * the MinHash path when it is not.
    */
  def ngramJaccardAllPairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5): DataFrame =
    gramOverlap(docs, docs, idCol, textCol, n, col("a.id") < col("b.id"))
      .withColumn("ngram_jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("ngram_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("ngram_jaccard"))

  /** EXACT n-gram containment pairs: pairs where the SMALLER document's
    * gram set is mostly inside the larger's (max(|A∩B|/|A|, |A∩B|/|B|) ≥
    * threshold) — the asymmetric overlap that catches a document quoted or
    * embedded inside another, which symmetric Jaccard under-scores (a
    * 100-gram doc fully contained in a 10 000-gram doc has Jaccard ≈ 0.01
    * but containment 1.0). Same inverted-index/one-reused-exchange shape
    * as [[ngramJaccardAllPairs]]; emits both directed containments.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, threshold: Double = 0.9): DataFrame =
    gramOverlap(docs, docs, idCol, textCol, n, col("a.id") < col("b.id"))
      .withColumn("containment_a", col("common").cast("double") / col("sz_a"))
      .withColumn("containment_b", col("common").cast("double") / col("sz_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))

  /** Cross-corpus SEGMENT dedup (the CCNet/RefinedWeb "paragraph dedup"
    * shape): split every document into aligned `window`-token segments,
    * drop every segment occurrence except its FIRST in the corpus (order =
    * (doc_id, segment index) — deterministic, layout-independent), and
    * reconstruct each document from its surviving segments. Boilerplate
    * (headers, license blocks, navigation chrome) disappears from all but
    * the first document carrying it, while the carrier doc keeps full text.
    * The token tail shorter than `window` is always kept, so a corpus with
    * no repeated segment reconstructs verbatim (asserted in spec).
    *
    * Output: (id, clean_text, n_removed) — one row per input document,
    * empty-string clean_text when everything was removed.
    *
    * Scale posture: one scan computes all segments; the only shuffle is the
    * groupBy on segment text finding each segment's first occurrence (at
    * 100 TB: hash the segment to 128 bits first if segment strings are
    * long — same collision budget as [[suppressExact]]); the winner set
    * joins back to the exploded segments on (segment, id, idx) — Spark
    * plans ONE segment subplan reused for both sides. Reassembly is a
    * per-document sort inside `array_sort` (scan-local, no global sort).
    * Hot segments skew the groupBy; min-aggregation is partial-combinable
    * so map-side combine flattens the skew before the exchange.
    */
  def dedupSegments(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 3): DataFrame = {
    val exploded = explodedSegments(docs, idCol, textCol, window)
    // first occurrence of each segment: min (doc_id, idx) — a plain
    // aggregation (combinable, map-side partial), not a window over the
    // segment partition
    val winners = exploded
      .groupBy(col("seg").as("wseg"))
      .agg(min(struct(col("id"), col("idx"))).as("w"))
      .select(col("wseg"), col("w.id").as("wid"), col("w.idx").as("widx"))
    val kept = exploded.join(winners,
        col("seg") === col("wseg") && col("id") === col("wid") && col("idx") === col("widx"),
        "left_semi")
    rebuildFromSegments(docs, kept, idCol, textCol, window)
  }

  /** CCNet-style boilerplate suppression — the frequency-threshold sibling
    * of [[dedupSegments]]: a segment occurring in MORE than `maxDf`
    * distinct documents is boilerplate (headers, license blocks, nav
    * chrome) and every occurrence of it is dropped — including the first,
    * unlike first-wins segment dedup, which always keeps a carrier copy.
    * Segments at or under the threshold keep all their occurrences
    * (within-document repetition is untouched — that is q73's signal,
    * not boilerplate).
    *
    * Output: (id, clean_text, n_removed), one row per input document.
    *
    * Scale posture: same single-scan explode as [[dedupSegments]]; the df
    * count is a combinable countDistinct-style aggregate over (seg, id)
    * pairs. The hot set is much smaller than the segment universe but
    * still GROWS with the corpus (every phrase in > maxDf docs at a low
    * threshold), so the anti-join side is deliberately left unhinted —
    * Spark broadcasts it while it fits `autoBroadcastJoinThreshold`
    * (always at test SFs) and falls back to a shuffle anti-join beyond,
    * instead of a forced broadcast OOMing the driver at corpus scale.
    */
  def suppressBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                          window: Int = 3, maxDf: Long = 2): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val exploded = explodedSegments(docs, idCol, textCol, window)
    val hot = exploded.select(col("seg"), col("id")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("seg"))
    val kept = exploded.join(hot, Seq("seg"), "left_anti")
    rebuildFromSegments(docs, kept, idCol, textCol, window)
  }

  /** One row per aligned `window`-token segment: (id, idx, seg). */
  private def explodedSegments(docs: DataFrame, idCol: String,
                               textCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = split(col(textCol), " ")
    val nseg = (size(toks) / window).cast("int")
    // aligned segments [i*window, (i+1)*window); sequence(1, 0) would
    // descend, so guard the empty case explicitly
    val segs = when(col("__nseg") > 0,
      transform(sequence(lit(0), col("__nseg") - 1),
        i => concat_ws(" ", slice(col("__toks"), i * window + 1, lit(window)))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col(idCol).as("id"), toks.as("__toks"), nseg.as("__nseg"))
      .select(col("id"), posexplode_outer(segs).as(Seq("idx", "seg")))
      .filter(col("seg").isNotNull)
  }

  /** Reassemble (id, clean_text, n_removed) from surviving segment rows. */
  private def rebuildFromSegments(docs: DataFrame, kept: DataFrame,
                                  idCol: String, textCol: String,
                                  window: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val nseg = (size(toks) / window).cast("int")
    val rebuilt = kept
      .groupBy(col("id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
          s => s("seg")), " ").as("__body"),
        count(col("seg")).as("__kept"))
    // tail and total derive from the original text, so zero-segment docs
    // (fewer than `window` tokens) keep their text without ever joining
    docs.select(col(idCol).as("id"),
        concat_ws(" ", slice(toks, nseg * window + 1,
          size(toks) - nseg * window)).as("__tail"),
        nseg.cast("long").as("__total"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        concat_ws(" ",
          when(length(col("__body")) > 0, col("__body")),
          when(length(col("__tail")) > 0, col("__tail"))).as("clean_text"),
        (col("__total") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Fuzzy JOIN between two different tables on text similarity — the
    * record-linkage / entity-resolution shape ("which incoming docs match
    * something we already have, and how well"), returning scored pairs
    * rather than suppressing rows. Same exact inverted-index plan as
    * [[ngramJaccardAllPairs]] but two-sided: each table is scanned once
    * and shuffled once on the gram hash; candidates are only gram-sharing
    * cross pairs (never a cross join), and the Jaccard on distinct-gram
    * counts is exact — recall 1.0 at the threshold. At 100 TB the same
    * skew note applies: boilerplate grams fan out as df_L(g)·df_R(g),
    * handled by AQE skew splitting.
    */
  def textFuzzyJoin(left: DataFrame, right: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 3, threshold: Double = 0.5): DataFrame =
    gramOverlap(left, right, idCol, textCol, n, lit(true))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("id_l"), col("id_b").as("id_r"), col("jaccard"))

  /** Incremental dedup: the daily-crawl shape — a NEW batch arrives and
    * must be deduped (a) against the already-deduped corpus and (b) within
    * itself, keyed on `keyCols` (content hash, URL, (source, lang), …),
    * keeping the min-id row per previously-unseen key. The corpus is never
    * rewritten — union the survivors onto it downstream.
    *
    * Scale: the corpus side reduces to a DISTINCT key set before the
    * anti-join (combinable, map-side partials), so the join carries keys,
    * not documents; the within-batch canonical pick is one min-aggregation
    * plus an id semi-join. Both shuffles are on the dedup key. At 100 TB
    * run it per ingest batch; the corpus key set can also be a Bloom probe
    * first ([[suppressBloom]]) to make the common drop path scan-local.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       keyCols: Seq[String], idCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val unseen = batch.join(corpus.select(keys: _*).distinct(), keyCols, "left_anti")
    val winners = unseen.groupBy(keys: _*).agg(min(col(idCol)).as("__wid"))
    unseen.join(winners.select(col("__wid")),
      unseen(idCol) === col("__wid"), "left_semi")
  }
}
