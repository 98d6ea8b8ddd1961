package graft.operators

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The physical recipe every near-dup operator shares (MinHash, SimHash,
  * SRP cosine, prefix Jaccard, weighted prefix cosine): a self-join on
  * bucket keys, a pair dedup, and an `id_a`/`id_b` verify join — plus the
  * band gate and the candidate-volume estimators the cost gates route on.
  * A fix to the recipe lands here once, for every operator.
  *
  * Why every exchange is pinned: a band or posting table is tiny (a few
  * fixed-width rows per doc), but its self-join output is O(Σ bucket²).
  * AQE sizes exchanges by INPUT bytes, so it coalesces the explosion onto
  * 1–2 tasks — in BOTH regimes (measured at 250k docs on the prefix join:
  * 3/32 cores busy past the broadcast gate; the r12 assumption that past
  * the gate AQE sizes the exchange correctly was measured false).
  * Explicit repartitions are exempt from AQE coalescing, so every
  * exchange of the recipe is an explicit one at the fan-out width
  * ([[GraftConf.explosiveFanout]]).
  */
private[graft] object CandidatePairs extends org.apache.spark.internal.Logging {

  /** The band-join gate: broadcast the band table while its row count fits
    * `spark.graft.bandJoin.broadcastRows` (default 2M; 0 forces the shuffle
    * regime without running the estimate). Row-gating is sound here,
    * unlike the variable-width verify tables, because band rows are
    * fixed-width (id plus one or two key columns): 2M rows are tens of MB.
    * Decide it once per call and feed the one decision to both
    * [[keyPairs]] and [[distinctPairs]].
    */
  def bandGate(spark: SparkSession, op: String, rows: => Long): Boolean =
    GraftConf.gate(spark, op, ("broadcast", "shuffle"),
      "spark.graft.bandJoin.broadcastRows", 2000000L, "count")(rows)

  /** `(id_a, id_b)` rows, `id_a < id_b`, one per shared key of `t`
    * (`id` plus the `keys` columns) — NOT deduplicated. `on` is an extra
    * join predicate over the sides aliased `a` and `b`.
    *
    *  - `broadcastSide`: the stream side is repartitioned BY ID against a
    *    broadcast of `t`. Every duplicate of a pair is generated from one
    *    of its `id_a` rows, so they co-locate and a downstream dedup's
    *    partial aggregation collapses them map-side: only distinct pairs
    *    reach its exchange.
    *  - otherwise both sides are repartitioned on `keys`: co-partitioned,
    *    so the join adds no further exchange. Per-key skew is bounded by
    *    the banding or prefix filter that built `t`.
    */
  def keyPairs(t: DataFrame, keys: Seq[String], broadcastSide: Boolean,
               on: Column = lit(true)): DataFrame = {
    val fanout = GraftConf.explosiveFanout(t.sparkSession)
    val (a, b) =
      if (broadcastSide) (t.repartition(fanout, col("id")), broadcast(t))
      else {
        val pinned = t.repartition(fanout, keys.map(col): _*)
        (pinned, pinned)
      }
    a.as("a").join(b.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id") && on)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** `pairs` deduplicated on `(id_a, id_b)`. `pinned` repartitions on the
    * pair key at the fan-out width first — required whenever duplicates
    * are NOT co-located (the shuffle regime of [[keyPairs]]): a bare
    * dropDuplicates exchanges the raw stream at
    * `spark.sql.shuffle.partitions`, and the oversized aggregate tasks
    * fall back to sorts that spill the whole stream (measured fatal at
    * the 250k-doc shape: ~10⁸ raw rows per task).
    */
  def distinctPairs(pairs: DataFrame, pinned: Boolean): DataFrame =
    (if (pinned) pairs.repartition(GraftConf.explosiveFanout(pairs.sparkSession),
       col("id_a"), col("id_b"))
     else pairs).dropDuplicates("id_a", "id_b")

  /** `pairs` joined to `side` (keyed `id`) on `id_a`, then on `id_b`; each
    * payload column `c` arrives as `c_a` / `c_b`. `hint` is `broadcast`,
    * `shuffle_hash` or none. Past a broadcast gate use `shuffle_hash`:
    * the side table is the build side and the candidate stream — which
    * carries the `id_a` payload into the `id_b` join — is never sorted,
    * where a sort-merge join would spill candidates × payload bytes (the
    * r13 disk-fatal shape).
    */
  def attachSides(pairs: DataFrame, side: DataFrame, cols: Seq[String],
                  hint: Option[String]): DataFrame = {
    def half(s: String) = {
      val h = side.select(col("id").as(s"id_$s") +: cols.map(c => col(c).as(s"${c}_$s")): _*)
      hint.fold(h)(h.hint(_))
    }
    pairs.join(half("a"), "id_a").join(half("b"), "id_b")
  }

  /** The two-regime verify for a score that is cheap next to a shuffle:
    *
    *  - `broadcastSide`: attach by broadcast, `score`, then dedup. The
    *    verify is map-side, so a pair duplicated across keys costs one
    *    extra in-pipeline score, where deduping first costs a full
    *    shuffle and hash-agg of the raw stream. Duplicate rows score
    *    bit-identically (the score depends only on the pair), so the late
    *    dedup is exact and only qualifying pairs reach an exchange.
    *  - otherwise the attach joins shuffle the candidates anyway: pinned
    *    dedup first so duplicates never ride an exchange, then attach
    *    with `shuffle_hash`, then `score`.
    */
  def verifiedPairs(raw: DataFrame, side: DataFrame, cols: Seq[String],
                    broadcastSide: Boolean)(score: DataFrame => DataFrame): DataFrame =
    if (broadcastSide)
      distinctPairs(score(attachSides(raw, side, cols, Some("broadcast"))), pinned = false)
    else score(attachSides(distinctPairs(raw, pinned = true), side, cols, Some("shuffle_hash")))

  /** Exact expected raw (pre-dedup) within-bucket collision count:
    * Σ C(bucket, 2) over the banded table grouped by `bucketCols`. One
    * linear job over fixed-width band rows — the partial count collapses
    * map-side, so the exchange carries one row per distinct bucket.
    * `c·(c−1) DIV 2` stays in Long range: c ≤ N and N² < 2⁶³ for any
    * corpus a band table can hold.
    */
  def rawCollisions(banded: DataFrame, bucketCols: Seq[String],
                    caller: String): Long = {
    val v = banded
      .groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
      .head().getLong(0)
    logInfo(s"$caller: est raw band collisions $v " +
      s"(exact Σ C(bucket,2) over (${bucketCols.mkString(", ")}))")
    v
  }

  /** Average per-doc candidate degree implied by a collision count — the
    * quantity the grid-vs-join crossover compares against 2P.
    */
  def pairDegree(rawCollisions: Long, nDocs: Long): Double =
    rawCollisions.toDouble / math.max(nDocs, 1L)
}
