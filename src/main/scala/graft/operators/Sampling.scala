package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * Training-data pipelines need splits that are (a) reproducible across
  * runs, (b) stable under repartitioning and re-ingestion (a document keeps
  * its split when the corpus is re-shuffled or appended to), and (c) cheap
  * at 100 TB. `df.randomSplit` gives none of these — it samples by row
  * position under a partition-dependent RNG. Hash-based assignment gives
  * all three: the split is a pure scan-local function of the row's id, so
  * it never shuffles, never collects, and survives any re-layout of the
  * data.
  *
  * The bucket function is two rounds of multiply–xorshift mixing over
  * portable BIGINT arithmetic rather than an engine hash (xxhash64/murmur),
  * so any SQL engine reproduces the exact assignment — the DuckDB oracle
  * checks it bit-for-bit (q65). A single multiplicative hash is NOT enough
  * here: with `(id*K + salt) mod m`, changing the salt shifts every hash by
  * a constant, so two "independent" salts produce almost identical
  * memberships (caught by SamplingSpec's decorrelation test). The xorshift
  * rounds avalanche the salt through all bits, making distinct salts behave
  * like independent hash functions (measured pairwise overlap of two
  * 0.5-samples ≈ 0.25, the independence value). The state stays in the
  * 31-bit domain so every product fits a signed 64-bit long under ANSI
  * mode; ids must be non-negative (wider ids: pre-fold with a portable
  * `id mod 2^31`).
  */
object Sampling {

  val DefaultBuckets = 10000 // basis-point resolution for split fractions

  private val M31 = 2147483648L // 2^31: the mixing domain

  /** The raw 31-bit mixed value for a non-negative id; pure column
    * arithmetic (add, multiply, mod, xor, unsigned shift), identical in any
    * ANSI SQL engine. Also usable directly as a deterministic shuffle key:
    * `ORDER BY mixOf(id), id` is a reproducible corpus-wide permutation.
    */
  def mixOf(id: Column, salt: Long = 42L): Column = {
    def xs(c: Column, bits: Int): Column = c.bitwiseXOR(shiftrightunsigned(c, bits))
    val x0 = (id.cast("long") + lit(salt)) % lit(M31)
    val x1 = xs(x0 * lit(2654435761L) % lit(M31), 15)
    xs(x1 * lit(1597334677L) % lit(M31), 13)
  }

  /** Scan-local bucket in [0, buckets) for a non-negative id. */
  def bucketOf(id: Column, buckets: Int = DefaultBuckets, salt: Long = 42L): Column =
    mixOf(id, salt) % lit(buckets)

  /** Adds a `split` column assigning each row to the first label whose
    * cumulative fraction covers the row's bucket. Fractions must sum to
    * ≤ 1; any uncovered remainder falls to the last label (so the standard
    * 0.8/0.1/0.1 covers everything exactly).
    */
  def withSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
                buckets: Int = DefaultBuckets, salt: Long = 42L): DataFrame = {
    require(splits.nonEmpty, "at least one split label required")
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "split fractions must sum to <= 1")
    val b = bucketOf(col(idCol), buckets, salt)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail.map(f => math.round(f * buckets))
    // last label is the otherwise-branch: covers rounding residue and any
    // uncovered tail, so every row gets a label.
    val labeled = splits.init.zip(cuts.init).foldRight(lit(splits.last._1)) {
      case (((label, _), cut), acc) => when(b < lit(cut), lit(label)).otherwise(acc)
    }
    df.withColumn("split", labeled)
  }

  /** Deterministic per-stratum cap: keep at most `cap` rows per stratum,
    * chosen by hash order (mix, id) — the "at most N documents per domain"
    * crawl-balancing op, reproducible across runs and re-layout like every
    * Sampling op. One shuffle on the stratum key + a rank window. For
    * power-law strata where one domain dwarfs an executor, pre-thin with a
    * mix-MAGNITUDE filter — `df.filter(mixOf(col(id), salt) < t)` keeps
    * exactly the rank-order prefix, so any `t` with ≥ cap survivors per hot
    * stratum leaves the final survivor set unchanged. ([[stratifiedSample]]
    * does NOT have this property: it buckets by mix mod B, which is
    * uncorrelated with the mix-magnitude rank order used here.)
    */
  def capPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                    cap: Int, salt: Long = 42L): DataFrame = {
    require(cap > 0, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(mixOf(col(idCol), salt), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Domain-mixture sampling: draw the LARGEST corpus whose stratum
    * proportions exactly match `weights` (e.g. 40% en / 15% each of four
    * others), limited by the scarcest stratum — the "mix to the target
    * data recipe" stage of LLM corpus curation. Achievable total
    * T = min_s(count_s / w_s); each stratum keeps its first
    * floor(w_s · T) rows in deterministic (mix, id) hash order, so the
    * result is exact-count, reproducible, and stable under re-layout
    * (same guarantees as [[capPerStratum]], whose window shape this
    * reuses — including the mix-magnitude pre-thinning recipe for
    * power-law strata). The per-stratum counts ride the driver like the
    * k-means codebook: |strata| rows, never data. Strata absent from
    * `weights` are dropped; a stratum with weight > 0 but no rows makes
    * T = 0 (empty result — the recipe is unsatisfiable, not silently
    * rescaled).
    */
  def mixtureSample(df: DataFrame, idCol: String, stratumCol: String,
                    weights: Map[String, Double], salt: Long = 42L): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0), "weights must be >= 0")
    require(weights.values.exists(_ > 0.0), "at least one positive weight")
    val within = df.filter(col(stratumCol).isInCollection(weights.keys.toSeq))
    val counts = within.groupBy(col(stratumCol)).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = weights.collect { case (s, w) if w > 0 => counts.getOrElse(s, 0L) / w }.min
    val caps = weights.map { case (s, w) => s -> math.floor(w * t).toLong }
    val capCol = weights.keys.toSeq.sorted.foldRight(lit(0L): Column) { (s, acc) =>
      when(col(stratumCol) === lit(s), lit(caps(s))).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(mixOf(col(idCol), salt), col(idCol))
    within.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= capCol)
      .drop("__rk")
  }

  /** Per-stratum deterministic sampling: each row keeps membership by its
    * id-bucket, with the threshold chosen by the row's stratum (e.g.
    * down-sample boilerplate-heavy languages, keep all of a rare one).
    * Strata not in `fractions` use `defaultFraction`. Unlike `df.sample`,
    * membership is a property of the ROW, not the run — re-running,
    * repartitioning, or unioning new data never flips membership of
    * existing rows. One scan-local filter, and the sampled fractions
    * compose with [[withSplit]] on a different salt.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double], defaultFraction: Double,
                       buckets: Int = DefaultBuckets, salt: Long = 42L): DataFrame = {
    require((defaultFraction +: fractions.values.toSeq).forall(f => f >= 0.0 && f <= 1.0),
      "fractions in [0,1]")
    val threshold = fractions.toSeq.sortBy(_._1).foldRight(
        lit(math.round(defaultFraction * buckets)): Column) {
      case ((stratum, f), acc) =>
        when(col(stratumCol) === lit(stratum), lit(math.round(f * buckets))).otherwise(acc)
    }
    df.filter(bucketOf(col(idCol), buckets, salt) < threshold)
  }

  /** Weighted sampling WITHOUT replacement, k per stratum — the
    * Efraimidis–Spirakis A-Res scheme: rank every row by a key that is
    * monotone in u^(1/w) (computed as ln(u)/w — same order, half the
    * transcendental calls) where u is the row's deterministic uniform
    * from [[mixOf]], and keep the top k. Higher weight ⇒ higher expected
    * key ⇒ higher inclusion probability, exactly proportional for the
    * standard A-Res guarantee. Deterministic end to end (same id + salt
    * ⇒ same sample on any layout), and the key is ROUNDED to 12 decimals
    * before ranking with an id tie-break — the BM25 trick that makes the
    * order immune to ≤1-ulp `ln` differences across engines.
    *
    * Scale posture: the key is scan-local; the only exchange is the
    * per-stratum top-k window, which TakeOrdered-style partial top-k
    * handles map-side at 100 TB (k rows per partition survive the
    * shuffle when k ≪ partition size).
    *
    * Output: input columns + `skey` (the rounded rank key) + `rk`
    * (1-based rank within the stratum). Rows with weight ≤ 0 are
    * excluded (zero-weight rows can never be sampled; negative weights
    * are undefined under A-Res).
    */
  def weightedSample(df: DataFrame, idCol: String, stratumCol: String,
                     weightCol: String, k: Int, salt: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (mixOf(col(idCol), salt) + lit(1)).cast("double") / lit(M31.toDouble)
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("skey").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("skey", round(log(u) / col(weightCol), 12))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }
}
