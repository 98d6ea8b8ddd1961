package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Data-skipping indexes beyond [[ZoneMap]]'s long-key min/max: truncated
  * STRING bounds (the Iceberg/Delta `lower_bound`/`upper_bound` trick)
  * and per-shard BLOOM filters for equality skipping on columns the
  * layout is NOT clustered by. Both are mergeable, manifest-sized
  * statistics: an appended batch updates them from its own rows without
  * rescanning the layout (the [[ZoneMap.mergeManifests]] contract), and
  * a scan consults |shards| metadata rows to decide what to read.
  *
  * Soundness over tightness, in both: pruning may read a shard it didn't
  * need (false positive), it must NEVER skip a shard holding a match
  * (false negative) — spec-gated with adversarial prefix/collision
  * cases. That asymmetry is what makes the truncation and the bloom
  * admissible at 100 TB: stats stay bytes-per-shard no matter how wide
  * the keys or how many rows.
  */
object SkippingIndex {

  // ---- truncated string bounds ----------------------------------------

  /** Range-clustered layout on a STRING key: repartitionByRange gives
    * each output partition a contiguous key range (boundaries from a
    * reservoir sample — the layout is an optimization, never part of an
    * answer), `zshard` = the partition id. The string sibling of
    * [[ZoneMap.withShard]] + [[ZoneMap.writeLayout]].
    */
  def writeStringLayout(df: DataFrame, keyCol: String, n: Int,
                        path: String): Unit = {
    val sharded = df.repartitionByRange(n, col(keyCol))
      .withColumn("zshard", spark_partition_id().cast("long"))
    sharded.write.mode("overwrite").partitionBy("zshard").parquet(path)
  }

  /** Per-shard TRUNCATED string bounds: `min_prefix` = the first
    * `prefixLen` chars of the shard minimum (a valid lower bound —
    * truncation is monotone, prefix(min) ≤ min), `max_prefix` = the
    * first `prefixLen` chars of the shard maximum plus `max_truncated`
    * recording whether truncation actually dropped characters. A
    * truncated max is NOT itself an upper bound (keys sharing the
    * prefix sort above it), so [[scanStringRange]] derives the ceiling
    * Iceberg-style via [[incrementLastCodePoint]] — sound for ALL
    * strings (any code point, any plane), unlike a `prefix + U+FFFF`
    * sentinel which keys containing U+FFFF or supplementary characters
    * can sort above. Truncation is what keeps the manifest
    * bytes-per-shard when keys are URLs or document ids hundreds of
    * chars long. Mergeable: min/max are monotone under truncation, so
    * min(prefix_a, prefix_b) == prefix(min(a, b)), and the
    * (max_prefix, max_truncated) pair merges as a struct max — for the
    * same prefix the truncated variant represents the larger true key.
    */
  def stringManifest(sharded: DataFrame, keyCol: String,
                     prefixLen: Int = 8): DataFrame =
    sharded.groupBy(col("zshard"))
      .agg(substring(min(col(keyCol)), 1, prefixLen).as("min_prefix"),
        substring(max(col(keyCol)), 1, prefixLen).as("max_prefix"),
        (length(max(col(keyCol))) > prefixLen).as("max_truncated"),
        count(lit(1)).as("n_rows"))

  /** A strict upper bound for every string starting with `prefix`:
    * increment the last code point (skipping the surrogate gap); if it
    * is already U+10FFFF, drop it and carry into the previous one.
    * Returns null when no finite bound exists (all code points are
    * U+10FFFF) — callers must treat null as +infinity. Operating in
    * code-point space keeps the bound sound under Spark's UTF-8 binary
    * string comparison, where a larger code point is always a larger
    * byte sequence.
    */
  private[operators] def incrementLastCodePoint(prefix: String): String = {
    val cps = prefix.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        var next = cps(i) + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        return new String(cps.slice(0, i) :+ next, 0, i + 1)
      }
      i -= 1
    }
    null
  }

  /** The shard ids a `BETWEEN lo AND hi` scan must read, per the string
    * manifest: a shard is skipped only when the range provably misses
    * it — `hi < min_prefix` (every shard key ≥ min_prefix > hi) or
    * `lo > ceiling`, where the ceiling is the exact max when the bound
    * was not truncated and [[incrementLastCodePoint]] of the prefix when
    * it was (null ceiling = unbounded = never skip). All comparisons run
    * in Spark expressions so the pruning decision uses the engine's own
    * binary string ordering, not the JVM's UTF-16 one.
    */
  private[operators] def survivingStringShards(manifestDf: DataFrame,
                                               lo: String, hi: String): Seq[Long] = {
    val spark = manifestDf.sparkSession
    import spark.implicits._
    // The ceiling is computed driver-side over the collected manifest —
    // code-point arithmetic, ordering plays no part in it, and the
    // manifest is metadata-sized by construction. The range comparisons
    // then run as Spark expressions over a local relation, so the
    // pruning decision still uses the engine's binary string ordering,
    // not the JVM's UTF-16 one (no Scala UDF anywhere in the path).
    val withCeiling = manifestDf
      // partition-column type inference reads zshard back as INT
      .select(col("zshard").cast("long"), col("min_prefix"),
        col("max_prefix"), col("max_truncated"))
      .collect()
      .map { r =>
        val ceiling =
          if (r.getAs[Boolean](3)) Option(r.getString(2)).map(incrementLastCodePoint).orNull
          else r.getString(2)
        (r.getLong(0), r.getString(1), ceiling)
      }.toSeq.toDF("zshard", "min_prefix", "ceiling")
    withCeiling
      .filter(lit(hi) >= col("min_prefix") &&
        (col("ceiling").isNull || lit(lo) <= col("ceiling")))
      .select(col("zshard")).collect().map(_.getLong(0)).sorted.toSeq
  }

  /** Stats-pruned scan for `keyCol BETWEEN lo AND hi` over a
    * [[writeStringLayout]] directory: read only
    * [[survivingStringShards]], then re-apply the exact predicate — so
    * truncation can only cost extra reads, never rows.
    */
  def scanStringRange(spark: SparkSession, path: String, manifestDf: DataFrame,
                      keyCol: String, lo: String, hi: String): DataFrame = {
    val surviving = survivingStringShards(manifestDf, lo, hi)
    if (surviving.isEmpty) {
      spark.read.parquet(path).filter(lit(false))
    } else {
      spark.read.option("basePath", path)
        .parquet(surviving.map(s => s"$path/zshard=$s"): _*)
        .filter(col(keyCol) >= lo && col(keyCol) <= hi)
    }
  }

  // ---- per-shard bloom filters -----------------------------------------

  /** Bit width `util.sketch.BloomFilter.create(n, fpp)` would choose —
    * the aggregate takes (n, numBits), so replicating the formula keeps
    * the geometry identical to filters built via `create` (merge
    * compatibility is bit-width + hash-count equality).
    */
  private def optimalNumOfBits(n: Long, fpp: Double): Long =
    (-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong

  /** One serialized bloom filter per shard over `valueCol` — equality
    * skipping for a column the layout is NOT clustered by (the zone
    * map's min/max is vacuous there: an uncorrelated column spans the
    * full domain in every shard). ~1.2 bytes/key at 1% fpp; the
    * aggregate is combinable (bloom union = bitwise OR), so partials
    * merge map-side like any sum.
    *
    * `expectedPerShard` and `fpp` FIX the filter geometry (bit width,
    * hash count): manifests merged by a bitwise OR of their filters
    * (`BloomFilter.mergeInPlace`) must be built with the SAME two values,
    * or the merge throws IncompatibleMergeException. Treat them as
    * deployment configuration — a stable constant sized to the expected
    * steady-state shard population — never something derived from the
    * current batch's row count. Overshooting the estimate only degrades
    * the false-positive rate (extra shard reads); absence proofs stay
    * exact.
    */
  def bloomManifest(sharded: DataFrame, valueCol: String,
                    expectedPerShard: Long, fpp: Double = 0.01): DataFrame = {
    val numBits = optimalNumOfBits(expectedPerShard, fpp)
    sharded.groupBy(col("zshard"))
      .agg(expr(s"graft_bloom_agg(CAST(`$valueCol` AS BIGINT), " +
          s"${expectedPerShard}L, ${numBits}L)").as("bloom"),
        count(lit(1)).as("n_rows"))
  }

  /** Equality-pruned scan: probe each shard's bloom ON THE DRIVER
    * (|shards| deserializations — metadata, never data), read only
    * shards that might contain `v`, re-apply the exact predicate.
    * A bloom false positive costs one extra shard read; absence proofs
    * are exact, so no false negatives (spec-gated).
    */
  def scanEquals(spark: SparkSession, path: String, bloomManifestDf: DataFrame,
                 valueCol: String, v: Long): DataFrame = {
    val surviving = bloomManifestDf
      .select(col("zshard").cast("long"), col("bloom")).collect()
      .filter { r =>
        BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
          .mightContainLong(v)
      }
      .map(_.getLong(0)).sorted
    if (surviving.isEmpty) {
      spark.read.parquet(path).filter(lit(false))
    } else {
      spark.read.option("basePath", path)
        .parquet(surviving.map(s => s"$path/zshard=$s"): _*)
        .filter(col(valueCol) === v)
    }
  }
}
