package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-pruned semi-join — the "probe a huge fact table with a
  * medium-sized key set" pattern: build a Bloom filter over the small
  * side's keys (one distributed aggregate, filter size ~1.2 bytes/key at
  * 1% fpp), prune the big side SCAN-LOCALLY with a native
  * `bloom_might_contain` expression, then close the false positives with
  * an exact semi-join over the survivors. The result is EXACT (the bloom
  * only prunes — hash-checked against a plain semi-join, q152); the win
  * is WHERE rows die: at 100 TB the non-matching fraction never reaches
  * the join exchange, which is precisely the runtime-filter rewrite
  * Spark's AQE applies to shuffle joins, made explicit and available to
  * broadcast plans and multi-use pipelines.
  *
  * The serialized filter rides the plan as a BINARY LITERAL (never a hex
  * SQL string — a GB-scale filter must not be inlined into plan text,
  * where it would be re-parsed, re-escaped, and printed by every explain/
  * listener), so the probe stays a scan-local predicate — no shuffle, no
  * UDF closure, no driver round-trip per batch. `doGenCode`'s
  * `addReferenceObj` ships the deserialized bloom with the generated
  * class, one object per executor.
  */
object BloomJoin {

  /** Exact semi-join of `big` to `small`'s keys, bloom-pruned. `fpp`
    * trades filter size for the share of false positives the exact
    * verify join must absorb.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String,
                    small: DataFrame, smallKey: String,
                    fpp: Double = 0.01): DataFrame = {
    val (pruned, keys) = bloomPruned(big, bigKey, small, smallKey, fpp)
    pruned.join(keys.distinct().select(col("k").as(bigKey)), Seq(bigKey), "left_semi")
  }

  /** `big` filtered at the scan by a bloom over `small`'s non-null keys,
    * and those keys (cast to long) as column `k`.
    */
  private[operators] def bloomPruned(big: DataFrame, bigKey: String,
                                     small: DataFrame, smallKey: String,
                                     fpp: Double): (DataFrame, DataFrame) = {
    val keys = small.select(col(smallKey).cast("long").as("k")).filter(col("k").isNotNull)
    val n = math.max(1L, keys.distinct().count())
    val bloom = keys.stat.bloomFilter("k", n, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    (big.filter(call_function("bloom_might_contain", col(bigKey).cast("long"), lit(out.toByteArray))),
      keys)
  }
}
