package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget packing: assign documents (in a deterministic global
  * order) to consecutive fixed-token-budget shards — the sharding step
  * before sequence packing in an LLM training pipeline ("fill each shard
  * with ~budget tokens of documents, in order").
  *
  * The interesting part at scale is the GLOBAL running token total. The
  * naive formulation — `sum(n) over (order by id)` with no partition key —
  * collapses the whole corpus into one partition (Spark even warns); at
  * 100 TB that is the canonical scale-killer. This operator computes the
  * identical quantity as a two-level prefix sum, the standard parallel
  * scan decomposition:
  *
  *   1. bucket every doc by a deterministic key range (`id div width`) —
  *      scan-local;
  *   2. per-bucket token subtotals (one small aggregation: |buckets| rows,
  *      ~corpus/width), then each bucket's EXCLUSIVE prefix via a window
  *      over the bucket table — a single-partition window over thousands
  *      of rows, not billions (this is the level that makes the global
  *      window legal: the data is tiny by construction);
  *   3. broadcast-join the bucket offsets back and add the intra-bucket
  *      running sum — a window PARTITIONED by bucket, so it parallelizes
  *      across buckets.
  *
  * The result is bit-identical to the single-partition window (asserted in
  * PackingSpec) with no stage touching more than a bucket of rows at once.
  */
object Packing {

  /** Per-document packing assignment: token count, global cumulative token
    * count (inclusive, in `idCol` order), and the shard each document
    * STARTS in (`bin_id = (cum - n) div budget`). Documents larger than
    * the budget still get a well-defined shard; downstream sequence
    * packing splits them. `bucketWidth` is the id-range per bucket —
    * anything that keeps |buckets| ≪ corpus and ≥ cores works; it affects
    * only parallelism, never values.
    */
  def packByTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                        budget: Long, bucketWidth: Long = 1000L): DataFrame = {
    require(budget > 0 && bucketWidth > 0, "budget and bucketWidth must be positive")
    val withTok = docs.select(
      col(idCol).cast("long").as("id"),
      expr(s"token_count_native($textCol)").cast("long").as("n_tokens"),
      expr(s"cast($idCol as long) div ${bucketWidth}L").as("__b"))
    // level 2: per-bucket subtotals, then exclusive bucket prefixes. The
    // unpartitioned window is over |buckets| rows only.
    val bucketOffsets = withTok
      .groupBy(col("__b"))
      .agg(sum(col("n_tokens")).as("__bsum"))
      .withColumn("__boff",
        coalesce(sum(col("__bsum")).over(
          Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__boff"))
    // level 3: intra-bucket inclusive running sum, parallel across buckets
    val intra = Window.partitionBy(col("__b")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTok
      .join(broadcast(bucketOffsets), "__b")
      .withColumn("cum_tokens", col("__boff") + sum(col("n_tokens")).over(intra))
      .withColumn("bin_id",
        expr(s"(cum_tokens - n_tokens) div ${budget}L"))
      .select(col("id").as(idCol), col("n_tokens"), col("cum_tokens"), col("bin_id"))
  }
}
