package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zone maps — per-shard min/max statistics over a clustered layout, and
  * the stats-pruned scan they enable (the Delta/Iceberg "data skipping"
  * mechanism, self-hosted on plain parquet): shard the table by fixed-
  * width ranges of a clustering key, keep a tiny (shard, min, max, rows)
  * manifest next to the data, and answer a range predicate by reading
  * ONLY the shards whose [min, max] intersects it.
  *
  * Relation to neighbors: q94 prunes on a partition VALUE (directory =
  * exact key); a zone map prunes on a per-file RANGE, which keeps working
  * when the predicate is a range and when the layout key has too many
  * values to be a partition column. q124's z-order is the multi-column
  * clustering that makes these ranges tight; this is the skipping
  * machinery that consumes such a layout.
  *
  * Scale posture: shard assignment is one scan-local projection after a
  * broadcast of the 1-row key domain; the manifest is a combinable
  * aggregate with |shards| output rows. The pruned scan collects only the
  * manifest (bounded by shard count, never data) to build the path list —
  * at 100 TB that is the difference between reading 3 files and 3000.
  */
object ZoneMap {

  /** Add `zshard` — fixed-width range shard of `keyCol` over its observed
    * [min, max] domain, ids 0 until n. Integer arithmetic end to end so
    * any engine computes identical assignments. The shard is computed
    * divide-first — `(key - dmin) div cell` with
    * `cell = (dmax - dmin) div n + 1` — never `(key - dmin) * n`, which
    * overflows long when the domain width exceeds Long.MaxValue / n
    * (e.g. epoch-micros keys with n=16). Fails fast on an empty input
    * (no domain to derive — a one-task limit-1 probe, not a full scan)
    * and raises at execution if every key is null (null domain would
    * otherwise emit null shards silently); a residual width overflow
    * (domain spanning more than Long.MaxValue) also raises rather than
    * wrapping.
    */
  def withShard(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    require(n >= 1, s"shard count must be >= 1, got $n")
    require(!df.isEmpty,
      s"cannot derive a zone-map domain from an empty input (keyCol=$keyCol)")
    val dom = df.agg(min(col(keyCol)).cast("long").as("__dmin"),
      max(col(keyCol)).cast("long").as("__dmax"))
    df.crossJoin(broadcast(dom))
      .withColumn("zshard",
        expr(s"""CASE
          | WHEN __dmin IS NULL THEN
          |  CAST(raise_error('zone-map domain is null: all $keyCol values are null') AS BIGINT)
          | WHEN __dmax - __dmin < 0 THEN
          |  CAST(raise_error('zone-map domain width overflows BIGINT') AS BIGINT)
          | ELSE (CAST($keyCol AS BIGINT) - __dmin) div ((__dmax - __dmin) div $n + 1)
          |END""".stripMargin))
      .drop("__dmin", "__dmax")
  }

  /** Fixed-domain variant — the APPEND path: an incoming batch must shard
    * against the LAYOUT's key domain, not its own observed [min, max]
    * (self-derived domains put the same key in different shards across
    * batches and the merged manifest silently widens until skipping
    * degenerates). Scan-local — no domain aggregate. Keys outside
    * [dmin, dmax] are clamped into the edge shards, keeping the manifest
    * honest (their true min/max still lands in min_key/max_key). Same
    * divide-first arithmetic as the observed-domain overload, so the two
    * paths assign identical shards over a shared domain. A key so far
    * outside the domain that `key - dmin` itself wraps still clamps into
    * an edge shard whose manifest records its true value — skipping
    * stays sound, that shard just stops pruning.
    */
  def withShard(df: DataFrame, keyCol: String, n: Int,
                dmin: Long, dmax: Long): DataFrame = {
    require(n >= 1, s"shard count must be >= 1, got $n")
    require(dmax >= dmin, s"empty domain [$dmin, $dmax]")
    require(dmax - dmin >= 0, s"domain [$dmin, $dmax] width overflows Long")
    val cell = (dmax - dmin) / n + 1
    df.withColumn("zshard",
      expr(s"greatest(0L, least(${n - 1}L, " +
        s"(CAST($keyCol AS BIGINT) - ${dmin}L) div ${cell}L))"))
  }

  /** Append a batch (sharded against the layout's FIXED domain) to an
    * existing [[writeLayout]] directory — pair with [[mergeManifests]] so
    * the zone map updates from the batch's own manifest, no rescan.
    */
  def appendLayout(sharded: DataFrame, path: String): Unit =
    sharded.write.mode("append").partitionBy("zshard").parquet(path)

  /** The (zshard, min_key, max_key, n_rows) manifest of a sharded frame. */
  def manifest(sharded: DataFrame, keyCol: String): DataFrame =
    sharded.groupBy(col("zshard"))
      .agg(min(col(keyCol)).cast("long").as("min_key"),
        max(col(keyCol)).cast("long").as("max_key"),
        count(lit(1)).as("n_rows"))

  /** Materialize the clustered layout: one directory per shard. */
  def writeLayout(sharded: DataFrame, path: String): Unit =
    sharded.write.mode("overwrite").partitionBy("zshard").parquet(path)

  /** Merge two manifests — min/max/count are MERGEABLE statistics, so an
    * appended batch updates the zone map from its own (tiny) manifest
    * without rescanning the existing layout: manifest(A ∪ B) ==
    * mergeManifests(manifest(A), manifest(B)), asserted in spec. The
    * batch must be sharded with the fixed-domain [[withShard]] overload
    * against the layout's domain and written via [[appendLayout]]. At
    * 100 TB this is the difference between a metadata-sized commit per
    * ingest and a full-table statistics rebuild.
    */
  def mergeManifests(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("zshard"))
      .agg(min(col("min_key")).as("min_key"),
        max(col("max_key")).as("max_key"),
        sum(col("n_rows")).as("n_rows"))
}
