package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, current_timestamp, lit}

/** Table lifecycle: build → prod swap → history (reference D1–D5, A1, Q7–Q9).
  *
  * The reference hand-rolls zero-downtime refresh as DROP prod + RENAME
  * `_build`→prod (load_tables_daily.py:227–244) and audit snapshots as
  * `INSERT INTO {t}_history SELECT * FROM {t}` (vertica_upload.py:209–231).
  * On Spark the same states map onto the session catalog; the atomic swap
  * is provided for free by the FileFormatWriter commit protocol when we
  * `overwrite`-save, so [[publish]] is the preferred path and [[swap]]
  * exists for parity with the reference's explicit rename choreography.
  */
object TableLifecycle {

  def buildName(table: String): String = s"${table}_build"
  def historyName(table: String): String = s"${table}_history"
  private[graft] def prevName(table: String): String = s"${table}_prev"

  /** D1/S3 — stage a DataFrame as the `_build` table. */
  def stageBuild(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").saveAsTable(buildName(table))

  /** Q8/Q9 — catalog existence probe (`to_regclass` /
    * `v_catalog.tables EXISTS`, load_tables_daily.py:410–413,475–482).
    */
  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  /** Q7 — `SELECT count(*)` (load_tables_daily.py:255–264). */
  def recordCount(spark: SparkSession, table: String): Long =
    spark.table(table).count()

  /** D2 — idempotent drop (load_tables_daily.py:166,233). */
  def dropIfExists(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$table`")

  /** D4 — the reference's explicit swap (load_tables_daily.py:227–244),
    * ordered so a crash at any point leaves a complete copy: prod →
    * `<t>_prev`, build → prod, drop `<t>_prev`. The reference's drop
    * prod + rename build would leave no prod table if it stopped between
    * the two. A `<t>_prev` left by an earlier crash is dropped before
    * prod takes its name. Renames on the session catalog move no data.
    */
  def swap(spark: SparkSession, table: String): Unit = {
    val prev = prevName(table)
    if (tableExists(spark, table)) {
      dropIfExists(spark, prev)
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$prev`")
    }
    spark.sql(s"ALTER TABLE `${buildName(table)}` RENAME TO `$table`")
    dropIfExists(spark, prev)
  }

  /** Preferred publish path: a single overwrite-save whose atomicity comes
    * from the write commit protocol rather than drop+rename choreography —
    * readers see either the old table or the new one, never a partial.
    */
  def publish(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").saveAsTable(table)

  /** A1 — append-only audit snapshot
    * (`INSERT INTO {t}_history SELECT * FROM {t}`, vertica_upload.py:220),
    * with the `load_time` stamp the quarterly path adds (:132–134).
    */
  def snapshotToHistory(spark: SparkSession, table: String): Unit = {
    val snap = spark.table(table).withColumn("load_time", current_timestamp())
    snap.write.mode("append").saveAsTable(historyName(table))
  }

  /** Q10 — first-column extraction (`get_return_list`,
    * load_tables_daily.py:246–253). Kept for reference parity; note the
    * collect(): this is a CLIENT-side convenience for small control-flow
    * results (column lists, catalog probes), never a data-path operator —
    * anything row-scaled must stay a DataFrame.
    */
  def firstColumn(df: DataFrame): Seq[Any] =
    df.select(df.columns.head).collect().toSeq.map(_.get(0))

  /** Bucketed publish: hash-bucket (and sort) the table by its join keys so
    * subsequent equi-joins between co-bucketed tables run shuffle-free —
    * the storage-level answer to "this join's shuffle is the bottleneck at
    * 100 TB". Pair with an identical (buckets, keys) spec on the other
    * side.
    */
  def publishBucketed(df: DataFrame, table: String, buckets: Int,
                      keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Partitioned publish: directory-partition the table by low-cardinality
    * columns (date buckets, region, …) so filters on them become partition
    * pruning — the scan skips whole directories instead of reading and
    * filtering. The first lever for time-ranged queries over 100 TB of
    * fact data; verify with `.explain` showing the pruned partition count.
    */
  def publishPartitioned(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .saveAsTable(table)

  /** Small-file compaction: rewrite a table into `targetFiles` files per
    * partition. Streaming/incremental ingest accumulates small files that
    * degrade scan parallelism bookkeeping; periodic compaction is the
    * standard fix. Sorting within partitions clusters the layout for
    * min/max skipping on the sort key. The rewrite is staged as the
    * `_build` table and published by [[swap]], so a crash at any point
    * leaves a complete copy.
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
              sortCols: Seq[String] = Nil): Unit = {
    val df = spark.table(table)
    val arranged =
      if (sortCols.nonEmpty)
        df.repartition(targetFiles).sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(targetFiles)
    stageBuild(arranged, table)
    swap(spark, table)
  }

  /** D5 — schema-only clone (`CREATE TABLE new AS SELECT * FROM old WHERE
    * 1 = 2`, vertica_upload.py:191–197). `lit(false)` is folded by Catalyst
    * (BooleanSimplification + PruneFilters) to an empty LocalRelation — the
    * "scan" never touches storage.
    */
  def cloneStructure(spark: SparkSession, from: String, to: String): Unit =
    spark.table(from).filter(lit(false)).write.mode("overwrite").saveAsTable(to)
}
