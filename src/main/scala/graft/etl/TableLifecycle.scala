package graft.etl

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTablePartition, ExternalCatalogUtils}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType, TimestampType}

import java.net.URI
import java.time.Instant
import java.util.UUID

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

  /** D1/S3 — stage a DataFrame as the `_build` table; returns the rows the
    * write committed, read from the write's own `numOutputRows` metric, so
    * a load needs no count after it. The table is created empty and then
    * filled by an `INSERT`: Spark's `saveAsTable` runs its write inside a
    * command whose metrics it does not expose.
    */
  def stageBuild(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val build = buildName(table)
    dropIfExists(spark, build)
    spark.catalog.createTable(build, spark.conf.get("spark.sql.sources.default"),
      nullable(df.schema), Map.empty[String, String])
    val source = s"${build}_source_${UUID.randomUUID().toString.replace('-', '_')}"
    df.createTempView(source)
    val insert = try spark.sql(s"INSERT INTO `$build` SELECT * FROM `$source`")
      finally spark.catalog.dropTempView(source)
    committedRows(insert.queryExecution.executedPlan)
      .getOrElse(throw new IllegalStateException(s"the write of $build reported no numOutputRows"))
  }

  /** The `numOutputRows` of the write an executed command's plan ran. */
  private def committedRows(plan: SparkPlan): Option[Long] = plan match {
    case w: DataWritingCommandExec => Some(w.cmd.metrics("numOutputRows").value)
    case c: CommandResultExec      => committedRows(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec  => committedRows(a.executedPlan)
    case q: QueryStageExec         => committedRows(q.plan)
    case other                     => other.children.iterator.flatMap(committedRows).nextOption()
  }

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
    *
    * `<t>_history` is parquet `PARTITIONED BY (load_time)`: the published
    * table's columns, then `load_time`, one partition per snapshot. A
    * snapshot stamps one µs timestamp, copies the published table's data
    * files into `load_time=<stamp>/` under names no other snapshot uses,
    * then registers the partition: no job, and no row is decoded or
    * re-encoded. Until it is registered the directory is invisible to
    * readers, so a snapshot that stops half-way adds nothing. Two
    * snapshots in the same µs share one partition, as two appends stamped
    * alike shared one `load_time` before.
    *
    * When the published table's columns differ from the history's (a type
    * drifted between loads) or it is not an unpartitioned parquet table,
    * that snapshot is appended by name through Spark's write into its new
    * partition instead: a widening cast succeeds and an unsafe one fails,
    * as the unpartitioned history's append did. A history table of that
    * older layout is refused with the conversion MIGRATION.md gives.
    */
  def snapshotToHistory(spark: SparkSession, table: String): Unit =
    snapshotToHistory(spark, table, DateTimeUtils.instantToMicros(Instant.now()))

  /** [[snapshotToHistory]] stamped `stampMicros` (µs since the epoch). */
  private[etl] def snapshotToHistory(spark: SparkSession, table: String, stampMicros: Long): Unit = {
    val session = spark.asInstanceOf[ClassicSession]
    val catalog = session.sessionState.catalog
    val published = catalog.getTempViewOrPermanentTableMetadata(
      session.sessionState.sqlParser.parseTableIdentifier(table))
    val historyId = session.sessionState.sqlParser.parseTableIdentifier(historyName(table))
    if (!catalog.tableExists(historyId)) {
      val columns = nullable(StructType(published.schema.filterNot(_.name == LoadTime))).toDDL
      spark.sql(s"CREATE TABLE ${historyId.quotedString} ($columns, `$LoadTime` TIMESTAMP) " +
        s"USING parquet PARTITIONED BY (`$LoadTime`)")
    }
    val history = catalog.getTableMetadata(historyId)
    if (history.partitionColumnNames != Seq(LoadTime)) {
      val h = historyId.quotedString
      val old = historyId.copy(table = s"${historyId.table}_unpartitioned").quotedString
      throw new IllegalStateException(s"$h has the unpartitioned history layout; convert it once " +
        s"(MIGRATION.md): ALTER TABLE $h RENAME TO $old; CREATE TABLE $h USING parquet " +
        s"PARTITIONED BY ($LoadTime) AS SELECT * FROM $old")
    }
    val stamp = Cast(Literal(stampMicros, TimestampType), StringType,
      Some(session.sessionState.conf.sessionLocalTimeZone)).eval().toString
    def fields(s: StructType) = s.map(f => (f.name, f.dataType))
    val filesFit = Seq(published, history).forall(_.provider.exists(_.equalsIgnoreCase("parquet"))) &&
      published.partitionColumnNames.isEmpty && published.bucketSpec.isEmpty &&
      fields(published.schema) == fields(history.dataSchema)
    if (filesFit) {
      val conf = session.sessionState.newHadoopConf()
      val dir = new Path(new Path(history.location), ExternalCatalogUtils.getPartitionPathString(LoadTime, stamp))
      val fs = dir.getFileSystem(conf)
      fs.mkdirs(dir)
      val tag = UUID.randomUUID()
      spark.table(table).inputFiles.foreach { f =>
        val src = new Path(new URI(f))
        FileUtil.copy(src.getFileSystem(conf), src, fs, new Path(dir, s"$tag-${src.getName}"), false, conf)
      }
      catalog.createPartitions(historyId, Seq(CatalogTablePartition(Map(LoadTime -> stamp),
        history.storage.copy(locationUri = Some(dir.toUri)))), ignoreIfExists = true)
      spark.catalog.refreshTable(historyName(table))
    } else {
      spark.table(table).withColumn(LoadTime, lit(DateTimeUtils.microsToInstant(stampMicros)))
        .write.mode("append").partitionBy(LoadTime).saveAsTable(historyName(table))
    }
  }

  private val LoadTime = "load_time"

  /** `s` with every field, element and value nullable, as Spark stores
    * the schema of a table its write creates. */
  private def nullable(s: StructType): StructType = {
    def open(t: DataType): DataType = t match {
      case st: StructType => nullable(st)
      case a: ArrayType   => ArrayType(open(a.elementType), containsNull = true)
      case m: MapType     => MapType(open(m.keyType), open(m.valueType), valueContainsNull = true)
      case other          => other
    }
    StructType(s.map(f => f.copy(dataType = open(f.dataType), nullable = true)))
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

  /** D5 — schema-only clone (`CREATE TABLE new AS SELECT * FROM old WHERE
    * 1 = 2`, vertica_upload.py:191–197). `lit(false)` is folded by Catalyst
    * (BooleanSimplification + PruneFilters) to an empty LocalRelation — the
    * "scan" never touches storage.
    */
  def cloneStructure(spark: SparkSession, from: String, to: String): Unit =
    spark.table(from).filter(lit(false)).write.mode("overwrite").saveAsTable(to)
}
