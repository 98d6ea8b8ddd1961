package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.DriverFooterSchema
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet test tables (TESTDATA.md).
  *
  * The reference derives table names from CSV file names
  * (load_tables_daily.py:345); here the analogous mapping is
  * `name -> s"$dir/$name.parquet"`. All reads go through the vectorized
  * parquet reader so column pruning / predicate pushdown reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      // events.parquet has shipped with two physical types for `ts`:
      // TIMESTAMP(NANOS) — which the vectorized reader only accepts as
      // int64 via nanosAsLong; convert with exact integer division (a
      // double roundtrip would lose sub-µs bits at 2024-epoch magnitudes)
      // — and TIMESTAMP(MICROS) isAdjustedToUTC=false, which Spark reads
      // as TIMESTAMP_NTZ. Normalize both to session-tz TIMESTAMP (the
      // session pins UTC) so every downstream query sees one type.
      // The flag cannot be set on one read (the parquet reader takes it
      // from the session that built the relation), so the relation is
      // built under a scan session carrying it, and the caller's conf is
      // never written.
      val scan = scanSession(spark)
      scan.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val relation = read(scan, path).queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l.relation }.get
      normalizeEventTs(spark.baseRelationToDataFrame(relation))
    } else read(spark, path)
  }

  /** `spark.read.parquet(path)` without the Spark job its schema inference
    * runs: the schema comes from the same footer, read on the driver.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    DriverFooterSchema.infer(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** A new session carrying a copy of the caller's SQL conf. Spark reads a
    * file relation's files with the conf of the session that built it, so
    * a relation built here and wrapped in the caller's session
    * (`baseRelationToDataFrame`) scans with whatever the caller sets on
    * this copy, and the caller's own conf is untouched.
    */
  private[graft] def scanSession(spark: SparkSession): SparkSession = {
    val scan = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) => if (scan.conf.isModifiable(k)) scan.conf.set(k, v) }
    scan
  }

  /** Normalize an events-shaped frame's `ts` to TIMESTAMP regardless of
    * which physical parquet type it was read as. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  /** Register every table as a temp view so `spark.sql` queries can run
    * (used by the GROUPING SETS query and ad-hoc SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
