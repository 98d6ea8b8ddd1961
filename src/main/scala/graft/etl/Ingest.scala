package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** CSV ingest (reference S1–S4, F1, F3, F4).
  *
  * The reference shells out to `psql \COPY` / `vsql COPY` subprocesses
  * (load_tables_daily.py:508–559) after creating all-text tables from the
  * header row (:154–180). In Spark both collapse into one declarative read:
  * the vectorized CSV reader is the bulk path, and "all columns text" is
  * just an explicit all-String schema — no DDL, no subprocess, no
  * row-at-a-time INSERT fallback (:182–203) to get wrong.
  */
object Ingest {

  /** F3 — table-name normalization (`filename.replace(".csv","").lower()`,
    * load_tables_daily.py:345).
    */
  def tableNameFor(fileName: String): String = {
    val base = fileName.substring(fileName.lastIndexOf('/') + 1)
    base.replaceAll("(?i)\\.csv$", "").toLowerCase
  }

  /** S1+S2+D1 — header-aware CSV scan with every column as StringType,
    * mirroring phase 1 of the reference's two-phase schema lifecycle
    * (create-all-text at load_tables_daily.py:167, narrow later at :266–327).
    * An explicit schema (rather than inferSchema) keeps this a single pass
    * and defers typing to [[TypeInference.inferAndNarrow]], whose rules
    * (leading-zero IDs, smallint thresholds) differ from Spark's inference.
    *
    * The scan is split across the cores: Spark never cuts a file into
    * splits smaller than `spark.sql.files.openCostInBytes` (4 MiB), so a
    * daily extract of a few MB would otherwise load as one task. Spark
    * sizes splits from the conf of the session that built the file
    * relation, so the relation is built under a private session carrying
    * a copy of the caller's SQL conf plus a split size of ⌈bytes / cores⌉
    * (at least [[MinSplitBytes]], at most the caller's
    * `spark.sql.files.maxPartitionBytes`), and the frame wraps it in the
    * caller's session: the caller's conf is untouched, and everything
    * downstream of the scan runs as before. Splitting is safe because the
    * reader is line-based (no `multiLine`): each split starts at a line
    * boundary and only the first drops the header.
    *
    * The column names come from [[headerNames]], which reads the header
    * line itself, so a load lists its files once and runs no Spark job
    * before the scan.
    */
  def readCsvAllText(spark: SparkSession, path: String): DataFrame = {
    val scanSession = graft.Tables.scanSession(spark)
    val listed = scanSession.read.option("header", "true").schema(new StructType()).csv(path)
      .queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.get
      .asInstanceOf[HadoopFsRelation]
    val conf = scanSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    val allText = StructType(headerNames(listed, conf).map(StructField(_, StringType, nullable = true)))
    val relation = listed.copy(dataSchema = allText)(listed.sparkSession)
    val bytes = relation.location.sizeInBytes
    val cores = spark.sparkContext.defaultParallelism
    scanSession.conf.set("spark.sql.files.maxPartitionBytes",
      math.min(conf.filesMaxPartitionBytes, math.max(MinSplitBytes, (bytes + cores - 1) / cores)))
    // Spark's split size is min(maxPartitionBytes, max(openCost, (bytes +
    // files × openCost) / cores)): an open cost of one byte per core keeps
    // the second term at or above ⌈bytes / cores⌉, and files still pack by size
    scanSession.conf.set("spark.sql.files.openCostInBytes", cores.toLong)
    spark.baseRelationToDataFrame(relation)
  }

  /** The column names `spark.read.option("header", "true").csv(path)`
    * infers, read directly instead of by a Spark job: the first
    * non-empty, non-comment line of the largest file (the line Spark's
    * inference scan meets first), parsed by univocity with the read's
    * CSV options and made unique and non-empty by
    * `CSVUtils.makeSafeHeader`. No such line, no columns.
    */
  private def headerNames(relation: HadoopFsRelation, conf: SQLConf): Seq[String] = {
    val options = new CSVOptions(relation.options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = relation.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(relation.options)
    val files = relation.location.listFiles(Nil, Nil).flatMap(_.files).sortBy(-_.getLen)
    files.iterator.flatMap(f => CSVUtils.readHeaderLine(f.getPath, options, hadoopConf))
      .nextOption()
      .flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line)))
      .fold(Seq.empty[String])(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, options).toSeq)
  }

  /** Smallest split [[readCsvAllText]] cuts: below it a task's fixed cost
    * outweighs the rows it would parse. */
  private val MinSplitBytes: Long = 256L * 1024

  /** F1 — raw-zone backup: copy source files to `history/upload_{date}/`
    * before load (load_tables_daily.py:205–215,329–338). Uses the Hadoop
    * FileSystem API so the same code works against HDFS/S3 on a cluster,
    * not just the local FS.
    */
  def backupFiles(spark: SparkSession, files: Seq[String], historyDir: String,
                  date: LocalDate = LocalDate.now()): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stamp = date.format(DateTimeFormatter.ofPattern("uuuu_MM_dd"))
    val destDir = new Path(s"$historyDir/upload_$stamp")
    val fs = destDir.getFileSystem(conf)
    fs.mkdirs(destDir)
    files.map { f =>
      val src = new Path(f)
      val dst = new Path(destDir, src.getName)
      FileUtil.copy(src.getFileSystem(conf), src, fs, dst, false, true, conf)
      dst.toString
    }
  }

  /** JSON-lines sink — the interchange format LLM-pipeline corpora ship in
    * (one JSON object per line, newline-safe: Spark's JSON writer escapes
    * embedded newlines/quotes/unicode, so arbitrary document text
    * round-trips losslessly). Plain distributed write — one file per
    * partition, no driver materialization.
    */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Write `df` as JSONL and read it back with the ORIGINAL schema pinned
    * (no inference round-trip: JSON cannot distinguish int widths, and a
    * column that is all-null in some shard would otherwise infer away).
    * This is the lossless-interchange contract the roundtrip query (q80
    * family) hash-checks end-to-end against the parquet original.
    */
  def roundtripJsonLines(df: DataFrame, path: String): DataFrame = {
    writeJsonLines(df, path)
    df.sparkSession.read.schema(df.schema).json(path)
  }

  /** F2 — manifest-driven file list (`files.list`, vertica_upload.py:334–339).
    * One small text file read driver-side; blank lines and `#` comments
    * skipped.
    */
  def readManifest(spark: SparkSession, manifestPath: String): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(manifestPath), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(manifestPath))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally in.close()
  }
}
