package graft.etl

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Daily-pipeline orchestration (reference X1–X4).
  *
  * Stage order mirrors `main()` (load_tables_daily.py:562–650): backup →
  * all-text staging → sampled type narrowing → staged write → atomic
  * publish → history, with the count reconciliation taken from the rows
  * the staged write committed. Per-stage wall-clock is captured the way the
  * reference logs `--- %s seconds ---` (vertica_upload.py:369,396–397) and
  * the final count report is its "validation and quality checks"
  * (load_tables_daily.py:365–372).
  */
object Pipeline extends Logging {

  case class TableReport(table: String, rows: Long, columns: Int, seconds: Double)
  case class RunReport(tables: Seq[TableReport], stageSeconds: Map[String, Double])

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** X1 — daily run over a list of CSV files. `withHistory` adds the
    * quarterly path's audit snapshot (X2, vertica_upload.py:389–394).
    * A table load runs one Spark job, its staged write: the header, the
    * type vote and the history snapshot are read and copied on the
    * driver, and the count is the write's own. An extract with no header
    * line (a 0-byte file) loads as nothing: it is reported with 0 rows
    * and 0 columns, and its table, `_build` and history are not touched.
    */
  def runDaily(spark: SparkSession, csvFiles: Seq[String], historyDir: String,
               withHistory: Boolean = false): RunReport = {
    graft.GraftExtensions.install(spark)
    val (_, backupSec) = timed {
      Ingest.backupFiles(spark, csvFiles, historyDir)
    }
    logInfo(s"backup stage: $backupSec s")

    val reports = csvFiles.map { f =>
      val table = Ingest.tableNameFor(f)
      val (report, sec) = timed {
        val staged = Ingest.readCsvAllText(spark, f)        // S1–S4, D1
        if (staged.columns.isEmpty) {
          // no header line, so no columns: parquet cannot write a table
          // without columns, and the published table stays as it was
          logWarning(s"$f has no header line: $table and its history are left as they were")
          TableReport(table, 0L, 0, 0.0)
        } else {
          val typed = TypeInference.inferAndNarrow(staged)    // Q1–Q6, T1–T4, D3
          val rows = TableLifecycle.stageBuild(typed, table)  // build state; Q7 count
          TableLifecycle.swap(spark, table)                   // D2+D4 swap
          if (withHistory) TableLifecycle.snapshotToHistory(spark, table) // A1
          TableReport(table, rows, typed.columns.length, 0.0)
        }
      }
      logInfo(s"table ${report.table}: ${report.rows} rows in $sec s")
      report.copy(seconds = sec)
    }

    RunReport(reports, Map("backup" -> backupSec, "load" -> reports.map(_.seconds).sum))
  }

  /** Count report as a DataFrame — the `get_tables_record_count` printout
    * (load_tables_daily.py:365–372) kept queryable.
    */
  def countReport(spark: SparkSession, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    tables.map(t => (t, TableLifecycle.recordCount(spark, t)))
      .toDF("table_name", "record_count")
  }
}
