package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the lake-maintenance operator every long-lived
  * ingest pipeline needs: streaming sinks and per-batch writes accumulate
  * files far below the scan-efficient size, and a 100 TB table with 10⁷
  * tiny files pays its cost in driver listing, scheduler tasks, and
  * per-file open overhead on every query. Compaction rewrites a directory
  * to ⌈bytes / targetBytes⌉ files and atomically swaps it in (write to a
  * sibling `.compact` dir, rename over — same swap discipline as
  * [[TableLifecycle]]'s build→prod promotion).
  *
  * Scale posture: the rewrite is one distributed `repartition(n)` write —
  * the only shuffle, unavoidable since file count IS the partitioning; the
  * size probe is a driver-side FileSystem listing (metadata only, no data
  * read). At real scale, run per partition-directory (day, domain) so each
  * swap stays bounded, and prefer repartitionByRange on a sort key when
  * downstream queries filter on it (preserves file-level min/max pruning).
  */
object Compaction extends org.apache.spark.internal.Logging {

  /** Report of one compaction run. */
  case class Report(path: String, filesBefore: Long, filesAfter: Long,
                    bytes: Long, rows: Long)

  private def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.toString, s.getLen))
  }

  /** Compact the parquet directory at `dir` to ⌈totalBytes/targetBytes⌉
    * files (min 1). No-op (returns the current state) when the directory
    * already has that many files or fewer.
    */
  def compactParquet(spark: SparkSession, dir: String, targetBytes: Long): Report = {
    require(targetBytes > 0, "targetBytes must be positive")
    val before = dataFiles(spark, dir)
    val totalBytes = before.map(_._2).sum
    // overflow-safe ceil division: totalBytes + targetBytes - 1 wraps for
    // large targets (q104 passes Long.MaxValue)
    val want = math.max(1L, totalBytes / targetBytes +
      (if (totalBytes % targetBytes == 0) 0 else 1)).toInt
    val df = spark.read.parquet(dir)
    if (before.size <= want) {
      logInfo(s"compact: $dir already at ${before.size} files (target $want); no-op")
      return Report(dir, before.size, before.size, totalBytes, df.count())
    }
    // rows counted from the REWRITTEN data (a lost row must show up here)
    val rows = swapIn(spark, dir, "compact", df.repartition(want))
    Report(dir, before.size, dataFiles(spark, dir).size, totalBytes, rows)
  }

  /** Report of one delete run. */
  case class DeleteReport(path: String, rowsDeleted: Long, rowsRemaining: Long)

  /** Predicate DELETE over a parquet directory — the GDPR / right-to-be-
    * forgotten shape on an immutable lake: rewrite the directory without
    * the matching rows and atomically swap it in (same staging + rename +
    * rollback discipline as [[compactParquet]]). Counts come from the
    * REWRITTEN data, so the report cannot claim a delete that did not
    * land. At 100 TB, pair with partition pruning: rewrite only the
    * partitions the predicate can touch, not the whole table — here the
    * directory is the unit for the same reason.
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: String): DeleteReport = {
    val total = spark.read.parquet(dir).count()
    // delete ONLY rows where the predicate is TRUE: a NULL predicate must
    // keep the row (bare NOT(pred) would silently delete null-valued rows)
    val remaining = swapIn(spark, dir, "delete",
      spark.read.parquet(dir).filter(s"NOT coalesce(($predicate), false)"))
    DeleteReport(dir, total - remaining, remaining)
  }

  /** Writes `df` to the sibling `<dir>.<verb>`, counts its rows, and swaps
    * it in: `dir` moves aside to `<dir>.pre<verb>`, the new directory
    * takes its name (on failure the old one moves back, untouched), and
    * the old one is deleted. `verb` names the directories and the errors.
    * Returns the rewritten row count.
    */
  private def swapIn(spark: SparkSession, dir: String, verb: String, df: DataFrame): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s"${p.getName}.$verb")
    df.write.mode("overwrite").parquet(tmp.toString)
    val rows = spark.read.parquet(tmp.toString).count()
    val old = new Path(p.getParent, s"${p.getName}.pre$verb")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(p, old)) throw new java.io.IOException(s"$verb: cannot stage $p")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back; original data untouched
      throw new java.io.IOException(s"$verb: cannot swap $tmp into place")
    }
    fs.delete(old, true)
    rows
  }
}
