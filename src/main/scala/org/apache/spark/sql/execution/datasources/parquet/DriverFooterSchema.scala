package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema `spark.read.parquet(path)` infers, read on the driver.
  * Spark's inference reads one footer when `mergeSchema` is off, but it
  * reads it inside a Spark job; this reads the same footer with the same
  * converter without one. The footer readers are package-private, hence
  * this package.
  */
object DriverFooterSchema {

  /** The file `ParquetUtils.inferSchema` reads without `mergeSchema`: the
    * first `_common_metadata` summary by path, else the first `_metadata`,
    * else the first data file. None when `path` holds no parquet file or
    * its footer cannot be read with corrupt files ignored, the cases in
    * which Spark's own inference finds no schema either.
    */
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.asInstanceOf[ClassicSession].sessionState.conf
    val hadoopConf = spark.asInstanceOf[ClassicSession].sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val leaves = files(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { file =>
        ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(file), conf.ignoreCorruptFiles)
          .headOption
          .map(ParquetFileFormat.readSchemaFromFooter(_, new ParquetToSparkSchemaConverter(conf)))
      }
  }

  /** The leaf files a file index lists under `f`, without the hidden ones. */
  private def files(fs: FileSystem, f: FileStatus): Seq[FileStatus] =
    if (!f.isDirectory) Seq(f)
    else fs.listStatus(f.getPath).toSeq
      .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .flatMap(files(fs, _))
}
