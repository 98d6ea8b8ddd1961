package graft

import org.apache.spark.sql.SparkSession

/** Manual harness (Test/runMain graft.CoRunDiagManual <sfDir>) — probes the
  * co-run interference seen in batched benches (a heavy query after q36
  * reads ~2× its solo wall): runs q36 then q55 in one JVM, dumping cached
  * RDDs, executor storage, and heap between them. Distinguishes a state
  * LEAK (cached/checkpointed storage surviving q36 — a bug) from plain
  * GC/allocator debt (no surviving state — an environmental effect).
  */
object CoRunDiagManual {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/tmp/graft-sf10")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    def state(tag: String): Unit = {
      val rdds = spark.sparkContext.getPersistentRDDs
      val rt = Runtime.getRuntime
      System.gc()
      val usedMb = (rt.totalMemory() - rt.freeMemory()) >> 20
      val storage = spark.sparkContext.getExecutorMemoryStatus.map { case (_, (max, free)) =>
        (max - free) >> 20
      }.sum
      println(s"[corun] $tag: persistentRDDs=${rdds.size} " +
        s"(${rdds.values.map(_.name).mkString(",")}) heapUsedMB=$usedMb " +
        s"storageUsedMB=$storage")
    }
    def timed(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[corun] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s (rows=$n)")
    }
    state("fresh JVM")
    timed("q36 run 1")(Queries.minhashPairs(spark, sf).count())
    timed("q36 run 2")(Queries.minhashPairs(spark, sf).count())
    state("after q36")
    timed("q55 run 1")(Queries.cosineNearDups(spark, sf).count())
    timed("q55 run 2")(Queries.cosineNearDups(spark, sf).count())
    state("after q55")
    spark.stop()
  }
}
