package graft

import org.apache.spark.sql.SparkSession

/** Manual harness (Test/runMain graft.RecallSweepManual) — measures q204's
  * end-to-end time and recall vs q203's exact answer across
  * `spark.graft.ann.nprobeNum` settings at a given SF dir. Not a spec:
  * numbers feed the geometry choice documented in Queries.annTopkTfidf.
  */
object RecallSweepManual {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // each entry: nprobeNum or nprobeNum:trainIters
    val nums = (if (args.length > 1) args(1).split(",").toSeq else Seq("3", "2"))
      .map { s => val p = s.split(":"); (p(0).toInt, if (p.length > 1) p(1).toInt else 1) }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    val exact = Queries.prefixJoinTopK(spark, sf)
      .select("doc_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[sweep] exact pairs: ${exact.size}")
    for ((n, it) <- nums; run <- 1 to 2) {
      spark.conf.set("spark.graft.ann.nprobeNum", n.toString)
      spark.conf.set("spark.graft.ann.trainIters", it.toString)
      val t0 = System.nanoTime()
      val ann = Queries.annTopkTfidf(spark, sf)
        .select("doc_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = exact.count(ann.contains).toDouble / exact.size
      println(f"[sweep] sf=$sf nprobeNum=$n iters=$it run=$run time=$sec%.2f s recall=$recall%.4f |ann|=${ann.size}")
    }
    spark.stop()
  }
}
