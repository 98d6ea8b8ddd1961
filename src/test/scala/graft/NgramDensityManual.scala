package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual harness (Test/runMain graft.NgramDensityManual <sfDir>...) —
  * prints the exact full-inverted-index raw pair volume Σ C(df, 2) of the
  * trigram stream per slice, the signal
  * [[graft.operators.Dedup.ngramJaccardAllPairs]] gates its prefix-join
  * route on (`spark.graft.ngramJoin.routePairs`). Used to calibrate the
  * default against the measured full-vs-prefix wall-clock crossover.
  */
object NgramDensityManual {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    for (dir <- args) {
      val docs = Tables(spark, dir, "documents")
      val t0 = System.nanoTime()
      val est = docs
        .select(explode_outer(expr("word_ngram_hashes(text, 3)")).as("gh"))
        .filter(col("gh").isNotNull)
        .groupBy(col("gh")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
        .head.getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val n = docs.count()
      println(f"[ngram-density] dir=$dir docs=$n estRawPairs=$est perDoc=${est.toDouble / n}%.1f estimateJob=$sec%.2f s")
    }
    spark.stop()
  }
}
