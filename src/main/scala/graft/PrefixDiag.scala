package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev diagnostic: stage-by-stage timing and candidate-volume profile of
  * the weighted prefix join (q148/q203 kernel) at a given SF dir. The
  * sf1-shape decade run showed the index regime at 237–258 s on 10× the
  * sf0.1 rows; round-12 measurement attributed 132 s to the pre-verify
  * pair dedup shuffle (717M raw rows), now moved after the map-side
  * verify. This tool re-measures the remaining stages.
  *
  * Usage: runMain graft.PrefixDiag <sfDir> [threshold]
  */
object PrefixDiag {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft-sf1"
    val threshold = if (args.length > 1) args(1).toDouble else 0.8
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"STAGE $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def stage(tag: String, df: DataFrame): DataFrame = {
      val p = s"/tmp/prefixdiag-$tag"
      df.write.mode("overwrite").parquet(p); spark.read.parquet(p)
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    println(s"n_docs=$n threshold=$threshold")

    val unit = timed("unitTfidfTerms+stage") {
      stage("unit", graft.operators.PrefixJoin.unitTfidfTerms(docs, "doc_id", "text", n.toDouble))
    }
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("tok"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val tails = timed("tails(window)+stage") {
      stage("tails", unit.withColumn("tail", sqrt(sum(col("u") * col("u")).over(byRarity))))
    }
    val posting = tails.filter(col("tail") >= threshold)
      .select(col("id"), col("tok"), col("tail"))
    timed("posting count")(println(s"posting_rows=${posting.count()}"))

    val rawPairs = graft.operators.CandidatePairs.keyPairs(posting, Seq("tok"),
      broadcastSide = true, on = col("a.tail") * col("b.tail") >= threshold - 1e-9)
    timed("rawPairs count (join only)")(println(s"raw_pairs=${rawPairs.count()}"))

    val vecs = timed("vecs groupBy+stage") {
      stage("vecs", tails.groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("tok"), col("u")))).as("kv"))
        .select(col("id"),
          transform(col("kv"), x => x.getField("tok")).as("ks"),
          transform(col("kv"), x => x.getField("u")).as("vs")))
    }
    val verifiedRaw = graft.operators.CandidatePairs
      .attachSides(rawPairs, vecs, Seq("ks", "vs"), Some("broadcast"))
      .withColumn("cosine", round(expr("sorted_dot(ks_a, vs_a, ks_b, vs_b)"), 4))
      .filter(col("cosine") >= threshold)
    timed("verify raw (no dedup) count")(println(s"qualifying_raw=${verifiedRaw.count()}"))
    timed("verify + final dedup count") {
      println(s"qualifying_pairs=${graft.operators.CandidatePairs
        .distinctPairs(verifiedRaw, pinned = false).count()}")
    }
    spark.stop()
  }
}
