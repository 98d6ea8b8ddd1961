package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev diagnostic: stage-by-stage timing and skew profile of the q204
  * ANN pipeline at a given SF dir. The sf1-shaped decade measurement
  * showed q204 nearly nprobe-INSENSITIVE (95 s at nprobe 8 and 56
  * alike), which falsifies "probe volume dominates" — this tool breaks
  * the pipeline into its stages and prints the inverted-list size and
  * probe-fan-in distributions so the real dominator (a skewed list, the
  * vector build, the rerank) is measured instead of guessed.
  *
  * Usage: runMain graft.IvfDiag <sfDir> [nprobeNum]
  */
object IvfDiag {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"STAGE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val unit = timed("unitTfidfTable+stage") {
      val u = graft.operators.PrefixJoin.unitTfidfTable(docs, "doc_id", "text")
      val p = "/tmp/ivfdiag-unit"
      u.write.mode("overwrite").parquet(p); spark.read.parquet(p)
    }
    val vecs = timed("vectorTableFromUnit+stage") {
      val v = graft.operators.PrefixJoin.vectorTableFromUnit(unit, dim = 256)
      val p = "/tmp/ivfdiag-vecs"
      v.write.mode("overwrite").parquet(p); spark.read.parquet(p)
    }
    val emb = vecs.select(col("id").as("vec_id"), col("embedding"))
    val n = timed("count")(emb.count())
    val nLists = math.max(4, math.round(math.sqrt(n.toDouble)).toInt)
    val nprobeNum = if (args.length > 1) args(1).toInt else (if (nLists >= 32) 2 else 3)
    val nprobe = math.max(8, (nprobeNum * nLists + 7) / 8)
    println(s"n=$n nLists=$nLists nprobe=$nprobe")
    val fanout = graft.GraftConf.explosiveFanout(spark)

    val index = timed("ivfBuild(train+assignPlan)") {
      graft.operators.Similarity.ivfBuild(emb.repartition(fanout),
        numCentroids = nLists, trainIters = 1)
    }
    val assigned = timed("assign+stage") {
      val p = "/tmp/ivfdiag-assigned"
      index.assigned.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    timed("list histogram") {
      val sizes = assigned.groupBy(col("list_id")).count()
        .agg(min("count").as("min"), expr("percentile(count, 0.5)").as("p50"),
          expr("percentile(count, 0.99)").as("p99"), max("count").as("max"),
          count(lit(1)).as("nonempty"))
      sizes.show(false)
      assigned.groupBy(col("list_id")).count().orderBy(desc("count")).show(10, false)
    }
    timed("probe fan-in profile") {
      // per-list probe counts joined with list sizes: the pair-work per
      // list is q_l * s_l; its sum is the true scored-pair volume and its
      // max/partition grouping is the straggler bound
      val probes = emb.repartition(fanout).select(col("vec_id").as("query_id"),
        explode(call_function("nearest_centroids", col("embedding"),
          lit(graft.functions.VectorFunctions.packBlock(index.centroids)),
          lit(nprobe))).as("list_id"))
      val q = probes.groupBy("list_id").agg(count(lit(1)).as("nq"))
      val s = assigned.groupBy("list_id").agg(count(lit(1)).as("ns"))
      q.join(s, "list_id").select(sum(col("nq") * col("ns")).as("scored_pairs"),
        max(col("nq") * col("ns")).as("max_list_pairs")).show(false)
    }
    // opt-in (arg 3 = "flat"): the REPLACED flat pair-join formulation's
    // stage costs, kept for A/B against the block scan. At the sf1 shape
    // these measured: join+score+floor 92–115 s (666 M joined rows × 2 KB
    // of vectors ≈ 1.3 TB row-assembly traffic, nprobe-insensitive),
    // window over the 139 M floored rows 34–41 s — the evidence that
    // drove the block-scan rewrite of ivfSearch.
    if (args.length > 2 && args(2) == "flat") {
      val probesDf = emb.repartition(fanout).select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"),
        explode(call_function("nearest_centroids", col("embedding"),
          lit(graft.functions.VectorFunctions.packBlock(index.centroids)),
          lit(nprobe))).as("list_id"))
      val floored = assigned.join(broadcast(probesDf), Seq("list_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", graft.functions.VectorFunctions.cosine("query_vec", "corpus_vec"))
        .filter(col("cosine") >= 0.6)
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
      timed("flat join+score+floor (bcast)") {
        println(s"floored rows=${floored.count()}")
      }
      timed("flat window") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
        val c = floored
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 25).count()
        println(s"topk rows=$c")
      }
    }
    val shortlist = timed("ivfSearch+stage") {
      val s = graft.operators.Similarity.ivfSearch(index, emb.repartition(fanout),
        k = 25, nprobe = nprobe, minCosine = Some(0.6))
      val p = "/tmp/ivfdiag-shortlist"
      s.write.mode("overwrite").parquet(p); spark.read.parquet(p)
    }
    println(s"shortlist rows=${shortlist.count()}")
    val sparse = vecs.select(col("id"), col("ks"), col("vs"))
    timed("rerank+topk") {
      val sl = shortlist.select(col("query_id").as("doc_id"), col("neighbor_id").as("nbr_id"))
      val rr = sl
        .join(broadcast(sparse.select(col("id").as("doc_id"), col("ks").as("ka"), col("vs").as("va"))), "doc_id")
        .join(broadcast(sparse.select(col("id").as("nbr_id"), col("ks").as("kb"), col("vs").as("vb"))), "nbr_id")
        .withColumn("cosine", round(expr("sorted_dot(ka, va, kb, vb)"), 4))
        .filter(col("cosine") >= 0.8)
      println(s"reranked rows=${rr.count()}")
    }
    spark.stop()
  }
}
