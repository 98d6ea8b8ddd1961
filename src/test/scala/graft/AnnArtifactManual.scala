package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Manual harness (Test/runMain graft.AnnArtifactManual) — measures the
  * q204 probe FROM A PRE-BUILT PACKED ARTIFACT, in a separate JVM from
  * the build (the one-measurement-per-JVM protocol, tools/scale_run.md
  * §5). Three modes so each heavy stage gets its own JVM:
  *
  *   exact <sfDir> <artDir>  — q203's exact pair set → <artDir>/exact
  *                             (untimed; the recall denominator)
  *   exact-blocks <sfDir> <artDir> [stride] [blocksPerJob]
  *                           — the SAME exact set computed per replica
  *                             block and unioned: the ScaleUp shape is
  *                             disjoint-vocabulary shards (cross-block
  *                             tf-idf cosine is exactly 0, so no
  *                             cross-block pair can reach the 0.8 floor
  *                             and each doc's global top-5 is its block
  *                             top-5), and per-term df is block-local
  *                             already — only the idf numerator is
  *                             global, passed via idfDocsOverride. This
  *                             is the bounded-disk route for tiers where
  *                             the one-shot exact join exhausts scratch
  *                             (the sf80 denominator, r16 verdict #7);
  *                             validate it at a tier where `exact`
  *                             succeeds by comparing the two outputs.
  *   build <sfDir> <artDir>  — tf-idf vector table → <artDir>/vecs,
  *                             IVF index + packed chunk blobs →
  *                             <artDir>/ivf (timed, amortized cost)
  *   probe <artDir> [rerank-off]
  *                           — ivfLoad + search + exact rerank + top-k
  *                             (timed; THE number — what a steady-state
  *                             query batch pays), recall vs /exact;
  *                             `rerank-off` passes annTopkTfidf's
  *                             quantizedRerank = Some(false)
  *
  * Geometry mirrors Queries.annTopkTfidf exactly (same ~√n lists, same
  * nprobe policy, same 0.6 hashed floor / 0.8 exact rerank / top-5), so
  * probe-mode recall is directly comparable to the in-one-JVM q204 runs
  * in PLANS.md.
  */
object AnnArtifactManual {
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    // same regime injection as graft.Bench (tools/scale_run.md §2) — e.g.
    // SPARK_GRAFT_CONF="spark.graft.ann.replicateIndexBytes=<n>" with n
    // between the int8 and float estimates the graft.gate lines print
    // for the int8 probe
    sys.env.get("SPARK_GRAFT_CONF").foreach(Bench.parseConfPairs(_).foreach {
      case (k, v) =>
        spark.conf.set(k, v)
        System.err.println(s"ann-art: conf $k=$v")
    })
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: exact|build <sfDir> <artDir> | probe <artDir>")
    val mode = args(0)
    val spark = session()
    graft.functions.NativeTextExpressions.register(spark)
    graft.functions.VectorFunctions.register(spark)
    // host-drift denominator: cite wall/calibration across sessions
    println(f"[ann-art] calibration=${graft.Calibration.measure(3)}%.3f s")
    mode match {
      case "exact" =>
        val (sf, art) = (args(1), args(2))
        Queries.prefixJoinTopK(spark, sf).select("doc_id", "nbr_id")
          .write.mode("overwrite").parquet(s"$art/exact")
        println(s"[ann-art] exact pairs written: " +
          s"${spark.read.parquet(s"$art/exact").count()}")

      case "exact-blocks" =>
        val (sf, art) = (args(1), args(2))
        val stride = if (args.length > 3) args(3).toLong else ScaleUp.IdStride
        val perJob = if (args.length > 4) args(4).toInt else 20
        val docs = Tables(spark, sf, "documents")
        val nDocs = docs.count()
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val nBlocks = (maxId / stride + 1).toInt
        val groups = (0 until nBlocks).grouped(perJob).toSeq
        val t0 = System.nanoTime()
        groups.zipWithIndex.foreach { case (g, gi) =>
          val lo = g.head.toLong * stride
          val hi = (g.last.toLong + 1L) * stride
          val slice = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          val pairs = graft.operators.PrefixJoin.weightedCosinePrefixJoin(
            slice, "doc_id", "text", 0.8,
            idfDocsOverride = Some(nDocs.toDouble))
          val sym = pairs
            .select(col("id_a").as("doc_id"), col("id_b").as("nbr_id"), col("cosine"))
            .unionAll(pairs
              .select(col("id_b").as("doc_id"), col("id_a").as("nbr_id"), col("cosine")))
          val w = Window.partitionBy(col("doc_id"))
            .orderBy(col("cosine").desc, col("nbr_id"))
          sym.withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 5)
            .select(col("doc_id"), col("nbr_id"))
            .write.mode(if (gi == 0) "overwrite" else "append")
            .parquet(s"$art/exact")
          println(f"[ann-art] exact-blocks: group ${gi + 1}/${groups.size} " +
            f"(ids [$lo, $hi)) done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[ann-art] exact-blocks: ${groups.size} jobs, wall=$sec%.1f s, " +
          s"pairs=${spark.read.parquet(s"$art/exact").count()}")

      case "build" =>
        val (sf, art) = (args(1), args(2))
        val t0 = System.nanoTime()
        graft.operators.PrefixJoin.vectorTableFromUnit(
            graft.operators.PrefixJoin.unitTfidfTable(
              Tables(spark, sf, "documents"), "doc_id", "text"), dim = 256)
          .write.mode("overwrite").parquet(s"$art/vecs")
        val vecs = spark.read.parquet(s"$art/vecs")
        val fanout = graft.GraftConf.explosiveFanout(spark)
        val emb = vecs.select(col("id").as("vec_id"), col("embedding"))
          .repartition(fanout)
        val nVecs = emb.count()
        val (nLists, nprobe) = graft.operators.Similarity.ivfAutoGeometry(spark, nVecs)
        val index = graft.operators.Similarity.ivfBuild(emb, numCentroids = nLists,
          trainIters = graft.GraftConf.int(spark, "spark.graft.ann.trainIters", 1))
        graft.operators.Similarity.ivfSavePacked(index, s"$art/ivf")
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[ann-art] build: n=$nVecs nLists=$nLists nprobe=$nprobe " +
          f"wall=$sec%.1f s → $art/ivf (packed)")

      case "probe" =>
        val art = args(1)
        val t0 = System.nanoTime()
        val index = graft.operators.Similarity.ivfLoad(spark, s"$art/ivf")
        require(index.packed.nonEmpty, "artifact has no packed blobs — rebuild")
        val vecs = spark.read.parquet(s"$art/vecs")
        val fanout = graft.GraftConf.explosiveFanout(spark)
        val emb = vecs.select(col("id").as("vec_id"), col("embedding"))
          .repartition(fanout)
        val nVecs = emb.count()
        val (_, nprobe) = graft.operators.Similarity.ivfAutoGeometry(spark, nVecs)
        val sparse = vecs.select(col("id"), col("ks"), col("vs"))
        // the in-operator rerank stays on by default so its cost is
        // measurable; the q204 DEPLOYMENT number mirrors annTopkTfidf's
        // in-code Some(false) with `rerank-off` — this harness reranks
        // exactly at 0.8 over true tf-idf vectors below
        val rerank = if (args.lift(2).contains("rerank-off")) Some(false) else None
        val shortlist = graft.operators.Similarity
          .ivfSearch(index, emb, k = 25, nprobe = nprobe, minCosine = Some(0.6),
            quantizedRerank = rerank)
          .select(col("query_id").as("doc_id"), col("neighbor_id").as("nbr_id"))
        val reranked = shortlist
          .join(broadcast(sparse.select(col("id").as("doc_id"),
            col("ks").as("ka"), col("vs").as("va"))), "doc_id")
          .join(broadcast(sparse.select(col("id").as("nbr_id"),
            col("ks").as("kb"), col("vs").as("vb"))), "nbr_id")
          .withColumn("cosine", round(expr("sorted_dot(ka, va, kb, vb)"), 4))
          .filter(col("cosine") >= 0.8)
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        val ann = reranked.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("doc_id"), col("nbr_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val exactPath = new org.apache.hadoop.fs.Path(s"$art/exact")
        val recall =
          if (exactPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(exactPath)) {
            val exact = spark.read.parquet(s"$art/exact").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            f"${exact.count(ann.contains).toDouble / exact.size}%.4f (|exact|=${exact.size})"
          } else "n/a (run exact mode first)"
        println(f"[ann-art] probe-from-artifact: wall=$sec%.1f s |ann|=${ann.size} " +
          s"recall=$recall")

      case other => sys.error(s"unknown mode '$other'")
    }
    spark.stop()
  }
}
