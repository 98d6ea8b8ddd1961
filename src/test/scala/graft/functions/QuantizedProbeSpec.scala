package graft.functions

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The int8-scored replicated probe: the scalar-quantizer index copy —
  * 4× smaller resident arrays, 16-lane integer SIMD dots — used to
  * SELECT a shortlist that an in-operator float rerank rescores exactly.
  * Specs reach it with a replicate budget between the int8 and float
  * resident estimates ([[graft.SparkSpec.int8OnlyBudget]]). Contracts
  * pinned here:
  *
  *   - The replicate ladder: with the float copy inside the replicate
  *     budget, the probe is the bit-identical float path (the
  *     regime-equality specs pin that); when only the int8 copy fits, it
  *     replicates quantized instead of falling to the distributed
  *     orientations.
  *   - Same output contract (schema, rank 1..k, self-exclusion).
  *   - Deterministic: two int8 runs return identical rows.
  *   - Emitted scores are EXACT (the rerank): every score equals the
  *     float `cosine_sim` of the two real vectors, and `minCosine`
  *     filters on the exact score — quantization affects shortlist
  *     membership only.
  *   - Quantization error is bounded IN EFFECT: nprobe=all int8 top-k
  *     recalls ≥ 0.8 of the float top-k per query on the real fixture.
  */
class QuantizedProbeSpec extends SparkSpec {

  private def emb: DataFrame = graft.Tables(spark, sf0001, "embeddings")

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("int8 probe: same contract, deterministic, self-excluded") {
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 40)
    withConf("spark.graft.ann.replicateIndexBytes" -> int8OnlyBudget(index).toString) {
      val a = Similarity.ivfSearch(index, queries, k = 5, nprobe = 4, minCosine = None)
      assert(a.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rk"))
      val r1 = rows(a)
      val r2 = rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 4, minCosine = None))
      assert(r1 == r2, "int8 probe is not deterministic")
      assert(r1.nonEmpty)
      assert(!r1.exists(t => t._1 == t._2), "self-match leaked through")
      // ranks are 1..size per query, ordered by (cosine desc, id asc)
      val byQ = r1.groupBy(_._1)
      byQ.foreach { case (_, ts) =>
        assert(ts.map(_._4).toSeq.sorted == (1 to ts.size).toSeq)
      }
    }
  }

  test("int8 probe recalls >= 0.8 of the float top-k at nprobe=all (shortlist quality)") {
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 60)
    val float = withConf(
      "spark.graft.ann.replicateIndexBytes" -> Long.MaxValue.toString) {
      rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 4, minCosine = None))
        .map(t => (t._1, t._2))
    }
    val int8 = withConf(
      "spark.graft.ann.replicateIndexBytes" -> int8OnlyBudget(index).toString) {
      rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 4, minCosine = None))
        .map(t => (t._1, t._2))
    }
    val recall = float.count(int8.contains).toDouble / float.size
    assert(recall >= 0.8, f"int8 shortlist recall $recall%.3f < 0.8 " +
      s"(|float|=${float.size}, |int8|=${int8.size})")
  }

  test("int8 probe scores are EXACT: every emitted cosine is the float cosine_sim") {
    val index = Similarity.ivfBuild(emb, numCentroids = 2, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 10)
    val probe = withConf(
      "spark.graft.ann.replicateIndexBytes" -> int8OnlyBudget(index).toString) {
      Similarity.ivfSearch(index, queries, k = 3, nprobe = 2, minCosine = None)
    }
    // recompute each emitted score with the exact expression; the probe
    // rounds to 4 decimals in its final projection, so compare there
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("qa"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("qb"))
    val diff = probe.join(q, "query_id").join(c, "neighbor_id")
      .withColumn("ref", round(expr("cosine_sim(qa, qb)"), 4))
      .filter(col("cosine") =!= col("ref"))
      .count()
    assert(diff == 0, "int8 probe emitted a non-exact cosine (rerank missing?)")
  }

  test("int8 probe at nprobe=all with a wide rerank equals the float path exactly") {
    // with every list probed and the shortlist overfetch covering the
    // whole corpus, quantization cannot change shortlist membership →
    // the reranked int8 result must EQUAL the float path, including a
    // minCosine floor applied on exact scores (the near-threshold
    // misclassification ADVICE flagged is structurally gone)
    val index = Similarity.ivfBuild(emb, numCentroids = 2, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 30)
    val n = emb.count().toInt
    val float = withConf(
      "spark.graft.ann.replicateIndexBytes" -> Long.MaxValue.toString) {
      rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 2,
        minCosine = Some(0.2)))
    }
    val int8 = withConf("spark.graft.ann.rerankFactor" -> n.toString,
      "spark.graft.ann.replicateIndexBytes" -> int8OnlyBudget(index).toString) {
      rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 2,
        minCosine = Some(0.2)))
    }
    assert(int8 == float,
      s"full-shortlist int8 != float (|int8|=${int8.size}, |float|=${float.size})")
  }

  test("replicate gate budgets the RESIDENT copy: int8 replicates where float cannot") {
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 10)
    val dim = 64
    val vecWidth = dim.toLong * 4 + 24
    val i8Width = dim.toLong + 40
    // the same honest estimate the gate itself acts on (r17: footer row
    // counts, not compressed sizeInBytes / decoded width)
    val rows = Similarity.estRowsHonest(index.assigned, vecWidth)._1
    def planOf(budget: BigInt): String =
      withConf("spark.graft.ann.replicateIndexBytes" -> budget.toString) {
        val df = Similarity.ivfSearch(index, queries, k = 3, nprobe = 2, minCosine = None)
        df.collect()
        df.queryExecution.executedPlan.toString
      }
    // below the int8 resident estimate neither copy fits
    val distributed = planOf(rows * i8Width - 1)
    assert(distributed.contains("ivf_block_topk") || distributed.contains("block_cross_topk"),
      "a budget under both resident copies should land on a distributed orientation")
    // a budget BETWEEN the int8 and float resident estimates
    val replicated = planOf(int8OnlyBudget(index))
    assert(!replicated.contains("ivf_block_topk") && !replicated.contains("block_cross_topk"),
      "int8 resident copy fits the same budget and must replicate")
  }

  test("auto regime keeps the float path where the float copy fits") {
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 20)
    // the default replicate budget fits this corpus's float copy
    val unset = rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 4, minCosine = None))
    val float = withConf(
      "spark.graft.ann.replicateIndexBytes" -> Long.MaxValue.toString) {
      rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 4, minCosine = None))
    }
    assert(unset == float,
      "default (auto) drifted from the float path despite the float copy fitting")
  }

  test("rerank off emits approximate scores deterministically (the q204 contract)") {
    val index = Similarity.ivfBuild(emb, numCentroids = 2, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 20)
    val off = withConf(
      "spark.graft.ann.replicateIndexBytes" -> int8OnlyBudget(index).toString) {
      val r1 = rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 2,
        minCosine = None, quantizedRerank = Some(false)))
      val r2 = rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 2,
        minCosine = None, quantizedRerank = Some(false)))
      assert(r1 == r2, "off-mode probe is not deterministic")
      r1
    }
    // the emitted approximate scores stay within the int8 margin of the
    // exact cosine (the bound the exact-rerank floor relaxation uses)
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("qa"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("qb"))
    import spark.implicits._
    val offDf = off.toSeq.toDF("query_id", "neighbor_id", "cosine", "rk")
    val maxErr = offDf.join(q, "query_id").join(c, "neighbor_id")
      .select(abs(col("cosine") - expr("cosine_sim(qa, qb)")).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(maxErr <= Similarity.Int8FloorMargin,
      f"off-mode score error $maxErr%.4f exceeds the documented margin")
  }

  test("a malformed rerankFactor fails naming the conf") {
    withConf("spark.graft.ann.rerankFactor" -> "0") {
      val e = intercept[IllegalArgumentException](graft.GraftConf.annRerankFactor(spark))
      assert(e.getMessage.contains("rerankFactor"))
    }
  }
}
