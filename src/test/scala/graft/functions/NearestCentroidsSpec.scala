package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The native codegen'd centroid scorer must be a pure plan-level swap
  * for the interpreted-HOF formulation it replaced on the IVF hot paths:
  * identical probe lists on real vectors (the HOF wrapped the same
  * codegen'd `cosine_sim`, so scores are bit-identical and any ordering
  * difference would be a selection bug), codegen pinned (the whole point
  * of the swap — CODEGEN_ONLY makes a fallback THROW), and the packed
  * codebook round-trips exactly.
  */
class NearestCentroidsSpec extends SparkSpec {

  private def ncCol(vec: Column, cents: Seq[(Long, Array[Float])], nprobe: Int): Column = {
    VectorFunctions.register(spark)
    call_function("nearest_centroids", vec,
      lit(VectorFunctions.packBlock(cents)), lit(nprobe))
  }

  /** The replaced HOF formulation, reconstructed verbatim as the oracle:
    * sort struct(-cosine, cid) and take the first nprobe cids.
    */
  private def hofCol(vec: Column, cents: Seq[(Long, Array[Float])], nprobe: Int): Column = {
    val arr = array(cents.map { case (cid, v) =>
      struct(lit(cid).as("cid"), typedLit(v).as("cv"))
    }: _*)
    val scored = transform(arr, c =>
      struct((-call_function("cosine_sim", vec, c.getField("cv"))).as("negs"),
        c.getField("cid").as("cid")))
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cid"))
  }

  private def emb: DataFrame = graft.Tables(spark, sf0001, "embeddings")

  private def someCentroids(k: Int): Seq[(Long, Array[Float])] =
    emb.orderBy(col("vec_id")).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toArray) }

  test("probe lists match the HOF formulation exactly (nprobe 1 and 3)") {
    VectorFunctions.register(spark)
    val cents = someCentroids(8)
    for (nprobe <- Seq(1, 3)) {
      val both = emb.select(
        ncCol(col("embedding"), cents, nprobe).as("native"),
        hofCol(col("embedding"), cents, nprobe).as("hof"))
      val mismatches = both.filter(not(col("native") === col("hof"))).count()
      assert(mismatches == 0, s"nprobe=$nprobe: $mismatches rows diverge from the HOF oracle")
      assert(both.count() > 0)
    }
  }

  test("the probe expression is codegen'd, not a fallback (CODEGEN_ONLY pin)") {
    val cents = someCentroids(4)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val rows = emb.select(col("vec_id"),
          ncCol(col("embedding"), cents, 2).as("lists"))
        .collect()
      assert(rows.nonEmpty && rows.forall(_.getSeq[Long](1).length == 2))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("nprobe beyond k returns all k lists, nearest first") {
    val cents = someCentroids(3)
    val lists = emb.limit(5)
      .select(ncCol(col("embedding"), cents, 10).as("lists"))
      .collect().map(_.getSeq[Long](0))
    assert(lists.forall(l => l.length == 3 && l.toSet == Set(0L, 1L, 2L)))
  }

  test("equal-score ties resolve to the lowest centroid id") {
    import spark.implicits._
    // two identical centroids under different ids: every query scores
    // them equal, so id 1 must always precede id 5
    val v = Array(1f, 2f, 3f)
    val cents = Seq(5L -> v, 1L -> v)
    val lists = Seq(Array(3f, 2f, 1f), Array(0.5f, 0f, 1f)).toDF("embedding")
      .select(ncCol(col("embedding"), cents, 2).as("lists"))
      .collect().map(_.getSeq[Long](0))
    assert(lists.forall(_ == Seq(1L, 5L)))
  }

  test("null vectors yield null, and the packed codebook round-trips") {
    import spark.implicits._
    val cents = Seq(0L -> Array(1f, 0f), 7L -> Array(0f, 1f))
    val packed = VectorFunctions.decodeBlock(VectorFunctions.packBlock(cents))
    assert(packed.ids.toSeq == Seq(0L, 7L))
    assert(packed.vecs.toSeq == Seq(1f, 0f, 0f, 1f))
    val rows = Seq((1L, Some(Array(1f, 1f))), (2L, None))
      .toDF("id", "embedding")
      .select(col("id"), ncCol(col("embedding"), cents, 1).as("lists"))
      .orderBy(col("id")).collect()
    assert(rows(0).getSeq[Long](1).nonEmpty)
    assert(rows(1).isNullAt(1))
  }

  test("packed-vector blob bytes are pinned: codebook literal, pack_vec_block, pack_vec_blocks") {
    import spark.implicits._
    // i32 n, i32 dim, n×i64 ids ascending, n×dim×f32, big-endian — the
    // layout persisted packed-index artifacts hold, so a writer change
    // that moves one byte fails here
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    assert(hex(VectorFunctions.packBlock(Seq(7L -> Array(0f, 1f), 0L -> Array(1f, 0f)))) ==
      "0000000200000002" + "00000000000000000000000000000007" +
        "3f80000000000000000000003f800000")
    VectorFunctions.register(spark)
    val entries = Seq((5L, Array(1f, -2.5f)), (1L, Array(0.5f, 0f)), (3L, Array(3f, 0.25f)))
      .toDF("id", "vec").agg(collect_list(struct(col("id"), col("vec"))).as("e"))
    val row = entries.select(call_function("pack_vec_block", col("e")),
      call_function("pack_vec_blocks", col("e"), lit(2))).head
    assert(hex(row.getAs[Array[Byte]](0)) ==
      "0000000300000002" + "000000000000000100000000000000030000000000000005" +
        "3f00000000000000404000003e8000003f800000c0200000")
    assert(row.getSeq[Array[Byte]](1).map(hex) == Seq(
      "0000000200000002" + "00000000000000010000000000000003" +
        "3f00000000000000404000003e800000",
      "00000001000000020000000000000005" + "3f800000c0200000"))
  }

  test("registered SQL surface agrees with the programmatic column") {
    VectorFunctions.register(spark)
    val cents = someCentroids(4)
    val packedHex = VectorFunctions.packBlock(cents).map("%02x".format(_)).mkString
    val viaSql = emb.selectExpr(
        "vec_id", s"nearest_centroids(embedding, unhex('$packedHex'), 2) AS lists")
    val viaCol = emb.select(col("vec_id"),
      ncCol(col("embedding"), cents, 2).as("lists"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }
}
