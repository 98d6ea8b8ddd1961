package graft.functions

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVF block scan must be a pure PHYSICAL swap for the flat pair
  * join it replaced: same cosine arithmetic, same (cosine desc, id asc)
  * selection, only the row materialization changes. The oracle here IS
  * the replaced formulation, reconstructed verbatim: join probes to
  * assignments, one codegen'd `cosine_sim` per pair, one global
  * row_number window. Every test compares full result rows including
  * rank and rounded cosine.
  */
class IvfBlockTopKSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame = graft.Tables(spark, sf0001, "embeddings")

  private def packCol(entries: Column): Column = {
    VectorFunctions.register(spark)
    call_function("pack_vec_block", entries)
  }

  /** The replaced flat-join formulation of ivfSearch, as the oracle. */
  private def flatIvfSearch(index: Similarity.IvfIndex, queries: DataFrame,
                            k: Int, nprobe: Int,
                            minCosine: Option[Double]): DataFrame = {
    VectorFunctions.register(spark)
    val probes = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"),
      explode(call_function("nearest_centroids", col("embedding"),
        lit(VectorFunctions.packBlock(index.centroids)), lit(nprobe))).as("list_id"))
    val scored = index.assigned.join(probes, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorFunctions.cosine("query_vec", "corpus_vec"))
    val floored = minCosine.fold(scored)(f => scored.filter(col("cosine") >= f))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    floored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rk").cast("int").as("rk"))
  }

  private def resultSet(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("block ivfSearch matches the flat-join formulation exactly (with and without floor)") {
    // replicateIndexBytes=0 pins the per-query BLOCK-JOIN orientation (a
    // spec corpus is tiny, so the replicated orientation would otherwise
    // swallow the path this test exists to pin)
    val index = Similarity.ivfBuild(emb, numCentroids = 6, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 30)
    spark.conf.set("spark.graft.ann.replicateIndexBytes", "0")
    try {
      for (floor <- Seq(None, Some(0.2))) {
        val block = resultSet(Similarity.ivfSearch(index, queries, k = 5,
          nprobe = 3, minCosine = floor))
        val flat = resultSet(flatIvfSearch(index, queries, k = 5,
          nprobe = 3, minCosine = floor))
        assert(block.nonEmpty && block == flat, s"floor=$floor")
      }
    } finally spark.conf.unset("spark.graft.ann.replicateIndexBytes")
  }

  test("replicated orientation matches the flat join exactly, including tie ranks") {
    // duplicate vectors under distinct ids force EXACT cosine ties — the
    // local top-k's (cosine desc, id asc) total order must place them in
    // the same ranks as the flat join's window (the id tie-break is
    // explicit in replicatedTopK because chunks arrive in arbitrary list
    // order)
    val base = emb.select(col("vec_id"), col("embedding"))
    val twins = base.limit(40).select((col("vec_id") + 10000L).as("vec_id"),
      col("embedding"))
    val corpus = base.unionByName(twins)
    val index = Similarity.ivfBuild(corpus, numCentroids = 6, trainIters = 1)
    val queries = corpus.filter(col("vec_id") < 30)
    for (floor <- Seq(None, Some(0.2))) {
      val rep = resultSet(Similarity.ivfSearch(index, queries, k = 5,
        nprobe = 3, minCosine = floor)) // tiny corpus ⇒ replicated fires
      val flat = resultSet(flatIvfSearch(index, queries, k = 5,
        nprobe = 3, minCosine = floor))
      assert(rep.nonEmpty && rep == flat, s"floor=$floor")
    }
  }

  test("cross-block orientation matches the flat join exactly (copy gate forced)") {
    // spark.graft.ann.probeCopyBytes=1 forces the cross-block branch (the
    // at-scale orientation) on the spec corpus; results must equal the
    // flat formulation bit-for-bit, floor or not
    val index = Similarity.ivfBuild(emb, numCentroids = 6, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 30)
    spark.conf.set("spark.graft.ann.probeCopyBytes", "1")
    spark.conf.set("spark.graft.ann.replicateIndexBytes", "0")
    try {
      for (floor <- Seq(None, Some(0.2))) {
        val cross = resultSet(Similarity.ivfSearch(index, queries, k = 5,
          nprobe = 3, minCosine = floor))
        val flat = resultSet(flatIvfSearch(index, queries, k = 5,
          nprobe = 3, minCosine = floor))
        assert(cross.nonEmpty && cross == flat, s"floor=$floor")
      }
      // salted query packs must not change results either
      val salted = resultSet(Similarity.ivfSearch(index, queries, k = 5,
        nprobe = 3, blockRows = 2))
      val flat = resultSet(flatIvfSearch(index, queries, k = 5, nprobe = 3,
        minCosine = None))
      assert(salted == flat, "blockRows=2 (many salts/chunks) must not change results")
    } finally {
      spark.conf.unset("spark.graft.ann.probeCopyBytes")
      spark.conf.unset("spark.graft.ann.replicateIndexBytes")
    }
  }

  test("chunking never changes the result: blockRows 3 vs unbounded") {
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 20)
    // once on the distributed block-join path, once replicated — chunk
    // geometry must be invisible on both
    for (rep <- Seq("0", null)) {
      if (rep == null) spark.conf.unset("spark.graft.ann.replicateIndexBytes")
      else spark.conf.set("spark.graft.ann.replicateIndexBytes", rep)
      try {
        val tiny = resultSet(Similarity.ivfSearch(index, queries, k = 4,
          nprobe = 2, blockRows = 3))
        val big = resultSet(Similarity.ivfSearch(index, queries, k = 4,
          nprobe = 2, blockRows = 1 << 20))
        assert(tiny.nonEmpty && tiny == big, s"replicateIndexBytes=$rep")
      } finally spark.conf.unset("spark.graft.ann.replicateIndexBytes")
    }
  }

  test("packLists (pack_vec_blocks form) is bit-identical to the window+groupBy form") {
    // r18 swapped the row_number-window + per-(list, chunk) groupBy pack
    // for one groupBy(list_id) + the in-kernel sort-and-slice expression.
    // Every (list_id, chunk, block) row — blob BYTES included — must be
    // identical: probe kernels and packed artifacts both consume this
    // layout.
    VectorFunctions.register(spark)
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    for (blockRows <- Seq(3, 7, 1 << 20)) {
      val oldForm = index.assigned
        .withColumn("chunk",
          ((row_number().over(Window.partitionBy(col("list_id"))
            .orderBy(col("neighbor_id"))) - lit(1)) / lit(blockRows)).cast("int"))
        .groupBy(col("list_id"), col("chunk"))
        .agg(call_function("pack_vec_block",
          collect_list(struct(col("neighbor_id"), col("corpus_vec")))).as("block"))
        .select(col("list_id"), col("chunk"), col("block"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Array[Byte]](2)).toMap
      val newForm = Similarity.packLists(index.assigned, blockRows,
          nLists = 4, rowBytes = 8L * 4L + 24L)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Array[Byte]](2)).toMap
      assert(newForm.keySet == oldForm.keySet,
        s"blockRows=$blockRows: chunk keys diverged")
      newForm.foreach { case (k, blob) =>
        assert(java.util.Arrays.equals(blob, oldForm(k)),
          s"blockRows=$blockRows: blob bytes diverged at $k")
      }
      assert(newForm.nonEmpty)
      // r19 (ADVICE): past the per-list byte budget packLists falls back
      // to the window + per-chunk form (bounded, spillable groups) — the
      // fallback must emit the identical layout. Force it with a 1-byte
      // budget and compare against the single-group result.
      spark.conf.set("spark.graft.ann.packGroupMaxBytes", "1")
      try {
        val bounded = Similarity.packLists(index.assigned, blockRows,
            nLists = 4, rowBytes = 8L * 4L + 24L)
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Array[Byte]](2)).toMap
        assert(bounded.keySet == newForm.keySet,
          s"blockRows=$blockRows: bounded-fallback chunk keys diverged")
        bounded.foreach { case (k, blob) =>
          assert(java.util.Arrays.equals(blob, newForm(k)),
            s"blockRows=$blockRows: bounded-fallback blob bytes diverged at $k")
        }
      } finally spark.conf.unset("spark.graft.ann.packGroupMaxBytes")
    }
  }

  test("pack_vec_block is order-insensitive and ids ascend in the blob") {
    val a = Seq((5L, Array(1f, 0f)), (1L, Array(0f, 1f)), (3L, Array(1f, 1f)))
    val fwd = a.toDF("id", "vec")
      .agg(packCol(collect_list(struct(col("id"), col("vec")))).as("b"))
      .head.getAs[Array[Byte]](0)
    val rev = a.reverse.toDF("id", "vec")
      .agg(packCol(collect_list(struct(col("id"), col("vec")))).as("b"))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(fwd, rev))
    val buf = java.nio.ByteBuffer.wrap(fwd)
    assert(buf.getInt(0) == 3 && buf.getInt(4) == 2)
    assert(Seq(buf.getLong(8), buf.getLong(16), buf.getLong(24)) == Seq(1L, 3L, 5L))
  }

  test("blockTopK kernel: self-exclusion, floor, ties to lowest id, k > n") {
    // two identical vectors (ids 7, 9) and one orthogonal (id 2)
    val blob = Seq((9L, Array(1f, 0f)), (7L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("id", "vec")
      .agg(packCol(collect_list(struct(col("id"), col("vec")))).as("b"))
      .head.getAs[Array[Byte]](0)
    def run(qid: Long, q: Array[Float], k: Int, floor: Double) = {
      val arr = VectorFunctions.blockTopK(qid, q, blob, k, floor)
      (0 until arr.numElements()).map { i =>
        val e = arr.getStruct(i, 2); (e.getLong(0), e.getDouble(1))
      }
    }
    // equal scores tie to the lower id; self (9) excluded
    val r = run(9L, Array(1f, 0f), 3, Double.NegativeInfinity)
    assert(r.map(_._1) == Seq(7L, 2L))
    assert(r.head._2 == 1.0 && r(1)._2 == 0.0)
    // floor drops the orthogonal vector
    assert(run(9L, Array(1f, 0f), 3, 0.5).map(_._1) == Seq(7L))
    // k > survivors returns all survivors; k = 1 keeps the lowest id of a tie
    assert(run(100L, Array(1f, 0f), 1, Double.NegativeInfinity).map(_._1) == Seq(7L))
    // empty blob → empty result
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
      .agg(packCol(collect_list(struct(col("id"), col("vec")))).as("b"))
      .head.getAs[Array[Byte]](0)
    assert(VectorFunctions.blockTopK(1L, Array(1f), empty, 3, 0.0).numElements() == 0)
  }

  test("ivf_block_topk is codegen'd, not a fallback (CODEGEN_ONLY pin)") {
    VectorFunctions.register(spark)
    val blob = emb.limit(10)
      .agg(packCol(collect_list(struct(col("vec_id"), col("embedding")))).as("b"))
      .head.getAs[Array[Byte]](0)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val rows = emb.limit(5).select(
        call_function("ivf_block_topk", col("vec_id"), col("embedding"),
          lit(blob), lit(3), lit(0.0)).as("top")).collect()
      assert(rows.nonEmpty && rows.forall(_.getSeq[Any](0).length <= 3))
      // the DEFAULT no-floor path passes Double.NegativeInfinity, whose
      // toString is not a valid Java literal — this is exactly the shape
      // that used to fail Janino and silently fall back to interpreted
      // eval; under CODEGEN_ONLY a regression throws here
      val noFloor = emb.limit(5).select(
        call_function("ivf_block_topk", col("vec_id"), col("embedding"),
          lit(blob), lit(3), lit(Double.NegativeInfinity)).as("top")).collect()
      assert(noFloor.nonEmpty && noFloor.forall(_.getSeq[Any](0).length <= 3))
      // NaN floor bits must also survive the literal round-trip (floor
      // comparisons with NaN drop everything — semantics aside, codegen
      // must compile)
      val nanFloor = emb.limit(2).select(
        call_function("ivf_block_topk", col("vec_id"), col("embedding"),
          lit(blob), lit(3), lit(Double.NaN)).as("top")).collect()
      assert(nanFloor.length == 2)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("block_cross_topk equals per-query ivf_block_topk and is codegen'd (CODEGEN_ONLY pin)") {
    VectorFunctions.register(spark)
    import org.apache.spark.sql.functions.expr
    val some = emb.limit(12)
    val cblob = some
      .agg(packCol(collect_list(struct(col("vec_id"), col("embedding")))).as("b"))
      .head.getAs[Array[Byte]](0)
    val queries = emb.limit(5)
    val qblob = queries
      .agg(packCol(collect_list(struct(col("vec_id"), col("embedding")))).as("b"))
      .head.getAs[Array[Byte]](0)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      // no-floor path: NegativeInfinity bits must survive codegen (the
      // IvfBlockTopK Janino lesson applies to this expression too)
      val cross = spark.range(1).select(
          explode(call_function("block_cross_topk", lit(qblob), lit(cblob),
            lit(3), lit(Double.NegativeInfinity))).as("e"))
        .select(col("e.query_id"), col("e.neighbor_id"), col("e.cosine"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val perQuery = queries.select(
          col("vec_id").as("query_id"),
          call_function("ivf_block_topk", col("vec_id"), col("embedding"),
            lit(cblob), lit(3), lit(Double.NegativeInfinity)).as("top"))
        .select(col("query_id"), explode(col("top")).as("e"))
        .select(col("query_id"), col("e.neighbor_id"), col("e.cosine"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(cross.sortBy(t => (t._1, t._2)).toSeq ==
        perQuery.sortBy(t => (t._1, t._2)).toSeq,
        "cross-block kernel must reproduce the per-query kernel exactly")
      assert(cross.nonEmpty)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("generative: cross kernel == per-query kernel over random blocks (dims, k, floor, zero vectors)") {
    // Raw ScalaCheck driven from ScalaTest (TypeDetectorPropertySpec
    // idiom): random query/corpus blocks — including zero vectors, exact
    // ties (the same vector under different ids, the first query's
    // vector among them), k larger than the block, and floors that kill
    // everything — must give identical (query, neighbor, cosine) sets
    // from blockCrossTopK and per-query blockTopK, and the identical
    // RANKED list from replicatedTopK fed the corpus as several blocks in
    // reverse id order (so its id tie-break cannot come from scan order).
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val vecGen = (dim: Int) => Gen.oneOf(
      Gen.listOfN(dim, Gen.chooseNum(-3f, 3f)).map(_.toArray),
      Gen.const(Array.fill(dim)(0f)))
    val caseGen = for {
      dim <- Gen.chooseNum(1, 8)
      nq <- Gen.chooseNum(1, 12)
      nc <- Gen.chooseNum(1, 16)
      qvs <- Gen.listOfN(nq, vecGen(dim))
      cvs <- Gen.listOfN(nc, vecGen(dim))
      dup <- Gen.oneOf(true, false) // force score ties via duplicate vectors
      k <- Gen.chooseNum(1, 20)
      floor <- Gen.oneOf(Double.NegativeInfinity, -0.5, 0.0, 0.5, 2.0)
      parts <- Gen.chooseNum(1, 4)
    } yield (dim, qvs.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      (if (dup) cvs.head :: cvs ++ List(qvs.head, qvs.head, cvs.head)
       else cvs).zipWithIndex.map { case (v, i) => (100L + i, v) },
      k, floor, parts)
    def pack(rows: Seq[(Long, Array[Float])]): Array[Byte] = {
      import spark.implicits._
      rows.toDF("id", "vec")
        .agg(packCol(collect_list(struct(col("id"), col("vec")))).as("b"))
        .head.getAs[Array[Byte]](0)
    }
    val prop = Prop.forAll(caseGen) { case (_, qrows, crows, k, floor, parts) =>
      val qblob = pack(qrows)
      val cblob = pack(crows)
      val cross = {
        val arr = VectorFunctions.blockCrossTopK(qblob, cblob, k, floor)
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 3)
          (r.getLong(0), r.getLong(1), r.getDouble(2))
        }.toSet
      }
      val perQuery = qrows.map { case (qid, qv) =>
        val arr = VectorFunctions.blockTopK(qid, qv, cblob, k, floor)
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          (qid, r.getLong(0), r.getDouble(1))
        }
      }
      val blocks = crows.grouped((crows.length + parts - 1) / parts).toSeq.reverse
        .map(b => VectorFunctions.decodeBlock(VectorFunctions.packBlock(b)))
      val replicated = qrows.map { case (qid, qv) =>
        val (ids, scores, size) =
          VectorFunctions.replicatedTopK(qid, qv, blocks.iterator, k, floor)
        (0 until size).map(i => (qid, ids(i), scores(i)))
      }
      cross == perQuery.flatten.toSet && replicated == perQuery
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, s"cross/replicated/per-query kernel divergence: $res")
  }

  test("scores are bit-identical to cosine_sim (no arithmetic drift in the kernel)") {
    VectorFunctions.register(spark)
    val blob = emb.limit(50)
      .agg(packCol(collect_list(struct(col("vec_id"), col("embedding")))).as("b"))
      .head.getAs[Array[Byte]](0)
    val kernel = emb.limit(20).select(col("vec_id"),
        explode(call_function("ivf_block_topk", col("vec_id"), col("embedding"),
          lit(blob), lit(50), lit(-2.0))).as("e"))
      .select(col("vec_id").as("qid"), col("e.neighbor_id").as("nid"),
        col("e.cosine").as("kc"))
    val corpus = emb.limit(50).select(col("vec_id").as("nid"),
      col("embedding").as("nvec"))
    val diff = kernel.join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
      .join(corpus, "nid")
      .withColumn("ref", VectorFunctions.cosine("qvec", "nvec"))
      .filter(col("kc") =!= col("ref"))
      .count()
    assert(diff == 0)
  }

  test("ragged query batch fails with the same clear message in BOTH orientations") {
    // before the up-front dim check, the accepted input domain depended on
    // which side of the copy-bytes gate (a stats ESTIMATE) the job landed:
    // per-query scored ragged queries via min-length cosine, cross-block
    // threw from inside pack_vec_block
    val index = Similarity.ivfBuild(emb, numCentroids = 4, trainIters = 1)
    val ragged = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        when(col("vec_id") === 3L, slice(col("embedding"), 1, 5))
          .otherwise(col("embedding")).as("embedding"))
    for (gate <- Seq(None, Some("1"))) { // None → per-query; "1" → cross-block
      gate.foreach(spark.conf.set("spark.graft.ann.probeCopyBytes", _))
      try {
        val e = intercept[Exception] {
          Similarity.ivfSearch(index, ragged, k = 3, nprobe = 2).collect()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("!= index dim")),
          s"gate=$gate: expected the ivfSearch dim-check message, got $e")
      } finally spark.conf.unset("spark.graft.ann.probeCopyBytes")
    }
  }

  test("stats-sentinel query plans land CROSS-BLOCK (gate arithmetic cannot wrap)") {
    // an RDD-backed plan has no stats: sizeInBytes is the defaultSizeInBytes
    // sentinel (~Long.MaxValue), so the old Long arithmetic wrapped
    // estProbeRows × estListRows × vecWidth to an arbitrary-sign value and
    // could silently pick the per-query (copy-amplified) orientation at
    // exactly the largest scales. BigInt math must land on the cross-block
    // side, with results identical to the flat oracle.
    val index = Similarity.ivfBuild(emb, numCentroids = 6, trainIters = 1)
    val q = emb.filter(col("vec_id") < 30)
    val sentinel = spark.createDataFrame(q.rdd, q.schema)
    assert(sentinel.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
      "precondition: the RDD-backed plan must have no row-count stats")
    // replication is gated on the CORPUS estimate (real stats here, so it
    // would fire and hide the copy gate this test pins) — disable it
    spark.conf.set("spark.graft.ann.replicateIndexBytes", "0")
    try {
      val res = Similarity.ivfSearch(index, sentinel, k = 5, nprobe = 3)
      assert(res.queryExecution.executedPlan.toString.contains("block_cross_topk"),
        "sentinel-stats plan must choose the cross-block orientation")
      assert(resultSet(res) == resultSet(flatIvfSearch(index, q, k = 5,
        nprobe = 3, minCosine = None)))
    } finally spark.conf.unset("spark.graft.ann.replicateIndexBytes")
  }

  test("cross-block pack exchange width scales with the probe stream bytes") {
    // per-task collect_list buffer ≈ streamBytes / width, so the width
    // must grow past the fan-out once the stream outgrows fanout·target
    // (the 1M-doc OOM: ~73 GB stream at a fixed 128-way fan-out spilled
    // ~570 MB buffers per task and OOM'd a 64 GiB heap mid-serialize)
    val target = 64L << 20
    // small stream: the fan-out floor holds (bench plans unchanged)
    assert(Similarity.crossPackWidth(BigInt(1) << 30, target, 128) == 128)
    // the sf20 shape: ~73 GB / 64 MB ⇒ ~1169 partitions (≤64 MB each)
    val w = Similarity.crossPackWidth(BigInt(73L << 30), target, 128)
    assert(w > 1000 && w < 1300, s"expected ~1169, got $w")
    assert(BigInt(73L << 30) / w <= target, "per-task bytes must be bounded")
    // a sentinel/nonsense estimate cannot explode the width
    assert(Similarity.crossPackWidth(BigInt(Long.MaxValue) * 1000, target, 128) == 65536)
    // degenerate target cannot divide by zero
    assert(Similarity.crossPackWidth(BigInt(1) << 30, 0L, 16) >= 16)
  }

  test("every ivfSearch regime returns the flat join's rows and logs the gates it took") {
    val index = Similarity.ivfBuild(emb, numCentroids = 6, trainIters = 1)
    val queries = emb.filter(col("vec_id") < 30)
    val n = emb.count()
    val rep = "spark.graft.ann.replicateIndexBytes"
    val bq = Similarity.DefaultMaxBroadcastQueries
    val float = "gate ivfSearch replicate float: "
    val int8 = "gate ivfSearch replicate int8: "
    val probe = "gate ivfSearch probe: "
    // (regime, confs, maxBroadcastQueries, nprobe, the graft.gate lines
    // it logs, each up to its estimate)
    val regimes = Seq(
      ("replicated float", Seq(rep -> Long.MaxValue.toString), bq, 3,
        Seq(float + "replicated regime (estimate ")),
      ("per-query", Seq(rep -> "0"), bq, 3,
        Seq(float + "declined regime (estimate not run",
          int8 + "distributed regime (estimate not run",
          probe + "per-query regime (estimate ")),
      ("cross-block", Seq(rep -> "0", "spark.graft.ann.probeCopyBytes" -> "0"), bq, 3,
        Seq(float + "declined regime (estimate not run",
          int8 + "distributed regime (estimate not run",
          probe + "cross-block regime (estimate not run")),
      ("no-broadcast", Nil, 0L, 3, Seq(probe + "per-query regime (estimate ")),
      ("replicated int8", Seq(rep -> int8OnlyBudget(index).toString,
        "spark.graft.ann.rerankFactor" -> n.toString), bq, 6,
        Seq(float + "declined regime (estimate ", int8 + "replicated regime (estimate ")))
    for ((regime, confs, maxBq, nprobe, gates) <- regimes; floor <- Seq(None, Some(0.2))) {
      val (got, logs) = withConf(confs: _*) {
        graft.LogCapture("graft.gate") {
          resultSet(Similarity.ivfSearch(index, queries, k = 5, nprobe = nprobe,
            maxBroadcastQueries = maxBq, minCosine = floor))
        }
      }
      val flat = resultSet(flatIvfSearch(index, queries, k = 5, nprobe = nprobe,
        minCosine = floor))
      assert(got.nonEmpty && got == flat, s"$regime, floor=$floor")
      assert(logs.size == gates.size && logs.zip(gates).forall { case (l, g) => l.startsWith(g) },
        s"$regime, floor=$floor: expected gate lines $gates, got $logs")
    }
  }
}
