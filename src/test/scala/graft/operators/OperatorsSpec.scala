package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the wide river bank today"), // near-dup of 0
    (3L, "completely different content about spark query engines and distributed joins"),
    (4L, "another unrelated document discussing columnar storage formats and parquet"))
    .toDF("doc_id", "text")

  test("exactCanonical keeps min id per duplicate text group") {
    val out = Dedup.exactCanonical(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    assert(out.head.getLong(0) == 0L && out.head.getLong(1) == 2L) // ids 0,1 merged
    assert(out.map(_.getLong(1)).sum == 5)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 16, bands = 8) // loose bands: recall-oriented for tiny fixture
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))            // exact dup always caught
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    assert(keys.contains((0L, 2L)) || keys.contains((1L, 2L))) // near-dup caught
    assert(!keys.contains((3L, 4L)))           // unrelated not paired
  }

  test("dedup operators leave no cached RDDs behind (staged, not persisted)") {
    Dedup.minhashCandidatePairs(docs, "doc_id", "text").count()
    Dedup.simhashNearDups(docs, "doc_id", "text").count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("shuffle verify is invisible in results: grid == join-form == broadcast") {
    // past the broadcast gate the minhash verify is cost-chosen between
    // the grid co-group (arrays fragment-replicated, candidates thin) and
    // the join-form shuffle-hash attach (arrays once per candidate). Both
    // must return the broadcast-join verify's rows bit-for-bit,
    // thresholded or not — degreeFactor 0 / huge force each side of the
    // crossover.
    val corpus = graft.Tables(spark, sf0001, "documents")
    def runSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val broadcastAll = runSet(Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      numHashes = 16, bands = 8))
    val broadcastThr = runSet(Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      numHashes = 16, bands = 8, minJaccard = 0.5))
    assert(broadcastAll.nonEmpty && broadcastThr.nonEmpty)
    spark.conf.set("spark.graft.broadcastBytes", "1")
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((factor, label) <- Seq("0" -> "grid", "1000000000" -> "join-form")) {
        spark.conf.set("spark.graft.gridVerify.degreeFactor", factor)
        val all = runSet(Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
          numHashes = 16, bands = 8))
        val thr = runSet(Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
          numHashes = 16, bands = 8, minJaccard = 0.5))
        assert(all == broadcastAll,
          s"$label diverged: ${all.size} vs ${broadcastAll.size} pairs")
        assert(thr == broadcastThr, s"$label diverged on the thresholded set")
      }
    } finally {
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.gridVerify.degreeFactor")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("null-text docs are excluded from every verify route (route-invariant)") {
    // a null-text doc has a null shingle set. Before r15 it was filtered
    // AT THE VERIFY: the broadcast/join-form inner joins key on id (the
    // null-sh row exists in the shingle table, so its pairs surfaced with
    // a null jaccard) while the grid co-group keyed on the arrays and
    // dropped them — the unthresholded result depended on which physical
    // route the cost model picked. Now null-sh docs are filtered before
    // banding: no route ever sees them.
    // TWO null docs: null signatures band identically, so pre-fix they
    // became candidates of each other — surfacing with a null jaccard on
    // the join routes and dropped by the grid
    val withNull = docs.unionByName(
      Seq((9L, null: String), (10L, null: String)).toDF("doc_id", "text"))
    def runSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    val broadcastAll = runSet(Dedup.minhashCandidatePairs(withNull, "doc_id", "text",
      numHashes = 16, bands = 8))
    assert(broadcastAll.nonEmpty)
    assert(!broadcastAll.exists(p => p._1 >= 9L || p._2 >= 9L),
      "a null-text doc must never be a candidate")
    assert(!broadcastAll.exists(_._3 == null), "no null jaccard rows")
    spark.conf.set("spark.graft.broadcastBytes", "1")
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((factor, label) <- Seq("0" -> "grid", "1000000000" -> "join-form")) {
        spark.conf.set("spark.graft.gridVerify.degreeFactor", factor)
        val got = runSet(Dedup.minhashCandidatePairs(withNull, "doc_id", "text",
          numHashes = 16, bands = 8))
        assert(got == broadcastAll, s"$label diverged on the null-text corpus")
      }
    } finally {
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.gridVerify.degreeFactor")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("grid verify accepts non-long ids (string-id corpus, all routes agree)") {
    val sdocs = docs.select(concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    def runSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val broadcastAll = runSet(Dedup.minhashCandidatePairs(sdocs, "doc_id", "text",
      numHashes = 16, bands = 8))
    assert(broadcastAll.nonEmpty)
    spark.conf.set("spark.graft.broadcastBytes", "1")
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    spark.conf.set("spark.graft.gridVerify.degreeFactor", "0") // force the grid
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = runSet(Dedup.minhashCandidatePairs(sdocs, "doc_id", "text",
        numHashes = 16, bands = 8))
      assert(got == broadcastAll, "grid diverged on a string-id corpus")
    } finally {
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.gridVerify.degreeFactor")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("grid fragment count is Long-safe, capped, and past the cap the verify falls back") {
    // uncapped P grows linearly with array bytes: 1 TB of arrays at a
    // 128 MiB cell is P ≈ 16k — past the Int-safe p*p range and far past
    // any sane exchange width. gridFragments must cap it.
    val tb = 1L << 40
    val pUncapped = Dedup.gridFragmentsUncapped(spark, tb)
    assert(pUncapped > 512, s"expected huge uncapped P, got $pUncapped")
    assert(Dedup.gridFragments(spark, tb) == 512) // default cap
    spark.conf.set("spark.graft.gridVerify.maxFragments", "16")
    try assert(Dedup.gridFragments(spark, tb) == 16)
    finally spark.conf.unset("spark.graft.gridVerify.maxFragments")
    intercept[IllegalArgumentException] {
      spark.conf.set("spark.graft.gridVerify.maxFragments", "100000")
      try graft.GraftConf.gridVerifyMaxFragments(spark)
      finally spark.conf.unset("spark.graft.gridVerify.maxFragments")
    }
    // end-to-end: shrink the cell budget so the uncapped P exceeds the
    // cap even on the toy corpus — degreeFactor 0 would force the grid,
    // but the cap fallback must route to the join-form and still return
    // the broadcast verify's rows
    def runSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val broadcastAll = runSet(Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 8))
    spark.conf.set("spark.graft.broadcastBytes", "1")
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    spark.conf.set("spark.graft.gridVerify.degreeFactor", "0")
    spark.conf.set("spark.graft.gridVerify.cellBytes", "1")
    spark.conf.set("spark.graft.gridVerify.maxFragments", "8")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // pin the DECISION LOG too: the cap fallback must say why it
      // skipped the grid (the greppability rule), not just do it
      val (got, logs) = graft.LogCapture("graft.operators.Dedup") {
        runSet(Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8))
      }
      assert(got == broadcastAll, "cap fallback diverged")
      assert(logs.exists(m => m.contains("JOIN-form regime") &&
        m.contains("> cap")),
        s"cap-fallback decision did not log; captured: ${logs.mkString(" | ")}")
    } finally {
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.gridVerify.degreeFactor")
      spark.conf.unset("spark.graft.gridVerify.cellBytes")
      spark.conf.unset("spark.graft.gridVerify.maxFragments")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("mergeJaccard is bit-identical to jaccard_sorted (generative)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val genSet = Gen.chooseNum(0, 50)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-30L, 30L)))
      .map(_.distinct.sorted.toArray)
    val prop = Prop.forAll(genSet, genSet) { (a, b) =>
      val jaccard = graft.functions.NativeTextExpressions.SortedLongJaccard(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)))
      val evaluated = jaccard.eval(null).asInstanceOf[Double]
      val generated = org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
        .generate(Seq(jaccard)).apply(org.apache.spark.sql.catalyst.InternalRow.empty).getDouble(0)
      // bit-identical, not approximately equal: the grid verify replaces
      // the codegen'd expression row-for-row
      val grid = graft.functions.NativeTextExpressions.jaccardSorted(
        Dedup.cellSet(a), Dedup.cellSet(b))
      Seq(evaluated, generated).forall(v =>
        java.lang.Double.doubleToRawLongBits(grid) == java.lang.Double.doubleToRawLongBits(v))
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"mergeJaccard diverged from jaccard_sorted: $res")
  }

  test("simhash: identical docs distance 0, near-dups close, unrelated far") {
    val sh = docs.select($"doc_id", expr("simhash64_native(text)").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) == 0)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("suppressNearDups drops exact and near matches of the reference, keeps novel") {
    // long docs so a 1-token change flips ≤3 simhash bits — inside the
    // pigeonhole guarantee (hamming ≤ 3 ⟹ at least one 16-bit chunk equal)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(3)
    val base = Seq.fill(120)(words(rnd.nextInt(words.size)))
    val reference = Seq((0L, base.mkString(" "))).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base.mkString(" ")),                               // exact dup
      (11L, base.updated(60, "omega").mkString(" ")),          // near-dup (hamming 1)
      (12L, Seq.fill(120)("unrelated").mkString(" ")))         // novel
      .toDF("doc_id", "text")
    val kept = Dedup.suppressNearDups(incoming, reference, "text", "text", maxHamming = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L), s"kept $kept")
  }

  test("suppressNearDups scans the reference corpus exactly once (staged)") {
    // the four per-chunk anti-joins must read the STAGED chunk table, not
    // re-derive it — count reference-row evaluations via an accumulator
    val acc = spark.sparkContext.longAccumulator("refRowsRead")
    val tick = udf((s: String) => { acc.add(1L); s })
    val reference = Seq((0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1L, "completely different content about spark query engines and distributed joins"))
      .toDF("doc_id", "raw")
      .withColumn("text", tick(col("raw")))
    val incoming = Seq((10L, "a totally novel sentence about columnar execution and vectorized reads"))
      .toDF("doc_id", "text")
    acc.reset()
    Dedup.suppressNearDups(incoming, reference, "text", "text").count()
    assert(acc.value == 2L, s"reference scanned ${acc.value / 2.0} times, expected 1")
  }

  test("suppressNearDups drops exactly the incoming docs simhashNearDups pairs with the reference") {
    // both operators bucket on the same SimHash chunks and are exact at
    // maxHamming <= 3, so any disagreement is a chunking bug
    val real = graft.Tables(spark, sf0001, "documents").select("doc_id", "text")
    val reference = real.filter(col("doc_id") % 2 === 0)
    val offset = real.agg(max(col("doc_id"))).head.getLong(0) + 1
    val copies = reference.orderBy("doc_id").limit(3)
      .select((col("doc_id") + offset).as("doc_id"), col("text"))
    val incoming = real.filter(col("doc_id") % 2 =!= 0).unionByName(copies)
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("doc_id").as[Long].collect().toSet
    val (inIds, refIds, copyIds) = (ids(incoming), ids(reference), ids(copies))
    val kept = ids(Dedup.suppressNearDups(incoming, reference, "text", "text", maxHamming = 3))
    val paired = Dedup.simhashNearDups(incoming.unionByName(reference), "doc_id", "text",
        maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .collect { case (i, r) if inIds(i) && refIds(r) => i }.toSet
    assert(copyIds.size == 3 && copyIds.subsetOf(paired), s"copies $copyIds not paired")
    assert(kept == inIds -- paired,
      s"suppression kept ${(kept -- (inIds -- paired)).take(5)} paired and dropped " +
        s"${((inIds -- paired) -- kept).take(5)} unpaired")
  }

  test("gram-join width pin is invisible in results and logs its decision") {
    // the widened plan replaces the join-stage partial agg with a single
    // complete aggregation above an explicit exchange — results must be
    // identical (count and first-over-a-per-id-constant are partitioning-
    // independent), and the pin must say so in the log
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val real = graft.Tables(spark, sf0001, "documents")
    val default = rows(Dedup.ngramJaccardAllPairs(real, "doc_id", "text"))
    // a budget that widens a few-x past the 4-partition test default
    // (budget 1 would request the 65536 cap — a scheduling stall, not a test)
    val est = real.queryExecution.optimizedPlan.stats.sizeInBytes
    spark.conf.set("spark.graft.ngram.joinPartitionBytes", (est / 16).max(1).toString)
    try {
      val (widened, logs) = graft.LogCapture("graft.operators.Dedup") {
        rows(Dedup.ngramJaccardAllPairs(real, "doc_id", "text"))
      }
      assert(widened == default, "width pin changed the pair set")
      assert(logs.exists(_.contains("gram exchange widened")),
        s"width decision did not log; captured: ${logs.take(3).mkString(" | ")}")
    } finally spark.conf.unset("spark.graft.ngram.joinPartitionBytes")
    // containment: same invariance
    val cd = Dedup.ngramContainmentPairs(real, "doc_id", "text").count()
    spark.conf.set("spark.graft.ngram.joinPartitionBytes", (est / 16).max(1).toString)
    try assert(Dedup.ngramContainmentPairs(real, "doc_id", "text").count() == cd)
    finally spark.conf.unset("spark.graft.ngram.joinPartitionBytes")
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(0.7f, 0.7f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 3)
      .collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 4L, 2L)) // by descending cosine
    assert(out.forall(_.getLong(0) == 0L))
    assert(math.abs(out.head.getDouble(2) - 0.9939) < 1e-3)
  }

  test("native cosine_sim expression agrees with the HOF composition") {
    val paired = vecs.as("a").crossJoin(vecs.as("b"))
      .select(
        VectorFunctions.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"),
        expr("cosine_sim(a.embedding, b.embedding)").as("native"))
    val diffs = paired.select(max(abs($"hof" - $"native"))).first().getDouble(0)
    assert(diffs < 1e-12)
  }

  test("cosine_sim works from spark.sql after registration") {
    vecs.createOrReplaceTempView("v_test")
    val r = spark.sql(
      "SELECT cosine_sim(a.embedding, b.embedding) c FROM v_test a JOIN v_test b ON a.vec_id=0 AND b.vec_id=3")
      .first().getDouble(0)
    assert(math.abs(r - (-1.0)) < 1e-12)
  }

  test("lshTopK returns plausible neighbors (bucketed, self excluded)") {
    val out = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 0), k = 2,
      numTables = 4, bitsPerTable = 1).collect()
    assert(out.forall(r => r.getLong(1) != 0L))
    assert(out.nonEmpty)
  }

  test("saltedJoin matches plain join results") {
    val large = (1 to 1000).map(i => (i % 3, i)).toDF("k", "v")
    val small = Seq((0, "x"), (1, "y"), (2, "z")).toDF("k", "name")
    val salted = Skew.saltedJoin(large, small, "k").orderBy("v")
      .select("k", "v", "name").collect()
    val plain = large.join(small, "k").orderBy("v")
      .select("k", "v", "name").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("ivfTopK finds the exact nearest neighbor when its list is probed") {
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0), k = 3,
      numCentroids = 2, nprobe = 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(1) != 0L))
    // with nprobe = numCentroids the search is exhaustive → same top-1 as brute force
    assert(out.head.getLong(1) == 1L)
  }

  // ---- recall gates: the approximate operators measured against exact ----

  /** 400 random 16-dim vectors + 40 planted near-duplicates (tiny gaussian
    * perturbations of the first 40) — deterministic, so the recall numbers
    * below are exact reproducible values, not flaky samples.
    */
  private lazy val plantedCorpus = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val planted = (0 until 40).map { j =>
      (1000L + j, base(j)._2.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    (base ++ planted).toDF("vec_id", "embedding")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cosineNearDupPairs recall >= 0.9 vs exact all-pairs, precision 1.0") {
    val exact = pairSet(Similarity.exactCosinePairs(plantedCorpus, 0.95))
    assert(exact.size >= 40) // the planted pairs are all above 0.95
    val approx = pairSet(Similarity.cosineNearDupPairs(plantedCorpus, 0.95))
    assert(approx.subsetOf(exact), "verify step must make precision exact")
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("cosineNearDupPairs IVF route (forced): recall >= 0.9, precision 1.0, no banding") {
    // routeCandidates=0 forces the route the collision gate picks at scale
    // (the sf5 shape: 5B raw band collisions). The routed contract is the
    // symmetric top-k neighbor graph above the threshold; on this corpus
    // every planted pair is its endpoints' top neighbor, so the same 0.9
    // recall gate applies — and precision must stay exact (the kernel
    // scores true vectors with the exact cosine).
    val exact = pairSet(Similarity.exactCosinePairs(plantedCorpus, 0.95))
    spark.conf.set("spark.graft.srp.routeCandidates", "0")
    try {
      val routed = Similarity.cosineNearDupPairs(plantedCorpus, 0.95)
      val plan = routed.queryExecution.executedPlan.toString
      assert(!plan.contains("srp_buckets"),
        s"routed plan must not band:\n$plan")
      assert(plan.contains("nearest_centroids"),
        s"routed plan must probe the IVF index:\n$plan")
      val approx = pairSet(routed)
      assert(approx.subsetOf(exact), "routed precision must be exact")
      val recall = approx.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"routed recall $recall")
      // schema contract identical to the banded route
      assert(routed.columns.toSeq == Seq("id_a", "id_b", "cosine"))
    } finally spark.conf.unset("spark.graft.srp.routeCandidates")
  }

  test("k-means keeps its centroid count when a cluster empties") {
    // two far-apart tight clusters but FOUR centroids: some must empty out;
    // training must not shrink k below the requested count
    val pts = ((0 until 20).map(i => (i.toLong, Array(1f, 0f, 0f))) ++
      (20 until 40).map(i => (i.toLong, Array(0f, 1f, 0f)))).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroidsLocal(pts, numCentroids = 4, iters = 3)
    assert(cents.size == 4)
    assert(cents.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("k-means training is deterministic and converges to planted cluster means") {
    // sample-local Lloyd: no RNG anywhere, so two runs must train
    // bit-identical codebooks; and on a cleanly separated 2-cluster
    // corpus one iteration must land each centroid on its cluster mean
    val pts = ((0 until 30).map(i => (i.toLong, Array(1f, 0.1f * (i % 3), 0f))) ++
      (30 until 60).map(i => (i.toLong, Array(0f, 0.1f * (i % 3), 1f)))).toDF("vec_id", "embedding")
    val a = Similarity.trainCentroidsLocal(pts, numCentroids = 2, iters = 2)
    val b = Similarity.trainCentroidsLocal(pts, numCentroids = 2, iters = 2)
    assert(a.map(_._2.toSeq) == b.map(_._2.toSeq), "replayed training diverged")
    // each planted cluster mean: first component 1 or 0, third 0 or 1
    val leads = a.map(c => (c._2(0), c._2(2)))
    assert(leads.exists { case (x, z) => x > 0.9 && z < 0.1 }, s"no centroid on cluster A: $leads")
    assert(leads.exists { case (x, z) => x < 0.1 && z > 0.9 }, s"no centroid on cluster B: $leads")
  }

  test("k-means init keeps k on a gappy id space (some ids < k, fewer than k)") {
    // ids 0 and 2 exist below k=4 but most ids are far away — the seeding
    // must still produce 4 centroids, never silently fewer
    val pts = Seq(0L, 2L, 5000L, 5001L, 5002L, 5003L)
      .zipWithIndex.map { case (id, i) => (id, Array(i.toFloat, 1f, 0f)) }
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroidsLocal(pts, numCentroids = 4, iters = 2)
    assert(cents.size == 4)
    assert(cents.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("srp candidate volume is a fraction of all-pairs; bits scale with corpus size") {
    val n = plantedCorpus.count()
    val allPairs = n * (n - 1) / 2
    val banded = Similarity.srpBanded(plantedCorpus, 2, 4, "vec_id", "embedding", 42L)
    val candidates = CandidatePairs.bandPairs(banded, Seq("tbl", "bucket"), "srp band", 0L).count()
    assert(candidates < allPairs * 0.4, s"$candidates vs $allPairs")
    // auto-tuning: expected bucket population stays at targetBucket as N grows
    assert(Similarity.bitsFor(4096, 4096) == 2)       // floor
    assert(Similarity.bitsFor(1L << 20, 4096) == 8)
    assert(Similarity.bitsFor(1L << 30, 4096) == 18)  // 100 TB-scale corpora
    assert(Similarity.tablesForUncapped(0.95, 2) >= 2) // recall target needs >1 table
  }

  test("lshTopK recall@5 >= 0.9 vs brute force on the planted corpus") {
    val queries = plantedCorpus.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(plantedCorpus, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(plantedCorpus, queries, k = 5,
        numTables = 8, bitsPerTable = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("trained ivfTopK recall@5 >= 0.8 on a clustered corpus") {
    // 8 genuine clusters, ids ordered so a naive contiguous-id init would
    // be degenerate (all seeds in cluster 0). The farthest-first seeding
    // must spread seeds across clusters, and Lloyd's iterations must not
    // make the codebook worse.
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val clustered = (0 until 400).map { i =>
      val c = centers(i / 50) // ids 0..49 → cluster 0, 50..99 → cluster 1, …
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter($"vec_id" % 50 < 2) // 2 per cluster
    val exact = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int): Double = {
      val got = Similarity.ivfTopK(clustered, queries, k = 5,
          numCentroids = 8, nprobe = 3, trainIters = iters)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val seededOnly = recallOf(0)
    val trained = recallOf(3)
    assert(trained >= seededOnly - 0.05, s"trained $trained vs seed-only $seededOnly")
    assert(trained >= 0.8, s"trained recall $trained")
  }

  test("PQ top-k: recall@5 >= 0.9 after rerank, codes are m small ints") {
    val queries = plantedCorpus.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(plantedCorpus, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // flat PQ is the one-list IVF-PQ
    val index = Similarity.ivfPqBuild(plantedCorpus, numCentroids = 1, m = 8, ksub = 16)
    // compressed representation: m codes per vector, each < ksub
    val codeRow = index.assigned.select("codes").first().getSeq[Int](0)
    assert(codeRow.length == 8 && codeRow.forall(c => c >= 0 && c < 16))
    val pq = Similarity.ivfPqSearch(index, plantedCorpus, queries, k = 5, nprobe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ recall $recall")
    // without rerank the compressed scan alone must still be informative
    val approxOnly = Similarity.ivfPqSearch(index, plantedCorpus, queries, k = 5,
        nprobe = 1, rerankFactor = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxRecall = approxOnly.intersect(exact).size.toDouble / exact.size
    assert(approxRecall >= 0.4, s"ADC-only recall $approxRecall")
  }

  test("IVF-PQ top-k: recall@5 >= 0.8 on the clustered corpus, compressed index") {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val clustered = (0 until 400).map { i =>
      val c = centers(i / 50)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter($"vec_id" % 50 < 2)
    val exact = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Similarity.ivfPqBuild(clustered, numCentroids = 8, m = 8, ksub = 16)
    // the index IS the compressed representation: one list + m codes, no floats
    assert(index.assigned.columns.toSeq == Seq("neighbor_id", "list_id", "codes"))
    val codeRow = index.assigned.select("codes").first().getSeq[Int](0)
    assert(codeRow.length == 8 && codeRow.forall(c => c >= 0 && c < 16))
    val got = Similarity.ivfPqSearch(index, clustered, queries, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall")
    // probing every list degenerates to the plain PQ scan: identical
    // results (codebook training is deterministic and the 400-row fixture
    // fits inside both build paths' 1024-row training sample)
    val allProbe = Similarity.ivfPqSearch(index, clustered, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val plainPq = Similarity.pqTopK(clustered, queries, k = 5, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(allProbe == plainPq, "nprobe=all must reduce IVF-PQ to plain PQ")
  }

  test("lshTopK/ivfSearch shuffle path: identical results, no forced broadcast") {
    val queries = plantedCorpus.filter($"vec_id" < 10)
    val viaBroadcast = Similarity.lshTopK(plantedCorpus, queries, k = 5,
        numTables = 8, bitsPerTable = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val viaShuffle = Similarity.lshTopK(plantedCorpus, queries, k = 5,
        numTables = 8, bitsPerTable = 2, maxBroadcastQueries = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaBroadcast.nonEmpty && viaShuffle == viaBroadcast)

    val index = Similarity.ivfBuild(plantedCorpus, numCentroids = 8)
    val ivfB = Similarity.ivfSearch(index, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivfS = Similarity.ivfSearch(index, queries, k = 5, maxBroadcastQueries = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivfB.nonEmpty && ivfS == ivfB)

    // above the threshold nothing forces a broadcast: with auto-broadcast
    // off, the plans must contain no BroadcastExchange at all
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val lshPlan = Similarity.lshTopK(plantedCorpus, queries, k = 5,
        numTables = 2, bitsPerTable = 2, maxBroadcastQueries = 0L)
        .queryExecution.executedPlan.toString
      assert(!lshPlan.contains("BroadcastExchange"), lshPlan)
      val ivfPlan = Similarity.ivfSearch(index, queries, k = 5, maxBroadcastQueries = 0L)
        .queryExecution.executedPlan.toString
      assert(!ivfPlan.contains("BroadcastExchange"), ivfPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfSearch minCosine floor: exactly the unfloored sequence filtered and re-ranked") {
    // the floor is a pushed-down predicate, not a semantics change:
    // dropping sub-floor candidates before ranking must yield the same
    // above-floor neighbors in the same order, with ranks compressed
    val queries = plantedCorpus.filter($"vec_id" < 10)
    val index = Similarity.ivfBuild(plantedCorpus, numCentroids = 8)
    val floor = 0.5
    val unfloored = Similarity.ivfSearch(index, queries, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val floored = Similarity.ivfSearch(index, queries, k = 1000, minCosine = Some(floor))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(floored.nonEmpty, "floor dropped everything; test is vacuous")
    // the floor applies to the RAW cosine, the emitted value is
    // round(·, 4): a raw 0.49996 rounds to the floor itself, so rows
    // whose ROUNDED value sits exactly at the boundary are undecidable
    // from the output — compare strictly above it (and check floored
    // never emits below the floor)
    assert(floored.forall(_._3 >= floor), "floored emitted a sub-floor row")
    val boundary = floor + 5e-5
    val expected = unfloored.filter(_._3 >= boundary)
    assert(floored.filter(_._3 >= boundary).toSeq.sorted == expected.toSeq.sorted,
      s"floored != filtered unfloored away from the rounding boundary")
  }

  test("approximate similarity plans never go cartesian; exact baseline does by design") {
    // banded LSH and IVF must stay equi-join shaped (bucket / list keys) —
    // a nested-loop or cartesian anywhere means the bucketing fell through.
    val lsh = Similarity.cosineNearDupPairs(plantedCorpus, 0.95)
      .queryExecution.executedPlan.toString
    assert(!lsh.contains("CartesianProduct") && !lsh.contains("NestedLoop"), lsh)
    val ivf = Similarity.ivfTopK(plantedCorpus,
        plantedCorpus.filter($"vec_id" < 3), k = 3, numCentroids = 4, trainIters = 1)
      .queryExecution.executedPlan.toString
    assert(!ivf.contains("CartesianProduct") && !ivf.contains("NestedLoop"), ivf)
    // the exact all-pairs baseline is the one operator where a nested-loop
    // IS the correct plan (non-equi id_a < id_b self-join)
    val exact = Similarity.exactCosinePairs(plantedCorpus, 0.95)
      .queryExecution.executedPlan.toString
    assert(exact.contains("NestedLoop") || exact.contains("CartesianProduct"), exact)
  }

  test("ivfTopK works when the id space does not start at zero") {
    val shifted = vecs.withColumn("vec_id", $"vec_id" + 5000L)
    val out = Similarity.ivfTopK(shifted, shifted.filter($"vec_id" === 5000L), k = 2,
      numCentroids = 2, nprobe = 2, trainIters = 1).collect()
    assert(out.nonEmpty)
    assert(out.head.getLong(1) == 5001L) // same top-1 as the unshifted corpus
  }

  test("ivfBuild/ivfSearch reuse one index across query batches") {
    val idx = Similarity.ivfBuild(plantedCorpus, numCentroids = 8, trainIters = 2)
    val r1 = Similarity.ivfSearch(idx, plantedCorpus.filter($"vec_id" < 3), k = 3)
    val r2 = Similarity.ivfSearch(idx, plantedCorpus.filter($"vec_id".between(3, 5)), k = 3)
    assert(r1.select("query_id").distinct().count() == 3)
    assert(r2.select("query_id").distinct().count() == 3)
    // one-shot form agrees with build+search
    val oneShot = Similarity.ivfTopK(plantedCorpus, plantedCorpus.filter($"vec_id" < 3),
      k = 3, numCentroids = 8, trainIters = 2)
    assert(oneShot.collect().toSet == r1.collect().toSet)
  }

  test("minhash candidate recall >= 0.9 vs exact shingle-jaccard pairs") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    val rnd = new scala.util.Random(11)
    val originals = (0 until 30).map { i =>
      (i.toLong, Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val nearDups = originals.map { case (id, text) =>
      val toks = text.split(" ").toVector
      val k = rnd.nextInt(toks.size)
      (100L + id, toks.updated(k, words(rnd.nextInt(words.size))).mkString(" "))
    }
    val corpus = (originals ++ nearDups).toDF("doc_id", "text")
    // exact Jaccard over the same shingle sets the minhash uses
    val sh = corpus.select($"doc_id".as("id"),
      expr("shingle_hashes(lower(text), 5)").as("sh"))
    val exact = sh.as("a").join(sh.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        expr("jaccard_sorted(a.sh, b.sh)").as("j"))
      .filter($"j" >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20)
    val candidates = pairSet(
      Dedup.minhashCandidatePairs(corpus, "doc_id", "text", numHashes = 16, bands = 8))
    val recall = candidates.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    import graft.etl.TableLifecycle
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "va")
    val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("id", "vb")
    TableLifecycle.publishBucketed(a, "bk_a", 4, Seq("id"))
    TableLifecycle.publishBucketed(b, "bk_b", 4, Seq("id"))
    val joined = spark.table("bk_a").join(spark.table("bk_b"), "id")
    assert(joined.count() == 100)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
  }

  test("asof forward join picks earliest strictly-later right row") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00")))
      .toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), "equal-ts"), // equal to left id=1: excluded (strict)
      (10L, ts("2024-01-01 11:00:00"), "a"),
      (10L, ts("2024-01-01 13:00:00"), "b"),
      (20L, ts("2024-01-01 08:00:00"), "past"))     // before left id=3: excluded
      .toDF("k", "t", "v")
    val out = AsOfJoin.forward(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("id").collect()
    assert(out(0).getString(3) == "a")   // not "equal-ts": strict >
    assert(out(1).getString(3) == "b")
    assert(out(2).isNullAt(3))           // nothing later for key 20
  }

  test("asof backward join picks latest strictly-prior right row") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00")))
      .toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), "a"),
      (10L, ts("2024-01-01 11:00:00"), "b"),
      (10L, ts("2024-01-01 12:00:00"), "equal-ts"), // equal to left id=2: excluded (strict)
      (20L, ts("2024-01-01 09:30:00"), "late"))     // after left id=3: excluded
      .toDF("k", "t", "v")
    val out = AsOfJoin.backward(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("id").collect()
    assert(out(0).getString(3) == "a")
    assert(out(1).getString(3) == "b")   // not "equal-ts": strict <
    assert(out(2).isNullAt(3))           // nothing prior for key 20
  }

  test("asof tolerance nulls matches staler than the bound (both directions)") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),  // match 30 min prior: inside 1h
      (2L, 10L, ts("2024-01-01 13:00:00")))  // match 2h prior: outside 1h
      .toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), "a"),
      (10L, ts("2024-01-01 11:00:00"), "b"))
      .toDF("k", "t", "v")
    val bwd = AsOfJoin.backward(left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceSeconds = Some(3600.0)).orderBy("id").collect()
    assert(bwd(0).getString(3) == "a")
    assert(bwd(1).isNullAt(3), "the 11:00 match is 2h stale, beyond tolerance")
    // forward: id=1's next right row is 11:00 (+1h, inside); with a 30 min
    // bound it must null out
    val fwdTight = AsOfJoin.forward(left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceSeconds = Some(1800.0)).orderBy("id").collect()
    assert(fwdTight(0).isNullAt(3), "+1h exceeds the 30 min forward bound")
    val fwdLoose = AsOfJoin.forward(left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceSeconds = Some(3600.0)).orderBy("id").collect()
    assert(fwdLoose(0).getString(3) == "b", "+1h is exactly at the bound (<=)")
  }

  test("ivfAppend: assign-only merged index within 0.1 recall of full retrain") {
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val all = (0 until 400).map { i =>
      (i.toLong, centers(i % 8).map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val standing = all.filter($"vec_id" % 5 =!= 0)
    val batch = all.filter($"vec_id" % 5 === 0)
    val queries = all.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(all, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ix: Similarity.IvfIndex): Double = {
      val got = Similarity.ivfSearch(ix, queries, k = 5, nprobe = 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val merged =
      Similarity.ivfAppend(Similarity.ivfBuild(standing, numCentroids = 8), batch)
    assert(merged.assigned.count() == 400, "append must land every batch row")
    val retrained = Similarity.ivfBuild(all, numCentroids = 8)
    val (rm, rr) = (recallOf(merged), recallOf(retrained))
    assert(rm >= rr - 0.1, s"merged recall $rm vs full-retrain recall $rr")
    assert(rm >= 0.7, s"merged recall $rm")
  }

  test("ivfListStats flags a list running hot after a skewed append") {
    val rnd = new scala.util.Random(37)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val corpus = (0 until 320).map { i =>
      (i.toLong, centers(i % 8).map(x => (x + 0.2 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val index = Similarity.ivfBuild(corpus, numCentroids = 8)
    assert(Similarity.ivfListStats(index).filter($"skewed").count() == 0,
      "a balanced build must not flag any list")
    // a crawl batch whose vectors all sit near ONE center — assign-only
    // append piles every row into a single list: the retrain signal
    val hot = (1000 until 1400).map { i =>
      (i.toLong, centers(0).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val after = Similarity.ivfListStats(Similarity.ivfAppend(index, hot))
    val flagged = after.filter($"skewed").collect()
    assert(flagged.length == 1,
      s"exactly the hot list must flag: ${after.collect().toSeq}")
    assert(flagged.head.getLong(1) >= 400)
  }
}
