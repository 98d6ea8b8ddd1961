package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PrefixJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Force the prefix-index path: every spec corpus sits under the
    * brute-force gate, so without this the losslessness assertions
    * would only ever exercise the nested-loop branch.
    */
  private def forcingPrefixPath[T](f: => T): T = {
    spark.conf.set("spark.graft.prefixJoin.bruteMaxDocs", "0")
    try f finally spark.conf.unset("spark.graft.prefixJoin.bruteMaxDocs")
  }

  private def gramSet(text: String, n: Int): Set[String] = {
    val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    (0 to math.max(ts.length - n, 0)).map(i => ts.slice(i, i + n).mkString(" ")).toSet
  }

  private def bruteJaccard(a: String, b: String, n: Int): Double = {
    val (sa, sb) = (gramSet(a, n), gramSet(b, n))
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("prefix filtering is LOSSLESS on a unigram fixture: pairs and scores equal brute force") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),     // jac 4/6 = .667 with 1
      (3L, "alpha beta gamma delta epsilon"),  // exact dup of 1
      (4L, "one two three four five six"),
      (5L, "one two three four five seven"),   // jac 5/7 = .714 with 4
      (6L, "totally different words here now"),
      (7L, "alpha one totally")                // shares tokens, low jac
    ).toDF("doc_id", "text")
    val t = 0.6
    val got = forcingPrefixPath {
      PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", t, n = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      j = bruteJaccard(ta, tb, 1) if j >= t
    } yield (ia, ib) -> j).toMap
    assert(got.keySet == brute.keySet, s"got ${got.keySet}, brute ${brute.keySet}")
    brute.foreach { case (p, j) =>
      assert(math.abs(got(p) - j) < 1e-12, s"$p: got ${got(p)}, brute $j") }
    assert(brute.nonEmpty, "fixture has no qualifying pairs; test is vacuous")
  }

  test("prefix filtering is lossless on the real corpus at the q136 settings (3-grams)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = 0.6
    val got = forcingPrefixPath {
      PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", t, n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      j = bruteJaccard(ta, tb, 3) if j >= t
    } yield (ia, ib) -> j).toMap
    assert(got.keySet == brute.keySet,
      s"missing ${brute.keySet -- got.keySet}, extra ${got.keySet -- brute.keySet}")
    brute.foreach { case (p, j) =>
      assert(math.abs(got(p) - j) < 1e-12, s"$p: got ${got(p)}, brute $j") }
    assert(brute.nonEmpty, "corpus has no qualifying 3-gram pairs at 0.6; test is vacuous")
  }

  test("3-gram prefix pruning collapses the candidate set on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (pruned, full) = PrefixJoin.candidateCounts(docs, "doc_id", "text", 0.6, n = 3)
    assert(pruned <= full, s"prefix index grew the candidate set: $pruned > $full")
    assert(pruned.toDouble / full < 0.5,
      s"expected >2x candidate reduction at t=0.6 on 3-grams, got $pruned/$full")
  }

  test("fixed-seed randomized corpora: losslessness holds across thresholds and gram widths") {
    // adversarial-ish shapes the hand fixtures don't cover: shared Zipf
    // head + random tail, variable doc lengths (including < n), repeats
    val rnd = new scala.util.Random(20260813L)
    val vocab = (0 until 40).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val docs = (0 until 30).map { i =>
        val len = 1 + rnd.nextInt(12)
        val words = (0 until len).map { _ =>
          if (rnd.nextBoolean()) vocab(rnd.nextInt(5)) // hot head
          else vocab(rnd.nextInt(vocab.size))
        }
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      for ((t, n) <- Seq((0.5, 1), (0.8, 2))) {
        val got = forcingPrefixPath {
          PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", t, n)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
        val brute = (for {
          (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
          if bruteJaccard(ta, tb, n) >= t
        } yield (ia, ib)).toSet
        assert(got == brute,
          s"trial=$trial t=$t n=$n: missing ${brute -- got}, extra ${got -- brute}")
      }
    }
  }

  private def bruteTfidfCosine(rows: Array[(Long, String)], t: Double): Map[(Long, Long), Double] = {
    val n = rows.length.toDouble
    val tfs = rows.map { case (id, text) =>
      id -> text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (w, o) => w -> o.length.toDouble }
    }.toMap
    val df = tfs.values.flatMap(_.keys).groupBy(identity).map { case (w, o) => w -> o.size }
    val vecs = tfs.map { case (id, tf) =>
      val w = tf.map { case (term, f) => term -> f * math.log(n / df(term)) }
      val nrm = math.sqrt(w.values.map(x => x * x).sum)
      id -> (w, nrm)
    }
    (for {
      (ia, (wa, na)) <- vecs.toSeq; (ib, (wb, nb)) <- vecs.toSeq
      if ia < ib && na > 0 && nb > 0
      dot = wa.map { case (term, x) => x / na * wb.getOrElse(term, 0.0) / nb }.sum
      c = BigDecimal(dot).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= t
    } yield (ia, ib) -> c).toMap
  }

  test("weighted prefix join is LOSSLESS on the full real corpus: pairs and cosines equal brute force") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = 0.6
    val got = forcingPrefixPath {
      PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val brute = bruteTfidfCosine(rows, t)
    assert(got.keySet == brute.keySet,
      s"missing ${brute.keySet -- got.keySet}, extra ${got.keySet -- brute.keySet}")
    brute.foreach { case (p, c) =>
      assert(math.abs(got(p) - c) < 1e-3, s"$p: got ${got(p)}, brute $c") }
    assert(brute.nonEmpty, "corpus has no qualifying tf-idf pairs at 0.6; test is vacuous")
  }

  test("weighted prefix join restricted to the q145 slice reproduces q145 exactly") {
    // q148 IS q145 with the cap removed: on the capped slice the verified
    // pair sets and rounded cosines must be identical. The reference side
    // is the ORIGINAL q145 physical form (inverted-index term self-join,
    // kept as tfidfCosinePairsTermJoin) — since r18 the declared q145
    // rides this kernel, so this test is the equivalence proof that made
    // that swap safe, not a tautology.
    val sliced = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 1000)
    val viaPrefix = forcingPrefixPath {
      PrefixJoin.weightedCosinePrefixJoin(sliced, "doc_id", "text", 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val viaBrute = graft.Queries.tfidfCosinePairsTermJoin(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaPrefix.keySet == viaBrute.keySet,
      s"missing ${viaBrute.keySet -- viaPrefix.keySet}, extra ${viaPrefix.keySet -- viaBrute.keySet}")
    viaBrute.foreach { case (p, c) =>
      assert(math.abs(viaPrefix(p) - c) < 1e-9, s"$p: prefix ${viaPrefix(p)}, q145 $c") }
  }

  test("weighted prefix postings index a strict subset of the full tf-idf postings") {
    // randomized corpora: losslessness across thresholds + the prefix
    // must never index MORE postings than the full inverted index
    val rnd = new scala.util.Random(20260814L)
    val vocab = (0 until 40).map(i => s"w$i")
    for (trial <- 0 until 2; t <- Seq(0.5, 0.8)) {
      val docs = (0 until 25).map { i =>
        val len = 1 + rnd.nextInt(12)
        (i.toLong, (0 until len).map { _ =>
          if (rnd.nextBoolean()) vocab(rnd.nextInt(5)) else vocab(rnd.nextInt(vocab.size))
        }.mkString(" "))
      }
      val got = forcingPrefixPath {
        PrefixJoin.weightedCosinePrefixJoin(
            docs.toDF("doc_id", "text"), "doc_id", "text", t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val brute = bruteTfidfCosine(docs.toArray, t).keySet
      assert(got == brute,
        s"trial=$trial t=$t: missing ${brute -- got}, extra ${got -- brute}")
    }
  }

  test("ANN swap (q204): hashed-IVF shortlist + exact rerank recalls ≥ 0.9 of q203's exact answer") {
    // the contract that makes the 100 TB swap safe: the approximate
    // bounded-k path must find ≥ 90% of the exact (doc, neighbor) rows
    val sf = "/root/testdata/sf0.01"
    val exact = graft.Queries.prefixJoinTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.Queries.annTopkTfidf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact answer empty; recall gate is vacuous")
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.9, f"ANN recall $recall%.4f < 0.9 (|exact|=${exact.size}, |ann|=${ann.size})")
    // every emitted neighbor is exact-reranked, so precision on the
    // thresholded pair space is structural: each ANN row is a TRUE
    // cosine ≥ 0.8 pair (subset of the exact ≥0.8 pair graph)
    val exactPairSpace = graft.operators.PrefixJoin.weightedCosinePrefixJoin(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 0.8)
      .collect().flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    assert(ann.subsetOf(exactPairSpace), "ANN emitted a pair below the exact 0.8 floor")
  }

  test("ANN swap (q204) holds the 0.9 recall gate at sf0.1 — the driver's bench scale") {
    // the sqrt(n) IVF geometry adapts with corpus size; gate the recall
    // contract at the SF the bench prices, not only the small one
    val sf = "/root/testdata/sf0.1"
    val exact = graft.Queries.prefixJoinTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.Queries.annTopkTfidf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact answer empty; recall gate is vacuous")
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.9, f"ANN recall $recall%.4f < 0.9 at sf0.1 (|exact|=${exact.size}, |ann|=${ann.size})")
  }

  test("q204's IVF geometry is ivfAutoGeometry: same lists and probes as its former inline policy") {
    // the reference: annTopkTfidf's inline geometry before it called
    // Similarity.ivfAutoGeometry, verbatim (its private confInt is
    // GraftConf.int)
    def inline(nVecs: Long): (Int, Int) = {
      val nLists = math.max(4, math.round(math.sqrt(nVecs.toDouble)).toInt)
      val nprobeNum = graft.GraftConf.int(spark, "spark.graft.ann.nprobeNum",
        if (nLists >= 32) 2 else 3)
      val capFactor = graft.GraftConf.double(spark,
        "spark.graft.ann.nprobeCapFactor", 1.1)
      val nprobe = math.max(8, math.min((nprobeNum * nLists + 7) / 8,
        math.ceil(capFactor * nprobeNum * math.sqrt(nLists.toDouble)).toInt))
      (nLists, nprobe)
    }
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val nVecs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet").count()
      assert(Similarity.ivfAutoGeometry(spark, nVecs) == inline(nVecs), s"$sf: $nVecs vectors")
    }
    for (nVecs <- Seq(0L, 1L, 15L, 500L, 1023L, 1024L, 5000L, 50000L, 1000000L))
      assert(Similarity.ivfAutoGeometry(spark, nVecs) == inline(nVecs), s"$nVecs vectors")
  }

  test("sparse_to_dense accumulates repeated slots (and matches the pre-summed path)") {
    graft.functions.VectorFunctions.register(spark)
    // repeated slot 1 must SUM (0.5 + 0.25), not last-write-win
    val got = spark.sql(
      """SELECT sparse_to_dense(array(
        |  struct(1 as slot, 0.5d as v),
        |  struct(3 as slot, -1.0d as v),
        |  struct(1 as slot, 0.25d as v)), 4) AS e""".stripMargin)
      .collect()(0).getSeq[Float](0)
    assert(got == Seq(0f, 0.75f, 0f, -1f), s"got $got")
    // the merged vector table's embedding (un-pre-summed signed entries)
    // must agree with the groupBy-pre-summed formulation
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100)
    val unit = PrefixJoin.unitTfidfTable(docs, "doc_id", "text")
    val a = PrefixJoin.vectorTableFromUnit(unit, dim = 64)
      .select(col("id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = PrefixJoin.hashedEmbeddingsFromUnit(unit, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a.keySet == b.keySet)
    for (id <- a.keySet; (x, y) <- a(id).zip(b(id)))
      assert(math.abs(x - y) < 1e-5f, s"doc $id drifted: $x vs $y")
  }

  test("feature hashing preserves tf-idf cosine at large dim (signed hashing kernel)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)
    val exact = PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "no pairs above 0.5; fidelity test is vacuous")
    val emb = PrefixJoin.hashedTfidfEmbeddings(docs, "doc_id", "text", dim = 4096)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val errs = exact.map { case ((a, b), c) => math.abs(cos(emb(a), emb(b)) - c) }
    assert(errs.max < 0.05,
      f"hashed cosine drifted ${errs.max}%.4f from exact at dim 4096")
  }

  test("jaccard brute nested-loop branch is pair-for-pair identical to the prefix index") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run() = PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", 0.6, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaBrute = run() // default gate: spec corpus goes brute
    val viaPrefix = forcingPrefixPath { run() }
    assert(viaBrute == viaPrefix,
      s"missing ${viaPrefix.keySet -- viaBrute.keySet}, extra ${viaBrute.keySet -- viaPrefix.keySet}")
    assert(viaBrute.nonEmpty, "corpus has no qualifying pairs; test is vacuous")
  }

  test("the brute nested-loop branch is pair-for-pair identical to the prefix index") {
    // the adaptive gate must be invisible in the answer: same pairs, same
    // rounded cosines, whichever physical path the size gate picks
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = 0.6
    def run() = PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaBrute = run() // under the default gate the spec corpus goes brute
    val viaPrefix = forcingPrefixPath { run() }
    assert(viaBrute == viaPrefix,
      s"missing ${viaPrefix.keySet -- viaBrute.keySet}, extra ${viaBrute.keySet -- viaPrefix.keySet}")
    assert(viaBrute.nonEmpty, "corpus has no qualifying pairs; test is vacuous")
  }

  test("r19 blocked brute cosine verify == per-pair NLJ form, bit-for-bit") {
    // the blocked kernels (pack_sparse_vec_block + sorted_dot_block_pairs)
    // replace the per-pair broadcast nested-loop rows; the dots must be
    // the EXACT values the per-pair kernel produced (same merge order),
    // across block geometries including degenerate ones. The near-zero
    // threshold puts the kernel's pruning floor (threshold - 1e-4) below
    // zero; clamped to 0, the kernel must still return the NLJ's pairs.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def runCos(t: Double) = PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def withBlockRows[T](n: Int)(f: => T): T = {
      spark.conf.set("spark.graft.prefixJoin.bruteBlockRows", n.toString)
      try f finally spark.conf.unset("spark.graft.prefixJoin.bruteBlockRows")
    }
    for (t <- Seq(0.6, 5e-5)) {
      val cosNlj = withBlockRows(0)(runCos(t))
      assert(cosNlj.nonEmpty, s"vacuous fixture at threshold $t")
      for (blockRows <- Seq(1, 7, 1 << 20)) {
        val cosB = withBlockRows(blockRows)(runCos(t))
        assert(cosB == cosNlj, s"threshold $t blockRows=$blockRows: " +
          s"missing ${cosNlj.keySet -- cosB.keySet}, extra ${cosB.keySet -- cosNlj.keySet}")
      }
    }
  }

  test("long-tail vocabulary: unigram prefix pruning goes to zero where the full index is quadratic") {
    // 3 corpus-wide stopwords + 7 unique tokens per doc: sz=10 at t=0.6
    // keeps a 5-token prefix = exactly the unique (df=1) tokens, so NO
    // candidate survives while the full index pairs everything via the
    // stopwords. This is the 100 TB skew story in miniature: the hot
    // posting lists never enter a prefix.
    val docs = (0 until 100).map { i =>
      (i.toLong, s"the of and u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    }.toDF("doc_id", "text")
    val (pruned, full) = PrefixJoin.candidateCounts(docs, "doc_id", "text", 0.6, n = 1)
    assert(full == 100L * 99 / 2, s"stopwords must pair every doc in the full index: $full")
    assert(pruned == 0, s"df-1 prefixes cannot collide, got $pruned")
    assert(forcingPrefixPath {
      PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", 0.6, n = 1).count() } == 0)
  }

  test("q203 top-k neighbors: exactly the per-doc top-5 cut of the symmetrized pair set") {
    val sf0001 = "/root/testdata/sf0.001"
    val out = graft.Queries.prefixJoinTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.nonEmpty, "fixture produced no neighbors; test is vacuous")
    // replay: symmetrize the kernel's exact pairs, rank by (cosine desc, nbr)
    val pairs = PrefixJoin.weightedCosinePrefixJoin(
        spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .groupBy(_._1).toSeq.flatMap { case (doc, nbrs) =>
        nbrs.sortBy(x => (-x._3, x._2)).take(5).zipWithIndex
          .map { case ((_, nbr, c), i) => (doc, nbr, c, i + 1) }
      }.sortBy(x => (x._1, x._4))
    assert(out.toSeq == want, s"top-k cut disagrees with replay")
    // every doc contributes at most k rows with contiguous ranks from 1
    out.groupBy(_._1).foreach { case (doc, rows) =>
      assert(rows.length <= 5 && rows.map(_._4).sorted.toSeq == (1 to rows.length),
        s"doc $doc has ranks ${rows.map(_._4).toSeq}")
    }
  }
}
