package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE merge training: the classic toy vocabulary reproduces the known
  * merge sequence, and every learned merge strictly shrinks the
  * corpus-weighted symbol count (the quantity BPE greedily minimizes).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // The standard BPE illustration vocabulary (Sennrich et al. 2016, §3.2).
  private lazy val toyProfile =
    Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "n")

  test("trainMerges reproduces the textbook merge sequence, ties lexicographic") {
    // pair counts by hand: (e,s)=9 (newest 6 + widest 3) ties (s,t)=9 →
    // lexicographic tie-break picks (e,s); then (es,t)=9; then (l,o)=7
    // ties (o,w)=7 → (l,o); then (lo,w)=7.
    val merges = Bpe.trainMerges(toyProfile, numMerges = 4)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(merges.map(_.rank) == Seq(1, 2, 3, 4))
  }

  test("trainMerges stops early when the pair supply runs dry") {
    val tiny = Seq(("ab", 3L)).toDF("word", "n")
    val merges = Bpe.trainMerges(tiny, numMerges = 10)
    // 'ab' has exactly one pair; after merging it there is nothing left
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b")))
  }

  test("every learned merge strictly shrinks the weighted symbol count") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val profile = Bpe.wordProfile(docs)
    val merges = Bpe.trainMerges(profile, numMerges = 6)
    assert(merges.length == 6)
    assert(merges.map(m => (m.left, m.right)).distinct.length == 6,
      "merge table must hold distinct pairs")
    // the corpus's token count under the first i merges: the profile's
    // words weighted by their counts, as the encoder tokenizes them
    val totals = (0 to merges.length).map(i =>
      Bpe.encodeStats(docs, merges.take(i)).agg(sum("n_tokens")).collect()(0).getLong(0))
    totals.sliding(2).foreach { case Seq(before, after) =>
      assert(after < before, s"merge did not compress: $totals")
    }
    // a two-pass leftmost replace rewrites at most pairCount occurrences
    // (overlaps in symbol runs make it strictly fewer, never more)
    merges.zipWithIndex.foreach { case (m, i) =>
      val saved = totals(i) - totals(i + 1)
      assert(saved <= m.pairCount, s"rank ${m.rank}: saved $saved > ${m.pairCount}")
    }
  }

  test("encodeStats tokenizes with the learned merges, hand-checked") {
    val merges = Bpe.trainMerges(toyProfile, numMerges = 4)
    val docs = Seq((7L, "Lowest, newest!")).toDF("doc_id", "text")
    // lowest: l o w e s t →(e,s)→ l o w es t →(es,t)→ l o w est
    //         →(l,o)→ lo w est →(lo,w)→ low est  = 2 tokens
    // newest: n e w e s t →(e,s)→ n e w es t →(es,t)→ n e w est = 4 tokens
    val row = Bpe.encodeStats(docs, merges).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (7L, 2L, 6L))
  }

  test("encoding with merges never yields more tokens than characters") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val merges = Bpe.trainMerges(Bpe.wordProfile(docs), numMerges = 4)
    val enc = Bpe.encodeStats(docs, merges)
    import org.apache.spark.sql.functions._
    val bad = enc.join(docs, "doc_id")
      .filter(col("n_tokens") > length(col("text")))
      .count()
    assert(bad == 0)
    assert(enc.filter(col("n_tokens") < col("n_words")).count() == 0,
      "a word is never fewer than one token")
  }

  test("merge counts are monotonically non-increasing (greedy argmax order)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val profile = Bpe.wordProfile(docs)
    val merges = Bpe.trainMerges(profile, numMerges = 6)
    merges.map(_.pairCount).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"pair counts not monotone: ${merges.map(_.pairCount)}")
    }
  }

  test("chosen-pair exclusion plan does not grow with the merge count") {
    // the r8 isin(chosen) predicate added one OR branch per learned merge;
    // the anti-join keeps chosen pairs as DATA, so the optimized plan tree
    // must have the same node count at 10 and at 250 chosen pairs
    import org.apache.spark.sql.functions._
    val cand = Seq(("a", "b", 3L), ("c", "d", 2L)).toDF("l", "r", "cnt")
    def planNodes(n: Int): Int = {
      val chosen = (0 until n).map(i => (s"x$i", s"y$i"))
      Bpe.excludeChosen(cand, chosen).queryExecution.optimizedPlan.collect { case p => p }.size
    }
    assert(planNodes(10) == planNodes(250),
      s"plan grew with k: ${planNodes(10)} vs ${planNodes(250)} nodes")
    // and the exclusion still excludes
    val out = Bpe.excludeChosen(cand, Seq(("a", "b")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("c", "d")))
  }

  test("local and distributed merge loops learn the bit-identical sequence") {
    // fixtures chosen to hit every branch the two implementations share:
    // the textbook vocabulary (ties), a ≥5-run of one symbol (the
    // two-pass replace edge where a chosen pair SURVIVES and must be
    // excluded, not re-picked), and a real corpus profile
    val runEdge = Seq(("aaaaaaa", 4L), ("aabaab", 2L), ("banana", 3L))
      .toDF("word", "n")
    val corpus = Bpe.wordProfile(
      spark.read.parquet(s"$sf0001/documents.parquet"))
    for ((profile, k, tag) <- Seq((toyProfile, 6, "toy"), (runEdge, 8, "runs"),
        (corpus, 12, "corpus"))) {
      val local = Bpe.trainMergesLocal(profile, k)
      val dist = Bpe.trainMergesDistributed(profile, k)
      assert(local == dist, s"$tag: local $local != distributed $dist")
    }
    // the gate forced to the distributed loop: same sequence, and the
    // decision is logged without counting the profile
    val (forced, logs) = withConf("spark.graft.bpe.localVocabRows" -> "0") {
      graft.LogCapture("graft.gate")(Bpe.trainMerges(runEdge, 8))
    }
    assert(forced == Bpe.trainMergesLocal(runEdge, 8))
    assert(logs.exists(l => l.startsWith("gate trainMerges: distributed regime") &&
      l.contains("estimate not run")), s"no forced trainMerges decision in $logs")
  }

  test("k=2000 merges train driver-locally in seconds, without one job per merge") {
    // the whole point of the local route: a real tokenizer is k ≈ 32k,
    // and 32k sequential Spark jobs is scheduling latency, not work. A
    // synthetic vocabulary large enough to supply 2000 distinct merges
    // must train with a bounded number of jobs (profile count + collect)
    val rnd = new scala.util.Random(11)
    val words = (0 until 3000).map { _ =>
      (1 to 10 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct.map(w => (w, 1L + rnd.nextInt(5)))
    val profile = words.toDF("word", "n")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val merges =
      try Bpe.trainMerges(profile, numMerges = 2000)
      finally {
        Thread.sleep(500) // listener bus delivery is async
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(merges.length == 2000, s"supply dried at ${merges.length}")
    assert(merges.map(m => (m.left, m.right)).distinct.length == 2000)
    assert(jobs.get() <= 10,
      s"${jobs.get()} jobs for 2000 merges — the local route is not local")
  }

  test("distributed fallback batches symbol-disjoint merges: k merges in fewer than k jobs") {
    // a profile whose top pairs are pairwise symbol-disjoint with strictly
    // decreasing counts and NO shared neighbors: the exact-prefix rule
    // accepts all of them from one snapshot, so 13 merges take one round
    // (~7 jobs: words checkpoint, pair-count checkpoint, top-N, two
    // neighbor maxima, batch-apply checkpoint) instead of 13 top-1 jobs
    // plus cadence checkpoints
    val letters = ('a' to 'z').toSeq
    val profile = letters.grouped(2).zipWithIndex.map { case (Seq(a, b), i) =>
      (s"$a$b", (100 - i).toLong)
    }.toSeq.toDF("word", "n")
    val local = Bpe.trainMergesLocal(profile, 13)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val dist =
      try Bpe.trainMergesDistributed(profile, 13)
      finally {
        Thread.sleep(500) // listener bus delivery is async
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(dist == local, s"batched sequence diverged: $dist vs $local")
    assert(dist.length == 13)
    assert(jobs.get() < 13,
      s"${jobs.get()} jobs for 13 disjoint merges — batching did not batch")
  }
}
