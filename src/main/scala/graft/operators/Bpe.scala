package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training over a word-frequency profile —
  * the merge-table learning step that follows the pre-tokenizer profile
  * (Queries.pretokenize / q115). Classic BPE (Sennrich et al. 2016,
  * arXiv:1508.07909) trains on the aggregated (word, count) vocabulary,
  * not on the raw corpus, and that is the whole scale story here: the
  * 100 TB corpus is scanned ONCE to build the profile (a map-side
  * combinable word count whose result is vocabulary-sized, ~10⁶ rows at
  * any corpus size); the iterative merge loop then runs over that compact
  * table — per merge, one combinable pair-count aggregation, a one-row
  * argmax collect (bounded driver data), and a scan-local string rewrite.
  * localCheckpoint() every few merges truncates the growing expression
  * lineage, the same pattern as Dedup.connectedComponents' pointer-
  * jumping loop; chosen-pair exclusion is a broadcast anti-join against
  * a local relation, so the per-merge PLAN stays constant-size at any
  * vocab size k (the r8 `isin` form grew the predicate by one entry per
  * merge). Because the profile is vocabulary-sized (~10⁶ rows at any
  * corpus scale), the trainer's alternative physical plan is a
  * SINGLE-EXECUTOR loop over the collected profile (coalesce(1) or a
  * driver-side loop) — zero per-merge job-scheduling overhead at the
  * price of no parallelism; the distributed form here keeps the
  * per-merge latency flat and is the right default when the merge loop
  * shares the cluster with the corpus scan that feeds it.
  *
  * Determinism contract (what makes the result hash-checkable against a
  * DuckDB replay of the same algorithm): a word is represented as
  * `' s1 s2 … sn '` — every symbol preceded by a space, trailing space
  * terminal — and applying merge (l, r) is TWO leftmost non-overlapping
  * `replace(repr, ' l r ', ' lr ')` passes. Spark's `replace`
  * (UTF8String.replace) and DuckDB's `replace` implement the identical
  * scan — find leftmost match, append replacement, continue AFTER the
  * match — so both engines rewrite every word bit-identically. The
  * two-pass form differs from textbook BPE only on runs of ≥5 identical
  * symbols (textbook merges pairs left-to-right within one pass; the
  * consumed trailing space makes one replace pass skip alternate
  * occurrences in a run); chosen pairs are excluded from later argmaxes
  * so the merge table always holds `numMerges` distinct pairs. Ties in
  * the pair-count argmax break lexicographically on (left, right).
  */
object Bpe {

  final case class BpeMerge(rank: Int, left: String, right: String, pairCount: Long)

  /** One corpus scan → the (word, n) training profile. Words are the
    * lowercase ASCII-letter runs of the text column (the [a-z]+ alphabet
    * keeps every later symbol space-free, which the repr encoding needs).
    */
  def wordProfile(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  /** `' w o r d '`: leading space, one space after every symbol. */
  private def initialRepr(word: org.apache.spark.sql.Column) =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "))

  /** Adjacent-symbol pairs of every word, weighted by the word count. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(split(trim(col("repr")), " ").as("s"), col("n"))
      .select(
        slice(col("s"), lit(1), size(col("s")) - 1).as("ls"),
        slice(col("s"), lit(2), size(col("s")) - 1).as("rs"),
        col("n"))
      .select(explode(arrays_zip(col("ls"), col("rs"))).as("p"), col("n"))
      .select(col("p.ls").as("l"), col("p.rs").as("r"), col("n"))
      .groupBy(col("l"), col("r"))
      .agg(sum(col("n")).as("cnt"))

  /** Train `numMerges` merges over the profile. Stops early if the pair
    * supply runs dry (tiny inputs); otherwise returns exactly `numMerges`
    * distinct (left, right) pairs in learned order with the pair count
    * each was chosen at.
    *
    * PHYSICAL ROUTE: the profile is vocabulary-sized (~10⁶ rows at ANY
    * corpus scale — the corpus was already reduced by the one distributed
    * scan in [[wordProfile]]), while a real tokenizer needs k ≈ 32 000
    * merges. The distributed loop pays one driver-coordinated Spark job
    * PER MERGE — 32 000 sequential job schedulings dominated by latency,
    * not work — so below `spark.graft.bpe.localVocabRows` profile rows
    * (default 2M: ~10⁶ words × tens of bytes is MBs of driver heap; the
    * cap guards the pathological all-unique-words profile) the trainer
    * collects the profile ONCE and runs the merge loop driver-locally
    * ([[trainMergesLocal]]): identical algorithm, bit-identical merge
    * sequence (spec-pinned against the distributed loop, including the
    * ≥5-run two-pass edge), zero per-merge jobs. The distributed loop
    * remains the fallback for a profile too large to collect; a cap of 0
    * forces it without counting the profile.
    */
  def trainMerges(profile: DataFrame, numMerges: Int): Seq[BpeMerge] = {
    require(numMerges > 0, "numMerges must be positive")
    if (graft.GraftConf.gate(profile.sparkSession, "trainMerges", ("local", "distributed"),
        "spark.graft.bpe.localVocabRows", 2000000L, "count")(profile.count()))
      trainMergesLocal(profile, numMerges)
    else trainMergesDistributed(profile, numMerges)
  }

  /** Driver-local merge loop over the collected profile — the default
    * physical form (see [[trainMerges]]). Incremental: pair counts and a
    * pair→words inverted index are maintained under each merge (only
    * words CONTAINING the merged pair are rewritten, via the exact same
    * two-leftmost-pass `replace` the distributed loop applies), and the
    * argmax comes from an ordered set under the same
    * (count desc, left, right) tie-break — so the merge sequence is
    * bit-identical to [[trainMergesDistributed]] while each merge costs
    * O(touched words · log pairs) instead of one Spark job.
    */
  def trainMergesLocal(profile: DataFrame, numMerges: Int): Seq[BpeMerge] = {
    require(numMerges > 0, "numMerges must be positive")
    val rows = profile.select(col("word"), col("n").cast("long").as("n")).collect()
    val reprs = rows.map(r => " " + r.getString(0).map(c => s"$c ").mkString)
    val ns = rows.map(_.getLong(1))

    def pairsOf(repr: String): Array[(String, String)] = {
      val s = repr.trim.split(" ")
      if (s.length < 2 || s.head.isEmpty) Array.empty
      else Array.tabulate(s.length - 1)(i => (s(i), s(i + 1)))
    }

    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    var i = 0
    while (i < reprs.length) {
      pairsOf(reprs(i)).foreach { p =>
        counts.update(p, counts.getOrElse(p, 0L) + ns(i))
        where.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
      }
      i += 1
    }
    // ordered view for the argmax: (count desc, left asc, right asc) —
    // the exact distributed orderBy. Entries are (cnt, l, r) snapshots;
    // any count change removes the old snapshot and inserts the new one.
    val ord = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val cl = a._2.compareTo(b._2)
            if (cl != 0) cl else a._3.compareTo(b._3)
          }
        }
      })
    counts.foreach { case (p, c) => ord.add((c, p._1, p._2)) }

    val chosen = scala.collection.mutable.Set.empty[(String, String)]
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var rank = 1
    var dry = false
    while (rank <= numMerges && !dry) {
      // first non-chosen entry (a chosen pair can survive in ≥5-runs —
      // the distributed loop excludes them with an anti-join)
      val it = ord.iterator()
      var pick: (Long, String, String) = null
      while (pick == null && it.hasNext) {
        val e = it.next()
        if (!chosen.contains((e._2, e._3))) pick = e
      }
      if (pick == null) dry = true
      else {
        val (cnt, l, r) = pick
        merges += BpeMerge(rank, l, r, cnt)
        chosen += ((l, r))
        val pat = s" $l $r "; val rep = s" $l$r "
        val affected = where.getOrElse((l, r), scala.collection.mutable.Set.empty)
          .toArray
        affected.foreach { idx =>
          val before = reprs(idx)
          val after = before.replace(pat, rep).replace(pat, rep)
          if (after != before) {
            reprs(idx) = after
            val oldPairs = pairsOf(before); val newPairs = pairsOf(after)
            val touched = scala.collection.mutable.Set.empty[(String, String)]
            oldPairs.foreach(touched += _); newPairs.foreach(touched += _)
            val prior = touched.iterator.map(p => p -> counts.getOrElse(p, 0L)).toMap
            oldPairs.foreach(p => counts.update(p, counts.getOrElse(p, 0L) - ns(idx)))
            newPairs.foreach(p => counts.update(p, counts.getOrElse(p, 0L) + ns(idx)))
            val newSet = newPairs.toSet
            touched.foreach { p =>
              val now = counts.getOrElse(p, 0L)
              val was = prior(p)
              if (was != now) {
                if (was > 0L) ord.remove((was, p._1, p._2))
                if (now > 0L) ord.add((now, p._1, p._2)) else counts.remove(p)
              }
              if (!newSet.contains(p)) where.get(p).foreach(_ -= idx)
              else where.getOrElseUpdate(p,
                scala.collection.mutable.Set.empty) += idx
            }
          }
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Distributed merge loop — the fallback for profiles too large to
    * collect (the default route is [[trainMergesLocal]], see
    * [[trainMerges]]). BATCHED, exactly: each round runs one pair-count
    * job and then accepts the longest PREFIX of the snapshot's top
    * candidates that is PROVABLY the sequence the one-merge-per-job loop
    * would have chosen, so k merges cost ~k/batch jobs with a
    * bit-identical merge table (spec-pinned against the local trainer).
    *
    * Why a prefix can be exact: merging m = (l, r) changes only the
    * counts of pairs sharing an OCCURRENCE with it — a pair p decreases
    * iff p.right = l (the " x l r " context destroys (x, l)) or
    * p.left = r (" l r y " destroys (r, y)); every other existing pair's
    * count is untouched, INCLUDING pairs that merely share a symbol on
    * the same side (merging (t, h) leaves (t, o) and (s, h) exact —
    * those occurrences never overlap an " t h " site). The r16 rule
    * required full symbol-DISJOINTNESS and so rejected exactly these
    * safe same-side candidates; that over-strictness was the measured
    * 2.7-accepts/round ceiling (the r17 count-gap item). The only pairs
    * that can INCREASE are the created (x, lr) / (lr, y), each bounded
    * by both the merged pair's own count and the snapshot count of the
    * neighbor pair it descends from ((x, lr) ≤ count(x, l) ≤ max over
    * pairs ending in l) — and, when the spelling `lr` collides with an
    * EXISTING symbol, a snapshot pair adjacent to that symbol can be
    * boosted by the same created mass, so the bound for that merge adds
    * the colliding symbol's largest adjacent snapshot count (previously
    * an unguarded hole, never observed on [a-z] corpora, now closed).
    *
    * A candidate is therefore accepted while (a) no earlier accepted
    * merge is ADJACENT to it (candidate.right ∉ accepted lefts,
    * candidate.left ∉ accepted rights) and neither of its symbols
    * collides with a created spelling — its own count is then provably
    * still its snapshot count, so the recorded pairCount matches the
    * sequential trainer bit-for-bit — and (b) its count STRICTLY
    * exceeds the accumulated creation bound — no pair created or
    * boosted by the earlier accepted merges can have overtaken it
    * (strict, so the lexicographic tie-break can never be contested by
    * an unseen created pair). The first rejected candidate ends the
    * round: from there the sequential argmax may differ from snapshot
    * order. The first candidate is always accepted, so progress is
    * guaranteed and the worst case degenerates to one merge per round
    * plus two tiny aggregations.
    */
  def trainMergesDistributed(profile: DataFrame, numMerges: Int,
                             batchCandidates: Int = 1024): Seq[BpeMerge] = {
    require(numMerges > 0, "numMerges must be positive")
    require(batchCandidates > 0, "batchCandidates must be positive")
    // Storage discipline (same as Dedup.connectedComponents): exactly one
    // words-checkpoint AND one counts-checkpoint are live at a time, both
    // released on return. The counts table is maintained INCREMENTALLY
    // (see the delta recount at the bottom of the loop) — it is
    // pair-vocabulary-sized (≤ (26+k)² in principle, tens of thousands in
    // practice), so its per-round checkpoint is driver-cheap while the
    // full recount it replaces exploded the whole ~|vocab|·avgLen pair
    // stream every round (the r17 measured residual: the recount, not
    // the merge count, dominated the 1207.5 s k=2000 wall).
    var lastCk = profile
      .select(initialRepr(col("word")).as("repr"), col("n").cast("long").as("n"))
      .localCheckpoint()
    var words = lastCk
    // initial counts: the ONE full-corpus pair recount of the whole run
    var lastCountsCk = pairCounts(words).localCheckpoint()
    var counts = lastCountsCk
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var dry = false
    while (merges.size < numMerges && !dry) {
      val cand = counts
      locally {
        val top = excludeChosen(cand, merges.toSeq.map(m => (m.left, m.right)))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(batchCandidates).collect()
        if (top.isEmpty) dry = true
        else {
          // global neighbor maxima over the snapshot: the symbol alphabet
          // is ≤ 26 + merges.size rows, so both maps are driver-tiny.
          // Computed from the UN-excluded counts: a previously chosen
          // pair can survive with a nonzero count (the ≥5-run two-pass
          // edge) and its count still bounds pairs created next to it —
          // excluding it here would under-state the creation bound.
          val maxEndingIn = cand.groupBy(col("r")).agg(max(col("cnt")).as("m"))
            .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
          val maxStartingWith = cand.groupBy(col("l")).agg(max(col("cnt")).as("m"))
            .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
          val leftSyms = scala.collection.mutable.Set.empty[String]
          val rightSyms = scala.collection.mutable.Set.empty[String]
          val createdSpellings = scala.collection.mutable.Set.empty[String]
          var createdBound = Long.MinValue
          var i = 0
          var stop = false
          val before = merges.size
          while (i < top.length && !stop && merges.size < numMerges) {
            val (l, r, c) = (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
            // exact-count safety (see the proof above): no earlier accepted
            // merge adjacent to this candidate, no created-spelling boost,
            // and the snapshot count strictly above everything creation
            // could have produced
            val adjacencySafe = !leftSyms(r) && !rightSyms(l)
            val boostSafe = !createdSpellings(l) && !createdSpellings(r)
            if (merges.size == before ||
                (adjacencySafe && boostSafe && c > createdBound)) {
              merges += BpeMerge(merges.size + 1, l, r, c)
              leftSyms += l; rightSyms += r
              val spelling = l + r
              val sigma = math.min(c,
                math.max(maxEndingIn.getOrElse(l, 0L), maxStartingWith.getOrElse(r, 0L)))
              // spelling collision: created mass can land ON TOP of an
              // existing pair adjacent to the `lr` symbol — add its
              // largest snapshot count to the bound for this merge
              val boostBase = math.max(maxEndingIn.getOrElse(spelling, 0L),
                maxStartingWith.getOrElse(spelling, 0L))
              createdBound = math.max(createdBound, sigma + boostBase)
              createdSpellings += spelling
              i += 1
            } else stop = true
          }
          // DELTA RECOUNT: merging (l, r) rewrites exactly the words whose
          // repr contains " l r " (applyMerge's replace is a no-op on every
          // other row), and the batch acceptance rule above guarantees the
          // accepted merges act on DISJOINT occurrence sites (no accepted
          // pair is created or destroyed by another accepted merge — that
          // is what adjacencySafe + boostSafe prove), so the PRE-batch
          // contains() test finds the exact touched set for the whole
          // batch. The pair-count delta is then one explode+agg over the
          // touched rows only — old pairs at weight −n, rewritten pairs at
          // weight +n — folded into the maintained counts table; pairs
          // netting to zero drop so the table matches a from-scratch
          // recount ROW-FOR-ROW (dry detection and the ≥5-run residual-
          // count edge included). Zipfian rounds touch a large share early
          // (hot symbols) and a vanishing share late; the recount cost now
          // scales with what the merges touched, not with the vocabulary.
          val batch = merges.drop(before).toSeq
          val touchedPred = batch
            .map(m => col("repr").contains(s" ${m.left} ${m.right} "))
            .reduce(_ || _)
          val touched = words.filter(touchedPred)
          val rewrittenTouched = batch.foldLeft(touched)((w, m) =>
            applyMerge(w, m.left, m.right))
          val delta = pairCounts(
            touched.withColumn("n", negate(col("n"))).unionAll(rewrittenTouched))
          val newCounts = counts.unionAll(delta)
            .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("cnt"))
            .filter(col("cnt") =!= 0L)
            .localCheckpoint()
          Checkpoints.release(lastCountsCk)
          lastCountsCk = newCounts
          counts = newCounts
          // apply the whole batch in rank order as ONE projection (2
          // replaces per merge, nested), then checkpoint the round
          words = batch.foldLeft(words)((w, m) =>
            applyMerge(w, m.left, m.right))
          val ck = words.localCheckpoint()
          Checkpoints.release(lastCk)
          lastCk = ck
          words = ck
        }
      }
    }
    Checkpoints.release(lastCountsCk)
    Checkpoints.release(lastCk)
    merges.toSeq
  }

  /** Candidate pairs minus the already-chosen merges, as a broadcast
    * ANTI-JOIN against a local relation — never a growing
    * `isin(chosen)` predicate, whose expression tree (and codegen) gets
    * k entries longer every merge: at k=256 that is a 255-way OR
    * re-planned and re-compiled per iteration, while the anti-join's
    * plan SHAPE is one fixed node whose chosen pairs are data rows
    * (asserted constant-size in BpeSpec).
    */
  private[operators] def excludeChosen(cand: DataFrame,
                                       chosen: Seq[(String, String)]): DataFrame =
    if (chosen.isEmpty) cand
    else {
      val spark = cand.sparkSession
      import spark.implicits._
      cand.join(broadcast(chosen.toDF("l", "r")), Seq("l", "r"), "left_anti")
    }

  /** Two leftmost non-overlapping replace passes — see the determinism
    * contract above. Symbols are [a-z]+ so inlining them into the
    * expression string is injection-safe. Rewrites `repr` in place,
    * preserving every other column (the trainer carries `n`, the encoder
    * carries the document id).
    */
  private def applyMerge(words: DataFrame, l: String, r: String): DataFrame = {
    val pat = s" $l $r "
    val rep = s" $l$r "
    words.withColumn("repr",
      expr(s"replace(replace(repr, '$pat', '$rep'), '$pat', '$rep')"))
  }

  /** Tokenize a corpus with a learned merge table: per document, every
    * word is rewritten by the merges in rank order and the symbol counts
    * aggregated to (id, n_words, n_tokens). The merges are k rows of
    * driver data by construction, inlined into the plan as literals, so
    * encoding is ONE scan-local pass over the corpus followed by a
    * combinable per-doc aggregation — no joins, no broadcast, and the
    * per-row cost is 2k string replaces regardless of corpus size.
    */
  def encodeStats(docs: DataFrame, merges: Seq[BpeMerge],
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = docs
      .select(col(idCol),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))).as("word"))
      .select(col(idCol), initialRepr(col("word")).as("repr"))
    val rewritten = merges.foldLeft(words)((df, m) => applyMerge(df, m.left, m.right))
    rewritten
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(split(trim(col("repr")), " ")).cast("long")).as("n_tokens"))
  }

  /** The profile rewritten by a merge list, in order — (repr, n). Used by
    * the compression spec (total symbol count must shrink with every
    * merge) and by downstream tokenization.
    */
  def applyMerges(profile: DataFrame, merges: Seq[BpeMerge]): DataFrame =
    merges.foldLeft(
      profile.select(initialRepr(col("word")).as("repr"), col("n").cast("long").as("n"))
    )((df, m) => applyMerge(df, m.left, m.right))

  /** Corpus-weighted symbol count of a rewritten profile — the quantity
    * each merge must strictly reduce.
    */
  def totalSymbols(words: DataFrame): Long =
    words
      .select(sum(size(split(trim(col("repr")), " ")).cast("long") * col("n")).as("t"))
      .collect()(0).getLong(0)

  /** Merge table as a DataFrame for the driver contract. */
  def mergesDf(spark: SparkSession, merges: Seq[BpeMerge]): DataFrame = {
    import spark.implicits._
    merges.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }
}
