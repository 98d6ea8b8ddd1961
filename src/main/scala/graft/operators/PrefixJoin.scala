package graft.operators

import graft.functions.NativeTextExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-similarity join by PREFIX FILTERING (the PPJoin/AllPairs family):
  * exact all-pairs Jaccard ≥ t over word n-gram sets, generating
  * candidates from a length-dependent PREFIX of each document's grams
  * instead of the full inverted index that [[Dedup.ngramJaccardAllPairs]]
  * (q80) builds over the same gram domain.
  *
  * The pruning argument: order every document's distinct grams by global
  * rarity (ascending document frequency, gram hash as tie-break) and keep
  * only the first |d| − ⌈t·|d|⌉ + 1 as its prefix. Two sets with
  * Jaccard ≥ t must overlap in ≥ ⌈t·max(|a|,|b|)⌉ grams, so they cannot
  * avoid sharing at least one PREFIX gram — candidates from prefix
  * collisions are therefore LOSSLESS (recall 1.0, asserted against brute
  * force in spec), while the index shrinks two ways at once: only ~(1−t)
  * of each document's grams are indexed, and those are its RAREST, so the
  * per-gram candidate fan-out (Σ df²) collapses exactly where the full
  * inverted index skews worst — boilerplate grams never enter a prefix at
  * high t. At 100 TB this is the difference between the join exploding on
  * the 10⁸-doc posting list and never materializing it.
  *
  * Grams are XXH64 hashes from the native `word_ngram_hashes` (q80's
  * stance: Spark joins on hashes, the oracle joins on strings, identical
  * pair sets verify the hashed path; 2⁻⁶⁴ collision budget). Hashing is
  * also the hot-path win: one native pass per document replaces the
  * interpreted HOF gram build, and every downstream compare is a long,
  * not a string (measured 2.5× end to end at sf0.1).
  *
  * Plan shape: one scan → native gram explode; one shuffle on gram hash
  * for df; one shuffle on id to assemble ordered sets (staged once —
  * three consumers); prefix self-join shuffles on the (rare) prefix gram;
  * then two hash joins back to the set table for the exact verify, with
  * the pair dedup placed AFTER the verify while the set table broadcasts
  * (duplicates stay in-pipeline; only output-sized rows shuffle) and
  * BEFORE it once the verify joins must shuffle.
  */
object PrefixJoin {
  private def bruteMaxDocs(docs: DataFrame): Long =
    graft.GraftConf.long(docs.sparkSession, "spark.graft.prefixJoin.bruteMaxDocs", 20000L)

  /** Rows per packed block in the brute regime's blocked all-pairs verify
    * (r19). 0 disables blocking (the r18 per-pair nested-loop join —
    * kept as the reference form the equality spec pins against). The
    * default balances kernel amortization against task granularity: at
    * the gate's 20k-doc ceiling it yields ~625 blocks ≈ 195k block pairs,
    * each one ~32² fused merge loops.
    */
  private def bruteBlockRows(docs: DataFrame): Int =
    graft.GraftConf.int(docs.sparkSession, "spark.graft.prefixJoin.bruteBlockRows", 32)

  /** Assign each row a deterministic block id (hash of `id`, never RNG —
    * retried tasks must reproduce the assignment) targeting `blockRows`
    * rows per block. Block membership is a physical layout choice: the
    * blocked verify evaluates EVERY block pair, so any assignment yields
    * the identical pair set.
    */
  private def withBlockId(df: DataFrame, nRows: Long, blockRows: Int): DataFrame = {
    val nBlocks = math.max(1L, (nRows + blockRows - 1) / blockRows)
    df.withColumn("bid", pmod(xxhash64(col("id")), lit(nBlocks)))
  }

  /** Exact (id_a, id_b, jaccard) pairs with Jaccard ≥ `threshold` over
    * distinct word `n`-grams (clipped q80-style: a doc shorter than n
    * contributes its whole text as one gram), id_a < id_b.
    */
  def jaccardPrefixJoin(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sets = Dedup.stage(orderedSets(docs, idCol, textCol, n), "prefixjoin-sets")
    // Same cost-gated physical strategy as [[weightedCosinePrefixJoin]]:
    // under the gate, n²/2 codegen'd merge-Jaccards through one
    // broadcast nested-loop join beat the posting self-join + pair
    // dedup + two verify joins. sets is already staged, so the gate's
    // count() is parquet metadata, and the set arrays re-sort by gram
    // hash (orderedSets orders by rarity; the merge needs value order).
    val bruteMax = bruteMaxDocs(docs)
    val nSets = sets.count()
    if (nSets <= bruteMax) {
      val sorted = sets.select(col("id"), array_sort(col("toks")).as("toks"))
      val fanout = graft.GraftConf.explosiveFanout(docs.sparkSession)
      return sorted.repartition(fanout)
        .select(col("id").as("id_a"), col("toks").as("ta"))
        .join(broadcast(sorted.select(col("id").as("id_b"), col("toks").as("tb"))),
          col("id_a") < col("id_b"))
        .withColumn("jaccard", expr("jaccard_sorted(ta, tb)"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
    val prefix = prefixPostings(sets, threshold)
    // Broadcast gate on BYTES, not row count: the verify side carries the
    // full gram arrays (one long per gram), so a long-document corpus can
    // push a 200k-row table to GBs. `sets` is already staged, so this agg
    // is a cheap parquet scan; the posting table is strictly smaller than
    // `sets`, so one measurement gates both broadcasts. The sf20 tier
    // crossed this gate NATURALLY (1M docs pushed the gram table past the
    // 1 GiB heap-derived cap).
    val budget = graft.GraftConf.broadcastBytes(docs.sparkSession)
    val fitsBroadcast = graft.GraftConf.gate(docs.sparkSession, "jaccardPrefixJoin verify",
      ("broadcast", "shuffle"), "spark.graft.broadcastBytes", budget, "aggregate")(
      sets.agg(coalesce(sum(col("sz")), lit(0L))).head.getLong(0) * 8L + nSets * 32L)
    // one raw pair per shared prefix gram, deduplicated after the
    // in-pipeline intersect while the sets broadcast
    val rawPairs = CandidatePairs.keyPairs(prefix, Seq("ptok"), fitsBroadcast)
    CandidatePairs.verifiedPairs(rawPairs, sets, Seq("toks", "sz"), fitsBroadcast) {
      _.withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Candidate-pair counts of the prefix index vs the full inverted index
    * over the same gram sets — the pruning-effectiveness diagnostic the
    * spec gates on (prefix ≤ full always).
    */
  def candidateCounts(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3): (Long, Long) = {
    val sets = Dedup.stage(orderedSets(docs, idCol, textCol, n), "prefixjoin-cand")
    def distinct(postings: DataFrame, key: String): Long = CandidatePairs.distinctPairs(
      CandidatePairs.keyPairs(postings, Seq(key), broadcastSide = false), pinned = false).count()
    (distinct(prefixPostings(sets, threshold), "ptok"),
      distinct(sets.select(col("id"), explode(col("toks")).as("tok")), "tok"))
  }

  /** (id, toks, sz): each document's distinct gram hashes ordered by
    * ascending global df (hash tie-break), staged by callers — the table
    * feeds the prefix postings AND both sides of the verify join, and
    * without materialization Spark re-executes the scan→explode→df-join→
    * sort pipeline once per consumer.
    */
  private def orderedSets(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    require(n >= 1, s"gram width must be >= 1, got $n")
    NativeTextExpressions.register(docs.sparkSession)
    // explode_outer: plain explode would push a size()>0 pre-filter that
    // evaluates the native gram expression twice per row (the q80 lesson)
    val toks = docs
      .select(col(idCol).as("id"), expr(s"word_ngram_hashes($textCol, $n)").as("__gs"))
      .select(col("id"), explode_outer(col("__gs")).as("tok"))
      .filter(col("tok").isNotNull)
    val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    toks.join(df, "tok")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
      .select(col("id"),
        transform(col("ordered"), x => x.getField("tok")).as("toks"),
        size(col("ordered")).as("sz"))
  }

  /** One row per (id, prefix gram hash). */
  private def prefixPostings(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val prefixLen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    sets.select(col("id"), explode(slice(col("toks"), lit(1), prefixLen)).as("ptok"))
  }

  /** WEIGHTED prefix join: exact all-pairs tf-idf COSINE ≥ t over unigram
    * terms, uncapped — the scale path that retires the q145 `doc_id <
    * 1000` slice. Same output contract as q145 (id_a < id_b, cosine
    * rounded to 4 before the threshold) on the full corpus.
    *
    * The weighted pruning argument (AllPairs/PPJoin lifted to unit
    * vectors): unit-normalize each document's tf-idf weights, order every
    * document's terms by a GLOBAL total order (ascending df, term-hash
    * tie-break — rarest, i.e. heaviest, first), and let tail_j =
    * ‖w[j..]‖₂ be the L2 norm of the suffix starting at term j. A
    * document's PREFIX is the terms with tail_j ≥ t. For any pair with
    * cos ≥ t, its first shared term (in the global order) must sit in
    * BOTH prefixes: were it past either prefix, every shared term would
    * be in that side's suffix and Cauchy-Schwarz caps the dot product at
    * ‖suffix‖₂·‖unit vector‖₂ < t. So prefix×prefix candidate generation
    * is LOSSLESS (asserted against brute force in spec), and because
    * rare-first ordering front-loads the heaviest weights, the tail
    * collapses fastest exactly when tf-idf is skewed — short prefixes of
    * RARE terms, so the posting-list fan-out Σ df² dies where the full
    * inverted index (q145's term self-join) explodes.
    *
    * The PPJoin position filter survives the lift: a candidate generated
    * at positions (p_a, p_b) bounds cos ≤ tail_{p_a}(a)·tail_{p_b}(b),
    * so posting pairs below t (minus a float-slack ε — pruning must
    * never decide membership) are dropped before the pair dedup; the
    * first-shared-term row always passes, preserving losslessness. The
    * length filter degenerates: unit vectors all have ‖·‖ = 1.
    *
    * Plan shape: one scan → term explode; one shuffle for df; one
    * shuffle on id for the per-doc window (tail norms) — STAGED once,
    * feeding postings and the verify vectors; the vectors groupBy reuses
    * the id partitioning (no new exchange); candidates shuffle on the
    * rare prefix term only, and while the vector table broadcasts the
    * raw pair stream is verified map-side WITHOUT a prior dedup (the
    * only shuffle it ever sees is the output-sized final dedup) — no
    * pair×term shuffle, unlike q145's groupBy(id_a, id_b) dot assembly.
    * Zero-norm documents (every term in every doc) are excluded — their
    * cosine is undefined.
    */
  def weightedCosinePrefixJoin(docs: DataFrame, idCol: String, textCol: String,
                               threshold: Double,
                               idfDocsOverride: Option[Double] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    NativeTextExpressions.register(docs.sparkSession)
    val nDocs = docs.count().toDouble
    // idfDocsOverride: weight terms as if the corpus had this many docs —
    // the per-partition-block exact decomposition (disjoint-vocabulary
    // shards: per-term df is shard-local already, only the idf numerator
    // is global) passes the FULL corpus size so every block scores with
    // the exact global tf-idf weights. The brute-vs-index physical gate
    // below still keys on the ACTUAL input size.
    val idfN = idfDocsOverride.getOrElse(nDocs)
    // Physical-strategy choice, same shape as Spark's broadcast-join
    // decision: below `spark.graft.prefixJoin.bruteMaxDocs` (default
    // 20 000) the unit-vector table broadcasts and the all-pairs
    // nested-loop verify (codegen'd sorted_dot; n²/2 merge-dots) costs
    // less than the index's extra shuffles — on a NEAR-DUP-DENSE corpus
    // the prefix index degenerates anyway (measured at sf0.1: 11.4M
    // candidates of 12.5M possible pairs, i.e. 9% pruning, with the
    // posting self-join + pair dedup + verify joins costing ~15 s where
    // the brute nested loop costs 1.2 s). Above the gate the lossless
    // prefix index is the only distributed-safe plan: candidates stay
    // ≤ all-pairs, nothing broadcasts, and pruning pays off exactly on
    // the sparse corpora where exact pair joins are runnable at all.
    val bruteMax = bruteMaxDocs(docs)
    val unit = unitTfidfTerms(docs, idCol, textCol, idfN)
    if (nDocs <= bruteMax) {
      // Dense/small regime: stage the sorted sparse vectors once, then
      // an inner broadcast nested-loop join over id_a < id_b with the
      // cosine computed IN the join projection — arrays never shuffle,
      // no posting join, no pair dedup. The staged read-back is one
      // tiny file (one partition), so the stream side is explicitly
      // repartitioned or the n²/2 merge-dots run on a single core.
      val vecs = Dedup.stage(
        unit.groupBy(col("id"))
          .agg(sort_array(collect_list(struct(col("tok"), col("u")))).as("kv"))
          .select(col("id"),
            transform(col("kv"), x => x.getField("tok")).as("ks"),
            transform(col("kv"), x => x.getField("u")).as("vs")),
        "wprefixjoin-brutevecs")
      val fanout = graft.GraftConf.explosiveFanout(docs.sparkSession)
      val blockRows = bruteBlockRows(docs)
      if (blockRows > 0) {
        // r19 blocked verify (guide §1.2 step 2): pack, broadcast, one
        // fused kernel call per block pair. The kernel emits RAW dots
        // above threshold − 1e-4 (pruning only: round-to-4 moves a value
        // by ≤ 5e-5) and the SAME relational round+filter as the NLJ
        // form decides membership, so the output rows are bit-identical
        // (spec-pinned). The floor clamps at 0 for thresholds under
        // 1e-4: tf-idf weights are non-negative, so a negative floor
        // prunes nothing, and the interpolated literal stays unsigned.
        val minDot = math.max(0.0, threshold - 1e-4)
        // staged once: both sides of the self-join read the same packed
        // blocks instead of each re-running the pack aggregation
        val blocks = Dedup.stage(withBlockId(vecs, nDocs.toLong, blockRows)
          .groupBy(col("bid"))
          .agg(expr("pack_sparse_vec_block(collect_list(struct(id, ks, vs)))").as("blob")),
          "wprefixjoin-blocks")
        return blocks.repartition(fanout).as("a")
          .join(broadcast(blocks).as("b"), col("a.bid") <= col("b.bid"))
          .select(explode(expr(
            s"sorted_dot_block_pairs(a.blob, b.blob, $minDot, a.bid = b.bid)")).as("e"))
          .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"),
            round(col("e.dot"), 4).as("cosine"))
          .filter(col("cosine") >= threshold)
      }
      return vecs.repartition(fanout)
        .select(col("id").as("id_a"), col("ks").as("ka"), col("vs").as("va"))
        .join(broadcast(vecs.select(col("id").as("id_b"), col("ks").as("kb"), col("vs").as("vb"))),
          col("id_a") < col("id_b"))
        .withColumn("cosine", round(expr("sorted_dot(ka, va, kb, vb)"), 4))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("tok"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val tails = Dedup.stage(
      unit.withColumn("tail", sqrt(sum(col("u") * col("u")).over(byRarity))),
      "wprefixjoin-tails")
    val posting = tails.filter(col("tail") >= threshold)
      .select(col("id"), col("tok"), col("tail"))
    // Byte-based broadcast gate (shared by the posting join and the
    // verify below): the broadcast payloads are variable-width — the
    // verify vectors carry one (long, double) entry per distinct term
    // per doc — so gate on measured volume, not document count. `tails`
    // is staged parquet, so the count is metadata-cheap; the posting
    // table is a tail-filtered subset of the same rows. Each term entry
    // is a (long, double); each doc is charged 32 B more.
    val budget = graft.GraftConf.broadcastBytes(docs.sparkSession)
    val fitsBroadcast = graft.GraftConf.gate(docs.sparkSession,
      "weightedCosinePrefixJoin verify", ("broadcast", "shuffle"),
      "spark.graft.broadcastBytes", budget, "count")(
      tails.count() * (java.lang.Long.BYTES + java.lang.Double.BYTES) + nDocs.toLong * 32L)
    // one raw row per SHARED PREFIX TERM of a pair, position-filtered in
    // the join condition and deliberately NOT deduped before the verify
    // while the vectors broadcast: on the template-dense 50k-doc corpus
    // a duplicate (~5.8 raw rows per pair) costs one extra in-pipeline
    // dot, where deduping first shuffled the whole raw stream (717M
    // rows, 132 of 250 s). The id fan-out then collapses duplicates
    // map-side (t=0.7: 254M verified rows, 33M distinct). The posting
    // table is tiny (9 rows/doc — ~11 MB at 50k docs) but its self-join
    // output is O(Σ df²).
    val rawPairs = CandidatePairs.keyPairs(posting, Seq("tok"), fitsBroadcast,
      on = col("a.tail") * col("b.tail") >= threshold - 1e-9)
    // verify vectors as (sorted key array, aligned value array): the
    // native merge-join dot is O(|a|+|b|) per pair where a map column is
    // O(|a|·|b|) (Catalyst map lookup is a linear scan) — at 10⁷
    // candidates on a dense corpus that is the difference between the
    // verify dominating the join and disappearing into it
    val vecs = Dedup.stage(
      tails.groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("tok"), col("u")))).as("kv"))
        .select(col("id"),
          transform(col("kv"), x => x.getField("tok")).as("ks"),
          transform(col("kv"), x => x.getField("u")).as("vs")),
      "wprefixjoin-vecs")
    // past the gate the one unavoidable cost is the id_b exchange
    // carrying the attached id_a (ks, vs) arrays (~2.4 KB/row at the
    // 250k-doc shape) — linear in candidates and spread across the
    // cluster
    CandidatePairs.verifiedPairs(rawPairs, vecs, Seq("ks", "vs"), fitsBroadcast) {
      _.withColumn("cosine", round(expr("sorted_dot(ks_a, vs_a, ks_b, vs_b)"), 4))
        .filter(col("cosine") >= threshold)
    }.select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** (id, tok, df, u): each document's L2-unit tf-idf weights over
    * whitespace unigram terms (terms XXH64-hashed, idf = ln(N/df)) —
    * the shared vector model of the weighted prefix join and the
    * hashed-embedding ANN swap. Zero-norm documents are excluded
    * (their cosine is undefined).
    */
  private[graft] def unitTfidfTerms(docs: DataFrame, idCol: String,
                                        textCol: String, nDocs: Double): DataFrame = {
    // r18 (guide §2.3 "aggregate before you shuffle"): term frequency is
    // a PER-DOCUMENT quantity, but the explode → groupBy(id, term) form
    // shuffled one row per term OCCURRENCE to compute it. The native
    // `word_tf_entries` builds each document's (tok, tf) pairs in the
    // scan (same lower(), same regex-\s tokenization, same xxhash64 seed
    // — bit-identical rows, spec-pinned), so the tf exchange disappears
    // and only the df aggregate, the df join, and the norm aggregate
    // shuffle — each over (doc, term)-distinct rows, never occurrences.
    NativeTextExpressions.register(docs.sparkSession)
    val tf = docs
      .select(col(idCol).as("id"),
        explode_outer(expr(s"word_tf_entries($textCol)")).as("e"))
      .filter(col("e").isNotNull)
      .select(col("id"), col("e.tok").as("tok"), col("e.tf").as("tf"))
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = tf.join(dfT, "tok")
      .select(col("id"), col("tok"), col("df"),
        (col("tf") * log(lit(nDocs) / col("df"))).as("w"))
    val norms = w.groupBy(col("id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.join(norms, "id").filter(col("nrm") > 0)
      .select(col("id"), col("tok"), col("df"), (col("w") / col("nrm")).as("u"))
  }

  /** Public form of [[unitTfidfTerms]]: the (id, tok, df, u) unit
    * tf-idf table for `docs`. Callers that derive several artifacts
    * from it (sparse vectors AND hashed embeddings) should stage the
    * result once — Spark does no CSE across DataFrame references.
    */
  def unitTfidfTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    NativeTextExpressions.register(docs.sparkSession)
    unitTfidfTerms(docs, idCol, textCol, docs.count().toDouble)
  }

  /** Feature-hashed dense embeddings of the tf-idf unit vectors —
    * the bridge from the exact sparse pair joins to the ANN family
    * ([[Similarity.ivfTopK]] etc.), which needs fixed-dimension
    * `array<float>` input. Signed hashing kernel (Weinberger et al.,
    * "Feature Hashing for Large Scale Multitask Learning"): slot =
    * tok mod dim, sign = one independent hash bit, so collisions
    * cancel in expectation and E[⟨φ(a), φ(b)⟩] = ⟨a, b⟩ — hashed
    * cosine is an unbiased estimate of the exact tf-idf cosine, with
    * variance shrinking in `dim`. Everything is scan-local after the
    * per-doc agg: slot sums groupBy (id, slot), the dense array
    * assembles from a slot→value map per document.
    */
  def hashedTfidfEmbeddings(docs: DataFrame, idCol: String, textCol: String,
                            dim: Int = 256): DataFrame =
    hashedEmbeddingsFromUnit(unitTfidfTable(docs, idCol, textCol), dim)

  /** One aggregation producing BOTH vector artifacts of a document —
    * (id, ks, vs, embedding): the sorted sparse tf-idf vector (the
    * `sorted_dot` exact-rerank format) and its feature-hashed dense
    * embedding (the ANN index/query format). A pipeline that needs both
    * (q204: IVF shortlist + exact rerank) previously ran three
    * aggregations over the unit table and staged two tables; here the
    * single per-doc collect feeds the dense assembly scan-locally — the
    * signed entries go to `sparse_to_dense` un-pre-summed, which is why
    * that kernel accumulates on repeated slots. Column pruning keeps
    * consumers honest: a reader of `embedding` never pays for ks/vs in
    * the staged parquet and vice versa.
    */
  def vectorTableFromUnit(unit: DataFrame, dim: Int = 256): DataFrame = {
    require(dim >= 2, s"embedding dim must be >= 2, got $dim")
    graft.functions.VectorFunctions.register(unit.sparkSession)
    unit.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("tok"), col("u")))).as("kv"))
      .select(col("id"),
        transform(col("kv"), x => x.getField("tok")).as("ks"),
        transform(col("kv"), x => x.getField("u")).as("vs"),
        expr(s"""sparse_to_dense(
             |  transform(kv, x -> struct(
             |    cast(pmod(x.tok, $dim) as int) as slot,
             |    case when pmod(shiftrightunsigned(x.tok, 32), 2) = 0
             |         then x.u else -x.u end as v)),
             |  $dim)""".stripMargin).as("embedding"))
  }

  /** [[hashedTfidfEmbeddings]] over an existing (possibly staged)
    * [[unitTfidfTable]]. The dense assembly is the native
    * `sparse_to_dense` (one pass per document) — the declarative
    * map-lookup formulation paid O(dim × entries) interpreted HOF work
    * per document and dominated the embedding build.
    */
  def hashedEmbeddingsFromUnit(unit: DataFrame, dim: Int = 256): DataFrame = {
    require(dim >= 2, s"embedding dim must be >= 2, got $dim")
    graft.functions.VectorFunctions.register(unit.sparkSession)
    val slotted = unit
      .select(col("id"), pmod(col("tok"), lit(dim)).cast("int").as("slot"),
        // an independent bit of the 64-bit hash decides the sign; tok
        // mod dim uses the LOW bits, so take the sign bit from the top
        when(shiftrightunsigned(col("tok"), 32) % 2 === 0, col("u"))
          .otherwise(-col("u")).as("sv"))
      .groupBy(col("id"), col("slot")).agg(sum(col("sv")).as("v"))
    slotted.groupBy(col("id"))
      .agg(collect_list(struct(col("slot"), col("v"))).as("entries"))
      .select(col("id").as("vec_id"),
        expr(s"sparse_to_dense(entries, $dim)").as("embedding"))
  }
}
