package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Physical-plan gates for the round-6 training-data operators: the scale
  * claims ("scan-local", "pruned scan") asserted on the executed plans, not
  * just stated in docs.
  */
class PlanShapeSpec extends SparkSpec {

  private def scanColumns(df: org.apache.spark.sql.DataFrame): Set[String] = {
    // AQE wraps the plan, so walk the whole tree via the string form's
    // ReadSchema entries (stable for the narrow schemas asserted here)
    val plans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }
    if (plans.nonEmpty) plans.flatten.toSet
    else "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .flatMap(_.group(1).split(",").map(_.split(":").head.trim))
      .toSet
  }

  private def exchangeCount(df: org.apache.spark.sql.DataFrame): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(
      df.queryExecution.executedPlan.toString).length

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("trainTestSplit's scan prunes to the id column only") {
    // the mix + split label are functions of doc_id alone; nothing else
    // may be read
    val split = operators.Sampling.withSplit(docs, "doc_id")
      .groupBy(col("split")).count()
    assert(scanColumns(split) == Set("doc_id"))
  }

  test("hash sampling and chunking are shuffle-free operators") {
    val sampled = operators.Sampling.hashSample(docs, "doc_id", 0.5)
    assert(exchangeCount(sampled) == 0, "hashSample must not shuffle")
    val chunks = operators.Chunking.tokenWindows(docs, "doc_id", "text")
    assert(exchangeCount(chunks) == 0, "tokenWindows must not shuffle")
    assert(scanColumns(chunks) == Set("doc_id", "text"))
  }

  test("BPE encode is one pruned scan; only the per-doc agg shuffles") {
    val merges = Seq(operators.Bpe.BpeMerge(1, "e", "s", 9L),
      operators.Bpe.BpeMerge(2, "es", "t", 9L))
    val enc = operators.Bpe.encodeStats(docs, merges)
    assert(scanColumns(enc) == Set("doc_id", "text"))
    assert(exchangeCount(enc) <= 1, "merges are literals: no join, no broadcast")
    assert(!enc.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("IVF assign-only append plans zero exchanges (scan-local assignment)") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = operators.Similarity.ivfBuild(
      vecs.filter(col("vec_id") % 5 =!= 0), numCentroids = 4, trainIters = 0)
    val merged = operators.Similarity.ivfAppend(
      index, vecs.filter(col("vec_id") % 5 === 0))
    assert(exchangeCount(merged.assigned) == 0,
      "append = nearest-centroid projection over the batch + union; " +
        "the standing corpus must not be rescanned through a shuffle")
  }

  test("column profile is a single scan shared by nulls and multi-distinct") {
    val prof = Queries.columnProfile(spark, sf0001)
    assert(scanColumns(prof) == Set("lang", "source", "n_chars"))
    val scans = "Scan parquet".r
      .findAllIn(prof.queryExecution.executedPlan.toString).length
    assert(scans == 1, s"expected one shared scan, saw $scans")
  }

  test("repetitionReport is a single pruned scan with no shuffle") {
    val report = operators.QualityRules.repetitionReport(docs, "doc_id", "text")
    assert(exchangeCount(report) == 0, "token_profile form must not shuffle")
    assert(scanColumns(report) == Set("doc_id", "text"))
  }

  test("suppressExact anti-joins with only the reference side exchanged") {
    val reference = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val plan = operators.Dedup.suppressExact(corpus, reference, "text", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti-join in:\n$plan")
  }

  test("ngramJaccardAllPairs: one scan+shuffle reused for both self-join sides at scale") {
    // the at-100TB regime is a shuffle join (no broadcastable side);
    // force it so the identical-subplan exchange reuse is observable
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = operators.Dedup.ngramJaccardAllPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.1)
      pairs.collect() // AQE finalizes reuse decisions at execution
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        s"the identical gram subplan must be shuffled once and reused:\n$plan")
      // the native gram expression must appear once in the final plan (the
      // AQE toString appends an "Initial Plan" rendering — cut it off),
      // not doubled into a pushed size() pre-filter
      val finalPlan = plan.split("== Initial Plan ==").head
      val evals = "word_ngram_hashes".r.findAllIn(finalPlan).length
      assert(evals <= 1, s"word_ngram_hashes evaluated $evals times in:\n$finalPlan")
      assert(scanColumns(pairs) == Set("doc_id", "text"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("compressionReport is a single pruned scan with no shuffle") {
    val report = operators.QualityRules.compressionReport(docs, "doc_id", "text")
    assert(exchangeCount(report) == 0, "deflate form must not shuffle")
    assert(scanColumns(report) == Set("doc_id", "text"))
  }

  test("bm25 and unigram-LM ride broadcasts for stats, never shuffle them") {
    // df/(N,avgdl) in q90 and the LM/total in q100 are the small sides —
    // they must broadcast so only the corpus-side aggregations shuffle
    val bm25 = Queries.bm25TopDocs(spark, sf0001)
    bm25.collect()
    val p90 = bm25.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p90).length >= 2, s"expected broadcast stats joins:\n$p90")
    val xent = Queries.unigramCrossEntropy(spark, sf0001)
    xent.collect()
    val p100 = xent.queryExecution.executedPlan.toString
    assert(p100.contains("Broadcast"), s"LM join must broadcast:\n$p100")
  }

  test("unpivot is scan-local: no exchange below the generator") {
    // the query's trailing orderBy shuffles by design; the melt itself
    // (same projection, no sort) must be a single pass
    val melted = docs
      .select(col("doc_id"),
        col("n_chars").cast("double").as("n_chars"),
        length(col("text")).cast("double").as("len"))
      .unpivot(Array(col("doc_id")), "feature", "value")
    assert(exchangeCount(melted) == 0, "unpivot must not shuffle")
  }

  test("one-day query over the partitioned layout prunes to one partition") {
    // AQE off: its wrapper nodes hide the scan from plan.collect, and
    // partition pruning is decided at planning time anyway
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = Queries.partitionPrunedDay(spark, sf0001)
      pruned.collect()
      val scans = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
        _.toString.contains("graft-events-by-day")) => s
    }
      assert(scans.nonEmpty, "expected a scan over the partitioned layout")
      val scan = scans.head
      assert(scan.partitionFilters.nonEmpty,
        s"day predicate must reach the scan as a partition filter:\n$scan")
      val days = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      assert(days.size == 1,
        s"one-day predicate must select exactly one partition, got ${days.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("bucketed join: no exchange below the sort-merge join; plain-join parity") {
    // AQE off so the static executed plan is a plain tree we can walk —
    // the no-shuffle property being asserted is decided by
    // EnsureRequirements either way
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = Queries.bucketedJoin(spark, sf0001)
      val exec = joined.queryExecution.executedPlan
      val smjs = exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected a sort-merge join:\n$exec")
      val shufflesBelow = smjs.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(shufflesBelow.isEmpty,
        s"bucket layout must satisfy the join partitioning, found shuffle:\n${smjs.head}")
      val rows = joined.collect()
      val plain = spark.read.parquet(s"$sf0001/orders.parquet")
        .join(spark.read.parquet(s"$sf0001/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment")).collect()
      assert(rows.toSeq == plain.toSeq, "bucketing must not change the answer")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("interval coverage plans ONE data shuffle: islands and rollups reuse the user_id partitioning") {
    // exchanges = 1 hash (user_id) + 1 range (output sort) and nothing else
    val df = Queries.intervalCoverage(spark, sf0001)
    assert(exchangeCount(df) <= 2, s"partitioning not reused:\n${df.queryExecution.executedPlan}")
  }

  test("sequence match: journey build + global counts are exactly two exchanges") {
    val df = Queries.sequenceMatch(spark, sf0001)
    assert(exchangeCount(df) <= 2, s"extra shuffles:\n${df.queryExecution.executedPlan}")
  }

  test("zone map rides a 1-row broadcast domain, never a cartesian product") {
    val df = Queries.zoneMapSkipping(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"domain must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product leaked:\n$plan")
  }

  test("weighted prefix join consumes staged tails and broadcasts the verify vectors") {
    // force the index path: the spec corpus sits under the brute gate
    spark.conf.set("spark.graft.prefixJoin.bruteMaxDocs", "0")
    val df = try operators.PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", 0.6)
      finally spark.conf.unset("spark.graft.prefixJoin.bruteMaxDocs")
    val plan = df.queryExecution.executedPlan.toString
    // staged: the tf/df/window pipeline must not re-execute downstream —
    // if tokenization appears in the final plan, staging regressed
    assert(!plan.contains("xxhash64") && !plan.contains("lower("),
      "tails not staged; term pipeline re-executes per consumer")
    // the fat vector payload must ride broadcasts (below the size cutoff),
    // so candidate rows never shuffle through the verify joins
    assert(plan.contains("BroadcastHashJoin"), s"verify joins not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("weighted prefix join's brute branch: staged vectors, broadcast nested loop, fanned-out stream") {
    // under the default gate the spec corpus takes the all-pairs branch —
    // since r19 the BLOCKED form: vectors staged once (no term pipeline
    // in the plan — the only xxhash64 allowed is the block-id assignment
    // on the staged `id`), block pairs ride an inner
    // BroadcastNestedLoopJoin on bid ≤ bid (NOT a cartesian), and the
    // stream side is repartitioned so the fused kernel doesn't run on
    // the staged file's single input partition
    val df = operators.PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", 0.6)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("lower(") && !plan.contains("word_tf_entries"),
      "vectors not staged; term pipeline re-executes per join side")
    assert(plan.contains("sorted_dot_block_pairs"),
      s"blocked verify kernel missing from the brute plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"all-pairs must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
    assert(plan.contains("Exchange RoundRobinPartitioning"),
      s"stream side not fanned out; nested loop would run single-core:\n$plan")
    // the pre-r19 per-pair NLJ form stays reachable (the equality spec's
    // reference) and keeps ITS shape
    spark.conf.set("spark.graft.prefixJoin.bruteBlockRows", "0")
    try {
      val nlj = operators.PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", 0.6)
      val nljPlan = nlj.queryExecution.executedPlan.toString
      assert(!nljPlan.contains("xxhash64") && !nljPlan.contains("lower("),
        "NLJ form: vectors not staged")
      assert(nljPlan.contains("BroadcastNestedLoopJoin") &&
        !nljPlan.contains("CartesianProduct") &&
        nljPlan.contains("Exchange RoundRobinPartitioning"), s"NLJ shape lost:\n$nljPlan")
    } finally spark.conf.unset("spark.graft.prefixJoin.bruteBlockRows")
  }

  test("weighted prefix join's shuffle regime: pinned dedup exchange, hash-join verify, no candidate sort") {
    // Above the verify-broadcast gate the candidate stream must shuffle —
    // but with two pins, both measured fatal without them at the 250k-doc
    // shape: the pair dedup repartitions to the fan-out width BEFORE the
    // aggregate (a bare dropDuplicates exchanged the raw collision stream
    // at spark.sql.shuffle.partitions and the oversized tasks sort-spilled
    // the whole stream to disk), and the vector attachments are SHUFFLED
    // HASH joins (a sort-merge join would sort the candidate stream — on
    // the id_b side with the id_a vectors already attached).
    spark.conf.set("spark.graft.prefixJoin.bruteMaxDocs", "0")
    spark.conf.set("spark.graft.broadcastBytes", "1")
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", 0.6)
      df.collect() // finalize AQE so the executed plan is the real one
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"gate=1 byte must force the shuffle verify:\n$plan")
      assert("ShuffledHashJoin".r.findAllIn(plan).length >= 2,
        s"verify joins must be shuffled hash joins (build = vector table):\n$plan")
      assert(plan.contains("Exchange hashpartitioning(id_a"),
        s"pair dedup must repartition on (id_a, id_b) at the fan-out width:\n$plan")
      // the posting SELF-join may sort-merge (its inputs are the small
      // co-partitioned posting tables) — what must never sort is the
      // candidate stream, i.e. no Sort on the pair keys
      assert(!plan.contains("Sort [id_a") && !plan.contains("Sort [id_b"),
        s"a join sorted the candidate stream:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    } finally {
      spark.conf.unset("spark.graft.prefixJoin.bruteMaxDocs")
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("SRP near-dup shuffle regime: pinned dedup exchange and hash-join verify") {
    // same two pins as the weighted prefix join, on the embedding path:
    // band gate 0 forces the banded self-join to shuffle, broadcastBytes 1
    // forces the verify past its gate
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    spark.conf.set("spark.graft.broadcastBytes", "1")
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val df = operators.Similarity.cosineNearDupPairs(vecs, threshold = 0.2)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"gates must force the full shuffle regime:\n$plan")
      assert("ShuffledHashJoin".r.findAllIn(plan).length >= 2,
        s"verify joins must be shuffled hash joins:\n$plan")
      assert(plan.contains("Exchange hashpartitioning(id_a"),
        s"pair dedup must repartition on (id_a, id_b):\n$plan")
      // the band SELF-join may sort-merge its small co-partitioned
      // inputs; the candidate stream must never be sorted
      assert(!plan.contains("Sort [id_a") && !plan.contains("Sort [id_b"),
        s"a join sorted the candidate stream:\n$plan")
    } finally {
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("jaccard prefix join's shuffle regime: key-pinned self-join, pinned dedup, no candidate sort") {
    // the index regime past the verify-broadcast gate: the same gate
    // decides the posting self-join, so both of its sides repartition on
    // the prefix gram, and the pair dedup exchange is pinned on (id_a, id_b)
    withConf("spark.graft.prefixJoin.bruteMaxDocs" -> "0",
        "spark.graft.broadcastBytes" -> "1",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = operators.PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", 0.6)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val pins = "Exchange hashpartitioning\\(ptok".r.findAllIn(plan).length
      assert(pins >= 2 || (pins >= 1 &&
          (plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"))),
        s"expected both posting self-join sides pinned on ptok, saw $pins in:\n$plan")
      assert(plan.contains("Exchange hashpartitioning(id_a"),
        s"pair dedup must repartition on (id_a, id_b):\n$plan")
      assert(!plan.contains("Sort [id_a") && !plan.contains("Sort [id_b"),
        s"a join sorted the candidate stream:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"gate=1 byte must force the shuffle self-join and verify:\n$plan")
    }
  }

  test("simhash band shuffle regime: key-pinned self-join, pinned dedup, broadcast verify") {
    // SimHash's verify keeps its fixed 10M-doc broadcast; only the chunk
    // self-join and the pair dedup take the shuffle regime. The result is
    // staged, so the plan is read from the staging write.
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    withConf("spark.graft.bandJoin.broadcastRows" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        operators.Dedup.simhashNearDups(docs, "doc_id", "text").collect()
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val found = plans.asScala.find(_.contains("hashpartitioning(chunk"))
    assert(found.nonEmpty, s"no captured plan holds the chunk self-join (${plans.size()} plans)")
    val plan = found.get
    val pins = "Exchange hashpartitioning\\(chunk".r.findAllIn(plan).length
    assert(pins >= 2 || (pins >= 1 &&
        (plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"))),
      s"expected both chunk self-join sides pinned on (chunk, chunk_val), saw $pins in:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(id_a"),
      s"pair dedup must repartition on (id_a, id_b):\n$plan")
    assert(!plan.contains("Sort [id_a") && !plan.contains("Sort [id_b"),
      s"a join sorted the candidate stream:\n$plan")
    assert(!"BroadcastHashJoin \\[chunk".r.findFirstIn(plan).isDefined,
      s"band gate 0 must force the shuffle self-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin [id_a"),
      s"the signature verify keeps its broadcast:\n$plan")
  }

  test("q55 IVF route (forced): probes the index, never bands, never cartesian") {
    // the collision-gate route for loose-threshold near-dup search: the
    // plan must be the q204 probe shape (codebook scan + block kernel),
    // with no SRP banding and nothing quadratic materialized
    spark.conf.set("spark.graft.srp.routeCandidates", "0")
    try {
      val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val df = operators.Similarity.cosineNearDupPairs(vecs, threshold = 0.2)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("srp_buckets"), s"routed plan must not band:\n$plan")
      assert(plan.contains("nearest_centroids"),
        s"routed plan must assign/probe via the codebook scan:\n$plan")
      assert(plan.contains("ivf_block_topk") || plan.contains("block_cross_topk")
          || plan.contains("MapPartitions"),
        s"routed probe must be a packed block kernel or the replicated " +
          s"map-side scan, not a pair join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
    } finally spark.conf.unset("spark.graft.srp.routeCandidates")
  }

  test("minhash shuffle regime: grid verify — no array join, no candidate sort") {
    // the minhash result is STAGED inside the operator (the returned frame
    // reads parquet), so the verify plan is captured from the staging
    // write's QueryExecution via a listener rather than from the returned
    // frame. Pins: past the broadcast gate, when the cost model picks the
    // grid (degreeFactor 0 forces it here — a toy corpus's pair-degree is
    // below any real crossover), the verify is the grid co-group — ONE
    // pinned exchange on the cell keys feeding a MapPartitions, no join
    // attaching arrays per candidate, the pair-dedup exchange still
    // pinned, and the candidate stream never sorted on pair keys (the r13
    // disk-fatal shape; the bounded within-partition kind-sort is
    // allowed).
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    spark.conf.set("spark.graft.broadcastBytes", "1")
    spark.conf.set("spark.graft.gridVerify.degreeFactor", "0")
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val corpus = graft.Tables(spark, sf0001, "documents")
      operators.Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
        numHashes = 16, bands = 8).collect()
      import scala.jdk.CollectionConverters._
      // QueryExecutionListener delivery is async (SQL listener bus) — poll
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var verifyPlan = Option.empty[String]
      while (verifyPlan.isEmpty && System.nanoTime() < deadline) {
        verifyPlan = plans.asScala.find(p =>
          p.contains("MapPartitions") && p.contains("hashpartitioning(pa"))
        if (verifyPlan.isEmpty) Thread.sleep(50)
      }
      assert(verifyPlan.nonEmpty,
        s"no captured plan contains the grid co-group (captured ${plans.size()} plans)")
      val plan = verifyPlan.get
      assert(!plan.contains("BroadcastHashJoin"),
        s"gates must force the full shuffle regime:\n$plan")
      // the band SELF-join may still sort-merge its small co-partitioned
      // inputs; what must be gone is the JOIN-form verify (its codegen'd
      // jaccard_sorted over per-pair attached arrays)
      assert(!plan.contains("jaccard_sorted"),
        s"verify still attaches arrays per candidate through a join:\n$plan")
      assert(plan.contains("Exchange hashpartitioning(id_a"),
        s"pair dedup must repartition on (id_a, id_b):\n$plan")
      assert(!plan.contains("Sort [id_a") && !plan.contains("Sort [id_b"),
        s"the candidate stream was sorted on pair keys:\n$plan")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.unset("spark.graft.gridVerify.degreeFactor")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("minhash shuffle regime: low-degree cost model picks the JOIN-form verify") {
    // the other side of the crossover: when est pair-degree < 2P·factor
    // (a huge factor forces it here; naturally reached at mega-corpus P),
    // the verify attaches arrays per candidate through shuffle-hash joins
    // — sort-free (build = shingle table), no grid MapPartitions, dedup
    // exchange still pinned. Same listener capture as the grid pin.
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    spark.conf.set("spark.graft.broadcastBytes", "1")
    spark.conf.set("spark.graft.gridVerify.degreeFactor", "1000000000")
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val corpus = graft.Tables(spark, sf0001, "documents")
      operators.Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
        numHashes = 16, bands = 8).collect()
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var verifyPlan = Option.empty[String]
      while (verifyPlan.isEmpty && System.nanoTime() < deadline) {
        verifyPlan = plans.asScala.find(_.contains("jaccard_sorted"))
        if (verifyPlan.isEmpty) Thread.sleep(50)
      }
      assert(verifyPlan.nonEmpty,
        s"no captured plan contains the join-form verify (captured ${plans.size()} plans)")
      val plan = verifyPlan.get
      assert(!plan.contains("BroadcastHashJoin"),
        s"gates must force the full shuffle regime:\n$plan")
      assert("ShuffledHashJoin".r.findAllIn(plan).length >= 2,
        s"verify joins must be shuffled hash joins (build = shingle table):\n$plan")
      assert(!plan.contains("hashpartitioning(pa"),
        s"the grid co-group must not appear in the join-form regime:\n$plan")
      assert(plan.contains("Exchange hashpartitioning(id_a"),
        s"pair dedup must repartition on (id_a, id_b):\n$plan")
      assert(!plan.contains("Sort [id_a") && !plan.contains("Sort [id_b"),
        s"a join sorted the candidate stream:\n$plan")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.unset("spark.graft.broadcastBytes")
      spark.conf.unset("spark.graft.gridVerify.degreeFactor")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("q149 zone verdict is literal predicate work over a 64-row manifest agg") {
    val df = Queries.zorderZoneMap(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
    // one scan of orders is enough: interleave + shard are scan-local and
    // the z-interval membership is evaluated on aggregated manifest rows
    assert("FileScan parquet".r.findAllIn(plan).length <= 2,
      s"q149 rescans its input:\n$plan")
  }

  test("prefix join consumes the STAGED set table: no gram recompute downstream") {
    // the returned frame must read the staged parquet — if word_ngram_hashes
    // appears in its plan, the 3-consumer re-execution regressed.
    // Checked on BOTH physical paths (brute under the default gate,
    // index forced) — each consumes the staged sets, never the pipeline.
    val brutePlan = operators.PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", 0.6, 3)
      .queryExecution.executedPlan.toString
    assert(!brutePlan.contains("word_ngram_hashes"),
      "brute branch: set table not staged; gram pipeline re-executes per side")
    assert(brutePlan.contains("BroadcastNestedLoopJoin") &&
      !brutePlan.contains("CartesianProduct") &&
      brutePlan.contains("Exchange RoundRobinPartitioning"),
      s"brute branch shape wrong:\n$brutePlan")
    spark.conf.set("spark.graft.prefixJoin.bruteMaxDocs", "0")
    val indexPlan = try operators.PrefixJoin
      .jaccardPrefixJoin(docs, "doc_id", "text", 0.6, 3)
      .queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.graft.prefixJoin.bruteMaxDocs")
    assert(!indexPlan.contains("word_ngram_hashes"),
      "index path: set table not staged; gram pipeline re-executes per consumer")
  }

  test("fd profile unrolls four FDs from ONE scan of orders") {
    // pre-execution plan: the AQE final-plan string doubles node counts
    val df = Queries.fdProfile(spark, sf0001)
    val scans = "Scan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(scans == 1, s"stack generator must not fan out to $scans scans")
  }

  test("skyline joins frontier stats by broadcast; no sort-merge, no cartesian") {
    val df = Queries.skylineParts(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "frontier stats must broadcast back onto the scan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "skyline must never shuffle or cross-join the data for dominance")
  }

  test("ewma lag spray plans no window function and no data self-join") {
    val df = Queries.ewmaDaily(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "ewma must be a spray+agg, not a running-fold window")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "ewma must not range-self-join the daily series")
  }

  test("interval overlap join is an equi-join on the bin key, never a nested loop") {
    val df = Queries.intervalJoin(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      "the non-equi overlap condition must be bucketed into an equi-join; " +
        "a nested-loop plan means the bin key was lost")
  }

  test("attribution plans one user shuffle: window and daily agg, no self-join") {
    val df = Queries.lastTouchAttribution(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      "last-touch must ride the running window, not an as-of self-join")
  }

  test("jsDivergence's result plan reads ONLY the staged counts (no corpus re-scan)") {
    // before staging, the lang-term aggregate re-expanded through
    // totals/probs/terms references into ~8 corpus explodes; the staged
    // form must leave NO documents scan in the final plan — every frame
    // derives from the staged |vocab|x|langs| table
    val plan = Queries.jsDivergence(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "a consumer bypassed the staged counts and re-scanned the corpus")
  }

  test("band self-join in the shuffle regime pins BOTH sides on the join keys") {
    // Past the broadcast gate the candidate join must shuffle — but the
    // parallelism pin is still required: AQE sizes the exchange by the
    // band table's KB-scale input bytes, not its quadratic output
    // (measured at 250k docs on the prefix join: 3/32 cores busy
    // unpinned). Force the regime via the conf and assert both sides
    // carry an explicit hashpartitioning exchange on the join keys.
    spark.conf.set("spark.graft.bandJoin.broadcastRows", "0")
    // model the at-scale regime: a 250k-doc band table exceeds Spark's
    // generic broadcast threshold, so the join must survive as a shuffle
    // join (at sf0.001 Spark would otherwise upgrade it to broadcast —
    // fine there, but not the shape under test)
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // srpCandidatePairs returns the lazy plan (minhash/simhash stage
      // theirs to parquet), so the join shape is directly inspectable
      val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val pairs = operators.Similarity.srpCandidatePairs(vecs, numTables = 2, bits = 8)
      pairs.collect() // let AQE finalize exchange-reuse decisions
      val plan = pairs.queryExecution.executedPlan.toString
      val pins = "Exchange hashpartitioning\\(tbl".r.findAllIn(plan).length
      // identical subplans repartitioned on the same keys: the second
      // side may (ideally) ride a ReusedExchange of the first
      assert(pins >= 2 || (pins >= 1 &&
          (plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"))),
        s"expected both band-join sides pinned on (tbl, bucket), saw $pins in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"gate=0 must force the shuffle regime:\n$plan")
    } finally {
      spark.conf.unset("spark.graft.bandJoin.broadcastRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("cdc chunking keeps chunk text out of the shuffle (hashes only)") {
    val df = Queries.cdcChunks(spark, sf0001)
    df.collect()
    // the only shuffled attribute below the distinct-count agg is the md5
    // hash; chunk text must be consumed scan-side
    val aggPlan = df.queryExecution.executedPlan.toString
    assert(aggPlan.contains("md5"), "distinct chunks must count md5 hashes")
    assert(!"Exchange hashpartitioning\\(chunk".r
      .findFirstIn(aggPlan).isDefined,
      "raw chunk strings crossed the shuffle")
  }

  /** Shuffles of raw edge rows — exchanges whose output is exactly the
    * (src, dst) edge table — across every query an eager graph operator
    * runs, read through a QueryExecutionListener (the operators stage
    * their result, so the returned plan alone shows none of them).
    * Broadcast joins are disabled so the loop joins keep their
    * shuffle-join shape, as they do past a broadcast-sized graph.
    */
  private def edgeExchangesPerCall(run: => Unit): Int = {
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val count = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        count.addAndGet(Aqe.collect(qe.executedPlan) {
          case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if x.output.map(_.name) == Seq("src", "dst") => x
        }.length)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      run
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
    count.get()
  }

  test("PageRank/HITS edge exchanges per call, below and above the pre-partition gate") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def counts(): (Int, Int) = (
      edgeExchangesPerCall(operators.Graph.pageRank(edges, 3)),
      edgeExchangesPerCall(operators.Graph.hits(edges, 3)))
    // under the default 8 MiB gate the loop joins shuffle the edge table
    // every iteration: one join per PageRank step, two per HITS step
    assert(counts() == (3, 6))
    spark.conf.set("spark.graft.graph.prepartitionEdgesBytes", "0")
    try {
      // gate forced open, adaptive execution on (Spark's default): the
      // checkpointed edge tables report UnknownPartitioning, so the loop
      // joins still exchange them and the up-front repartitions come on
      // top (plans/r20/graph_prepartition_above_gate_aqe_on.txt)
      assert(counts() == (4, 8))
      // without adaptive execution the checkpoints keep their hash
      // partitioning: one repartition per join key, none in the loop
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(counts() == (1, 2))
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.graft.graph.prepartitionEdgesBytes")
    }
  }

  /** Spark jobs `run` starts, counted by a listener once the bus drains. */
  private def jobsPerCall(run: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("driver-local graph regimes: Spark jobs per call") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val raw = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    // the counts the boxed-map kernels ran: the gate count, the edge
    // collect (BFS also collects its sources), localCheckpoint for
    // BFS/k-core and the staged write with its read-back
    assert(jobsPerCall(operators.Dedup.connectedComponents(
      raw.toDF("id_a", "id_b"), "id_a", "id_b")) == 6)
    assert(jobsPerCall(operators.Graph.bfsHops(
      raw.toDF("src", "dst"), Seq(0L, 13L).toDF("node"), 3)) == 8)
    assert(jobsPerCall(operators.Graph.kCore(raw.toDF("a", "b"), 2)) == 6)
  }

  test("gate: budget 0 runs no estimate job; a negative budget names its key") {
    val key = "spark.graft.cc.localEdgesBytes"
    def gate(): Boolean = GraftConf.gate(spark, "probe", ("local", "loop"), key,
      64L << 20, "count")(spark.range(10).count())
    var fits = false
    assert(jobsPerCall { fits = gate() } > 0)
    assert(fits)
    spark.conf.set(key, "0")
    try {
      assert(jobsPerCall { fits = gate() } == 0)
      assert(!fits)
      spark.conf.set(key, "-1")
      val err = intercept[IllegalArgumentException](gate())
      assert(err.getMessage.contains(key), err.getMessage)
    } finally spark.conf.unset(key)
  }

  test("replicated IVF probe: no exchange in the result plan, Spark jobs per call") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = operators.Similarity.ivfBuild(vecs, numCentroids = 4, trainIters = 0)
    val queries = vecs.filter(col("vec_id") < 20)
    // (jobs the ivfSearch call starts, jobs its result's action starts)
    def probe(budget: Long, rerank: Option[Boolean]): (Int, Int) =
      withConf("spark.graft.ann.replicateIndexBytes" -> budget.toString) {
        var df: org.apache.spark.sql.DataFrame = null
        val call = jobsPerCall {
          df = operators.Similarity.ivfSearch(index, queries, k = 5, nprobe = 2,
            quantizedRerank = rerank)
        }
        val action = jobsPerCall(df.collect())
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), plan)
        (call, action)
      }
    // the call packs the lists and gathers the blocks (the pack's shuffle
    // stage and the gather collect); the action is the one map-side scan
    assert(probe(Long.MaxValue, None) == (2, 1), "replicated float")
    assert(probe(int8OnlyBudget(index), Some(false)) == (2, 1), "replicated int8, rerank off")
  }
}
