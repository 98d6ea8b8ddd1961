package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Id-generic IVF search (r17): non-long id columns map onto a
  * deterministic xxhash64 i64 surrogate at build (`assigned.orig_id`
  * carries the original), the long-id core runs unchanged — INCLUDING the
  * replicated float/int8 orientations the old non-long-id gate skip
  * forbade — and the final projection decodes both id columns. The
  * contract pinned here: every orientation returns the same (query,
  * neighbor, cosine) sets on a string-id corpus, ivfSave/ivfLoad
  * round-trips the mapping, and mixed-id appends fail loud.
  */
class GenericIdAnnSpec extends SparkSpec {

  // the long-id fixture re-keyed with string document ids
  private lazy val corpus: DataFrame =
    graft.Tables(spark, sf0001, "embeddings")
      .select(format_string("doc-%04d", col("vec_id")).as("vec_id"),
        col("embedding"))
  private lazy val queries: DataFrame = corpus.filter(col("vec_id") < "doc-0020")

  private def rows(df: DataFrame): Set[(String, String, Double, Int)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet

  test("string-id corpus: replicated float search is green and equals the distributed path") {
    val index = Similarity.ivfBuild(corpus, numCentroids = 4, trainIters = 1)
    assert(index.assigned.columns.contains("orig_id"),
      "generic build must keep the original ids alongside the surrogate")
    val replicated = withConf(
      "spark.graft.ann.replicateIndexBytes" -> Long.MaxValue.toString) {
      val df = Similarity.ivfSearch(index, queries, k = 5, nprobe = 4)
      assert(df.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rk"))
      assert(df.schema("query_id").dataType ==
        org.apache.spark.sql.types.StringType, "ids must decode to the caller's type")
      rows(df)
    }
    assert(replicated.nonEmpty)
    assert(!replicated.exists(t => t._1 == t._2), "self-match leaked through")
    // the distributed orientations (maxBroadcastQueries = 0 pins the
    // no-broadcast shuffle plan) return identical rows — both paths run
    // on the same surrogates, so ranks and ties agree exactly
    val distributed = rows(Similarity.ivfSearch(index, queries, k = 5,
      nprobe = 4, maxBroadcastQueries = 0L))
    assert(distributed == replicated,
      s"distributed != replicated on string ids (|d|=${distributed.size}, " +
        s"|r|=${replicated.size})")
  }

  test("string-id corpus: the int8 regime (the old skip) is green, deterministic, exact-scored") {
    val index = Similarity.ivfBuild(corpus, numCentroids = 2, trainIters = 1)
    val probe = withConf(
      "spark.graft.ann.replicateIndexBytes" -> int8OnlyBudget(index).toString) {
      val r1 = rows(Similarity.ivfSearch(index, queries, k = 3, nprobe = 2))
      val r2 = rows(Similarity.ivfSearch(index, queries, k = 3, nprobe = 2))
      assert(r1 == r2, "int8 probe on string ids is not deterministic")
      r1
    }
    assert(probe.nonEmpty)
    // emitted scores are the exact float cosines (rerank), verified by
    // joining back through the STRING ids
    import spark.implicits._
    val probeDf = probe.toSeq.toDF("query_id", "neighbor_id", "cosine", "rk")
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding").as("qa"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("qb"))
    val diff = probeDf.join(q, "query_id").join(c, "neighbor_id")
      .withColumn("ref", round(expr("cosine_sim(qa, qb)"), 4))
      .filter(col("cosine") =!= col("ref")).count()
    assert(diff == 0, "int8 probe on string ids emitted a non-exact cosine")
  }

  test("ivfSave/ivfLoad round-trips the surrogate mapping; appends keep it consistent") {
    val index = Similarity.ivfBuild(corpus, numCentroids = 4, trainIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-genid").toString
    Similarity.ivfSave(index, dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.assigned.columns.contains("orig_id"))
    val a = rows(Similarity.ivfSearch(index, queries, k = 5, nprobe = 4))
    val b = rows(Similarity.ivfSearch(loaded, queries, k = 5, nprobe = 4))
    assert(a == b, "loaded generic-id index diverged from the built one")
    // a long-id batch appended onto a generic index must fail loud
    val longBatch = graft.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 5)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfAppend(index, longBatch))
    assert(e.getMessage.contains("must match"))
    // a string-id batch appends cleanly and its twins are findable
    val batch = corpus.filter(col("vec_id") < "doc-0004")
      .select(concat(lit("new-"), col("vec_id")).as("vec_id"), col("embedding"))
    val appended = Similarity.ivfAppend(index, batch)
    val hits = rows(Similarity.ivfSearch(appended, queries, k = 5, nprobe = 4))
      .map(t => (t._1, t._2))
    (0 until 4).foreach { i =>
      val qid = f"doc-$i%04d"
      assert(hits.contains((qid, s"new-$qid")),
        s"appended twin of $qid not found: ${hits.filter(_._1 == qid)}")
    }
  }

  test("a string-id query batch against a long-id index fails with a buildable message") {
    val longIndex = Similarity.ivfBuild(
      graft.Tables(spark, sf0001, "embeddings"), numCentroids = 2, trainIters = 0)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfSearch(longIndex, queries, k = 3, nprobe = 2))
    assert(e.getMessage.contains("orig_id") || e.getMessage.contains("id type"),
      s"mismatch must explain the fix, got: ${e.getMessage}")
  }

  test("a long-id query batch against a generic-built index fails loud (never emits surrogates)") {
    // the r17 hole: this direction used to fall through to the long-id
    // fast path and return raw xxhash64 surrogates as neighbor_id —
    // hashed ids that look like data. Both mixed-id directions now take
    // the ivfAppend fail-loud convention.
    val index = Similarity.ivfBuild(corpus, numCentroids = 2, trainIters = 1)
    val longQueries = graft.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 20)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfSearch(index, longQueries, k = 3, nprobe = 2))
    assert(e.getMessage.contains("original id type"),
      s"mismatch must explain the fix, got: ${e.getMessage}")
  }

  test("the query-side audit never false-positives on honest batches (incl. duplicate rows)") {
    // A REAL xxhash64 collision is not constructible in a spec (2^-64);
    // what IS testable is the audit's no-false-positive direction on the
    // shapes that could trip a naive check: duplicate query ROWS (same id
    // twice — countDistinct sees 1 on both sides, must pass) and
    // near-miss ids ('a' vs 'a ' — distinct strings, distinct hashes,
    // must pass). The fail direction shares the exact require with the
    // corpus-side audit whose mechanism the memoization test exercises.
    import org.apache.spark.sql.types._
    val index = Similarity.ivfBuild(corpus, numCentroids = 2, trainIters = 1)
    val dim = corpus.head().getSeq[Float](1).length
    val vec = Array.fill(dim)(0.1f).toSeq
    val batch = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("a", vec),
      org.apache.spark.sql.Row("a", vec),
      org.apache.spark.sql.Row("a ", vec)), StructType(Seq(
      StructField("vec_id", StringType),
      StructField("embedding", ArrayType(FloatType)))))
    val res = Similarity.ivfSearch(index, batch, k = 2, nprobe = 2)
    assert(res.select("query_id").distinct().count() == 2,
      "both distinct honest query ids must survive the audit and search")
  }

  test("the corpus surrogate audit runs once per index lifetime (memoized; per-search under conf)") {
    val index = Similarity.ivfBuild(corpus, numCentroids = 2, trainIters = 1)
    val (_, logs1) = graft.LogCapture("graft.operators.Similarity") {
      Similarity.ivfSearch(index, queries, k = 3, nprobe = 2).count()
    }
    assert(logs1.exists(_.contains("corpus surrogate audit PASSED")),
      s"first search must run + log the audit, got: ${logs1.filter(_.contains("audit"))}")
    val (_, logs2) = graft.LogCapture("graft.operators.Similarity") {
      Similarity.ivfSearch(index, queries, k = 3, nprobe = 2).count()
    }
    assert(logs2.exists(_.contains("corpus surrogate audit memoized")),
      "second search must skip the full-corpus audit scan")
    assert(!logs2.exists(_.contains("audit PASSED")),
      "second search must not re-run the audit")
    // paranoia mode restores the per-search scan
    val (_, logs3) = withConf("spark.graft.ann.auditGenericIdsPerSearch" -> "true") {
      graft.LogCapture("graft.operators.Similarity") {
        Similarity.ivfSearch(index, queries, k = 3, nprobe = 2).count()
      }
    }
    assert(logs3.exists(l => l.contains("audit PASSED") && l.contains("per-search")),
      s"conf must restore the per-search audit, got: ${logs3.filter(_.contains("audit"))}")
    // an append re-arms the audit (fresh instance, new ids could collide)
    val appended = Similarity.ivfAppend(index,
      corpus.filter(col("vec_id") < "doc-0002")
        .select(concat(lit("x-"), col("vec_id")).as("vec_id"), col("embedding")))
    val (_, logs4) = graft.LogCapture("graft.operators.Similarity") {
      Similarity.ivfSearch(appended, queries, k = 3, nprobe = 2).count()
    }
    assert(logs4.exists(_.contains("corpus surrogate audit PASSED")),
      "append must re-arm the audit")
  }

  test("ivfSave stamps the audit; ivfLoad pre-seeds it; appendToSaved re-arms it") {
    val index = Similarity.ivfBuild(corpus, numCentroids = 2, trainIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-genid-stamp").toString
    Similarity.ivfSave(index, dir)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_generic_ids_audited")),
      "save of a generic index must stamp a passed audit")
    val loaded = Similarity.ivfLoad(spark, dir)
    val (_, logs) = graft.LogCapture("graft.operators.Similarity") {
      Similarity.ivfSearch(loaded, queries, k = 3, nprobe = 2).count()
    }
    assert(logs.exists(_.contains("corpus surrogate audit memoized")),
      s"loaded index must not re-pay the audit, got: ${logs.filter(_.contains("audit"))}")
    // an append to the artifact clears the stamp → next load re-audits
    Similarity.ivfAppendToSaved(spark, dir,
      corpus.filter(col("vec_id") < "doc-0002")
        .select(concat(lit("y-"), col("vec_id")).as("vec_id"), col("embedding")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_generic_ids_audited")),
      "appendToSaved must clear the audit stamp")
    val reloaded = Similarity.ivfLoad(spark, dir)
    val (_, logs5) = graft.LogCapture("graft.operators.Similarity") {
      Similarity.ivfSearch(reloaded, queries, k = 3, nprobe = 2).count()
    }
    assert(logs5.exists(_.contains("corpus surrogate audit PASSED")),
      "a reloaded appended index must re-run the audit")
  }
}
