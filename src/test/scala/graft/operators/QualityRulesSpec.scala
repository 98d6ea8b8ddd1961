package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualityRulesSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "buy now buy now buy now buy now"),          // keyword-stuffed
    (2L, "a rich and varied vocabulary in this text"),// healthy
    (3L, "word"),                                     // single token, no bigrams
    (4L, ""))                                         // empty → dropped
    .toDF("doc_id", "text")

  test("repetitionReport computes the documented ratios") {
    val r = QualityRules.repetitionReport(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, Double, Double, Double)].collect()
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val d1 = r(0)
    assert(d1._2 == 8)
    assert(d1._3 == 0.25)            // {buy, now} / 8
    // "buy now" occurs 4x of 7 bigrams → covers 8/8 tokens
    assert(d1._5 == 1.0)
    val d3 = r(2)
    assert(d3._2 == 1 && d3._5 == 0.0) // no bigrams → frac 0, not null
  }

  test("report is layout-independent") {
    val a = QualityRules.repetitionReport(docs, "doc_id", "text")
    val b = QualityRules.repetitionReport(docs.repartition(5), "doc_id", "text")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("native token_profile matches the relational formulation on real docs") {
    // reference implementation: explode bigrams, count, max, join — the
    // 2-scan relational shape the native single-pass expression replaced
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      // two 2-character non-BMP tokens and a 3-character one: token
      // lengths count code points, as length() does (7 / 3, not 11 / 3)
      .union(Seq((-1L, "\uD835\uDC9C\uD835\uDCD1 \uD835\uDC9C\uD835\uDCD1 tok"))
        .toDF("doc_id", "text"))
    val base = docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("__t"))
      .withColumn("n_tokens", size(col("__t")))
      .filter(col("n_tokens") > 0)
    val topBigram = base.filter(col("n_tokens") >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("n_tokens") - 2),
          i => concat_ws(" ", slice(col("__t"), i + 1, lit(2))))).as("__gram"))
      .groupBy(col("doc_id"), col("__gram")).agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id")).agg(max(col("__c")).as("__top"))
    val reference = base.join(topBigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(size(array_distinct(col("__t"))).cast("double") / col("n_tokens"), 4)
          .as("distinct_ratio"),
        round(aggregate(col("__t"), lit(0L), (acc, x) => acc + length(x)).cast("double")
          / col("n_tokens"), 4).as("mean_token_len"),
        round(coalesce(col("__top") * 2, lit(0L)).cast("double") / col("n_tokens"), 4)
          .as("top_bigram_frac"))
    val native = QualityRules.repetitionReport(docs, "doc_id", "text")
    assert(native.except(reference).isEmpty && reference.except(native).isEmpty)
    assert(native.filter(col("doc_id") === -1L).select("mean_token_len").as[Double].head() ==
      2.3333)

    // tokenizer edge inputs, against the replaced String walk (token
    // lengths in code points, as the relational `length()` counts)
    val edges = graft.functions.TokenEdges.texts
    val got = edges.toDF("text").select(expr("token_profile(text)").as("p"))
      .collect().map { r =>
        val p = r.getStruct(0); (p.getInt(0), p.getInt(1), p.getLong(2), p.getInt(3))
      }.toSeq
    assert(got == edges.map(stringWalkProfile))
  }

  /** The String walk token_profile ran before the byte cursor, with
    * token lengths counted in code points rather than UTF-16 units:
    * (n_tokens, distinct_tokens, sum_token_len, top_bigram_count). */
  private def stringWalkProfile(text: String): (Int, Int, Long, Int) = {
    def isJavaSpace(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(text).toLowerCase.toString
    val distinct = new java.util.HashSet[String]()
    val bigrams = new java.util.HashMap[String, Int]()
    var n = 0
    var sumLen = 0L
    var top = 0
    var prev: String = null
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || isJavaSpace(s.charAt(i))) {
        if (i > start) {
          val tok = s.substring(start, i)
          n += 1
          sumLen += tok.codePointCount(0, tok.length)
          distinct.add(tok)
          if (prev != null) {
            val key = prev + " " + tok
            val c = bigrams.merge(key, 1, Integer.sum)
            if (c > top) top = c
          }
          prev = tok
        }
        start = i + 1
      }
      i += 1
    }
    (n, distinct.size, sumLen, top)
  }
}
