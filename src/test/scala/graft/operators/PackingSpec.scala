package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget packing: the two-level prefix sum must be bit-identical to
  * the naive single-partition global window, shard assignment must respect
  * the budget semantics, and bucketWidth must affect parallelism only.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0 until 500).map { i =>
    // irregular token counts incl. zero-token and budget-straddling docs
    val words = i % 7 match {
      case 0 => ""
      case k => (s"tok " * (k * 11)).trim
    }
    (i.toLong, words)
  }.toDF("doc_id", "text")

  private def naive(budget: Long) = {
    docs.select($"doc_id",
        expr("token_count_native(text)").cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum($"n_tokens").over(
        Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin_id", expr(s"(cum_tokens - n_tokens) div ${budget}L"))
  }

  test("two-level prefix sum equals the single-partition window bit-for-bit") {
    val expected = naive(100L).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = Packing.packByTokenBudget(docs, "doc_id", "text", budget = 100L,
        bucketWidth = 37L) // deliberately unaligned width
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("bucketWidth never changes values, only parallelism") {
    val a = Packing.packByTokenBudget(docs, "doc_id", "text", 100L, bucketWidth = 1L)
      .orderBy("doc_id").collect().toSeq
    val b = Packing.packByTokenBudget(docs, "doc_id", "text", 100L, bucketWidth = 100000L)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("shard semantics: bins fill in order, each bin starts within budget of its boundary") {
    val budget = 64L
    val rows = Packing.packByTokenBudget(docs, "doc_id", "text", budget)
      .orderBy("doc_id").collect()
    var prevBin = -1L
    rows.foreach { r =>
      val (n, cum, bin) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(bin >= prevBin, "bin ids must be non-decreasing in doc order")
      prevBin = bin
      // the doc STARTS in its bin: its start offset lies inside [bin*budget, (bin+1)*budget)
      val start = cum - n
      assert(start >= bin * budget && start < (bin + 1) * budget)
    }
    // total conservation: last cum equals the sum of all token counts
    assert(rows.last.getLong(2) == rows.map(_.getLong(1)).sum)
  }

  test("no single-partition window over the full data: the global window sees only buckets") {
    val plan = Packing.packByTokenBudget(docs, "doc_id", "text", 100L, bucketWidth = 10L)
      .queryExecution.optimizedPlan.toString
    // the unpartitioned window must sit above the bucket aggregation
    // (grouping by __b), never directly above the corpus scan
    val windowIdx = plan.indexOf("windowspecdefinition(__b")
    val aggIdx = plan.indexOf("Aggregate [__b")
    assert(windowIdx >= 0 && aggIdx >= 0 && windowIdx < aggIdx,
      s"global window must be over the per-bucket aggregate:\n$plan")
  }
}
