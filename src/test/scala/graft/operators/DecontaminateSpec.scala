package graft.operators

import graft.SparkSpec

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // benchmark holds one 10-token doc; corpus doc 1 embeds 8 consecutive
  // tokens of it verbatim, doc 2 shares vocabulary but no 8-gram run,
  // doc 3 is unrelated.
  private val bench = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    .toDF("bid", "btext")
  private val corpus = Seq(
    (1L, "prefix words then beta gamma delta epsilon zeta eta theta iota and more"),
    (2L, "alpha beta gamma delta epsilon but zeta eta theta broken iota kappa"),
    (3L, "completely unrelated text about distributed query engines running on spark"))
    .toDF("doc_id", "text")

  test("suppress removes contaminated docs and passes all columns through") {
    val out = Decontaminate.suppress(corpus, bench, "doc_id", "text", "btext", n = 8)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("suppressExact drops only verbatim content matches") {
    val reference = Seq((100L, "exactly this text")).toDF("rid", "rtext")
    val corpus = Seq(
      (1L, "exactly this text"),          // verbatim → dropped
      (2L, "Exactly This Text"),          // case differs → kept (exact means exact)
      (3L, "exactly this text plus more") // superstring → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.suppressExact(corpus, reference, "text", "rtext")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("short docs collide via the clipped whole-doc gram") {
    // wordNgrams clips the slice when the doc is shorter than n: a doc with
    // < n tokens emits exactly one gram — the whole doc. An exact short
    // copy of a short benchmark doc must therefore be caught.
    val shortBench = Seq((200L, "five tokens exactly in here")).toDF("bid", "btext")
    val shortCorpus = Seq(
      (10L, "five tokens exactly in here"),
      (11L, "five tokens exactly in there")).toDF("doc_id", "text")
    val kept = Decontaminate.suppress(shortCorpus, shortBench, "doc_id", "text", "btext", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L))
  }
}
