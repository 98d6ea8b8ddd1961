package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bloom must be invisible in the answer and visible in the plan:
  * exact results, scan-side pruning, bounded false-positive absorption.
  */
class BloomJoinSpec extends SparkSpec {

  private def orders = graft.Tables(spark, sf0001, "orders")
  private def highBal = graft.Tables(spark, sf0001, "customer")
    .filter(col("c_acctbal") > 9000)

  test("bloom-pruned semi-join equals the plain semi-join exactly") {
    val viaBloom = BloomJoin.bloomSemiJoin(orders, "o_custkey", highBal, "c_custkey")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val plain = orders.join(
        highBal.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_semi")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(viaBloom == plain,
      s"missing ${plain -- viaBloom}, extra ${viaBloom -- plain}")
    assert(plain.nonEmpty, "fixture matches nothing; test is vacuous")
  }

  test("the bloom prunes at the scan and false positives stay near fpp") {
    val fpp = 0.01
    val total = orders.count()
    val survivors = BloomJoin.bloomPruned(orders, "o_custkey", highBal, "c_custkey", fpp)._1.count()
    val trueMatches = orders.join(
      highBal.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_semi").count()
    assert(trueMatches <= survivors && survivors <= total)
    assert(survivors < total,
      s"bloom pruned nothing: $survivors of $total (true $trueMatches)")
    val nonMatching = total - trueMatches
    val falsePos = survivors - trueMatches
    assert(falsePos <= math.max(5, 5 * fpp * nonMatching),
      s"false-positive rate ${falsePos.toDouble / math.max(1, nonMatching)} far above fpp=$fpp")
  }

  test("the probe expression is codegen'd, not a fallback (CODEGEN_ONLY pin)") {
    // factoryMode=CODEGEN_ONLY makes expression-codegen failure THROW
    // instead of silently falling back to interpreted eval — so this
    // test fails loudly if BloomMightContain's generated Java ever
    // stops compiling (the fallback would cost per-row boxing on
    // arbitrarily large fact scans).
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val viaBloom = BloomJoin.bloomSemiJoin(orders, "o_custkey", highBal, "c_custkey")
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      val plain = orders.join(
          highBal.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_semi")
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      assert(viaBloom == plain && plain.nonEmpty)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the probe is a scan-side filter in the physical plan, not join-side work") {
    val df = BloomJoin.bloomSemiJoin(orders, "o_custkey", highBal, "c_custkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), s"bloom probe missing:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("the serialized filter rides the plan as a binary LITERAL, never hex SQL text") {
    // A GB-scale bloom must not round-trip through the SQL parser as an
    // X'hex' string (2× blow-up, re-parse, and it lands verbatim in every
    // explain/plan-text surface). Pin that the probe's second argument is
    // a BinaryType Literal in the analyzed tree — the object itself rides
    // the plan and ships via codegen's addReferenceObj.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val df = BloomJoin.bloomSemiJoin(orders, "o_custkey", highBal, "c_custkey")
    val binaryLits = df.queryExecution.analyzed
      .collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case l @ Literal(_, BinaryType) => l })
    assert(binaryLits.nonEmpty, "bloom filter is not a binary literal in the plan")
    // and the byte payload deserializes back into a working bloom filter —
    // proof it's the serialized filter object, not a parsed hex string
    assert(binaryLits.exists { l =>
      scala.util.Try(org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(l.value.asInstanceOf[Array[Byte]]))).isSuccess
    })
  }

  test("suppressBloom probes through the native codegen'd expression, never a Scala UDF") {
    // Same CODEGEN_ONLY pin as above, applied to Dedup.suppressBloom's
    // plan: its probe sits in a scan-side FILTER over the full corpus,
    // where an interpreted UDF would pay virtual eval + boxing per row
    // (the r11 perf-weak finding). The pin throws if the probe ever
    // regresses to a non-codegen path; the plan assertions pin that the
    // probe is the native expression and no ScalaUDF node remains.
    val docs = graft.Tables(spark, sf0001, "documents")
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val out = Dedup.suppressBloom(docs, ref, "text", "text",
        expectedRefDocs = 1000L, fpp = 0.001)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_might_contain"), s"native probe missing:\n$plan")
      assert(!plan.toLowerCase.contains("scalaudf"), s"UDF probe resurfaced:\n$plan")
      val survivors = out.select("doc_id").collect().map(_.getLong(0)).toSet
      val refIds = ref.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors.intersect(refIds).isEmpty, "a reference doc survived suppression")
      assert(survivors.nonEmpty)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
