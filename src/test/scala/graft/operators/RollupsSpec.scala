package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** merge(rollup(A), rollup(B)) == rollup(A ∪ B), exactly — the algebraic
  * maintenance contract, over real data and an arbitrary 3-way split.
  */
class RollupsSpec extends SparkSpec {

  private def orders = graft.Tables(spark, sf0001, "orders")
    .select(to_date(col("o_orderdate")).as("day"),
      col("o_totalprice").cast("decimal(18,2)").as("v"),
      col("o_orderkey"))

  test("merged per-batch states equal the full rebuild, exactly (2-way)") {
    val a = orders.filter(col("o_orderkey") % 2 === 0)
    val b = orders.filter(col("o_orderkey") % 2 === 1)
    val merged = Rollups.mergeStates(
        Rollups.rollupState(a, Seq("day"), "v")
          .unionByName(Rollups.rollupState(b, Seq("day"), "v")), Seq("day"))
      .orderBy("day").collect().map(_.toSeq).toSeq
    val rebuilt = Rollups.rollupState(orders, Seq("day"), "v")
      .orderBy("day").collect().map(_.toSeq).toSeq
    assert(merged == rebuilt)
  }

  test("merge is order-insensitive and associative over a 3-way split") {
    val parts = (0 to 2).map(i => orders.filter(col("o_orderkey") % 3 === i))
    val states = parts.map(p => Rollups.rollupState(p, Seq("day"), "v"))
    val abc = Rollups.mergeStates(
      states(0).unionByName(states(1)).unionByName(states(2)), Seq("day"))
    val cba = Rollups.mergeStates(
      states(2).unionByName(states(1)).unionByName(states(0)), Seq("day"))
    assert(abc.orderBy("day").collect().map(_.toSeq).toSeq ==
      cba.orderBy("day").collect().map(_.toSeq).toSeq)
    // merging a merged state with a fresh batch also equals the rebuild
    val partial = Rollups.mergeStates(states(0).unionByName(states(1)), Seq("day"))
    val incremental = Rollups.mergeStates(
      partial.unionByName(states(2)), Seq("day"))
    assert(incremental.orderBy("day").collect().map(_.toSeq).toSeq ==
      Rollups.rollupState(orders, Seq("day"), "v")
        .orderBy("day").collect().map(_.toSeq).toSeq)
  }
}
