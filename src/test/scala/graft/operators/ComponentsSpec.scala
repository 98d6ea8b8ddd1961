package graft.operators

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Run `f` in the named CC regime: "local" (default gate) or "loop"
    * (gate forced off so the distributed rounds run). r19 added the
    * byte-gated local union-find regime; every behavioral test below
    * asserts BOTH regimes produce the identical labeling.
    */
  private def inRegime[T](regime: String)(f: => T): T = {
    if (regime == "loop")
      spark.conf.set("spark.graft.cc.localEdgesBytes", "0")
    try f finally spark.conf.unset("spark.graft.cc.localEdgesBytes")
  }

  for (regime <- Seq("local", "loop")) {
    test(s"connectedComponents labels each component with its min id [$regime]") {
      // two components {1,2,3} (path) and {5,6}; 7 appears only as a pair
      // with itself-absent — vertices come from pairs, so no singleton rows
      val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      val out = inRegime(regime) {
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
      }
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    }

    test(s"long chains converge (diameter > 2 rounds) [$regime]") {
      val chain = (0L until 8L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("id_a", "id_b")
      val out = inRegime(regime) {
        Dedup.connectedComponents(chain, "id_a", "id_b")
          .as[(Long, Long)].collect()
      }
      assert(out.length == 8)
      assert(out.forall(_._2 == 0L), "all 8 chain vertices must share cluster 0")
    }

    test(s"cluster labels are canonical: every label is a member [$regime]") {
      val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L), (30L, 10L)).toDF("id_a", "id_b")
      val out = inRegime(regime) {
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .as[(Long, Long)].collect()
      }
      val byCluster = out.groupBy(_._2)
      byCluster.foreach { case (label, members) =>
        assert(members.map(_._1).contains(label), s"label $label not a member")
        assert(members.map(_._1).min == label, s"label $label is not the min id")
      }
    }
  }

  test("local and loop regimes agree on a random multi-component graph") {
    // 400 vertices, 300 random edges (self-loops dropped): enough
    // components, chains, and merges to exercise union-by-min-root path
    // compression against the pointer-jumping fixpoint row-for-row.
    // One null-keyed pair rides along: both regimes drop it before the
    // split, so neither labels a null id.
    val rnd = new scala.util.Random(42)
    val raw = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(p => p._1 != p._2)
    val pairs = (raw.map(p => (Option(p._1), Option(p._2))) :+ ((Some(7L), None)))
      .toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(df, "id_a", "id_b").collect()
        .map(r => (r.get(0), r.get(1))).toSet
    val local = labels(pairs)
    val loop = inRegime("loop")(labels(pairs))
    assert(local == loop,
      s"regimes diverged: ${(local diff loop).take(5)} / " +
        s"${(loop diff local).take(5)}")
    assert(!local.exists(t => t._1 == null || t._2 == null), "null id labeled")
    assert(local == labels(raw.toDF("id_a", "id_b")),
      "the null-keyed pair changed the labeling")
  }
}
