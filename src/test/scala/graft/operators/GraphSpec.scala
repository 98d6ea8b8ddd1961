package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRank: 2-cycle stays uniform at every iteration count") {
    for (k <- Seq(1, 3, 5)) {
      val r = ranksOf(Seq((1L, 2L), (2L, 1L)), k)
      assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12,
        s"iters=$k: $r")
    }
  }

  test("pageRank: dangling node matches the hand-computed synchronous update") {
    // a→b, b dangles. n=2, r0=(.5,.5); dangling=.5
    // r1(a) = .15/2 + .85*(0  + .25) = .2875
    // r1(b) = .15/2 + .85*(.5 + .25) = .7125
    val r = ranksOf(Seq((1L, 2L)), 1)
    assert(math.abs(r(1L) - 0.2875) < 1e-12, s"got ${r(1L)}")
    assert(math.abs(r(2L) - 0.7125) < 1e-12, s"got ${r(2L)}")
  }

  test("pageRank: total rank is conserved at 1 and hubs outrank spokes") {
    // star: 1..5 all point at 9; 9 points back at 1
    val edges = (1L to 5L).map(i => (i, 9L)) :+ (9L, 1L)
    val r = ranksOf(edges, 3)
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass leaked: ${r.values.sum}")
    assert(r(9L) > r(1L) && r(1L) > r(2L), s"authority order wrong: $r")
    assert(math.abs(r(2L) - r(5L)) < 1e-12, "symmetric spokes must tie")
  }

  test("pageRank: multi-edges act as weights") {
    // 1 sends twice to 2 and once to 3: 2 gets 2/3 of 1's contribution
    val r = ranksOf(Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)), 1)
    val third = 1.0 / 3
    val expected2 = 0.15 * third + 0.85 * (third * 2.0 / 3)
    val expected3 = 0.15 * third + 0.85 * (third * 1.0 / 3)
    assert(math.abs(r(2L) - expected2) < 1e-12, s"got ${r(2L)} want $expected2")
    assert(math.abs(r(3L) - expected3) < 1e-12, s"got ${r(3L)} want $expected3")
  }

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Graph.triangleStats(edges.toDF("a", "b")).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangleStats: K4 has 4 triangles, C5 has none") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4) == ((4L, 6L, 4L)))
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(tri(c5) == ((5L, 5L, 0L)))
  }

  test("triangleStats: bipartite graph is triangle-free") {
    val bip = for (a <- 1L to 3L; b <- 10L to 12L) yield (a, b)
    assert(tri(bip) == ((6L, 9L, 0L)))
  }

  test("triangleStats: skewed hub graph matches brute force") {
    // hub 0 connected to 1..20, plus a sparse ring among the spokes:
    // each spoke i—(i+1) closes a triangle through the hub.
    val edges = (1L to 20L).map(i => (0L, i)) ++
      (1L until 20L).map(i => (i, i + 1))
    def brute(e: Seq[(Long, Long)]): Long = {
      val adj = e.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      (for {
        a <- nodes.iterator; b <- adj(a).iterator if b > a
        c <- adj(b).iterator if c > b && adj(a).contains(c)
      } yield 1L).sum
    }
    val (n, m, t) = tri(edges)
    assert(n == 21L && m == 39L)
    assert(t == brute(edges), s"got $t want ${brute(edges)}")
    assert(t == 19L)
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Graph.kCore(edges.toDF("a", "b"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def hopsOf(edges: Seq[(Long, Long)], sources: Seq[Long],
                     maxHops: Int): Map[Long, Long] =
    Graph.bfsHops(edges.toDF("src", "dst"), sources.toDF("node"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bruteHops(edges: Seq[(Long, Long)], sources: Seq[Long],
                        maxHops: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var dist = sources.distinct.map(_ -> 0L).toMap
    var frontier = sources.distinct.toSet
    for (h <- 1L to maxHops) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  test("bfsHops: matches brute force on a directed graph with cycles") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val sources = Seq(0L, 13L, 27L)
    for (k <- Seq(0, 1, 3, 6)) {
      assert(hopsOf(edges, sources, k) == bruteHops(edges, sources, k),
        s"maxHops=$k: BFS disagrees with brute force")
    }
  }

  test("bfsHops: hop bound is respected and sources sit at hop 0") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = hopsOf(chain, Seq(1L), 2)
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      s"chain bounded at 2 hops: $got")
  }

  test("bfsHops: unreachable and out-of-graph sources") {
    val got = hopsOf(Seq((1L, 2L), (3L, 4L)), Seq(1L, 99L), 5)
    assert(got == Map(1L -> 0L, 2L -> 1L, 99L -> 0L), s"got $got")
  }

  test("bfsHops: deep walk across the 8-hop checkpoint compaction") {
    // r19 regression (r18 ADVICE, high): the hop-8 compaction used to
    // release ALL live checkpoints including the frontier checkpointed
    // that same hop — the next count()/join then read an unpersisted
    // lineage-truncated RDD ("Checkpoint block not found"). A 20-node
    // chain forces two compactions (hops 8 and 16) and the early-exit
    // frontier drain past them. Gate forced off: the compaction lives in
    // the distributed loop, which the local regime would bypass here.
    spark.conf.set("spark.graft.graph.localEdgesBytes", "0")
    try {
      val chain = (1L until 20L).map(i => (i, i + 1))
      val got = hopsOf(chain, Seq(1L), 25)
      assert(got == (1L to 20L).map(i => i -> (i - 1)).toMap, s"got $got")
    } finally spark.conf.unset("spark.graft.graph.localEdgesBytes")
  }

  test("kCore: chain peels to nothing, cycle survives whole") {
    // path 1-2-3-4-5: endpoints have degree 1 → 2-core empty (multi-round peel)
    assert(core((1L until 5L).map(i => (i, i + 1)), 2).isEmpty)
    // 5-cycle: every node degree 2 → fixpoint immediately
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(core(c5, 2) == (1L to 5L).map(_ -> 2L).toMap)
  }

  test("kCore: pendant tail is stripped, triangle core remains") {
    // triangle 1-2-3 with tail 3-4-5-6: peel removes 6, then 5, then 4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(core(edges, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: removal can cascade across the whole graph") {
    // K4 with a chain hung off one corner; 3-core keeps exactly the K4
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 1L))
    assert(core(edges, 3) == (1L to 4L).map(_ -> 3L).toMap)
  }

  test("kCore leaves no persistent RDDs behind, including the empty-core path") {
    core((1L until 6L).map(i => (i, i + 1)), 2)
    core(Seq((1L, 2L), (2L, 3L), (3L, 1L)), 2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "checkpoint storage outlived kCore")
  }

  test("pageRank leaves no persistent RDDs behind") {
    val out = Graph.pageRank(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), 3)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "checkpoint storage outlived pageRank")
  }

  test("bfsHops leaves no persistent RDDs behind, including early exit") {
    hopsOf(Seq((1L, 2L), (2L, 3L)), Seq(1L), 10) // frontier empties at hop 2
    hopsOf(Seq((1L, 2L), (2L, 1L)), Seq(1L), 3)  // cycle, bound exits
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "checkpoint storage outlived bfsHops")
  }

  test("hits and pageRank return empty (not NPE/divide-by-zero) on an empty edge list") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.hits(empty, 3).isEmpty)
    assert(Graph.pageRank(empty, 3).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "checkpoint storage outlived the empty-graph short-circuit")
  }

  /** r19: kCore and bfsHops gained byte-gated driver-local regimes (the
    * k-core and the BFS distance table are unique integer fixpoints, so
    * a local solve returns the loop's exact answer). Both regimes must
    * agree row-for-row on a random graph, and every earlier behavioral
    * test re-runs under the forced loop regime (gate conf'd to 0).
    */
  private def inLoopRegime[T](f: => T): T = {
    spark.conf.set("spark.graft.graph.localEdgesBytes", "0")
    try f finally spark.conf.unset("spark.graft.graph.localEdgesBytes")
  }

  test("kCore: local and loop regimes agree on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).distinct
    for (k <- Seq(2, 3, 5)) {
      val local = core(edges, k)
      val loop = inLoopRegime(core(edges, k))
      assert(local == loop, s"k=$k regimes diverged")
    }
    // a null-keyed pair and a half-null pair: both regimes drop them
    // before the split, so the core is the null-free one
    val nullEdges = (edges.map(e => (Option(e._1), Option(e._2))) ++
      Seq((None, None), (Some(edges.head._1), None))).toDF("a", "b")
    def nullCore(k: Int) = Graph.kCore(nullEdges, k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- Seq(2, 3)) {
      assert(nullCore(k) == core(edges, k), s"k=$k local regime saw a null endpoint")
      assert(inLoopRegime(nullCore(k)) == core(edges, k), s"k=$k loop regime saw a null endpoint")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("kCore loop regime: behavioral pins still hold") {
    inLoopRegime {
      assert(core((1L until 5L).map(i => (i, i + 1)), 2).isEmpty)
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      assert(core(edges, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("bfsHops: local and loop regimes agree, incl. deep-walk compaction") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val sources = Seq(0L, 13L, 27L)
    for (k <- Seq(0, 3, 6)) {
      val local = hopsOf(edges, sources, k)
      val loop = inLoopRegime(hopsOf(edges, sources, k))
      assert(local == loop, s"maxHops=$k regimes diverged")
    }
    // the 20-node chain crosses the loop's 8-hop compaction twice
    val chain = (1L until 20L).map(i => (i, i + 1))
    assert(hopsOf(chain, Seq(1L), 25) == inLoopRegime(hopsOf(chain, Seq(1L), 25)))
    // a null-keyed edge pair and a null source node: both regimes drop
    // them before the split, so neither emits a null node
    val nullEdges = (edges.map(e => (Option(e._1), Option(e._2))) ++
      Seq((None, Some(0L)), (Some(0L), None))).toDF("src", "dst")
    val nullSources = (sources.map(Option(_)) :+ None).toDF("node")
    def nullHops() = Graph.bfsHops(nullEdges, nullSources, 3).collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val localN = nullHops()
    val loopN = inLoopRegime(nullHops())
    assert(localN == loopN, s"null-keyed regimes diverged: " +
      s"${(localN diff loopN).take(5)} / ${(loopN diff localN).take(5)}")
    assert(localN == hopsOf(edges, sources, 3).toSet[(Any, Any)],
      "null-keyed rows changed the hop table")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
