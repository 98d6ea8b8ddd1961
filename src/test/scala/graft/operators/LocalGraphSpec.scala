package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The driver-local graph kernel on its own, with no Spark job: its
  * union-find, hop walk and k-core peel on hand-checked graphs, and the
  * bytes it allocates against the per-edge charge of the regime gates.
  */
class LocalGraphSpec extends AnyFunSuite {

  /** `edges` as [[LocalGraph.collect]] delivers them: interleaved
    * (src, dst), spread over three partitions. */
  private def parts(edges: Seq[(Long, Long)]): Array[Array[Long]] = {
    val flat = edges.flatMap(e => Seq(e._1, e._2)).toArray
    Seq(0, edges.size / 3, 2 * edges.size / 3, edges.size)
      .sliding(2).map(c => flat.slice(2 * c(0), 2 * c(1))).toArray
  }

  private def both(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges ++ edges.map(_.swap)

  private def rows(r: LocalGraph.Result): Map[Long, Long] =
    (0 until r.n).map(i => r.key(i) -> r.value(i)).toMap

  private def cc(edges: Seq[(Long, Long)]) = rows(LocalGraph.components(parts(edges)))
  private def hops(edges: Seq[(Long, Long)], sources: Seq[Long], maxHops: Int) =
    rows(LocalGraph.hops(parts(edges), sources.toArray, maxHops))
  private def core(edges: Seq[(Long, Long)], k: Int) = rows(LocalGraph.core(parts(edges), k))

  private val star = (1L to 1000L).map(i => (0L, i))
  private val chain = (1L until 1000L).map(i => (i, i + 1))
  // nodes 0..20: every neighbour pair linked three times, every node
  // with a self-loop, so inner degrees are 3 + 3 + 2 and end degrees 3 + 2
  private val multi = (0L until 20L).flatMap(i => Seq.fill(3)((i, i + 1))) ++
    (0L to 20L).map(i => (i, i))
  private val empty = Seq.empty[(Long, Long)]
  // the charge's worst case: every edge brings two new nodes
  private val matching = (1L to 3000L).map(i => (i, -i))

  test("the hand results ComponentsSpec and GraphSpec pin for both regimes") {
    assert(cc(both(Seq((2L, 1L), (2L, 3L), (5L, 6L)))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(cc(both((0L until 7L).map(i => (i, i + 1)))) == (0L to 7L).map(_ -> 0L).toMap)
    assert(hops((1L until 5L).map(i => (i, i + 1)), Seq(1L), 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(hops(Seq((1L, 2L), (3L, 4L)), Seq(1L, 99L), 5) ==
      Map(1L -> 0L, 2L -> 1L, 99L -> 0L))
    assert(core((1L until 5L).map(i => (i, i + 1)), 2).isEmpty)
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(core(c5, 2) == (1L to 5L).map(_ -> 2L).toMap)
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(core(tail, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(core(k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 1L)), 3) == (1L to 4L).map(_ -> 3L).toMap)
  }

  test("star, chain, multi-edge/self-loop, matching and empty graphs") {
    assert(cc(both(star)) == (0L to 1000L).map(_ -> 0L).toMap)
    assert(hops(star, Seq(0L), 1) == ((1L to 1000L).map(_ -> 1L) :+ (0L -> 0L)).toMap)
    assert(hops(star, Seq(5L), 3) == Map(5L -> 0L), "edges are directed")
    assert(core(star, 1) == ((1L to 1000L).map(_ -> 1L) :+ (0L -> 1000L)).toMap)
    assert(core(star, 2).isEmpty)

    assert(cc(both(chain)) == (1L to 1000L).map(_ -> 1L).toMap)
    assert(hops(chain, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(core(chain, 1) == (1L to 1000L).map(i => i -> (if (i == 1L || i == 1000L) 1L else 2L)).toMap)
    assert(core(chain, 2).isEmpty)

    assert(cc(both(multi)) == (0L to 20L).map(_ -> 0L).toMap)
    assert(hops(multi, Seq(0L), 3) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(core(multi, 5) == (0L to 20L).map(i => i -> (if (i == 0L || i == 20L) 5L else 8L)).toMap)
    assert(core(multi, 6).isEmpty, "the ends peel at 5 < 6 and the cascade takes the rest")

    assert(cc(both(matching)) == (1L to 3000L).flatMap(i => Seq(i -> -i, -i -> -i)).toMap)
    assert(core(matching, 1) == (1L to 3000L).flatMap(i => Seq(i -> 1L, -i -> 1L)).toMap)

    assert(cc(empty).isEmpty)
    assert(hops(empty, Seq(5L), 3) == Map(5L -> 0L))
    assert(core(empty, 1).isEmpty)
  }

  test("output partitions hold every row, cut where Spark cuts a local table") {
    val r = LocalGraph.components(parts(both(Seq((2L, 1L), (2L, 3L), (5L, 6L)))))
    val cut = LocalGraph.slices(r, 4)
    assert(cut.map(_.length / 2).toSeq == Seq(1, 1, 1, 2))
    assert(cut.flatMap(_.grouped(2).map(p => p(0) -> p(1))).toMap == rows(r))
    assert(LocalGraph.slices(r, 8).length == 5, "no more partitions than rows")
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes `run` allocates on this thread, measured on a second run: the
    * first loads classes and links lambdas. */
  private def allocated(run: () => Any): Long = {
    run()
    val before = threads.getCurrentThreadAllocatedBytes
    run()
    threads.getCurrentThreadAllocatedBytes - before
  }

  test("the kernel allocates at most BytesPerEdge per edge") {
    for ((name, edges) <- Seq("star" -> star, "chain" -> chain, "multi" -> multi,
                              "matching" -> matching, "empty" -> empty)) {
      val in = parts(edges)
      val from = edges.headOption.map(_._1).toArray
      // the collected input is charged too, two longs an edge
      val charge = edges.size * LocalGraph.BytesPerEdge - edges.size * 2L * java.lang.Long.BYTES
      for ((kernel, run) <- Seq[(String, () => Any)](
             "components" -> (() => LocalGraph.slices(LocalGraph.components(in), 4)),
             "hops" -> (() => LocalGraph.slices(LocalGraph.hops(in, from, Int.MaxValue), 4)),
             "core" -> (() => LocalGraph.slices(LocalGraph.core(in, 1), 4)))) {
        val bytes = allocated(run)
        assert(bytes <= charge,
          s"$kernel on $name (${edges.size} edges) allocated $bytes B, charged $charge B")
      }
    }
  }
}
