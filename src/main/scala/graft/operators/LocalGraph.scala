package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-local graph kernel behind the small-graph regimes of
  * [[Dedup.connectedComponents]], [[Graph.bfsHops]] and [[Graph.kCore]],
  * on primitive arrays only. Edges arrive as one `long[]` of interleaved
  * (src, dst) per partition. A node's dense index is its position among
  * the sorted distinct endpoints, so index order is id order and
  * union-by-min-index labels a component with its min id. Adjacency is
  * CSR. Results are computed as [[emit]] writes them into the partitions
  * it ships, so the driver never holds a per-row object.
  */
private[graft] object LocalGraph {

  /** Bytes the local regime allocates per input edge, worst case (every
    * edge brings two new nodes, so V = 2E): collected edges 16; node ids
    * plus the sort's merge scratch 32; k-core CSR (`int[V + 1]`,
    * `int[2E]`) 16; k-core degrees and peel stack 16; output rows 32.
    * Union-find (88) and the hop walk (108) stay under it. LocalGraphSpec
    * measures the kernel against it.
    */
  val BytesPerEdge: Long = 112L

  /** The only id type the kernel stores; the loops take any ordered key. */
  def accepts(df: DataFrame): Boolean = df.schema.fields.forall(_.dataType == LongType)

  /** `df`'s non-null long columns, row-major, one array per partition:
    * one Spark job, no boxed rows. */
  def collect(df: DataFrame): Array[Array[Long]] = {
    val width = df.schema.length
    df.queryExecution.toRdd.mapPartitions { rows =>
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach(r => (0 until width).foreach(c => out += r.getLong(c)))
      Iterator.single(out.result())
    }.collect()
  }

  /** `n` rows (key(i), value(i)), computed as they are written. */
  final class Result(val n: Int, val key: Int => Long, val value: Int => Long)

  private val Empty = new Result(0, _ => 0L, _ => 0L)
  private val NoSlices = Array.empty[Array[Long]]

  /** `r` as interleaved (key, value) pairs in `min(n, parallelism)`
    * arrays, cut where Spark cuts a local table into partitions. */
  def slices(r: Result, parallelism: Int): Array[Array[Long]] = {
    if (r.n == 0) return NoSlices
    val k = math.min(r.n, parallelism)
    def start(s: Int) = (s.toLong * r.n / k).toInt
    Array.tabulate(k) { s =>
      val a = new Array[Long](2 * (start(s + 1) - start(s)))
      for (j <- 0 until a.length / 2) { a(2 * j) = r.key(start(s) + j); a(2 * j + 1) = r.value(start(s) + j) }
      a
    }
  }

  /** `r` staged as a DataFrame with long columns `cols` ([[Dedup.stage]]). */
  def emit(spark: SparkSession, r: Result, cols: (String, String), tag: String): DataFrame = {
    val parts = slices(r, spark.sparkContext.defaultParallelism)
    val rows = spark.sparkContext.parallelize(parts.toSeq, math.max(1, parts.length))
      .flatMap(a => Iterator.range(0, a.length, 2).map(j => Row(a(j), a(j + 1))))
    Dedup.stage(spark.createDataFrame(rows, StructType(Seq(
      StructField(cols._1, LongType, nullable = false),
      StructField(cols._2, LongType, nullable = false)))), tag)
  }

  // Loops below index arrays directly: a fold, a filter or a foreach
  // over a primitive array boxes every element, which the charge leaves out.
  private def foreachEdge(edges: Array[Array[Long]])(f: (Long, Long) => Unit): Unit =
    edges.foreach { a =>
      var i = 0
      while (i < a.length) { f(a(i), a(i + 1)); i += 2 }
    }

  /** Dense node indices: `ids(0 until n)` holds the sorted distinct endpoints. */
  private final class Nodes(edges: Array[Array[Long]]) {
    val ids: Array[Long] = edges.flatten
    java.util.Arrays.sort(ids)
    val n: Int = {
      var m = 0
      for (i <- ids.indices) if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
      m
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)

    /** CSR: v's neighbours are `targets(offsets(v) until offsets(v + 1))`.
      * `both` stores each edge both ways, so a self-loop counts twice, as
      * in the distributed degree aggregate. */
    def csr(both: Boolean): (Array[Int], Array[Int]) = {
      val offsets = new Array[Int](n + 1)
      val targets = new Array[Int](if (both) ids.length else ids.length / 2)
      def add(v: Int, u: Int): Unit = { targets(offsets(v)) = u; offsets(v) += 1 }
      foreachEdge(edges) { (s, d) =>
        offsets(index(s) + 1) += 1
        if (both) offsets(index(d) + 1) += 1
      }
      for (v <- 0 until n) offsets(v + 1) += offsets(v)
      foreachEdge(edges) { (s, d) => add(index(s), index(d)); if (both) add(index(d), index(s)) }
      // each offsets(v) now ends v's run, i.e. starts v + 1's
      System.arraycopy(offsets, 0, offsets, 1, n)
      offsets(0) = 0
      (offsets, targets)
    }
  }

  /** (id, min id of its component) for every endpoint: union-find. */
  def components(edges: Array[Array[Long]]): Result = {
    if (edges.forall(_.isEmpty)) return Empty
    val g = new Nodes(edges)
    val parent = Array.range(0, g.n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    foreachEdge(edges) { (a, b) =>
      val ra = find(g.index(a))
      val rb = find(g.index(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    new Result(g.n, i => g.ids(i), i => g.ids(find(i)))
  }

  /** Minimal directed hop count, up to `maxHops`, from the distinct
    * `sources`, which sit at hop 0 even when no edge mentions them. A
    * FIFO walk reaches every node first at its minimal hop. */
  def hops(edges: Array[Array[Long]], sources: Array[Long], maxHops: Int): Result = {
    if (edges.forall(_.isEmpty) && sources.isEmpty) return Empty
    val g = new Nodes(edges)
    val (offsets, targets) = g.csr(both = false)
    val dist = new Array[Int](g.n)
    java.util.Arrays.fill(dist, -1)
    val queue = new Array[Int](g.n)
    var tail = 0
    def reach(v: Int, d: Int): Unit = if (dist(v) < 0) { dist(v) = d; queue(tail) = v; tail += 1 }
    val unseen = java.util.Arrays.stream(sources).filter(g.index(_) < 0).toArray
    for (i <- sources.indices) if (g.index(sources(i)) >= 0) reach(g.index(sources(i)), 0)
    var head = 0
    while (head < tail) {
      val v = queue(head)
      var j = offsets(v)
      while (dist(v) < maxHops && j < offsets(v + 1)) { reach(targets(j), dist(v) + 1); j += 1 }
      head += 1
    }
    val reached = tail
    new Result(reached + unseen.length,
      i => if (i < reached) g.ids(queue(i)) else unseen(i - reached),
      i => if (i < reached) dist(queue(i)) else 0L)
  }

  /** (node, degree inside the core) for the maximal subgraph of minimum
    * degree >= k. Queue peel: `deg(v) < k` marks a peeled node. */
  def core(edges: Array[Array[Long]], k: Int): Result = {
    if (edges.forall(_.isEmpty)) return Empty
    val g = new Nodes(edges)
    val (offsets, targets) = g.csr(both = true)
    val deg = new Array[Int](g.n)
    val stack = new Array[Int](g.n)
    var top = 0
    def peel(v: Int): Unit = if (deg(v) < k) { stack(top) = v; top += 1 }
    for (v <- 0 until g.n) { deg(v) = offsets(v + 1) - offsets(v); peel(v) }
    while (top > 0) {
      top -= 1
      val v = stack(top)
      var j = offsets(v)
      while (j < offsets(v + 1)) {
        val u = targets(j)
        if (deg(u) >= k) { deg(u) -= 1; peel(u) }
        j += 1
      }
    }
    // the emptied stack now lists the survivors
    var kept = 0
    for (v <- 0 until g.n) if (deg(v) >= k) { stack(kept) = v; kept += 1 }
    new Result(kept, i => g.ids(stack(i)), i => deg(stack(i)))
  }
}
