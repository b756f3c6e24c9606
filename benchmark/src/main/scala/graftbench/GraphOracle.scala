package graftbench

import scala.collection.mutable

/** An independent replay, in plain Scala over driver memory, of the graph
  * analytics the `graph_analytics` pass runs, as each is specified:
  *  - connected components over the GraphX graph (nodes plus edge
  *    endpoints, edges undirected), a component named by its smallest id;
  *  - GraphX static PageRank: every vertex starts at 1.0, each iteration
  *    sets rank = reset + (1 - reset) · Σ rank(src) / outDegree(src) over
  *    in-edges (parallel edges count separately), and the final ranks are
  *    scaled to sum to the vertex count;
  *  - degree statistics over vertices with at least one edge end (a
  *    self-loop counts twice);
  *  - the k-core and label propagation over the edges made undirected,
  *    without self-loops or duplicates: peeling to the fixpoint, and
  *    synchronous rounds in which every vertex takes its neighbours' most
  *    frequent label, ties going to the smallest.
  */
final class GraphOracle(nodeIds: Array[Long], src: Array[Long], dst: Array[Long]) {
  import GraphOracle._

  private val verts: Array[Long] = (nodeIds ++ src ++ dst).distinct.sorted
  private val index: Map[Long, Int] = verts.iterator.zipWithIndex.toMap
  private val s = src.map(index)
  private val d = dst.map(index)

  def components: Map[Long, Long] = {
    val parent = Array.tabulate(verts.length)(identity)
    def root(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val n = parent(j); parent(j) = r; j = n }
      r
    }
    s.indices.foreach { e =>
      val (a, b) = (root(s(e)), root(d(e)))
      // the smaller index, hence the smaller id (verts is sorted), is the root
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    verts.indices.map(i => verts(i) -> verts(root(i))).toMap
  }

  def pageRank(iters: Int, reset: Double = 0.15): Map[Long, Double] = {
    val outDeg = new Array[Int](verts.length)
    s.foreach(i => outDeg(i) += 1)
    var rank = Array.fill(verts.length)(1.0)
    for (_ <- 1 to iters) {
      val in = new Array[Double](verts.length)
      s.indices.foreach(e => in(d(e)) += rank(s(e)) / outDeg(s(e)))
      rank = in.map(x => reset + (1 - reset) * x)
    }
    val scale = verts.length / rank.sum
    verts.indices.map(i => verts(i) -> rank(i) * scale).toMap
  }

  /** (min degree, max degree, mean degree, vertices with an edge). */
  def degreeStats: (Long, Long, Double, Long) = {
    val deg = new Array[Long](verts.length)
    s.foreach(i => deg(i) += 1)
    d.foreach(i => deg(i) += 1)
    val some = deg.filter(_ > 0)
    (some.min, some.max, some.sum.toDouble / some.length, some.length.toLong)
  }

  private lazy val neighbours: Map[Int, Array[Int]] =
    s.indices.iterator.filter(e => s(e) != d(e)).flatMap(e => Iterator(s(e) -> d(e), d(e) -> s(e)))
      .toSeq.distinct.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toArray }

  /** The k-core's vertices with their degree inside it. */
  def kCore(k: Int): Map[Long, Long] = {
    val alive = mutable.Set(neighbours.keys.toSeq: _*)
    def degree(v: Int) = neighbours(v).count(alive)
    var peel = alive.filter(degree(_) < k)
    while (peel.nonEmpty) {
      alive --= peel
      peel = alive.filter(degree(_) < k)
    }
    alive.iterator.map(v => verts(v) -> degree(v).toLong).toMap
  }

  def labelPropagation(iters: Int): Map[Long, Long] = {
    var label: Map[Int, Long] = neighbours.keys.map(v => v -> verts(v)).toMap
    for (_ <- 1 to iters) {
      label = neighbours.map { case (v, ns) =>
        val counts = ns.groupMapReduce(label)(_ => 1)(_ + _)
        v -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label.map { case (v, l) => verts(v) -> l }
  }

  /** What differs between the pass's results and the replay. */
  def mismatches(components: Map[Long, Long], ranks: Map[Long, Double],
      degreeStats: (Long, Long, Double, Long), core: Map[Long, Long],
      communities: Map[Long, Long]): Seq[String] = {
    def diff[V](what: String, got: Map[Long, V], want: Map[Long, V], same: (V, V) => Boolean) = {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted
        .filterNot(k => got.contains(k) && want.contains(k) && same(got(k), want(k)))
      bad.headOption.map(k => s"$what: ${bad.size} of ${want.size} vertices differ from the oracle, " +
        s"first $k: ${got.get(k)} vs ${want.get(k)}").toSeq
    }
    val (lo, hi, mean, n) = degreeStats
    val (wlo, whi, wmean, wn) = this.degreeStats
    diff[Long]("connectedComponents", components, this.components, _ == _) ++
      diff[Double]("pageRank", ranks, pageRank(PageRankIters), (a, b) => close(a, b)) ++
      (if (lo == wlo && hi == whi && n == wn && close(mean, wmean)) Nil
       else Seq(s"degreeStats: $degreeStats vs oracle ${this.degreeStats}")) ++
      diff[Long]("kCore", core, kCore(CoreK), _ == _) ++
      diff[Long]("labelPropagation", communities, labelPropagation(LpaIters), _ == _)
  }
}

object GraphOracle {
  val PageRankIters = 10
  val CoreK = 3
  val LpaIters = 5

  /** Equal up to the rounding a different summation order gives. */
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}
