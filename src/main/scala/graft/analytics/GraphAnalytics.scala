package graft.analytics

import graft.ingest.Refresh.GraphStore
import org.apache.spark.graphx.{EdgeDirection, Edge => GxEdge, Graph => GxGraph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel

/** Bulk graph analytics over the property-graph store via GraphX
  * (SURVEY §2.11 / BASELINE.json "GraphX for analytics, not OLTP
  * traversal"). The store's deterministic 64-bit node ids ARE the GraphX
  * VertexIds — the bridge is two cheap projections, no re-keying shuffle.
  *
  * Scale notes: GraphX materializes the graph as RDDs outside Tungsten —
  * build it once per analytics session, cache with MEMORY_AND_DISK, and
  * checkpoint iterative results (PageRank) on long chains. Edge partitioning
  * uses EdgePartition2D to bound replication at √P.
  */
object GraphAnalytics {

  def toGraphX(store: GraphStore): GxGraph[String, String] = {
    val vertices: RDD[(VertexId, String)] = store.nodes
      .select(col("id"), col("label")).rdd
      .map(r => (r.getLong(0), r.getString(1)))
    val edges: RDD[GxEdge[String]] = store.edges
      .select(col("src"), col("dst"), col("relType")).rdd
      .map(r => GxEdge(r.getLong(0), r.getLong(1), r.getString(2)))
    GxGraph(vertices, edges, defaultVertexAttr = "",
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
  }

  private def toDF(spark: SparkSession, rdd: RDD[(VertexId, Long)],
      valueName: String): DataFrame = {
    import spark.implicits._
    rdd.toDF("id", valueName)
  }

  /** Per-node degree (undirected). */
  def degrees(spark: SparkSession, g: GxGraph[String, String]): DataFrame =
    toDF(spark, g.degrees.map { case (v, d) => (v, d.toLong) }, "degree")

  /** Connected components (component = min vertex id in component). */
  def connectedComponents(spark: SparkSession, g: GxGraph[String, String]): DataFrame =
    toDF(spark, g.connectedComponents().vertices, "component")

  def pageRank(spark: SparkSession, g: GxGraph[String, String],
      iters: Int = 10): DataFrame = {
    import spark.implicits._
    g.staticPageRank(iters).vertices.toDF("id", "rank")
  }

  /** PageRank over a STRING-keyed edge frame — the host-authority form
    * the crawl loop needs ([[graft.llmops.TextAnalysis.extractLinks]]'
    * (src_host, dst_host) pairs feed straight in): vertex ids derive
    * from [[graft.llmops.PortableHash.hash52]] of the key (oracle-
    * replayable, collision odds ~|V|²/2⁵³ — at 10⁸ hosts expect ~1
    * collision, which silently MERGES two hosts' in-links: negligible
    * for crawl prioritization, but do NOT reuse this function where key
    * identity must be exact — use a rank-assigned id there), parallel
    * links COLLAPSE to one edge before the run — authority follows WHO
    * links, not how often, else one page farms rank with repeated
    * anchors. Returns (key, rank) with GraphX `staticPageRank`
    * semantics (resetProb 0.15, ranks normalized to sum |V|).
    *
    * Scale: two projections + one distinct build the graph once; the
    * iteration is GraphX's own (EdgePartition2D-bounded replication).
    */
  def pageRankKeys(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10): DataFrame = {
    import graft.llmops.PortableHash
    val spark = edges.sparkSession
    val verts = edges.select(col(srcCol).as("key"))
      .unionAll(edges.select(col(dstCol).as("key")))
      .where(col("key").isNotNull).distinct()
      .withColumn("vid", PortableHash.hash52(col("key")))
    val vRdd: RDD[(VertexId, String)] =
      verts.select("vid", "key").rdd.map(r => (r.getLong(0), r.getString(1)))
    val eRdd: RDD[GxEdge[String]] = edges
      .select(PortableHash.hash52(col(srcCol)).as("s"),
        PortableHash.hash52(col(dstCol)).as("d"))
      .where(col("s").isNotNull && col("d").isNotNull).distinct()
      .rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), ""))
    val g = GxGraph(vRdd, eRdd, defaultVertexAttr = "",
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    import spark.implicits._
    g.staticPageRank(iters).vertices.toDF("vid", "rank")
      .join(verts, Seq("vid"))
      .select(col("key"), col("rank"))
  }

  /** Per-vertex triangle count. GraphX's implementation requires canonical
    * edge orientation (srcId < dstId) and deduped edges — enforced here.
    */
  def triangleCount(spark: SparkSession, g: GxGraph[String, String]): DataFrame = {
    val canonical = GxGraph(
      g.vertices,
      g.edges.map(e =>
        if (e.srcId < e.dstId) e else GxEdge(e.dstId, e.srcId, e.attr))
        .distinct())
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    toDF(spark, canonical.triangleCount().vertices.map { case (v, t) => (v, t.toLong) },
      "triangles")
  }

  /** Shortest hop distances from every vertex to each landmark, undirected
    * (edges symmetrized before the Pregel run — GraphX's ShortestPaths
    * follows edge direction). Returns (id, landmark, dist); unreachable
    * vertices emit no row for that landmark. Pregel message volume is
    * |frontier|·|landmarks| per superstep and the run converges in
    * diameter supersteps — the standard landmark-BFS scale shape.
    */
  def shortestPaths(spark: SparkSession, g: GxGraph[String, String],
      landmarks: Seq[VertexId]): DataFrame = {
    import spark.implicits._
    val sym = GxGraph(
      g.vertices,
      g.edges.flatMap(e =>
        Iterator(GxEdge(e.srcId, e.dstId, e.attr), GxEdge(e.dstId, e.srcId, e.attr)))
        .distinct(),
      defaultVertexAttr = "",
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    org.apache.spark.graphx.lib.ShortestPaths.run(sym, landmarks).vertices
      .flatMap { case (v, spMap) => spMap.map { case (lm, d) => (v, lm, d.toLong) } }
      .toDF("id", "landmark", "dist")
  }

  /** Single-source-set BFS with the sources supplied as a DataFrame of
    * vertex ids — no driver-side scalar pull: the source set joins into
    * the vertex initialization as an RDD, so a landmark derived from the
    * data ("the lowest-keyed supplier with an edge") stays distributed
    * end-to-end. Undirected like [[shortestPaths]]; returns (id, dist),
    * unreachable vertices emit no row. Pregel min-distance, converging in
    * diameter supersteps.
    */
  def shortestPathsFrom(spark: SparkSession, g: GxGraph[String, String],
      sources: DataFrame): DataFrame = {
    import spark.implicits._
    val srcRdd: RDD[(VertexId, Long)] = sources
      .select(col(sources.columns.head).cast("long")).as[Long].rdd.map(id => (id, 0L))
    val sym = GxGraph(
      g.vertices,
      g.edges.flatMap(e =>
        Iterator(GxEdge(e.srcId, e.dstId, e.attr), GxEdge(e.dstId, e.srcId, e.attr)))
        .distinct(),
      defaultVertexAttr = "",
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    val init = sym.outerJoinVertices(srcRdd)((_, _, s) =>
      s.fold(Long.MaxValue)(identity))
    val res = init.pregel(Long.MaxValue, activeDirection = EdgeDirection.Out)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Long.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      math.min)
    res.vertices.filter(_._2 != Long.MaxValue).toDF("id", "dist")
  }

  /** Degree distribution summary — the quick health check on any graph. */
  def degreeStats(spark: SparkSession, g: GxGraph[String, String]): DataFrame =
    degrees(spark, g).agg(
      min("degree").as("min_degree"), max("degree").as("max_degree"),
      avg("degree").as("avg_degree"), count(lit(1)).as("n_vertices"))

  /** The canonical undirected simple graph of an edge frame: each
    * endpoint pair once as (least, greatest), null endpoints dropped,
    * vertices = the remaining edge endpoints. Self-loops are dropped
    * unless `keepSelfLoops`, which keeps a self-paired id as a vertex.
    * The endpoint columns must hold integral ids (they become VertexIds).
    */
  private[graft] def simpleGraph(edges: DataFrame, srcCol: String,
      dstCol: String, keepSelfLoops: Boolean = false): GxGraph[Int, Int] = {
    val (a, b) = (col(srcCol), col(dstCol))
    val pairs = edges.where(if (keepSelfLoops) a.isNotNull && b.isNotNull else a =!= b)
      .select(least(a, b).cast("long"), greatest(a, b).cast("long")).distinct()
      .rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 0))
    GxGraph.fromEdges(pairs, 0, StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** The id type of an edge frame's endpoint columns (the wider of the two). */
  private[graft] def idType(edges: DataFrame, srcCol: String, dstCol: String): DataType =
    edges.select(least(col(srcCol), col(dstCol))).schema.head.dataType

  /** Blast radius: all nodes within `maxHops` of `startIds` along the given
    * relationship types, ignoring direction — e.g. "which VMs transitively
    * depend on datastore X" via CONNECTED_DATASTORE/ON_DATASTORE/
    * VDISK_FOR_VM. Returns (id, label, key, hops), `hops` minimal; a start
    * id is hop 0 even when no edge of `relTypes` touches it. A Pregel
    * min-hop BFS over the relType-filtered [[simpleGraph]]: superstep h
    * sends only from the previous hop's frontier (`EdgeDirection.Either`),
    * one Spark job per hop.
    */
  def blastRadius(store: GraphStore, startIds: DataFrame,
      relTypes: Set[String], maxHops: Int = 4): DataFrame = {
    require(maxHops >= 0)
    val starts = startIds.select(col("id")).distinct()
    val unreached = Int.MaxValue
    val init = simpleGraph(store.edges.filter(col("relType").isInCollection(relTypes)),
      "src", "dst")
      .outerJoinVertices(starts.rdd.map(r => (r.getLong(0), 0)))((_, _, s) =>
        s.getOrElse(unreached))
    val bfs = if (maxHops == 0) init else init.pregel(unreached, maxHops, EdgeDirection.Either)(
      (_, h, msg) => math.min(h, msg),
      t => if (t.srcAttr < t.dstAttr - 1) Iterator((t.dstId, t.srcAttr + 1))
        else if (t.dstAttr < t.srcAttr - 1) Iterator((t.srcId, t.dstAttr + 1))
        else Iterator.empty,
      math.min)
    val spark = store.edges.sparkSession
    import spark.implicits._
    bfs.vertices.filter { case (_, h) => h > 0 && h != unreached }.toDF("id", "hops")
      .unionAll(starts.withColumn("hops", lit(0)))
      .join(store.nodes, Seq("id"))
      .select(col("id"), col("label"), col("key"), col("hops"))
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * vertex whose CURRENT degree (within the surviving subgraph) is
    * below `k` until none remains — the classic graph-quality trim
    * (spam/bot rings and weakly-attached tendrils peel away; what
    * survives is the densely-knit core). `edges` are undirected pairs,
    * canonicalized by [[simpleGraph]]. Returns (v, core_degree) for the
    * surviving vertices; an empty frame when no k-core exists.
    *
    * Runs to the FIXPOINT (a round that deletes no edge), bounded by
    * `maxRounds` — non-convergence within the bound throws loudly rather
    * than returning a half-peeled graph. A round is a GraphX degree
    * aggregation plus `subgraph`: one Spark job. Because the fixpoint is
    * stable, an oracle may replay MORE rounds than the engine needed:
    * extra rounds are no-ops — which is what lets a fixed-unroll SQL
    * replay hash-match a data-dependent iteration count.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    var g = simpleGraph(edges, srcCol, dstCol).cache()
    var nEdges = g.numEdges
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      round += 1
      val next = g.outerJoinVertices(g.degrees)((_, _, d) => d.getOrElse(0))
        .subgraph(vpred = (_, d) => d >= k).cache()
      val n = next.numEdges
      g.unpersist(blocking = false)
      g = next
      stable = n == nEdges
      nEdges = n
    }
    require(stable, s"k-core did not converge within $maxRounds rounds")
    // the last round removed no edge, so each survivor's degree is its in-core degree
    toDF(edges.sparkSession, g.vertices.mapValues(_.toLong), "core_degree")
      .select(col("id").cast(idType(edges, srcCol, dstCol)).as("v"), col("core_degree"))
  }

  /** Community detection by DETERMINISTIC synchronous label propagation
    * (Raghavan et al. 2007, made reproducible): every vertex starts as
    * its own label; each round, every vertex adopts its neighbors' most
    * frequent label with ties broken to the SMALLEST label — the two
    * places stock LPA is nondeterministic (random vertex order, random
    * tie pick) both pinned, so `iters` rounds produce one well-defined
    * answer any engine can replay (GraphX's own LPA keeps hash-map tie
    * order — not oracle-checkable). A round is one GraphX
    * `aggregateMessages` of per-label neighbor counts plus the argmax:
    * one Spark job. Synchronous LPA can 2-cycle on bipartite structure —
    * callers pick `iters` (and see the spec's oscillation pin).
    *
    * `edges` are undirected pairs, canonicalized by [[simpleGraph]];
    * vertices = edge endpoints (isolated vertices have no neighbors to
    * vote — add them downstream as their own singleton communities).
    * Returns (v, community).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0)
    type Counts = Map[VertexId, Long]
    def merge(x: Counts, y: Counts): Counts = {
      val (big, small) = if (x.size >= y.size) (x, y) else (y, x)
      small.foldLeft(big) { case (m, (l, n)) => m.updated(l, m.getOrElse(l, 0L) + n) }
    }
    var g = simpleGraph(edges, srcCol, dstCol).mapVertices((v, _) => v).cache()
    for (_ <- 1 to iters) {
      val counts = g.aggregateMessages[Counts](t => {
        t.sendToDst(Map(t.srcAttr -> 1L))
        t.sendToSrc(Map(t.dstAttr -> 1L))
      }, merge)
      val next = g.outerJoinVertices(counts)((_, lbl, c) =>
        c.fold(lbl)(_.minBy { case (l, n) => (-n, l) }._1)).cache()
      next.edges.count()
      g.unpersist(blocking = false)
      g = next
    }
    val t = idType(edges, srcCol, dstCol)
    toDF(edges.sparkSession, g.vertices, "community")
      .select(col("id").cast(t).as("v"), col("community").cast(t))
  }
}
