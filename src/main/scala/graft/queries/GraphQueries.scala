package graft.queries

import graft.{OracleQuery, QueryModule, Tables}
import graft.analytics.GraphAnalytics
import graft.ingest.Refresh.GraphStore
import graft.model.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bulk graph analytics over testdata-derived graphs, run through the REAL
  * GraphX bridge and checked against relational oracles — including
  * PageRank, whose 10 fixed iterations (plus GraphX's final sum = |V|
  * normalization) are replicated exactly by a recursive-CTE oracle.
  */
object GraphQueries extends QueryModule {

  private def q(name: String, sql: String)(run: (SparkSession, String) => DataFrame) =
    OracleQuery(name, run, Some(sql))

  /** customer↔order bipartite graph as a GraphStore. */
  private def customerOrderGraph(s: SparkSession, d: String): GraphStore = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val nodes = Graph.nodesFrom(c, "Customer", lit(null), Seq(col("c_custkey")),
        Map("custkey" -> col("c_custkey")))
      .unionByName(Graph.nodesFrom(o, "Order", lit(null), Seq(col("o_orderkey")),
        Map("orderkey" -> col("o_orderkey"))))
    val edges = Graph.edgesFrom(o, "Order", Seq(col("o_orderkey")), "PLACED_BY",
      "Customer", Seq(col("o_custkey")), lit(null))
    GraphStore(nodes, edges)
  }

  private def nationRegionGraph(s: SparkSession, d: String): GraphStore = {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val nodes = Graph.nodesFrom(n, "Nation", lit(null), Seq(col("n_nationkey")),
        Map("name" -> col("n_name")))
      .unionByName(Graph.nodesFrom(r, "Region", lit(null), Seq(col("r_regionkey")),
        Map("name" -> col("r_name"))))
    val edges = Graph.edgesFrom(n, "Nation", Seq(col("n_nationkey")), "IN_REGION",
      "Region", Seq(col("n_regionkey")), lit(null))
    GraphStore(nodes, edges)
  }

  /** part↔supplier bipartite graph from distinct lineitem pairs. */
  private def partSupplierGraph(s: SparkSession, d: String): GraphStore = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
    val nodes = Graph.nodesFrom(li.select("l_partkey").distinct(), "Part", lit(null),
        Seq(col("l_partkey")), Map("k" -> col("l_partkey")))
      .unionByName(Graph.nodesFrom(li.select("l_suppkey").distinct(), "Supplier",
        lit(null), Seq(col("l_suppkey")), Map("k" -> col("l_suppkey"))))
    val edges = Graph.edgesFrom(li, "Part", Seq(col("l_partkey")), "SUPPLIES",
      "Supplier", Seq(col("l_suppkey")), lit(null))
    GraphStore(nodes, edges)
  }

  /** Supplier co-supply graph: suppliers linked iff they supply a common
    * part. Two deterministic sparsifiers keep the projection honest as SF
    * grows (the unrestricted co-supply projection of a bipartite graph
    * densifies toward COMPLETE — at sf0.1 it reaches 82% density and 94M
    * triangles, a property of the projection, not of triangleCount):
    * partkey % 10 = 0 bounds the p-self-join intermediate, and a pair-hash
    * keep of (31·u + v) % 10 = 0 thins edges to ~8% density with varied
    * per-vertex triangle counts — integer-exact in both engines.
    */
  private def coSupplyGraph(s: SparkSession, d: String): GraphStore = {
    val ps = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 10 === 0)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
    val pairs = ps.alias("a").join(ps.alias("b"),
        col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .filter((col("a.s") * 31 + col("b.s")) % 10 === 0)
      .select(col("a.s").as("sa"), col("b.s").as("sb")).distinct()
    val verts = Tables.lineitem(s, d).select(col("l_suppkey")).distinct()
    val nodes = Graph.nodesFrom(verts, "Supplier", lit(null),
      Seq(col("l_suppkey")), Map("k" -> col("l_suppkey")))
    val edges = Graph.edgesFrom(pairs, "Supplier", Seq(col("sa")), "CO_SUPPLY",
      "Supplier", Seq(col("sb")), lit(null))
    GraphStore(nodes, edges)
  }

  val queries: Seq[OracleQuery] = Seq(
    // GraphX per-vertex triangle count over the co-supply graph ≡ a DuckDB
    // 3-way self-join enumerating each triangle a<b<c once, then crediting
    // all three corners; suppliers in no triangle report 0 (GraphX emits
    // every vertex, hence the left-join-shaped oracle).
    q("q_g_triangles",
      "WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem WHERE l_partkey % 10 = 0), " +
        "e AS (SELECT DISTINCT a.s AS u, b.s AS v FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s AND (a.s * 31 + b.s) % 10 = 0), " +
        "tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v), " +
        "cnt AS (SELECT a AS s FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri), " +
        "verts AS (SELECT DISTINCT l_suppkey AS s FROM lineitem) " +
        "SELECT v.s AS suppkey, CAST(count(c.s) AS BIGINT) AS triangles " +
        "FROM verts v LEFT JOIN cnt c ON c.s = v.s GROUP BY v.s ORDER BY suppkey") { (s, d) =>
      val store = coSupplyGraph(s, d)
      val g = GraphAnalytics.toGraphX(store)
      val suppIds = store.nodes
        .select(col("id"), col("props")("k").cast("long").as("suppkey"))
      GraphAnalytics.triangleCount(s, g)
        .join(suppIds, Seq("id"))
        .select(col("suppkey"), col("triangles"))
        .orderBy("suppkey")
    },
    // k-core peeling (k = 4) over the co-supply edges: the engine runs to
    // the data-dependent fixpoint (maxRounds 30); the oracle unrolls 16
    // rounds — extra rounds past convergence are no-ops by construction
    // (peeling a fixpoint removes nothing), so the two agree exactly.
    // Measured convergence at sf0.01 is round ≤ 4 and at sf0.1 round ≤ 5;
    // 16 leaves an order-of-magnitude margin so a data-scale or
    // sparsifier change cannot silently turn a real no-change into an
    // oracle mismatch that reads like an engine bug.
    q("q_g_kcore", {
      val unroll = 16
      val base =
        "WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem WHERE l_partkey % 10 = 0), " +
          "pr AS (SELECT DISTINCT a.s AS sa, b.s AS sb FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s AND (a.s * 31 + b.s) % 10 = 0), " +
          "e0 AS (SELECT sa AS u, sb AS v FROM pr UNION SELECT sb, sa FROM pr)"
      // AS MATERIALIZED: each e_{j+1} references e_j three times, so
      // default CTE inlining would expand 3^unroll copies of the base
      // scan (measured: "too many open files" at 16 rounds); forcing
      // materialization keeps the replay linear in the unroll depth.
      val rounds = (0 until unroll).map { j =>
        s"d$j AS MATERIALIZED (SELECT u, count(*) AS d FROM e$j GROUP BY 1), " +
          s"k$j AS MATERIALIZED (SELECT u FROM d$j WHERE d >= 4), " +
          s"e${j + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$j e WHERE e.u IN (SELECT u FROM k$j) AND e.v IN (SELECT u FROM k$j))"
      }.mkString(", ")
      s"$base, $rounds SELECT u AS suppkey, CAST(count(*) AS BIGINT) AS core_degree FROM e$unroll GROUP BY 1 ORDER BY 1"
    }) { (s, d) =>
      val ps = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 10 === 0)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      val pairs = ps.alias("a").join(ps.alias("b"),
          col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
        .filter((col("a.sk") * 31 + col("b.sk")) % 10 === 0)
        .select(col("a.sk").as("sa"), col("b.sk").as("sb")).distinct()
      GraphAnalytics.kCore(pairs, "sa", "sb", k = 4)
        .select(col("v").as("suppkey"), col("core_degree"))
        .orderBy("suppkey")
    },
    // deterministic synchronous label propagation (3 rounds) over the
    // co-supply edges: start = own key, adopt the most frequent neighbor
    // label, ties → smallest — both nondeterminism sources of stock LPA
    // pinned, so the oracle unrolls the rounds verbatim.
    q("q_g_communities", {
      val base =
        "WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem WHERE l_partkey % 10 = 0), " +
          "pr AS (SELECT DISTINCT a.s AS sa, b.s AS sb FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s AND (a.s * 31 + b.s) % 10 = 0), " +
          "e AS (SELECT sa AS u, sb AS v FROM pr UNION SELECT sb, sa FROM pr), " +
          "vt AS (SELECT DISTINCT u AS vtx FROM e), " +
          "l0 AS (SELECT vtx, vtx AS lbl FROM vt)"
      val rounds = (0 until 3).map { j =>
        s"c$j AS (SELECT e.u AS vtx, l.lbl, count(*) AS cnt FROM e JOIN l$j l ON l.vtx = e.v GROUP BY 1, 2), " +
          s"n$j AS (SELECT vtx, lbl FROM (SELECT vtx, lbl, row_number() OVER (PARTITION BY vtx ORDER BY cnt DESC, lbl) AS rn FROM c$j) x WHERE rn = 1), " +
          s"l${j + 1} AS (SELECT vt.vtx, coalesce(n.lbl, vt.vtx) AS lbl FROM vt LEFT JOIN n$j n USING (vtx))"
      }.mkString(", ")
      s"$base, $rounds SELECT vtx AS suppkey, lbl AS community FROM l3 ORDER BY 1"
    }) { (s, d) =>
      val ps = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 10 === 0)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      val pairs = ps.alias("a").join(ps.alias("b"),
          col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
        .filter((col("a.sk") * 31 + col("b.sk")) % 10 === 0)
        .select(col("a.sk").as("sa"), col("b.sk").as("sb")).distinct()
      GraphAnalytics.labelPropagation(pairs, "sa", "sb", iters = 3)
        .select(col("v").as("suppkey"), col("community"))
        .orderBy("suppkey")
    },
    // single-landmark BFS through the real GraphX ShortestPaths Pregel run
    // (undirected) over the co-supply graph, from the lowest-keyed supplier
    // that has an edge. The oracle is a recursive-CTE BFS whose UNION
    // dedup bounds the working set to (vertex, depth) pairs; min(d) per
    // vertex = the hop distance. Unreachable suppliers emit no row in
    // either engine. The d < 50 recursion cap is ≫ any possible diameter
    // here (|V| ≤ 1000 at sf0.1, near-clique projection).
    q("q_g_shortest_path",
      "WITH RECURSIVE ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem WHERE l_partkey % 10 = 0), " +
        "e AS (SELECT DISTINCT a.s AS u, b.s AS v FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s AND (a.s * 31 + b.s) % 10 = 0), " +
        "und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e), " +
        "src AS (SELECT min(u) AS s0 FROM und), " +
        "bfs AS (SELECT s0 AS v, 0 AS d FROM src UNION SELECT und.v, bfs.d + 1 FROM bfs JOIN und ON und.u = bfs.v WHERE bfs.d < 50) " +
        "SELECT v AS suppkey, CAST(min(d) AS BIGINT) AS dist FROM bfs GROUP BY v ORDER BY suppkey") { (s, d) =>
      val store = coSupplyGraph(s, d)
      val suppIds = store.nodes
        .select(col("id"), col("props")("k").cast("long").as("suppkey"))
      val endpoints = store.edges.select(col("src").as("id"))
        .unionAll(store.edges.select(col("dst").as("id"))).distinct()
      // the landmark (lowest suppkey with an edge) stays a distributed
      // 1-row frame — no .head scalar pulled to the driver.
      val lm = endpoints.join(suppIds, Seq("id")).orderBy("suppkey")
        .limit(1).select("id")
      val g = GraphAnalytics.toGraphX(store)
      GraphAnalytics.shortestPathsFrom(s, g, lm)
        .join(suppIds, Seq("id"))
        .select(col("suppkey"), col("dist"))
        .orderBy("suppkey")
    },
    // iterative frontier expansion (blast radius) through the real
    // operator: everything within 2 undirected hops of part 1 — its
    // suppliers (hop 1) and every other part those suppliers supply
    // (hop 2). The oracle states the same BFS as two set-difference joins.
    q("q_g_blast_radius",
      "WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem), " +
        "h1 AS (SELECT DISTINCT s FROM e WHERE p = 1), " +
        "h2 AS (SELECT DISTINCT p FROM e JOIN h1 USING (s) WHERE p <> 1) " +
        "SELECT * FROM (SELECT 'Part' AS label, CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS hops " +
        "UNION ALL SELECT 'Supplier', s, 1 FROM h1 " +
        "UNION ALL SELECT 'Part', p, 2 FROM h2) ORDER BY hops, label, k") { (s, d) =>
      val store = partSupplierGraph(s, d)
      val start = store.nodes
        .filter(col("label") === "Part" && col("props")("k") === "1")
        .select("id")
      GraphAnalytics.blastRadius(store, start, Set("SUPPLIES"), maxHops = 2)
        .join(store.nodes.select(col("id"), col("props")("k").cast("long").as("k")),
          Seq("id"))
        .select(col("label"), col("k"), col("hops").cast("long").as("hops"))
        .orderBy("hops", "label", "k")
    },
    // GraphX degree of each customer vertex ≡ SQL order count (validates the
    // id-preserving bridge numerically: zero-degree customers are absent
    // from GraphX degrees, hence the inner-join-shaped oracle).
    q("q_g_degree",
      "SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS degree FROM orders GROUP BY 1 ORDER BY 1") { (s, d) =>
      val store = customerOrderGraph(s, d)
      val g = GraphAnalytics.toGraphX(store)
      val custIds = store.nodes.filter(col("label") === "Customer")
        .select(col("id"), col("props")("custkey").cast("long").as("custkey"))
      GraphAnalytics.degrees(s, g)
        .join(custIds, Seq("id"))
        .select(col("custkey"), col("degree"))
        .orderBy("custkey")
    },
    // connected components of the nation-region forest = one per region.
    q("q_g_components",
      "SELECT CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_components FROM nation") { (s, d) =>
      val g = GraphAnalytics.toGraphX(nationRegionGraph(s, d))
      GraphAnalytics.connectedComponents(s, g)
        .agg(countDistinct(col("component")).as("n_components"))
    },
    // per-node component MEMBERSHIP (stronger than the count): GraphX's
    // component ids are Spark-side hash mins the oracle can't reproduce, so
    // each component is renamed to its alphabetically-first member — the
    // exact member sets must then agree. A component here = a region plus
    // its nations.
    q("q_g_components_members",
      "WITH comp AS (SELECT r.r_regionkey, least(r.r_name, min(n.n_name)) AS comp_name FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey GROUP BY r.r_regionkey, r.r_name) " +
        "SELECT label, name, comp_name FROM (" +
        "SELECT 'Nation' AS label, n.n_name AS name, c.comp_name FROM nation n JOIN comp c ON c.r_regionkey = n.n_regionkey " +
        "UNION ALL SELECT 'Region', r.r_name, c.comp_name FROM region r JOIN comp c USING (r_regionkey)) " +
        "ORDER BY label, name") { (s, d) =>
      val store = nationRegionGraph(s, d)
      val g = GraphAnalytics.toGraphX(store)
      val names = store.nodes.select(col("id"), col("label"),
        col("props")("name").as("name"))
      val labeled = GraphAnalytics.connectedComponents(s, g).join(names, Seq("id"))
      val rep = labeled.groupBy("component").agg(min("name").as("comp_name"))
      labeled.join(rep, Seq("component"))
        .select(col("label"), col("name"), col("comp_name"))
        .orderBy("label", "name")
    },
    // degree distribution stats via GraphX ≡ SQL over the order counts
    q("q_g_degree_stats",
      "SELECT CAST(min(c) AS BIGINT) AS min_degree, CAST(max(c) AS BIGINT) AS max_degree, CAST(avg(CAST(c AS BIGINT)) AS DOUBLE) AS avg_degree, CAST(count(*) AS BIGINT) AS n_vertices FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)") { (s, d) =>
      val store = customerOrderGraph(s, d)
      val g = GraphAnalytics.toGraphX(store)
      val custIds = store.nodes.filter(col("label") === "Customer").select("id")
      GraphAnalytics.degrees(s, g)
        .join(custIds, Seq("id"), "left_semi")
        .agg(min("degree").cast("long").as("min_degree"),
          max("degree").cast("long").as("max_degree"),
          avg("degree").as("avg_degree"),
          count(lit(1)).as("n_vertices"))
    },
    // GraphX static PageRank (10 iterations, resetProb 0.15, final ranks
    // normalized to sum = |V|) replicated exactly by a recursive-CTE oracle:
    // rank⁰ = 1, rankⁱ⁺¹(v) = 0.15 + 0.85·Σ rankⁱ(src)/outdeg(src). Keyed by
    // (label, name) — the store's 64-bit ids are Spark-side hashes the
    // oracle can't reproduce.
    q("q_g_pagerank",
      "WITH RECURSIVE " +
        "verts AS (SELECT 'N' || n_nationkey AS vid, 'Nation' AS label, n_name AS name FROM nation UNION ALL SELECT 'R' || r_regionkey, 'Region', r_name FROM region), " +
        "edges AS (SELECT 'N' || n_nationkey AS src, 'R' || n_regionkey AS dst FROM nation), " +
        "od AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1), " +
        "e2 AS (SELECT e.src, e.dst, 1.0 / od.deg AS w FROM edges e JOIN od USING (src) UNION ALL SELECT vid, vid, 0.0 FROM verts), " +
        "ranks AS (SELECT 0 AS iter, vid, CAST(1.0 AS DOUBLE) AS rank FROM verts UNION ALL SELECT r.iter + 1, e.dst, 0.15 + 0.85 * sum(r.rank * e.w) FROM ranks r JOIN e2 e ON e.src = r.vid WHERE r.iter < 10 GROUP BY 1, 2), " +
        "fin AS (SELECT vid, rank FROM ranks WHERE iter = 10), " +
        "norm AS (SELECT sum(rank) AS s, count(*) AS n FROM fin) " +
        "SELECT v.label, v.name, round(f.rank * norm.n / norm.s, 6) AS rank FROM fin f JOIN verts v ON v.vid = f.vid, norm ORDER BY label, name") { (s, d) =>
      val store = nationRegionGraph(s, d)
      val g = GraphAnalytics.toGraphX(store)
      val names = store.nodes.select(col("id"), col("label"),
        col("props")("name").as("name"))
      GraphAnalytics.pageRank(s, g, iters = 10)
        .join(names, Seq("id"))
        .select(col("label"), col("name"), round(col("rank"), 6).as("rank"))
        .orderBy("label", "name")
    }
  )
}
