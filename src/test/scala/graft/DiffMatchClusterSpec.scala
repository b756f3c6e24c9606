package graft

import graft.analytics.GraphAnalytics
import graft.llmops.{Dedup, FuzzyMatch}
import graft.operators.SnapshotDiff
import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Edge-case pins for the round-3 operators — the DuckDB oracles
  * (q_m8_snapshot_diff, q_x_fuzzy_match, q_x_dedup_clusters,
  * q_g_shortest_path) check them at data scale; these pin the hand-built
  * corners: null-safe compares, the blocking contract, chain convergence,
  * and edge-direction independence.
  */
class DiffMatchClusterSpec extends SparkTestBase {

  test("SnapshotDiff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val newSnap = Seq((2L, "b"), (3L, "x"), (4L, "d")).toDF("k", "v")
    val out = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("old_v"), r.getAs[String]("new_v")))
    assert(out.toSeq == Seq(
      (1L, "removed", "a", null),
      (3L, "changed", "c", "x"),
      (4L, "added", null, "d")))
  }

  test("SnapshotDiff compares null-safely: null==null unchanged, null→value changed") {
    import spark.implicits._
    val oldSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "v")
    val newSnap = Seq((1L, Option.empty[String]), (2L, Some("v")))
      .toDF("k", "v")
    val out = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // key 1: null ≡ null → unchanged → suppressed; key 2: null → 'v' → changed
    assert(out.toSeq == Seq((2L, "changed")))
  }

  test("SnapshotDiff joins null keys null-safely (one row, not a cross)") {
    import spark.implicits._
    val oldSnap = Seq((Option.empty[Long], "z")).toDF("k", "v")
    val newSnap = Seq((Option.empty[Long], "w")).toDF("k", "v")
    val out = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .collect().map(r => (r.getAs[Any]("k"), r.getString(1)))
    assert(out.toSeq == Seq((null, "changed")))
  }

  test("blockedLevenshtein only matches within a block and within maxDist") {
    import spark.implicits._
    val left = Seq((1L, "alpha1"), (2L, "alpha2"), (3L, "beta1")).toDF("id", "name")
    val right = Seq((10L, "alpha3"), (11L, "betax"), (12L, "alphaXYZ"))
      .toDF("rid", "rname")
    val out = FuzzyMatch.blockedLevenshtein(
        left, "id", "name", right, "rid", "rname",
        n => substring(n, 1, 5), maxDist = 1)
      .orderBy("id", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // beta1↔betax is dist 1 but blocks 'beta1' vs 'betax' differ → excluded
    // (recall is exactly the blocking key's recall); alphaXYZ shares the
    // block but dist 4 > 1 → excluded by the exact filter.
    assert(out.toSeq == Seq((1L, 10L, 1L), (2L, 10L, 1L)))
  }

  // a 5-vertex path (1–2–3–4–5) and a separate pair (6–7)
  private val chainPairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (7L, 6L))

  test("resolveClusters propagates min labels across a chain") {
    import spark.implicits._
    val out = Dedup.resolveClusters(chainPairs.toDF("a", "b"), "a", "b")
      .orderBy("v")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L))
  }

  test("resolveClusters: a long chain resolves, a self-pair is its own cluster, Int ids stay Int") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 25-vertex path: diameter 24, a superstep per hop until label 1 arrives
    val chain = (1L until 25L).map(i => (i, i + 1L)).toDF("a", "b")
    assert(labels(Dedup.resolveClusters(chain, "a", "b")) == (1L to 25L).map(_ -> 1L).toMap)
    val withSelfPair = (chainPairs :+ (9L -> 9L)).toDF("a", "b")
    assert(labels(Dedup.resolveClusters(withSelfPair, "a", "b")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L, 7L -> 6L, 9L -> 9L))
    val ints = Dedup.resolveClusters(Seq((3, 2), (9, 9)).toDF("a", "b"), "a", "b")
    assert(ints.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(ints.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set(2 -> 2, 3 -> 2, 9 -> 9))
  }

  test("resolveClusters issues a bounded number of Spark jobs") {
    import spark.implicits._
    // A GraphX superstep is one job; a round planned as a DataFrame query
    // costs several (checkpoints, AQE stages).
    val (labels, chainJobs) = countJobs(
      Dedup.resolveClusters(chainPairs.toDF("a", "b"), "a", "b").collect())
    assert(labels.length == 7)
    assert(chainJobs <= 8, s"resolveClusters(chain) ran $chainJobs jobs")
    val cliques = for {
      base <- Seq(0L, 10L, 20L); i <- 1L to 4L; j <- (i + 1) to 4L
    } yield (base + i, base + j)
    val (members, cliqueJobs) = countJobs(
      Dedup.resolveClusters(cliques.toDF("a", "b"), "a", "b").collect())
    assert(members.map(_.getLong(1)).toSet == Set(1L, 11L, 21L))
    assert(cliqueJobs <= 6, s"resolveClusters(3 × K4) ran $cliqueJobs jobs")
  }

  test("dedupSurvivors flags exactly the cluster minima and singletons") {
    import spark.implicits._
    val docs = (1L to 8L).toDF("doc_id")
    val clusters = Dedup.resolveClusters(
      Seq((2L, 5L), (5L, 7L)).toDF("a", "b"), "a", "b")
    val out = Dedup.dedupSurvivors(docs, "doc_id", clusters)
      .orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 2L, true), (3L, 3L, true), (4L, 4L, true),
      (5L, 2L, false), (6L, 6L, true), (7L, 2L, false), (8L, 8L, true)))
  }

  test("shortestPathsFrom takes a distributed source frame (no driver scalar)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val g = GxGraph(
      sc.parallelize(Seq((1L, ""), (2L, ""), (3L, ""), (4L, ""), (5L, ""))),
      sc.parallelize(Seq(GxEdge(2L, 1L, ""), GxEdge(3L, 2L, ""), GxEdge(4L, 5L, ""))),
      defaultVertexAttr = "")
    val out = GraphAnalytics.shortestPathsFrom(spark, g, Seq(1L).toDF("id"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("shortestPaths is undirected and omits unreachable vertices") {
    val sc = spark.sparkContext
    // edges point AWAY from the landmark's reach (2→1, 3→2): only the
    // symmetrization makes 2 and 3 reachable from 1. {4,5} is a separate
    // component → no rows for landmark 1.
    val g = GxGraph(
      sc.parallelize(Seq((1L, ""), (2L, ""), (3L, ""), (4L, ""), (5L, ""))),
      sc.parallelize(Seq(GxEdge(2L, 1L, ""), GxEdge(3L, 2L, ""), GxEdge(4L, 5L, ""))),
      defaultVertexAttr = "")
    val out = GraphAnalytics.shortestPaths(spark, g, Seq(1L))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }
}
