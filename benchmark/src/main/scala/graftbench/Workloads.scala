package graftbench

import java.io.File

import graft.SparkEntry
import graft.analytics.GraphAnalytics
import graft.fixtures.SyntheticWorkbook
import graft.ingest.{Refresh, Workbook}
import graft.views.GraphViews
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One benchmark workload: a set-up that writes its inputs under `work`,
  * and an operation a closed-loop client issues back to back. The
  * operation is timed; `check` runs outside the timed region and returns
  * the correctness failures it found.
  */
trait Workload {
  type Result
  /** Set-ups per run. The first pays the JVM's cold start; `setup_s` is
    * the median CPU time of the others.
    */
  def setupReps: Int
  def setup(): Unit
  def operation(op: Int, tr: Tracer): Result
  def check(op: Int, result: Result): Seq[String]
  /** Bytes of the on-disk data the operation reads or writes. */
  def dataMb: Double
  /** Lane results to compare against DuckDB: (lane, result dir, oracle SQL file). */
  def oracleChecks: Seq[(String, String, String)] = Nil
}

object Workloads {
  /** The base graph store: four vCenters of this shape. */
  val Tenants = 4
  val StoreShape: TenantWorkbook.Shape = TenantWorkbook.Shape(hosts = 20, vms = 400)
  val Docs = 1000

  /** The curation lanes, each checked against its DuckDB oracle on every
    * run. q_x_curation_ledger and q_x_dedup_stream are left out because
    * their oracles take 57–75 s and 7–15 s in DuckDB 1.0 whatever the corpus
    * size, and q_x_dedup_substring because a run's time budget has no room
    * for a fourth cold lane.
    */
  val CurationLanes: Seq[String] = Seq("q_x_dedup_minhash_weighted", "q_x_dedup_clusters",
    "q_x_curation_stream")
  def laneSpan(lane: String): String =
    (if (lane.endsWith("_stream")) "streaming." else "llmops.") + lane

  def apply(name: String, spark: SparkSession, seed: Long, work: String, base: String): Workload =
    name match {
      case "graph_analytics" => new GraphAnalyticsPass(spark, seed, work, base)
      case "curation_pipeline" => new CurationPipeline(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Order-independent digest of string keys: their count and an MD5 of
    * the sorted keys.
    */
  def keysDigest(keys: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    keys.sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    s"${keys.size}:" + md.digest().map("%02x".format(_)).mkString
  }

  def rowsDigest(rows: Seq[Row]): String = keysDigest(rows.map(_.toString))

  def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def storePath(base: String): String = s"$base/store"
  def factsPath(base: String): String = s"$base/facts.properties"

  /** Writes the base store under `base`: the four vCenters' workbooks
    * refreshed into the seeded store in one refresh, plus what the
    * generator says the store holds, for the checks: the number of VMs on
    * each datastore and digests of the placement and datastore reports.
    */
  def buildBaseStore(spark: SparkSession, work: String, base: String): Unit = {
    val books = (0 until Tenants).map(t => TenantWorkbook.build(spark, t, StoreShape))
    val wbDir = s"$work/base-workbook"
    TenantWorkbook.writeParquetDir(TenantWorkbook.union(books), wbDir)
    val store = Refresh.refresh(SyntheticWorkbook.seededStore(spark),
      Workbook.loadParquetDir(spark, wbDir))
    Refresh.write(store, storePath(base))
    val vms = for (t <- 0 until Tenants; ds <- 0 until StoreShape.datastores)
      yield s"vms.t$t.ds$ds" -> TenantWorkbook.vmsOnDatastore(books(t), ds).toString
    Facts.write(factsPath(base), vms.toMap ++ Map(
      "vmPlacement" -> keysDigest(books.flatMap(TenantWorkbook.placements)),
      "datastoreReport" -> keysDigest(books.flatMap(TenantWorkbook.datastoreRows))))
  }

  /** A copy of the base store written through the program's own store path. */
  def copyStore(spark: SparkSession, base: String, to: String): Unit =
    Refresh.write(Refresh.load(spark, storePath(base)), to)
}

object Facts {
  def write(path: String, facts: Map[String, String]): Unit = {
    val p = new java.util.Properties()
    facts.foreach { case (k, v) => p.setProperty(k, v) }
    val out = new java.io.FileOutputStream(path)
    try p.store(out, null) finally out.close()
  }

  def read(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
    p.asScala.toMap
  }
}

/** What one analytics pass returned, collected to the driver. */
final case class AnalyticsResult(reach: Seq[Row], components: Seq[Row], ranks: Seq[Row],
    degreeStats: Row, core: Seq[Row], communities: Seq[Row], placement: Seq[Row],
    datastores: Seq[Row])

/** Read-only analytics pass over a four-vCenter store copied at set-up. */
final class GraphAnalyticsPass(spark: SparkSession, seed: Long, work: String, base: String)
    extends Workload {
  import Workloads._
  type Result = AnalyticsResult

  private val store = s"$work/store"
  private val tenant = (seed % Tenants).toInt
  private val datastore = ((seed / Tenants) % StoreShape.datastores).toInt
  private val url = f"ds:///vmfs/volumes/t$tenant%02d-ds-$datastore/"
  private val facts = Facts.read(factsPath(base))
  private val expectedVms = facts(s"vms.t$tenant.ds$datastore").toLong

  // the first copy pays the JVM's cold start and is left out of setup_s;
  // a copy takes 4–5 s warm, so a run has room for one more
  val setupReps = 2
  def setup(): Unit = copyStore(spark, base, store)

  def operation(op: Int, tr: Tracer): Result = {
    val s = tr.span("ingest.Refresh.load")(Refresh.load(spark, store))
    val start = s.nodes.filter(col("label") === "Vdatastore" && col("props")("url") === url).select("id")
    val reach = tr.span("analytics.GraphAnalytics.blastRadius") {
      GraphAnalytics.blastRadius(s, start, Set("ON_DATASTORE", "VDISK_FOR_VM"), maxHops = 4)
        .collect().toSeq
    }
    val (g, cc) = tr.span("analytics.GraphAnalytics.connectedComponents") {
      val g = GraphAnalytics.toGraphX(s)
      (g, GraphAnalytics.connectedComponents(spark, g).collect().toSeq)
    }
    val pr = tr.span("analytics.GraphAnalytics.pageRank")(
      GraphAnalytics.pageRank(spark, g, GraphOracle.PageRankIters).collect().toSeq)
    val deg = tr.span("analytics.GraphAnalytics.degreeStats")(
      GraphAnalytics.degreeStats(spark, g).collect().head)
    val core = tr.span("analytics.GraphAnalytics.kCore")(
      GraphAnalytics.kCore(s.edges, "src", "dst", GraphOracle.CoreK).collect().toSeq)
    val lpa = tr.span("analytics.GraphAnalytics.labelPropagation")(
      GraphAnalytics.labelPropagation(s.edges, "src", "dst", GraphOracle.LpaIters).collect().toSeq)
    val (placement, datastores) = tr.span("views.GraphViews.reports") {
      (GraphViews.vmPlacement(s).collect().toSeq, GraphViews.datastoreReport(s).collect().toSeq)
    }
    g.unpersist(blocking = false)
    AnalyticsResult(reach, cc, pr, deg, core, lpa, placement, datastores)
  }

  // The oracle replays the analytics over the base store's raw parquet
  // files, read with plain Spark rather than the program's Refresh.load.
  private lazy val oracle: GraphOracle = {
    val nodes = spark.read.parquet(s"${storePath(base)}/nodes").select("id").collect().map(_.getLong(0))
    val edges = spark.read.parquet(s"${storePath(base)}/edges").select("src", "dst").collect()
    new GraphOracle(nodes, edges.map(_.getLong(0)), edges.map(_.getLong(1)))
  }

  def check(op: Int, r: Result): Seq[String] = {
    val vms = r.reach.count(_.getAs[String]("label") == "Virtualmachine").toLong
    val reachFail =
      if (vms == expectedVms) Nil
      else Seq(s"blast radius of $url reached $vms VMs, the generator placed $expectedVms")
    def byId[V](rows: Seq[Row], v: Row => V): Map[Long, V] = rows.map(x => x.getLong(0) -> v(x)).toMap
    val reports = Seq(
      "vmPlacement" -> keysDigest(r.placement.map(TenantWorkbook.rowKey)),
      "datastoreReport" -> keysDigest(r.datastores.map(TenantWorkbook.rowKey))).collect {
      case (k, d) if d != facts(k) => s"$k digest $d, the generator's workbooks give ${facts(k)}"
    }
    (reachFail ++ reports ++ oracle.mismatches(
      components = byId(r.components, _.getLong(1)),
      ranks = byId(r.ranks, _.getDouble(1)),
      degreeStats = (r.degreeStats.getLong(0), r.degreeStats.getLong(1), r.degreeStats.getDouble(2),
        r.degreeStats.getLong(3)),
      core = byId(r.core, _.getLong(1)),
      communities = byId(r.communities, _.getLong(1)))).map(m => s"op $op: $m")
  }

  def dataMb: Double = dirBytes(new File(store)) / 1e6
}

/** One pass over three LLM-ops lanes, reading the seeded documents table. */
final class CurationPipeline(spark: SparkSession, seed: Long, work: String) extends Workload {
  import Workloads._
  type Result = Map[String, (Seq[Row], StructType)]

  private val docsDir = s"$work/docs"
  private var first: Option[Map[String, String]] = None

  val setupReps = 3
  def setup(): Unit = Documents.write(spark, seed, Docs, docsDir)

  def operation(op: Int, tr: Tracer): Result = CurationLanes.map { lane =>
    lane -> tr.span(laneSpan(lane)) {
      val df = SparkEntry.queries(lane)(spark, docsDir)
      (df.collect().toSeq, df.schema)
    }
  }.toMap

  private def resultDir(lane: String) = s"$work/results/$lane"
  private def sqlFile(lane: String) = s"$work/results/$lane.sql"

  def check(op: Int, result: Result): Seq[String] = {
    val digests = result.map { case (lane, (rows, _)) => lane -> rowsDigest(rows) }
    if (first.isEmpty) {
      // the first pass's rows go to DuckDB for the oracle comparison
      CurationLanes.foreach { lane =>
        val (rows, schema) = result(lane)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(resultDir(lane))
        val w = new java.io.PrintWriter(sqlFile(lane), "UTF-8")
        try w.print(SparkEntry.oracleSql(lane)) finally w.close()
      }
      first = Some(digests)
    }
    digests.toSeq.sortBy(_._1).collect {
      case (lane, d) if d != first.get(lane) => s"op $op: $lane digest $d differs from the first pass"
    }
  }

  override def oracleChecks: Seq[(String, String, String)] =
    CurationLanes.map(l => (l, resultDir(l), sqlFile(l)))

  def dataMb: Double = dirBytes(new File(s"$docsDir/documents.parquet")) / 1e6
}
