package graft

import graft.fixtures.{ScaledWorkbook, SyntheticWorkbook}
import graft.ingest.{Ingest, Refresh, Workbook}
import graft.model.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden end-to-end refresh over the synthetic RVTools workbook
  * (SURVEY.md §5.3-5.2): structural assertions for every statement family,
  * MERGE idempotence, and the mark-and-sweep delete cycle.
  */
class RefreshSpec extends SparkTestBase {

  // materialized: every test re-derives from store1, and chained refreshes
  // need the lineage barrier (see Refresh.materialize).
  private lazy val store1 = Refresh.materialize(Refresh.refresh(
    SyntheticWorkbook.seededStore(spark), SyntheticWorkbook.golden(spark)))
  private lazy val nodes1 = store1.nodes.cache()
  private lazy val edges1 = store1.edges.cache()

  private def labelCount(nodes: DataFrame): Map[String, Long] =
    nodes.groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def relCount(edges: DataFrame): Map[String, Long] =
    edges.groupBy("relType").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Edges of a type with both endpoints resolved to (label, key). */
  private def rel(rt: String): Set[(String, String, String, String)] = {
    val n = nodes1.select(col("id"), col("label"), col("key"))
    edges1.filter(col("relType") === rt)
      .join(n.select(col("id").as("src"), col("label").as("sl"), col("key").as("sk")), Seq("src"))
      .join(n.select(col("id").as("dst"), col("label").as("dl"), col("key").as("dk")), Seq("dst"))
      .select("sl", "sk", "dl", "dk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
  }

  test("golden refresh produces the expected node populations") {
    val lc = labelCount(nodes1)
    assert(lc("Vcenterserver") == 1)
    assert(lc("Vcentercluster") == 2)
    assert(lc("Vspheredatacenter") == 1)
    assert(lc("Vspherehost") == 2)
    assert(lc("Virtualmachine") == 3)
    assert(lc("Vdatastore") == 2)
    // pools: 'None Configured' placeholder + prod + web + frontend
    // (root '/…/Resources' filtered by pool <> '', VM pool paths resolve to
    // the vRP-created identities).
    assert(lc("Vresourcepool") == 4)
    assert(lc("Ntpserver") == 2, s"ntp: $lc")   // one IP, one FQDN
    assert(lc("Dnsserver") == 2)
    assert(lc("Vswitch") == 2)
    assert(lc("Vhostportgroup") == 3)
    assert(lc("Vportgroup") == 5)               // PG-App/DB/Backup/Mgmt + Not Configured
    assert(lc("Vmportgroup") == 1)              // the :37 None Provided placeholder
    assert(lc("Vmnic") == 2)
    assert(lc("Virtualdisk") == 3)
    assert(lc("Vmadapter") == 1)
    assert(lc("Vpartition") == 1)
    assert(lc("Vsnapshot") == 1)
    assert(lc("Vfolder") == 2)                  // /DC1/vm/apps/web and /DC1/vm/apps
    assert(lc("Vmos") == 3)
    assert(lc("Vcenterversion") == 1 && lc("Vcenterbuild") == 1)
    assert(lc("Vsphereesxversion") == 1 && lc("Vsphereesxbuild") == 1)
  }

  test("IPv4 vs FQDN partition (P3/P4 anchored regex) is exact") {
    val ntp = nodes1.filter(col("label") === "Ntpserver")
      .select(col("props")("ipaddress"), col("props")("fqdn"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSet
    assert(ntp == Set((Some("10.0.0.10"), None), (None, Some("ntp1.acme.local"))))
  }

  test("external-CMDB gating (D3): host1 linked to domain+company, host2 skipped but present") {
    val ofDomain = rel("OF_DOMAIN")
    assert(ofDomain.map(_._2) == Set("host-001" + Graph.KeySep + SyntheticWorkbook.Uid))
    assert(rel("ESX_HOST_FOR").size == 1)
    // host-002 exists despite the unmatched domain — earlier writes stand.
    assert(nodes1.filter(col("label") === "Vspherehost").count() == 2)
  }

  test("jumbo frames edge only for the MTU>=9000 switch") {
    val jumbo = rel("HAS_JUMBO_FRAMES")
    assert(jumbo.size == 1 && jumbo.head._2 == "vSwitch0" + Graph.KeySep + "esx01.acme.local")
  }

  test("resource-pool tree: CHILD_RESOURCE_POOL chain from vRP hierarchy") {
    val child = rel("CHILD_RESOURCE_POOL").map(t => (t._2, t._4))
    val vc = SyntheticWorkbook.Server
    assert(child == Set(
      (vc + Graph.KeySep + "/DC1/Cluster1/Resources/prod/web", vc + Graph.KeySep + "/DC1/Cluster1/Resources/prod"),
      (vc + Graph.KeySep + "/DC1/Cluster1/Resources/prod/web/frontend", vc + Graph.KeySep + "/DC1/Cluster1/Resources/prod/web")))
  }

  test("VM wiring guards (:218-223)") {
    // VM1 deep pool → IN_RESOURCE_POOL; VM3 shallow pool → LOCATED_IN_CLUSTER.
    val inPool = rel("IN_RESOURCE_POOL")
    assert(inPool.map(_._2).map(_.take(7)) == Set("vm-uuid"))
    assert(inPool.size == 2) // vm1, vm2
    val vmCluster = rel("LOCATED_IN_CLUSTER").filter(_._1 == "Virtualmachine")
    assert(vmCluster.size == 1) // vm3 → Cluster2
    assert(vmCluster.head._4.startsWith("Cluster2"))
    // folder chain: web folder → apps folder (parent exists), apps folder → DC.
    val ff = rel("IN_FOLDER").filter(t => t._1 == "Vfolder")
    assert(ff == Set(("Vfolder", "/DC1/vm/apps/web", "Vfolder", "/DC1/vm/apps")))
    val fDc = rel("LOCATED_IN_DC").filter(_._1 == "Vfolder")
    assert(fDc.map(_._2) == Set("/DC1/vm/apps"))
    // VM3 folder depth 2 → no folder → VM straight to DC.
    val vmDc = rel("LOCATED_IN_DC").filter(_._1 == "Virtualmachine")
    assert(vmDc.map(_._2) == Set("vm-uuid-03" + Graph.KeySep + SyntheticWorkbook.Uid))
  }

  test("datastore host links and disk placement") {
    assert(rel("CONNECTED_DATASTORE").size == 3) // shared ds: 2 hosts; local: 1
    val onDs = rel("ON_DATASTORE")
    assert(onDs.size == 3)
    // undirected canonicalization: each disk-datastore pair appears once.
    assert(onDs.map(t => Set(t._2, t._4)).size == 3)
  }

  test("edge property: HW_VERSION carries upgradestatus (M5)") {
    val hv = edges1.filter(col("relType") === "HW_VERSION")
      .select(col("props")("upgradestatus")).collect().map(_.getString(0)).toSet
    assert(hv == Set("Up-to-date", "Upgrade available"))
  }

  // Spark can't run set ops over MapType — canonicalize props to a sorted
  // entries array first.
  private def canon(df: DataFrame): DataFrame =
    df.withColumn("props", array_sort(map_entries(col("props"))))

  /** SHA-256 over a frame's sorted rows; map cells render in key order. */
  private def digest(df: DataFrame): String = {
    val lines = df.collect().map(_.toSeq.map {
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, v) => (String.valueOf(k), String.valueOf(v)) }
          .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}")
      case v => String.valueOf(v)
    }.mkString("\u0001")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def batchDigest(wb: Workbook.Sheets): (String, String) = {
    val seeded = SyntheticWorkbook.seededStore(spark)
    val b = Ingest.run(wb, seeded.nodes, seeded.edges)
    (digest(b.nodes.select(Graph.NodeCols.map(col): _*)),
      digest(b.edges.select(Graph.EdgeCols.map(col): _*)))
  }

  test("Ingest.run's batch is pinned row for row (golden, aged, scaled 4x40)") {
    // Digests of the whole batch — every node (id, label, tenant, key,
    // props) and edge (src, dst, relType, tenant, props) — so a rewrite of
    // the statements must reproduce the batch exactly, not only the
    // populations and relations the tests above pick out.
    val got = Map(
      "golden" -> batchDigest(SyntheticWorkbook.golden(spark)),
      "aged" -> batchDigest(SyntheticWorkbook.aged(spark)),
      "scaled" -> batchDigest(ScaledWorkbook.build(spark, 4, 40)))
    val want = Map(
      "golden" -> ("65b208f51ea225c29675670dfe16e551b1635d2356d8f2d048b918070130fbf1",
        "b483a53e594f750318c04bce5ac6e9e85bdce03cbdd67eed92bf13d2c5211db4"),
      "aged" -> ("bcb27f22661686b96e1fb12ed851a7649a57163c697f2a0518c5caa2e0e6d162",
        "b1440350397ab7e38ceec5be3f4e0dd4675d1c6405d2087a0a50588e99efb870"),
      "scaled" -> ("bb56d8b8eba2b8a4bcab5f7311dd8dae5a878dee3e06437b9dc145ddc58cddcd",
        "a2850292affd3ef3ffe8639421a40a5a6825d892f50366c7e4780d80cf0f6de7"))
    assert(got == want)
  }

  test("Ingest.run over the golden workbook stays within its job budget") {
    // Ingest.run's only actions are the batch barrier's two checkpoints;
    // under AQE each distinct shuffle or broadcast in the statements' gate
    // joins is one more job. One projection per gated row frame measures 55
    // here; one frame per emitted node or edge kind measured 69.
    val wb = SyntheticWorkbook.golden(spark)
    val seeded = SyntheticWorkbook.seededStore(spark)
    val (_, jobs) = countJobs(Ingest.run(wb, seeded.nodes, seeded.edges))
    assert(jobs <= 58, s"Ingest.run ran $jobs jobs")
  }

  test("refresh is idempotent (MERGE law, §5.2a)") {
    val store2 = Refresh.refresh(store1, SyntheticWorkbook.golden(spark))
    assert(store2.nodes.count() == nodes1.count())
    assert(store2.edges.count() == edges1.count())
    assert(canon(store2.nodes).exceptAll(canon(nodes1)).count() == 0)
    assert(canon(nodes1).exceptAll(canon(store2.nodes)).count() == 0)
    assert(canon(store2.edges).exceptAll(canon(edges1)).count() == 0)
    assert(canon(edges1).exceptAll(canon(store2.edges)).count() == 0)
  }

  test("multi-tenant isolation: refreshing one vCenter never touches another") {
    // Second tenant = the golden workbook under a different vCenter
    // identity; load both, then age only tenant 1.
    val wb2 = SyntheticWorkbook.golden(spark).map { case (name, df) =>
      val retargeted = Seq(
        "VI SDK UUID" -> "vc-uuid-0002",
        "VI SDK Server" -> "vcenter02.acme.local")
        .foldLeft(df) { case (d, (c, v)) =>
          if (d.columns.contains(c)) d.withColumn(c, when(col(c).isNotNull, v)) else d
        }
      name -> retargeted
    }
    val both = Refresh.materialize(Refresh.refresh(store1, wb2))
    val t2Count = both.nodes.filter(col("tenant") === "vc-uuid-0002").count()
    assert(t2Count > 0)
    val aged = Refresh.refresh(both, SyntheticWorkbook.aged(spark))
    // tenant 1 shrank (host/vm swept)…
    assert(aged.nodes.filter(col("tenant") === SyntheticWorkbook.Uid).count() <
      both.nodes.filter(col("tenant") === SyntheticWorkbook.Uid).count())
    // …tenant 2 is bit-for-bit untouched.
    assert(aged.nodes.filter(col("tenant") === "vc-uuid-0002").count() == t2Count)
  }

  test("mark-and-sweep: aged workbook deletes the dropped host and VM (M7/M8)") {
    val aged = Refresh.refresh(store1, SyntheticWorkbook.aged(spark))
    val lc = labelCount(aged.nodes)
    assert(lc("Vspherehost") == 1)
    assert(lc("Virtualmachine") == 2)
    // host-002 and vm-uuid-03 are gone; their edges too.
    val keys = aged.nodes.select("key").collect().map(_.getString(0)).toSet
    assert(!keys.contains("host-002" + Graph.KeySep + SyntheticWorkbook.Uid))
    assert(!keys.contains("vm-uuid-03" + Graph.KeySep + SyntheticWorkbook.Uid))
    val deadIds = nodes1
      .filter(col("key").isin("host-002" + Graph.KeySep + SyntheticWorkbook.Uid, "vm-uuid-03" + Graph.KeySep + SyntheticWorkbook.Uid))
      .select("id").collect().map(_.getLong(0)).toSet
    val dangling = aged.edges
      .filter(col("src").isin(deadIds.toSeq: _*) || col("dst").isin(deadIds.toSeq: _*))
    assert(dangling.count() == 0)
    // non-sweep-scoped nodes persist (reference semantics: no managedby prop
    // → never marked): esx02's Vmnic survives as an orphan.
    assert(labelCount(aged.nodes)("Vmnic") == 2)
    // snapshot for the surviving VM2 still present.
    assert(labelCount(aged.nodes)("Vsnapshot") == 1)
  }

  test("inconsistent workbook (tenant absent from vCluster sheet) stays idempotent") {
    // A workbook whose vCluster sheet is empty but whose other sheets still
    // carry the VI SDK UUID: the marked-tenant set must include the batch's
    // own tenants, or a second refresh duplicates every tenant node id.
    val wb = SyntheticWorkbook.golden(spark)
    val noCluster = wb.updated("vCluster", wb("vCluster").limit(0))
    val s1 = Refresh.materialize(Refresh.refresh(SyntheticWorkbook.seededStore(spark), noCluster))
    val s2 = Refresh.materialize(Refresh.refresh(s1, noCluster))
    assert(s2.nodes.count() == s2.nodes.select("id").distinct().count(),
      "duplicate node ids after second refresh")
    assert(s2.nodes.count() == s1.nodes.count())
    assert(canon(s2.nodes).exceptAll(canon(s1.nodes)).count() == 0)
    assert(canon(s1.nodes).exceptAll(canon(s2.nodes)).count() == 0)
  }

  private def sameStore(a: Refresh.GraphStore, b: Refresh.GraphStore): Boolean =
    Seq(a.nodes -> b.nodes, a.edges -> b.edges).forall { case (x, y0) =>
      val y = y0.select(x.columns.map(col).toSeq: _*)
      canon(x).exceptAll(canon(y)).isEmpty && canon(y).exceptAll(canon(x)).isEmpty
    }

  test("the README loop refreshes a store in place; twice equals once") {
    val p = java.nio.file.Files.createTempDirectory("graft_inplace").resolve("store").toString
    Refresh.write(SyntheticWorkbook.seededStore(spark), p)
    (1 to 2).foreach { _ =>
      Refresh.write(Refresh.refresh(Refresh.load(spark, p), SyntheticWorkbook.golden(spark)), p)
    }
    assert(sameStore(Refresh.load(spark, p), store1))
    assert(!new java.io.File(s"$p.__staged").exists() && !new java.io.File(s"$p.__old").exists())
  }

  test("a crash between the swap's renames leaves the staged store loadable") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_swap")
    val p = tmp.resolve("store")
    val next = tmp.resolve("next")
    // write's state after `path` -> `path.__old` and before staged -> `path`
    Refresh.write(SyntheticWorkbook.seededStore(spark), p.toString)
    Files.move(p, Paths.get(s"$p.__old"))
    Refresh.write(store1, next.toString)
    Files.move(next, Paths.get(s"$p.__staged"))
    assert(sameStore(Refresh.load(spark, p.toString), store1))
    assert(Files.isDirectory(p.resolve("nodes")))
    assert(!Files.exists(Paths.get(s"$p.__staged")) && !Files.exists(Paths.get(s"$p.__old")))
  }

  test("a crash between write's nodes and edges leaves the previous store in place") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_halfstaged")
    val p = tmp.resolve("store")
    val staged = Paths.get(s"$p.__staged")
    Refresh.write(SyntheticWorkbook.seededStore(spark), p.toString)
    // write's state after the staged `nodes` committed and before `edges`
    store1.nodes.sortWithinPartitions("label", "id").write.parquet(staged.resolve("nodes").toString)
    assert(Files.exists(staged.resolve("nodes/_SUCCESS")) && !Files.exists(staged.resolve("edges")))
    // load neither adopts the half-staged store nor deletes the previous one
    assert(sameStore(Refresh.load(spark, p.toString), SyntheticWorkbook.seededStore(spark)))
    assert(Files.exists(staged.resolve("nodes/_SUCCESS")))
    assert(Files.isDirectory(p.resolve("nodes")) && Files.isDirectory(p.resolve("edges")))
    // the next write completes and reclaims both siblings
    Refresh.write(store1, p.toString)
    assert(sameStore(Refresh.load(spark, p.toString), store1))
    assert(!Files.exists(staged) && !Files.exists(Paths.get(s"$p.__old")))
  }

  test("a store in the label=/relType= directory layout loads, and its next write flattens it") {
    import java.nio.file.Files
    val p = Files.createTempDirectory("graft_oldlayout").resolve("store")
    store1.nodes.write.partitionBy("label").parquet(p.resolve("nodes").toString)
    store1.edges.write.partitionBy("relType").parquet(p.resolve("edges").toString)
    assert(sameStore(Refresh.load(spark, p.toString), store1))
    Refresh.write(Refresh.refresh(Refresh.load(spark, p.toString), SyntheticWorkbook.golden(spark)),
      p.toString)
    Seq("nodes", "edges").foreach { t =>
      val dirs = p.resolve(t).toFile.listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.isEmpty, s"$t still has ${dirs.mkString(", ")}")
    }
    assert(sameStore(Refresh.load(spark, p.toString), store1))
  }

  test("a store with an empty table round-trips with the declared schema") {
    val seeded = SyntheticWorkbook.seededStore(spark)
    def typed(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType)
    Seq(Refresh.GraphStore(seeded.nodes, seeded.edges.limit(0)),
        Refresh.GraphStore(seeded.nodes.limit(0), seeded.edges)).foreach { s =>
      val p = java.nio.file.Files.createTempDirectory("graft_empty").resolve("store").toString
      Refresh.write(s, p)
      val back = Refresh.load(spark, p)
      assert(typed(back.nodes.schema) == typed(Refresh.nodeSchema))
      assert(typed(back.edges.schema) == typed(Refresh.edgeSchema))
      assert(sameStore(back, s))
    }
  }
}
