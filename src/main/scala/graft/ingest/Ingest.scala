package graft.ingest

import java.util.regex.Pattern

import graft.model.Graph
import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's 16 load statements (refresh-vmware.cypher:33-277, pass 1 —
  * SURVEY.md §0 declares pass 1 canonical) as pure sheet-frames → batch
  * transformations, written as an emission catalog: each statement keeps its
  * gate joins and lists the nodes (`NodeSpec`) and relationships
  * (`EdgeSpec`, `Dim`) one gated row MERGEs; `emit` projects a frame's
  * specs once per kind. `run` assembles the ~21 frames (one per statement,
  * plus the secondary frames of multi-stage statements) with
  * last-writer-wins property merging keyed by (statement order, sheet row
  * order) — the deterministic batch recast of Cypher's eager row-at-a-time
  * writes.
  *
  * The batch barrier stays: nodes and edges are each localCheckpointed once,
  * eagerly and together, before `assemble`. Without it every consumer of the
  * batch (Refresh reads its nodes three times) re-plans and re-runs the
  * statements' join trees, and chained refreshes grow their lineage (see
  * Refresh.materialize); it costs the one pass a refresh's write pays anyway.
  *
  * Faithfulness decisions (recorded per SURVEY §0/§7.3):
  *  - `vm.fqdn` ← the sheet's `DNS Name` column (the reference reads it off
  *    the node — a bug; we implement the intent, refresh-vmware.cypher:183).
  *  - Mid-statement MATCH gates join against the batch's own entity sets
  *    (self-contained workbook assumption) — equivalent to the reference's
  *    graph-state matches in the steady state because mark-and-sweep makes
  *    the tenant's graph equal the workbook every run. External CMDB nodes
  *    (Jumboframes, Clientdomain→Company, refresh-vmware.cypher:101,151)
  *    are the exception and are matched against the existing store.
  *  - Vresourcepool identity: canonical (vc, path). The :66 merge key is
  *    (name,cluster,dc,vc), but :67 sets path and the :199/:215-217 sites
  *    address pools by (path,vc); (vc,path) reconciles all sites. Pool rows
  *    whose (name,cluster,dc,vc) collide with different paths are resolved
  *    last-writer (mirroring the row-order-dependent Neo4j outcome).
  *  - MERGE with a null key property fails the statement in Cypher; rows
  *    with null keys are filtered out instead (engine guard, SURVEY M2).
  */
object Ingest {

  /** Relationship types merged with undirected patterns (`-[:R]-`) anywhere
    * in the reference; canonicalized to (min,max) endpoint order on store.
    */
  val UndirectedRelTypes: Set[String] = Set(
    "CONTROLLED_BY_VC",   // :41,:76
    "LINK_SPEED",         // :173
    "PNIC_OF_HOST",       // :174
    "OS_VIA_TOOLS",       // :202
    "OS_VIA_CONFIG",      // :203
    "VDISK_FOR_VM",       // :248
    "ON_DATASTORE",       // :251
    "ADAPTER_FOR",        // :257
    "ADAPTER_TYPE",       // :259
    "PARTITION_FOR",      // :269
    "SNAPSHOT_OF")        // :276

  /** Anchored IPv4 matcher — the reference's `=~` regex
    * (refresh-vmware.cypher:108) is a Cypher FULL match; Spark rlike is a
    * substring match, so we anchor the identical pattern (SURVEY P3).
    */
  private val Ipv4Octet = "(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
  private val Ipv4Full = s"^(?:\\b$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\b)$$"

  /** Cypher split() is by literal delimiter, Spark's by regex (SURVEY F1). */
  private def splitLit(c: Column, delim: String): Column = split(c, Pattern.quote(delim))
  /** Cypher 0-based index i → 1-based element_at (SURVEY F2). */
  private def elem(c: Column, cypherIdx: Int): Column = element_at(c, cypherIdx + 1)
  private def lastElem(c: Column): Column = element_at(c, -1)

  private def ord(stmt: Int): Column = (lit(stmt.toLong) * lit(1L << 40)) + col("_rowno")

  final case class Batch(nodes: DataFrame, edges: DataFrame)

  /** One node a row MERGEs where `when` holds: `label` keyed by `keys`. */
  private final case class NodeSpec(label: String, tenant: Column, keys: Seq[Column],
      props: Map[String, Column], when: Column = lit(true))

  /** One relationship a row MERGEs where `when` holds, between resolved ids. */
  private final case class EdgeSpec(src: Column, rel: String, dst: Column,
      props: Map[String, Column] = Map.empty, when: Column = lit(true), tenant: Column = uid)

  /** A dimension node keyed and named by `key`, and the `rel` link to it
    * from `src` — both only where `key` is set.
    */
  private final case class Dim(src: Column, rel: String, label: String, key: Column,
      prop: String = "name", linkProps: Map[String, Column] = Map.empty) {
    def node: NodeSpec = NodeSpec(label, lit(null), Seq(key), Map(prop -> key), when = key.isNotNull)
    def edge: EdgeSpec = EdgeSpec(src, rel, id(label, key), linkProps, when = key.isNotNull)
  }

  /** Node and edge frames in the canonical column order, `_ord` last. */
  private final case class Out(nodes: Seq[DataFrame], edges: Seq[DataFrame]) {
    def ++(o: Out): Out = Out(nodes ++ o.nodes, edges ++ o.edges)
  }

  /** Emit a gated row frame's specs: one projection per kind that inlines an
    * array holding one struct per spec, null where the spec's guard fails.
    * `inline` turns a null element into an all-null row, which the filter on
    * the non-null `id`/`src` drops.
    */
  private def emit(rows: DataFrame, o: Column, nodes: Seq[NodeSpec],
      edges: Seq[EdgeSpec], dims: Seq[Dim] = Nil): Out = {
    def project(structs: Seq[Column], key: String): Seq[DataFrame] =
      if (structs.isEmpty) Nil
      else Seq(rows.select(inline(array(structs: _*)), o.as("_ord")).filter(col(key).isNotNull))
    Out(
      project((nodes ++ dims.map(_.node)).map(n => when(n.when,
        struct(Graph.nodeColumns(n.label, n.tenant, n.keys, n.props): _*))), "id"),
      project((edges ++ dims.map(_.edge)).map(e => when(e.when,
        struct(Graph.edgeColumns(e.src, e.rel, e.dst, e.tenant, e.props): _*))), "src"))
  }

  /** Run all statements over a workbook, against `storeNodes`/`storeEdges`
    * for the external CMDB prerequisites, and assemble the batch.
    */
  def run(wb: Workbook.Sheets, storeNodes: DataFrame, storeEdges: DataFrame): Batch = {
    val vCluster = wb("vCluster")
    val vInfo = wb("vInfo")
    val vRP = wb("vRP")
    val vHost = wb("vHost")

    // --- shared gate frames (batch-derived entity sets) ---
    // vCenter servers: keyed by uid, name = last writer (:35).
    val vcs = Upsert.dedupeLastWriter(
      vCluster.select(col("VI SDK UUID").as("_uid"), col("VI SDK Server").as("_vcname"), col("_rowno"))
        .filter(col("_uid").isNotNull),
      keys = Seq("_uid"), orderCols = Seq("_rowno")).drop("_rowno")
    val vcNames = vcs.select(col("_vcname")).distinct()
    // clusters: (name, managedby) (:38).
    val clusterSet = vCluster.select(col("Name").as("_ccname"), col("VI SDK UUID").as("_ccuid"))
      .filter(col("_ccname").isNotNull && col("_ccuid").isNotNull).distinct()

    // vHost rows that pass the :74 gate (vc by name ∧ cluster by (name,uid)).
    val hostRows = vHost
      .join(vcNames, vHost("VI SDK Server") === vcNames("_vcname"), "left_semi")
      .join(clusterSet,
        vHost("Cluster") === clusterSet("_ccname") && vHost("VI SDK UUID") === clusterSet("_ccuid"),
        "left_semi")
    // host resolution set for later statements: (name, cluster, uid) → objid.
    val hostSet = Upsert.dedupeLastWriter(
      hostRows.select(col("Host").as("_hname"), col("Cluster").as("_hcluster"),
        col("VI SDK UUID").as("_huid"), col("Object ID").as("_hobjid"), col("_rowno")),
      keys = Seq("_hname", "_hcluster", "_huid"), orderCols = Seq("_rowno")).drop("_rowno")

    // sheet rows whose (Host, Cluster, uid) is a batch host (:143,:156,:168).
    def onHost(sheet: String) = wb(sheet).join(hostSet,
      col("Host") === col("_hname") && col("Cluster") === col("_hcluster") && uid === col("_huid"))

    // VMs known to the batch: (uuid, uid) (:244,:255,:267,:274 gates).
    val vmSet = vInfo.select(col("VM UUID").as("_vmuuid"), col("VI SDK UUID").as("_vmuid"))
      .filter(col("_vmuuid").isNotNull).distinct()
    // sheet rows of a batch VM under a batch vCenter (:255,:267,:274).
    def ofVm(sheet: String) = wb(sheet)
      .join(vcNames, col("VI SDK Server") === col("_vcname"), "left_semi")
      .join(vmSet, col("VM UUID") === col("_vmuuid") && uid === col("_vmuid"), "left_semi")

    // External CMDB prerequisites from the store (refresh-vmware.cypher:101,151).
    val jumboNode = storeNodes
      .filter(col("label") === "Jumboframes" && col("props")("name") === "enabled")
      .select(col("id").as("_jumboid")).limit(1)
    val domainCompany = {
      val cd = storeNodes.filter(col("label") === "Clientdomain")
        .select(col("id").as("_cdid"), col("props")("name").as("_cdname"))
      val co = storeNodes.filter(col("label") === "Company").select(col("id").as("_coid"))
      val e = storeEdges.select(col("src"), col("dst"))
      // (cd)--(a:Company): any relationship, either direction (:101).
      val hop = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      cd.join(hop, cd("_cdid") === hop("src")).join(co, hop("dst") === co("_coid"))
        .select(col("_cdname"), col("_cdid"), col("_coid")).distinct()
    }

    // vRP rows that pass the :59 gate, with derived path columns — shared by
    // the resource-pool statement and the VM statement's OPTIONAL MATCHes.
    val rpRows = vRP
      .withColumn("_rp", splitLit(col("Resource pool"), "Resources"))
      .withColumn("_dcvmc", elem(col("_rp"), 0))
      .withColumn("_respool", elem(col("_rp"), 1))
      .withColumn("_dc", elem(splitLit(col("_dcvmc"), "/"), 1))
      .withColumn("_cluster", elem(splitLit(col("_dcvmc"), "/"), 2))
      .join(vcNames, col("VI SDK Server") === col("_vcname"), "left_semi")
      .join(clusterSet, col("_cluster") === col("_ccname") && uid === col("_ccuid"), "left_semi")
      .filter(col("_dc").isNotNull)
    val dcSet = rpRows.select(col("_dc").as("_dcname"), uid.as("_dcuid")).distinct()
    // :66 pool identities (vc, path) that exist after the vRP statement.
    val rpPoolPaths = rpRows
      .withColumn("_pool", lastElem(splitLit(col("_respool"), "/")))
      .filter(col("_pool").isNotNull && col("_pool") =!= "")
      .select(col("VI SDK Server").as("_ppvc"), col("Resource pool").as("_pppath")).distinct()

    val out = Seq(
      stmtClusters(vCluster),
      stmtVcVersion(vInfo, vcs),
      stmtResourcePools(rpRows),
      stmtHosts(hostRows, domainCompany),
      stmtNtpDns(vHost, hostRows),
      stmtSwitches(onHost("vSwitch"), jumboNode),
      stmtPortgroups(onHost("vPort")),
      stmtNics(onHost("vNIC")),
      stmtVms(vInfo, dcSet, clusterSet, rpPoolPaths),
      stmtDatastores(wb("vDatastore"), vcs, hostSet),
      stmtDisks(wb("vDisk"), vcs, vmSet, wb("vDatastore")),
      stmtAdapters(ofVm("vNetwork"), wb("vPort")),
      // :265-270
      stmtVmChild(ofVm("vPartition"), 13, "Vpartition", "Disk", "PARTITION_FOR",
        Map("disk" -> col("Disk"), "capacity" -> col("Capacity MB"),
          "consumed" -> col("Consumed MB"), "free" -> col("Free %"))),
      // :272-277
      stmtVmChild(ofVm("vSnapshot"), 14, "Vsnapshot", "Name", "SNAPSHOT_OF",
        Map("name" -> col("Name"), "description" -> col("Description"),
          "timestamp" -> col("Date / time"), "size" -> col("Size MB (total)")))).reduce(_ ++ _)
    // Positional union is safe: every frame is one `emit` projection. The
    // batch barrier (see scaladoc) checkpoints nodes and edges as two jobs
    // submitted together, so local[n] interleaves their stages.
    val edges = java.util.concurrent.ForkJoinPool.commonPool().submit(
      new java.util.concurrent.Callable[DataFrame] {
        def call(): DataFrame = out.edges.reduce(_ union _).localCheckpoint(true)
      })
    assemble(out.nodes.reduce(_ union _).localCheckpoint(true), edges.join())
  }

  /** Merge node/edge contributions: props are last-writer-wins per
    * (id, prop) keyed by (statement, row) order — one shuffle on id.
    */
  private[ingest] def assemble(nodes: DataFrame, edges: DataFrame): Batch = {
    val base = Upsert.dedupeLastWriter(
      nodes.select("id", "label", "tenant", "key", "_ord"),
      keys = Seq("id"), orderCols = Seq("_ord")).drop("_ord")
    val kv = nodes.select(col("id"), col("_ord"), explode(col("props")).as(Seq("_pk", "_pv")))
    val latest = Upsert.dedupeLastWriter(kv, keys = Seq("id", "_pk"), orderCols = Seq("_ord"))
    val props = latest.groupBy("id")
      .agg(map_from_entries(array_sort(collect_list(struct(col("_pk"), col("_pv"))))).as("props"))
    val mergedNodes = base.join(props, Seq("id"), "left")
      .withColumn("props", coalesce(col("props"), map().cast("map<string,string>")))
      .select("id", "label", "tenant", "key", "props")

    val canon = Upsert.canonicalizeUndirected(edges, UndirectedRelTypes)
    val mergedEdges = Upsert.dedupeLastWriter(canon,
      keys = Seq("src", "relType", "dst"), orderCols = Seq("_ord"))
      .drop("_ord")
      .select("src", "dst", "relType", "tenant", "props")
    Batch(mergedNodes, mergedEdges)
  }

  private def uid: Column = col("VI SDK UUID")
  private def id(label: String, keys: Column*): Column = Graph.nodeId(label, keys: _*)

  // ---- statement 1: vCluster → vCenter + clusters (:33-41) ----
  private def stmtClusters(vCluster: DataFrame): Out = {
    val named = col("Name").isNotNull
    emit(vCluster.filter(uid.isNotNull), ord(1), Seq(
      NodeSpec("Vcenterserver", lit(null), Seq(uid),
        Map("uid" -> uid, "name" -> col("VI SDK Server"))),
      // :36 placeholder pool — identity (vc, path), see scaladoc.
      NodeSpec("Vresourcepool", lit(null), Seq(col("VI SDK Server"), lit("None Configured")),
        Map("path" -> lit("None Configured"), "name" -> lit("None Configured"),
          "vc" -> col("VI SDK Server")), when = col("VI SDK Server").isNotNull),
      // :37 placeholder portgroup (label Vmportgroup as written).
      NodeSpec("Vmportgroup", uid, Seq(lit("None Provided"), uid),
        Map("name" -> lit("None Provided"), "managedby" -> uid)),
      NodeSpec("Vcentercluster", uid, Seq(col("Name"), uid),
        Map("name" -> col("Name"), "managedby" -> uid,
          "hosts" -> col("OverallStatus"), "cpu" -> col("TotalCpu"),
          "CpuCored" -> col("NumCpuCores"), "memory" -> col("TotalMemory"),
          "ha" -> col("HA enabled"), "drs" -> col("DRS enabled")), when = named)), Seq(
      EdgeSpec(id("Vcentercluster", col("Name"), uid), "CONTROLLED_BY_VC",
        id("Vcenterserver", uid), when = named)))
  }

  // ---- statement 2: vInfo → vCenter version/build (:43-51) ----
  private def stmtVcVersion(vInfo: DataFrame, vcs: DataFrame): Out = {
    // :47 matches the vCenter by NAME, but Vcenterserver identity is uid —
    // resolve name → uid through the vCluster-derived map (inner join = gate).
    val rows = vInfo
      .select(col("VI SDK Server type").as("_vcversion"), col("VI SDK Server").as("_vcserver"),
        col("_rowno"))
      .dropDuplicates("_vcversion", "_vcserver") // WITH DISTINCT (:45)
      .join(vcs, col("_vcserver") === col("_vcname"))
      .withColumn("_vname", elem(splitLit(col("_vcversion"), " build-"), 0))
      .withColumn("_vbuild", elem(splitLit(col("_vcversion"), " build-"), 1))
      .filter(col("_vname").isNotNull && col("_vbuild").isNotNull)
    val build = id("Vcenterbuild", col("_vbuild"))
    emit(rows, ord(2), Seq(
      NodeSpec("Vcenterversion", lit(null), Seq(col("_vname")), Map("name" -> col("_vname"))),
      NodeSpec("Vcenterbuild", lit(null), Seq(col("_vbuild")), Map("build" -> col("_vbuild")))), Seq(
      EdgeSpec(build, "BUILD_OF", id("Vcenterversion", col("_vname")), tenant = lit(null)),
      EdgeSpec(id("Vcenterserver", col("_uid")), "IS_VCENTER_BUILD", build, tenant = lit(null))))
  }

  // ---- statement 3: vRP → datacenters + resource-pool tree (:53-71) ----
  private def stmtResourcePools(rpRows: DataFrame): Out = {
    val o = ord(3)
    val rows = rpRows
      .withColumn("_pool", lastElem(splitLit(col("_respool"), "/")))
      .withColumn("_parentpath", expr("replace(_respool, concat('/', _pool), '')"))
      .withColumn("_parent", lastElem(splitLit(col("_parentpath"), "/")))
    val isPool = col("_pool") =!= "" // :65
    // Canonical pool identity (vc, path); path = the full `Resource pool`.
    val pool = id("Vresourcepool", col("VI SDK Server"), col("Resource pool"))
    val dc = id("Vspheredatacenter", col("_dc"), uid)
    val main = emit(rows, o, Seq(
      NodeSpec("Vspheredatacenter", uid, Seq(col("_dc"), uid),
        Map("name" -> col("_dc"), "managedby" -> uid)),
      NodeSpec("Vresourcepool", lit(null), Seq(col("VI SDK Server"), col("Resource pool")),
        Map("name" -> col("_pool"), "cluster" -> col("_cluster"), "dc" -> col("_dc"),
          "vc" -> col("VI SDK Server"), "path" -> col("Resource pool"),
          "vms" -> col("# VMs"), "cpus" -> col("# vCPUs"), "memcfg" -> col("Mem Configured")),
        when = isPool)), Seq(
      EdgeSpec(id("Vcentercluster", col("_cluster"), uid), "LOCATED_IN_DC", dc),
      EdgeSpec(dc, "CONTROLLED_BY_VC", id("Vcenterserver", uid)),
      EdgeSpec(pool, "MEMBER_OF_CLUSTER", id("Vcentercluster", col("_cluster"), uid),
        when = isPool)))
    // :69-71 parent pool (inner MATCH) — matched by (name, cluster, dc, vc);
    // resolve to the parent's canonical (vc, full path) identity. Duplicate
    // (name,cluster,dc,vc) parents collapse last-writer, mirroring Neo4j's
    // row-order-dependent path property under the :66 merge key.
    val poolRows = rows.filter(isPool)
    val parentCands = Upsert.dedupeLastWriter(
      poolRows.select(col("VI SDK Server").as("_pvc"), col("_cluster").as("_pcl"),
        col("_dc").as("_pdc"), col("_pool").as("_pname"),
        col("Resource pool").as("_ppfull"), col("_rowno").as("_prow")),
      keys = Seq("_pvc", "_pcl", "_pdc", "_pname"), orderCols = Seq("_prow"))
    val childRows = poolRows.join(parentCands,
      col("VI SDK Server") === col("_pvc") && col("_cluster") === col("_pcl") &&
        col("_dc") === col("_pdc") && col("_parent") === col("_pname"))
    main ++ emit(childRows, o, Nil, Seq(
      EdgeSpec(pool, "CHILD_RESOURCE_POOL", id("Vresourcepool", col("_pvc"), col("_ppfull")))))
  }

  // ---- statement 4: vHost → hosts + dimension nodes (:73-103) ----
  private def stmtHosts(hostRows: DataFrame, domainCompany: DataFrame): Out = {
    val o = ord(4)
    val rows = hostRows.filter(col("Object ID").isNotNull)
    val host = id("Vspherehost", col("Object ID"), uid)
    val esx = splitLit(col("ESX Version"), " build-")
    val vendor = coalesce(col("Vendor"), lit("None Provided"))
    val model = coalesce(col("Model"), lit("None Provided"))
    val biosV = coalesce(col("BIOS Version"), lit("None Provided"))
    val bios = id("Biosversion", biosV, col("BIOS Date"))

    val main = emit(rows, o, Seq(
      NodeSpec("Vspherehost", uid, Seq(col("Object ID"), uid),
        Map("objid" -> col("Object ID"), "managedby" -> uid,
          "name" -> col("Host"), "hosts" -> col("NumHosts"), "cpu" -> col("# CPU"),
          "cores" -> col("# Cores"), "memory" -> col("# Memory"),
          "memusage" -> col("Memory usage %"), "vms" -> col("# VMs"),
          "license" -> col("Assigned License(s)"), "chipset" -> col("Max EVC"),
          "boot" -> col("Boot time"), "servicetag" -> col("Service tag"))),
      NodeSpec("Biosversion", lit(null), Seq(biosV, col("BIOS Date")),
        Map("version" -> biosV, "date" -> col("BIOS Date")))), Seq(
      EdgeSpec(host, "MEMBER_OF_CLUSTER", id("Vcentercluster", col("Cluster"), uid)),
      EdgeSpec(host, "CONTROLLED_BY_VC", id("Vcenterserver", uid)),
      EdgeSpec(id("Vsphereesxbuild", elem(esx, 1)), "BUILD_OF", id("Vsphereesxversion", elem(esx, 0)),
        when = elem(esx, 1).isNotNull && elem(esx, 0).isNotNull),
      EdgeSpec(bios, "MANUFACTURED_BY", id("Crmmanufacturer", vendor)),
      EdgeSpec(host, "BIOS_VERSION", bios)), dims = Seq(
      Dim(host, "CONFIG_STATUS", "Vconfigstatus", col("Config status")),
      Dim(host, "IN_CPU_POW_MGMT", "Vspherecpupwrmgpol", col("`Current CPU power man. policy`")),
      Dim(host, "IN_HOST_POW_PLCY", "Vspherehostpwrmgpol", col("Host Power Policy")),
      Dim(host, "HAS_CPU", "Cpumodel", col("CPU Model")),
      Dim(host, "IS_ESX_BUILD", "Vsphereesxbuild", elem(esx, 1), prop = "build"),
      Dim(host, "IS_ESX_VERSION", "Vsphereesxversion", elem(esx, 0)),
      Dim(host, "MANUFACTURED_BY", "Crmmanufacturer", vendor),
      Dim(host, "ASSET_MODEL", "Crmmodel", model)))
    // :100-103 stage 2 — only rows whose Domain matches a CMDB Clientdomain
    // that is linked to a Company (D3 row-elimination: earlier writes stand).
    val domainRows = rows
      .withColumn("_domain", coalesce(col("Domain"), lit("None Provided")))
      .join(domainCompany, col("_domain") === col("_cdname"))
    main ++ emit(domainRows, o, Nil, Seq(
      EdgeSpec(host, "OF_DOMAIN", col("_cdid")),
      EdgeSpec(host, "ESX_HOST_FOR", col("_coid"))))
  }

  // ---- statements 5-8: NTP/DNS servers by IP|FQDN (:105-139) ----
  private def stmtNtpDns(vHost: DataFrame, hostRows: DataFrame): Out = {
    // :107 gate: host by (objid, name) — no managedby in the pattern; the
    // batch host set is keyed (objid, uid), name must also match.
    val hs = hostRows.select(col("Object ID").as("_gobjid"), col("Host").as("_ghost"),
      uid.as("_guid")).distinct()
    val gated = vHost.join(hs,
      col("Object ID") === col("_gobjid") && col("Host") === col("_ghost") && uid === col("_guid"),
      "left_semi")
    val host = id("Vspherehost", col("Object ID"), uid)

    def family(listCol: String, rel: String, label: String): Out = {
      val exploded = gated
        .select(col("Object ID"), uid, col("_rowno"),
          explode(splitLit(col(listCol), ",")).as("_raw"))
        .withColumn("_val", trim(col("_raw")))
        .filter(col("_val").isNotNull)
      val isIp = col("_val").rlike(Ipv4Full)
      // Ntpserver{ipaddress:x} and Ntpserver{fqdn:x} are distinct identity
      // domains on the same label (different key property) — the key tuple
      // carries the property name to keep them apart.
      val byKind = Seq("ipaddress" -> isIp, "fqdn" -> !isIp)
      emit(exploded, ord(5),
        byKind.map { case (k, is) =>
          NodeSpec(label, lit(null), Seq(lit(k), col("_val")), Map(k -> col("_val")), when = is)
        },
        byKind.map { case (k, is) =>
          EdgeSpec(host, rel, id(label, lit(k), col("_val")), when = is)
        })
    }
    family("NTP Server(s)", "USES_NTP", "Ntpserver") ++
      family("DNS Servers", "USES_DNS", "Dnsserver")
  }

  // ---- statement 9: vSwitch (:141-152) ----
  private def stmtSwitches(onHost: DataFrame, jumboNode: DataFrame): Out = {
    val o = ord(6)
    val rows = onHost.filter(col("Switch").isNotNull)
    val switch = id("Vswitch", col("Switch"), col("Host"))
    val main = emit(rows, o, Seq(
      NodeSpec("Vswitch", lit(null), Seq(col("Switch"), col("Host")),
        Map("name" -> col("Switch"), "host" -> col("Host"),
          "ports" -> col("# Ports"), "freeports" -> col("Free Ports"),
          "promiscuous" -> col("Promiscuous Mode"), "macchanges" -> col("Mac Changes"),
          "forged" -> col("Forged Transmits"), "shaping" -> col("Traffic Shaping"),
          "notifysw" -> col("Notify Switch"), "mtu" -> col("MTU").cast("int"),
          "offload" -> col("Offload")))), Seq(
      EdgeSpec(switch, "VSWITCH_FOR_HOST", id("Vspherehost", col("_hobjid"), uid))),
      dims = Seq(Dim(switch, "LOAD_BALANCING_POLICY", "Vlbpolicy", col("Policy"))))
    // :150-152 — only if the external Jumboframes{enabled} node exists.
    val jumboRows = rows.filter(col("MTU").cast("int") >= 9000).crossJoin(broadcast(jumboNode))
    main ++ emit(jumboRows, o, Nil, Seq(EdgeSpec(switch, "HAS_JUMBO_FRAMES", col("_jumboid"))))
  }

  // ---- statement 10: vPort → portgroups (:154-163) ----
  private def stmtPortgroups(onHost: DataFrame): Out = {
    // Gate: host+cluster ∧ switch (name, host) — the switch comes from the
    // batch's vSwitch statement, keyed (Switch, Host); a vPort row whose
    // switch was not ingested fails the :156 MATCH.
    val rows = onHost.filter(col("Port Group").isNotNull)
    val pgKeys = Seq(col("Port Group"), col("Host"), uid)
    val hostPg = id("Vhostportgroup", pgKeys: _*)
    emit(rows, ord(7), Seq(
      NodeSpec("Vportgroup", uid, Seq(col("Port Group"), uid),
        Map("name" -> col("Port Group"), "managedby" -> uid)),
      NodeSpec("Vhostportgroup", uid, pgKeys,
        Map("name" -> col("Port Group"), "host" -> col("Host"), "managedby" -> uid,
          "vlan" -> col("VLAN"), "promiscuous" -> col("Promiscuous Mode"),
          "macchanges" -> col("Mac Changes"), "forged" -> col("Forged Transmits"),
          "shaping" -> col("Traffic Shaping")))), Seq(
      EdgeSpec(hostPg, "HOST_PG_FOR", id("Vportgroup", col("Port Group"), uid)),
      EdgeSpec(hostPg, "STANDARD_PG_ON", id("Vspherehost", col("_hobjid"), uid))), dims = Seq(
      Dim(id("Vswitch", col("Switch"), col("Host")), "LOAD_BALANCING_POLICY", "Vlbpolicy",
        coalesce(col("Policy"), lit("None Provided")))))
  }

  // ---- statement 11: vNIC (:165-176) ----
  private def stmtNics(onHost: DataFrame): Out = {
    val rows = onHost.filter(col("Network Device").isNotNull)
    val nic = id("Vmnic", col("Network Device"), col("Host"))
    emit(rows, ord(8), Seq(
      NodeSpec("Vmnic", lit(null), Seq(col("Network Device"), col("Host")),
        Map("name" -> col("Network Device"), "host" -> col("Host"),
          "mac" -> col("MAC"), "wake" -> col("WakeOn"), "pci" -> col("PCI")))), Seq(
      EdgeSpec(nic, "PNIC_OF_HOST", id("Vspherehost", col("_hobjid"), uid)),
      EdgeSpec(id("Vswitch", col("Switch"), col("Host")), "NETWORK_ADAPTERS", nic)), dims = Seq(
      Dim(nic, "USES_DRIVER", "Vmnicdriver", coalesce(col("Driver"), lit("None Provided"))),
      Dim(nic, "LINK_SPEED", "Vmnicspeed", coalesce(col("Speed"), lit("No link")))))
  }

  // ---- statement 12: vInfo → VMs (:178-224) — the most complex one ----
  private def stmtVms(
      vInfo: DataFrame, dcSet: DataFrame, clusterSet: DataFrame, rpPoolPaths: DataFrame): Out = {
    // :180-181 OPTIONAL MATCH dc/cluster on derived keys (left joins).
    val rows = vInfo.filter(col("VM UUID").isNotNull)
      .withColumn("_folderdc", elem(splitLit(col("Folder"), "/"), 1))
      .withColumn("_poolcluster", elem(splitLit(col("Resource pool"), "/"), 2))
      .join(dcSet, col("_folderdc") === col("_dcname") && uid === col("_dcuid"), "left")
      .join(clusterSet, col("_poolcluster") === col("_ccname") && uid === col("_ccuid"), "left")

    // :199-203 FOREACH conditional writes (D2 → guarded specs).
    val poolGuard = col("Resource pool").isNotNull && size(splitLit(col("Resource pool"), "/")) > 4
    val folderGuard = col("Folder").isNotNull && size(splitLit(col("Folder"), "/")) > 2

    // :214-217 parent wiring — against the batch's full folder/pool sets
    // (order-independent recast of the per-row eager visibility, §3.3).
    // Every joined side is distinct on its keys, so `wired` has exactly
    // `rows`' rows and carries the statement's whole emission.
    val folderPaths = rows.filter(folderGuard).select(col("Folder").as("_fpath")).distinct()
    val poolPaths = rows.filter(poolGuard)
      .select(col("VI SDK Server").as("_ppvc"), col("Resource pool").as("_pppath"))
      .unionByName(rpPoolPaths)
      .distinct()
    val fp2 = folderPaths.select(col("_fpath").as("_fppath2"))
    val pp2 = poolPaths.select(col("_ppvc").as("_ppvc2"), col("_pppath").as("_pppath2"))
    val wired = rows
      .join(folderPaths, col("Folder") === col("_fpath"), "left")
      .withColumn("_fname", lastElem(splitLit(col("_fpath"), "/")))
      .withColumn("_fparent", expr("replace(_fpath, concat('/', _fname), '')"))
      .join(poolPaths, col("VI SDK Server") === col("_ppvc") && col("Resource pool") === col("_pppath"), "left")
      .withColumn("_ppname", lastElem(splitLit(col("_pppath"), "/")))
      .withColumn("_ppparent", expr("replace(_pppath, concat('/', _ppname), '')"))
      .join(fp2, col("_fparent") === col("_fppath2"), "left")
      .join(pp2, col("_ppvc") === col("_ppvc2") && col("_ppparent") === col("_pppath2"), "left")
    val hasDc = col("_dcname").isNotNull
    val hasCc = col("_ccname").isNotNull
    val hasFolder = col("_fpath").isNotNull
    val hasParentFolder = col("_fppath2").isNotNull
    val hasPool = col("_pppath").isNotNull
    val hasParentPool = col("_pppath2").isNotNull

    val vm = id("Virtualmachine", col("VM UUID"), uid)
    val vcpuName = concat(col("CPUs"), lit(" vCPUs"))
    val vcpuQty = col("CPUs").cast("int")
    val poolPath = coalesce(col("Resource pool"), lit("None Configured"))
    val networks = (1 to 4).map(i => coalesce(col(s"Network #$i"), lit("Not Configured")))
    val folder = id("Vfolder", col("_fpath"))
    val dc = id("Vspheredatacenter", col("_dcname"), uid)
    val pool = id("Vresourcepool", col("_ppvc"), col("_pppath"))
    val cluster = id("Vcentercluster", col("_ccname"), uid)

    emit(wired, ord(9), Seq(
      NodeSpec("Virtualmachine", uid, Seq(col("VM UUID"), uid),
        Map("uuid" -> col("VM UUID"), "managedby" -> uid,
          "name" -> col("VM"), "fqdn" -> col("DNS Name"), "poweron" -> col("PowerOn"),
          "changedon" -> col("Change Version"), "note" -> col("Annotation"),
          "vmid" -> col("VM ID"), "needsconsolidation" -> col("Consolidation Needed"),
          "cpus" -> col("CPUs"), "memory" -> col("Memory").cast("int"),
          "nics" -> col("NICs").cast("int"), "disks" -> col("Disks").cast("int"),
          "cbt" -> col("CBT"))),
      NodeSpec("Vcpus", lit(null), Seq(vcpuName, vcpuQty),
        Map("name" -> vcpuName, "qty" -> vcpuQty), when = col("CPUs").isNotNull),
      NodeSpec("Vresourcepool", lit(null), Seq(col("VI SDK Server"), poolPath),
        Map("path" -> poolPath, "vc" -> col("VI SDK Server"),
          "name" -> lastElem(splitLit(col("Resource pool"), "/"))), when = poolGuard),
      NodeSpec("Vfolder", lit(null), Seq(col("Folder")),
        Map("path" -> col("Folder"), "name" -> lastElem(splitLit(col("Folder"), "/"))),
        when = folderGuard)) ++
      networks.map(n => NodeSpec("Vportgroup", uid, Seq(n, uid),
        Map("name" -> n, "managedby" -> uid))), Seq(
      EdgeSpec(vm, "HAS_VCPUS", id("Vcpus", vcpuName, vcpuQty),
        when = vcpuName.isNotNull && vcpuQty.isNotNull),
      // :199-200 / :201 conditional pool/folder membership
      EdgeSpec(vm, "IN_RESOURCE_POOL", id("Vresourcepool", col("VI SDK Server"), poolPath),
        when = poolGuard),
      EdgeSpec(vm, "IN_FOLDER", id("Vfolder", col("Folder")), when = folderGuard)) ++
      // :204-211 four portgroup links
      networks.map(n => EdgeSpec(vm, "IN_PORTGROUP", id("Vportgroup", n, uid), when = uid.isNotNull)) ++ Seq(
      // :218-223 parent wiring guards
      EdgeSpec(folder, "IN_FOLDER", id("Vfolder", col("_fparent")),
        when = hasFolder && hasParentFolder),
      EdgeSpec(folder, "LOCATED_IN_DC", dc, when = hasFolder && !hasParentFolder && hasDc),
      EdgeSpec(vm, "LOCATED_IN_DC", dc, when = !hasFolder && hasDc),
      EdgeSpec(pool, "CHILD_RESOURCE_OF", id("Vresourcepool", col("_ppvc"), col("_ppparent")),
        when = hasPool && hasParentPool),
      EdgeSpec(pool, "LOCATED_IN_CLUSTER", cluster, when = hasCc && hasPool && !hasParentPool),
      EdgeSpec(vm, "LOCATED_IN_CLUSTER", cluster, when = hasCc && !hasPool)), dims = Seq(
      Dim(vm, "HW_VERSION", "Vhwver", col("HW version").cast("int"),
        linkProps = Map("upgradestatus" -> col("HW upgrade status"))), // :187,:212
      Dim(vm, "CONNECTION_STATE", "Vconnectionstate", col("Connection state")),
      Dim(vm, "CONFIG_STATUS", "Vconfigstatus", col("Config status")),
      Dim(vm, "IN_POWER_STATE", "Vmpwrstate", col("Powerstate")),
      Dim(vm, "IN_GUEST_STATE", "Vmpgueststate", col("Guest state")),
      Dim(vm, "HEARTBEAT", "Vmheartbeat", col("Heartbeat")),
      // :202-203 OS via tools/config (undirected) — the FOREACH guard is
      // exists(col), so the coalesce default is unreachable; null columns
      // create no node and no link.
      Dim(vm, "OS_VIA_TOOLS", "Vmos", col("OS according to the VMware Tools")),
      Dim(vm, "OS_VIA_CONFIG", "Vmos", col("OS according to the configuration file"))))
  }

  // ---- statement 13: vDatastore (:227-240) ----
  private def stmtDatastores(vDatastore: DataFrame, vcs: DataFrame, hostSet: DataFrame): Out = {
    val o = ord(10)
    val rows = vDatastore.join(vcs, uid === col("_uid"), "left_semi")
      .filter(col("URL").isNotNull)
    val ds = id("Vdatastore", col("URL"))
    val main = emit(rows, o, Seq(
      NodeSpec("Vdatastore", uid, Seq(col("URL")),
        Map("url" -> col("URL"), "name" -> col("Name"), "accessible" -> col("Accessible"),
          "capacity" -> col("Capacity MB"), "inuse" -> col("In Use MB"), "free" -> col("Free MB"),
          "hosts" -> col("# Hosts"), "verion" -> col("Version"), "sio" -> col("SIOC enabled"),
          "vms" -> col("# VMs"), "address" -> col("Address"), "managedby" -> uid))), Nil, Seq(
      Dim(ds, "CONFIG_STATUS", "Vconfigstatus", col("Config status")),
      Dim(ds, "DATASTORE_TYPE", "Vdatastoretype", col("Type"))))
    // :237-240 host connections: explode + trim + match host by (name, uid).
    val hostLinks = rows
      .select(col("URL"), uid, col("_rowno"), explode(splitLit(col("Hosts"), ",")).as("_raw"))
      .withColumn("_hn", trim(col("_raw")))
      .join(hostSet, col("_hn") === col("_hname") && uid === col("_huid"))
    main ++ emit(hostLinks, o, Nil, Seq(
      EdgeSpec(id("Vspherehost", col("_hobjid"), uid), "CONNECTED_DATASTORE", ds)))
  }

  // ---- statement 14: vDisk (:242-251) ----
  private def stmtDisks(
      vDisk: DataFrame, vcs: DataFrame, vmSet: DataFrame, vDatastore: DataFrame): Out = {
    val o = ord(11)
    val rows = vDisk.join(vcs, uid === col("_uid"), "left_semi")
      .join(vmSet, col("VM UUID") === col("_vmuuid") && uid === col("_vmuid"), "left_semi")
      .filter(col("Path").isNotNull)
    val disk = id("Virtualdisk", col("Path"))
    val main = emit(rows, o, Seq(
      NodeSpec("Virtualdisk", lit(null), Seq(col("Path")),
        Map("path" -> col("Path"), "disk" -> col("Disk"), "capacity" -> col("Capacity MB"),
          "thin" -> col("Thin"), "controller" -> col("Controller"), "mode" -> col("Disk Mode"),
          "eager" -> col("Eagerly Scrub"), "template" -> col("Template")))), Seq(
      EdgeSpec(disk, "VDISK_FOR_VM", id("Virtualmachine", col("VM UUID"), uid))))
    // :249-251: datastore name from "[ds] path"; gate = ds of same tenant
    // connected to the row's host (the ds Hosts list must include it).
    val dsHost = vDatastore
      .select(col("URL").as("_dsurl"), col("Name").as("_dsn"), uid.as("_dsuid"),
        explode(splitLit(col("Hosts"), ",")).as("_dsraw"))
      .withColumn("_dshost", trim(col("_dsraw")))
      .distinct()
    val diskDs = rows.withColumn("_dsname", expr("replace(split(Path, '\\\\]')[0], '[', '')"))
      .join(dsHost,
        col("_dsname") === col("_dsn") && uid === col("_dsuid") && col("Host") === col("_dshost"))
    main ++ emit(diskDs, o, Nil, Seq(
      EdgeSpec(disk, "ON_DATASTORE", id("Vdatastore", col("_dsurl")))))
  }

  // ---- statement 15: vNetwork → adapters (:253-263) ----
  private def stmtAdapters(ofVm: DataFrame, vPort: DataFrame): Out = {
    val o = ord(12)
    val rows = ofVm.filter(col("Mac Address").isNotNull)
    val adKeys = Seq(col("Mac Address"), col("VM UUID"))
    val adapter = id("Vmadapter", adKeys: _*)
    val main = emit(rows, o, Seq(
      NodeSpec("Vmadapter", lit(null), adKeys,
        Map("mac" -> col("Mac Address"), "vmuuid" -> col("VM UUID"),
          "startconnected" -> col("Starts Connected"), "ip" -> col("IP Address")))), Seq(
      EdgeSpec(adapter, "ADAPTER_FOR", id("Virtualmachine", col("VM UUID"), uid))),
      dims = Seq(Dim(adapter, "ADAPTER_TYPE", "Vmadaptertype", col("Adapter"))))
    // :261-263 stage 2: host portgroup (name, host, managedby) from vPort batch.
    val pgSet = vPort.select(col("Port Group").as("_pgname"), col("Host").as("_pghost"),
      uid.as("_pguid")).distinct()
    val pgRows = rows.join(pgSet,
      col("Network") === col("_pgname") && col("Host") === col("_pghost") && uid === col("_pguid"))
    main ++ emit(pgRows, o, Nil, Seq(
      EdgeSpec(adapter, "IN_PORTGROUP",
        id("Vhostportgroup", col("_pgname"), col("_pghost"), uid))))
  }

  // ---- statements 16a/16b: vPartition, vSnapshot — a VM's child rows ----
  private def stmtVmChild(ofVm: DataFrame, stmt: Int, label: String, key: String, rel: String,
      props: Map[String, Column]): Out = {
    val keys = Seq(col(key), col("VM UUID"))
    emit(ofVm.filter(col(key).isNotNull), ord(stmt),
      Seq(NodeSpec(label, lit(null), keys, props + ("vmuuid" -> col("VM UUID")))),
      Seq(EdgeSpec(id(label, keys: _*), rel, id("Virtualmachine", col("VM UUID"), uid))))
  }
}
