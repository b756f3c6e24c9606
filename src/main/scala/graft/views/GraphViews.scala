package graft.views

import graft.ingest.Refresh.GraphStore
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Typed row for the VM hot entity (SURVEY §1.3) — numeric fields cast
  * once here, Option for the reference's nullable string props. Top-level
  * case class: Encoders need the TypeTag a method-local class lacks.
  */
final case class VmRow(id: Long, tenant: String, uuid: String, name: String,
    fqdn: String, powerOn: String, cpus: Option[Int], memoryMb: Option[Long],
    nics: Option[Int], disks: Option[Int])

final case class HostRow(id: Long, tenant: String, objid: String, name: String,
    cpu: Option[Int], cores: Option[Int], memoryMb: Option[Long],
    vms: Option[Int])

final case class DatastoreRow(id: Long, tenant: String, url: String,
    name: String, capacityMb: Option[Long], inUseMb: Option[Long],
    freeMb: Option[Long])

/** Per-label DataFrame views of the property graph (SURVEY §7.1 step 5) and
  * the operational reports a user of the reference graph actually runs.
  * Everything is a plain DataFrame pipeline over the two store Datasets —
  * label filters push down to the store's parquet scan (its files are sorted
  * by label, so row-group statistics skip other labels), and the edge hops
  * are equi-joins on the 64-bit ids.
  */
object GraphViews {

  /** Nodes of one label with chosen props lifted to columns. */
  def byLabel(store: GraphStore, label: String, props: Seq[String]): DataFrame =
    props.foldLeft(store.nodes.filter(col("label") === label)) { (df, p) =>
      df.withColumn(p, col("props")(p))
    }.select(col("id") +: col("tenant") +: props.map(col): _*)

  def vms(store: GraphStore): DataFrame =
    byLabel(store, "Virtualmachine",
      Seq("uuid", "name", "fqdn", "poweron", "cpus", "memory", "nics", "disks", "vmid"))

  def hosts(store: GraphStore): DataFrame =
    byLabel(store, "Vspherehost",
      Seq("objid", "name", "cpu", "cores", "memory", "memusage", "vms", "boot"))

  def datastores(store: GraphStore): DataFrame =
    byLabel(store, "Vdatastore",
      Seq("url", "name", "capacity", "inuse", "free", "vms", "hosts"))

  def clusters(store: GraphStore): DataFrame =
    byLabel(store, "Vcentercluster", Seq("name", "ha", "drs", "cpu", "memory"))

  /** Typed `Dataset[T]` views for the hot entities (SURVEY §1.3). The
    * lift is one select over the per-label view — casts happen once at
    * the boundary, downstream code gets compile-checked field access.
    * Plans are identical to the DataFrame views (encoders are a
    * schema-level mapping, not a row-by-row conversion), so the label
    * filter still pushes down to the store scan.
    */
  def vmsTyped(store: GraphStore): Dataset[VmRow] = {
    val df = vms(store)
    import df.sparkSession.implicits._
    df.select(col("id"), col("tenant"), col("uuid"), col("name"), col("fqdn"),
      col("poweron").as("powerOn"), col("cpus").cast("int").as("cpus"),
      col("memory").cast("long").as("memoryMb"),
      col("nics").cast("int").as("nics"),
      col("disks").cast("int").as("disks")).as[VmRow]
  }

  def hostsTyped(store: GraphStore): Dataset[HostRow] = {
    val df = hosts(store)
    import df.sparkSession.implicits._
    df.select(col("id"), col("tenant"), col("objid"), col("name"),
      col("cpu").cast("int").as("cpu"), col("cores").cast("int").as("cores"),
      col("memory").cast("long").as("memoryMb"),
      col("vms").cast("int").as("vms")).as[HostRow]
  }

  def datastoresTyped(store: GraphStore): Dataset[DatastoreRow] = {
    val df = datastores(store)
    import df.sparkSession.implicits._
    df.select(col("id"), col("tenant"), col("url"), col("name"),
      col("capacity").cast("long").as("capacityMb"),
      col("inuse").cast("long").as("inUseMb"),
      col("free").cast("long").as("freeMb")).as[DatastoreRow]
  }

  /** Resolve one hop: (srcLabel)-[relType]->(dstLabel), either direction
    * for undirected types (stored canonicalized). Returns (srcId, dstId).
    */
  def hop(store: GraphStore, relType: String, bothDirections: Boolean = true): DataFrame = {
    val e = store.edges.filter(col("relType") === relType)
      .select(col("src").as("a"), col("dst").as("b"))
    if (bothDirections) e.unionAll(e.select(col("b").as("a"), col("a").as("b"))) else e
  }

  /** Snapshot report: every snapshot with its VM, age-relevant fields —
    * "which VMs carry stale snapshots" is THE recurring VMware hygiene
    * query over this graph.
    */
  def snapshotReport(store: GraphStore): DataFrame = {
    val snaps = byLabel(store, "Vsnapshot",
      Seq("name", "vmuuid", "description", "timestamp", "size"))
    val vm = vms(store).select(col("id").as("vmId"), col("name").as("vm_name"),
      col("uuid").as("vm_uuid"))
    snaps.join(hop(store, "SNAPSHOT_OF"), snaps("id") === col("a"))
      .join(vm, col("b") === col("vmId"))
      .select(col("vm_name"), col("vm_uuid"), snaps("name").as("snapshot"),
        col("timestamp"), col("size").cast("long").as("size_mb"))
  }

  /** Datastore overcommit: capacity vs in-use, with connected host count. */
  def datastoreReport(store: GraphStore): DataFrame = {
    val ds = datastores(store)
    val hostLinks = hop(store, "CONNECTED_DATASTORE")
    val hostIds = store.nodes.filter(col("label") === "Vspherehost").select(col("id").as("hid"))
    val perDs = hostLinks.join(hostIds, col("a") === col("hid"))
      .groupBy(col("b").as("dsid")).agg(count(lit(1)).as("n_hosts_connected"))
    ds.join(perDs, ds("id") === col("dsid"), "left")
      .select(col("name"), col("url"),
        col("capacity").cast("long").as("capacity_mb"),
        col("inuse").cast("long").as("inuse_mb"),
        round(col("inuse").cast("double") / col("capacity").cast("double"), 4).as("utilization"),
        coalesce(col("n_hosts_connected"), lit(0L)).as("n_hosts_connected"))
  }

  /** VMs per cluster via the LOCATED_IN_CLUSTER / pool membership paths. */
  def vmPlacement(store: GraphStore): DataFrame = {
    val vm = vms(store).select(col("id").as("vmId"), col("name").as("vm_name"))
    val cc = store.nodes.filter(col("label") === "Vcentercluster")
      .select(col("id").as("ccId"), col("props")("name").as("cluster"))
    val direct = hop(store, "LOCATED_IN_CLUSTER", bothDirections = false)
    // VM → pool → MEMBER_OF_CLUSTER → cluster (deep-pool VMs)
    val inPool = hop(store, "IN_RESOURCE_POOL", bothDirections = false)
    val poolCluster = hop(store, "MEMBER_OF_CLUSTER", bothDirections = false)
    val viaPool = inPool.select(col("a").as("vmSrc"), col("b").as("pool"))
      .join(poolCluster.select(col("a").as("pool"), col("b").as("cc")), Seq("pool"))
      .select(col("vmSrc").as("a"), col("cc").as("b"))
    vm.join(direct.unionAll(viaPool).distinct(), col("vmId") === col("a"))
      .join(cc, col("b") === col("ccId"))
      .select(col("vm_name"), col("cluster"))
  }
}
