package graft.ingest

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full refresh lifecycle (SURVEY.md §3.1): mark → load → sweep, recast
  * as a tenant-scoped snapshot diff. No mutable `unverified` flag exists;
  * the algebra below produces the identical final state:
  *
  *  - mark (refresh-vmware.cypher:23-31): all store nodes whose `tenant`
  *    (= managedby) appears in the workbook are "marked"; all their incident
  *    edges are dropped (edges are rebuilt by the load).
  *  - load (:33-277): Ingest.run builds the batch's nodes/edges.
  *  - sweep (:525-530): marked nodes not re-touched disappear — i.e. the
  *    tenant's final node set IS the batch's tenant-scoped node set.
  *
  * Nodes without a managedby property (dimension nodes, pools, switches,
  * disks, adapters… — see Ingest) are never marked in the reference and are
  * upserted here, never deleted.
  *
  * Scale: the whole refresh is three hash-joins on id plus the ingest
  * shuffles; at 100 TB the store is stored partitioned by label (nodes) /
  * relType (edges) so per-label reads prune partitions, and the tenant
  * filters push down to parquet.
  */
object Refresh {

  val nodeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("tenant", StringType, nullable = true),
    StructField("key", StringType, nullable = true),
    StructField("props", MapType(StringType, StringType), nullable = true)))

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("relType", StringType, nullable = false),
    StructField("tenant", StringType, nullable = true),
    StructField("props", MapType(StringType, StringType), nullable = true)))

  final case class GraphStore(nodes: DataFrame, edges: DataFrame)

  /** One full refresh of `store` from a workbook. */
  def refresh(store: GraphStore, wb: Workbook.Sheets): GraphStore = {
    val batch = Ingest.run(wb, store.nodes, store.edges)
    // Marked tenants = the vCluster sheet's UUIDs ∪ every tenant the batch
    // actually produced nodes for. An inconsistent workbook (a sheet carrying
    // a VI SDK UUID absent from vCluster) would otherwise keep the store row
    // through the anti-join AND union the identical batch row — a duplicate
    // id that breaks the unique-(label,key) invariant. The union keeps both
    // behaviors: empty-but-listed tenants still sweep to nothing (reference
    // mark semantics), and batch-only tenants stay idempotent.
    val tenants = wb("vCluster").select(col("VI SDK UUID").as("_t"))
      .unionByName(batch.nodes.select(col("tenant").as("_t")))
      .filter(col("_t").isNotNull).distinct()

    // Mark: ids of all store nodes belonging to the workbook's tenants.
    val marked = store.nodes
      .join(tenants, store.nodes("tenant") === col("_t"), "left_semi")
      .select("id")

    // Nodes: other-tenant rows pass through; marked tenants are replaced by
    // the batch (sweep = absence from the batch); global nodes upsert.
    val otherTenantNodes = store.nodes.filter(col("tenant").isNotNull)
      .join(tenants, store.nodes("tenant") === col("_t"), "left_anti")
    val tenantNodes = batch.nodes.filter(col("tenant").isNotNull)
    val globalNodes = Upsert.upsertNodes(
      store.nodes.filter(col("tenant").isNull),
      batch.nodes.filter(col("tenant").isNull),
      keys = Seq("id"))
    val nodes = otherTenantNodes.unionByName(tenantNodes).unionByName(globalNodes)

    // Edges: mark drops every edge incident to a marked node; the load's
    // edges win on key collision with survivors.
    val survivors = store.edges
      .join(marked.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(marked.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select(store.edges.columns.map(col).toSeq: _*)
    val edges = Upsert.upsertEdges(survivors, batch.edges, Ingest.UndirectedRelTypes)

    GraphStore(nodes, edges)
  }

  /** Truncate the store's lineage (eager localCheckpoint). Chained
    * in-memory refreshes multiply the logical plan per round until Catalyst
    * optimization itself OOMs (measured on a KB-sized store at 3 rounds) —
    * in production the `write` parquet barrier plays this role; call this
    * when chaining refreshes without writing.
    */
  def materialize(store: GraphStore): GraphStore =
    GraphStore(store.nodes.localCheckpoint(true), store.edges.localCheckpoint(true))

  /** Persist partitioned for label/relType pruning at scale. */
  def write(store: GraphStore, path: String): Unit = {
    store.nodes.write.mode("overwrite").partitionBy("label").parquet(s"$path/nodes")
    store.edges.write.mode("overwrite").partitionBy("relType").parquet(s"$path/edges")
  }

  def load(spark: SparkSession, path: String): GraphStore = GraphStore(
    spark.read.parquet(s"$path/nodes").select(nodeSchema.fieldNames.map(col).toSeq: _*),
    spark.read.parquet(s"$path/edges").select(edgeSchema.fieldNames.map(col).toSeq: _*))

  /** Persist the store BUCKETED on the join keys (nodes by id, edges by
    * src), for the write-once / join-many access pattern: every
    * edge-resolution join (src = id) against a store bucketed with the same
    * bucket count is shuffle-free — Spark matches the two sides' bucket
    * partitioning and skips both Exchanges (asserted in PlanSpec). Size
    * `buckets` so one bucket ≈ one task's worth of data at the target
    * scale. Bucketing metadata needs the table catalog, hence saveAsTable.
    */
  def writeBucketed(store: GraphStore, tablePrefix: String, buckets: Int = 64): Unit = {
    store.nodes.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${tablePrefix}_nodes")
    store.edges.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(s"${tablePrefix}_edges")
  }

  def loadBucketed(spark: SparkSession, tablePrefix: String): GraphStore = GraphStore(
    spark.table(s"${tablePrefix}_nodes"),
    spark.table(s"${tablePrefix}_edges"))
}
