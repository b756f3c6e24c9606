package graft.ingest

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
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
  * shuffles. The store is flat parquet, at most one file per partition of
  * the refreshed frame, each sorted by (label, id) for nodes and (relType,
  * src, dst) for edges, so a label or relType filter pushes down to the
  * scan and skips the row groups outside its run; the tenant filters push
  * down too.
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

  /** Persist as `path/nodes` and `path/edges`: flat, each output partition
    * sorted by (label, id) and (relType, src, dst) in place — no shuffle —
    * so a table has at most one file per partition of `store`'s frames (a
    * label-partitioned layout would write one per label per partition) and
    * its row-group statistics cover label-contiguous runs. Both are written
    * under the sibling `path.__staged` first and then swapped in by
    * directory renames (`path` → `path.__old`, staged → `path`, drop the
    * old), so `store` may be read from `path` itself — the in-place
    * refresh — and a failure at any step leaves either the previous or the
    * new store for `load`.
    */
  def write(store: GraphStore, path: String): Unit = {
    val d = StoreDirs(store.nodes.sparkSession, path)
    d.heal()
    d.fs.delete(d.staged, true)
    store.nodes.sortWithinPartitions("label", "id").write.parquet(s"${d.staged}/nodes")
    store.edges.sortWithinPartitions("relType", "src", "dst").write.parquet(s"${d.staged}/edges")
    d.fs.delete(d.old, true)
    if (d.fs.exists(d.dir)) d.rename(d.dir, d.old)
    d.rename(d.staged, d.dir)
    d.fs.delete(d.old, true)
  }

  /** Read a store with the declared schemas: no inference job, an empty
    * table loads, and a store in the earlier `label=`/`relType=` directory
    * layout still reads (its partition column comes last, hence the
    * select) and moves to the flat layout on its next `write`. */
  def load(spark: SparkSession, path: String): GraphStore = {
    StoreDirs(spark, path).heal()
    def read(table: String, schema: StructType) =
      spark.read.schema(schema).parquet(s"$path/$table").select(schema.fieldNames.map(col).toSeq: _*)
    GraphStore(read("nodes", nodeSchema), read("edges", edgeSchema))
  }

  /** A store directory and the two siblings `write` swaps it through. */
  private final case class StoreDirs(spark: SparkSession, path: String) {
    val dir = new Path(path)
    val fs: FileSystem = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(s"$dir.__staged")
    val old = new Path(s"$dir.__old")

    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")

    /** Finish a swap a crash interrupted: with `path` gone, the staged
      * store was complete (both writes committed) before the swap began. */
    def heal(): Unit =
      if (!fs.exists(dir) && Seq("nodes", "edges").forall(t =>
          fs.exists(new Path(staged, s"$t/_SUCCESS")))) {
        rename(staged, dir)
        fs.delete(old, true)
      }
  }
}
