package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonical property-graph model (SURVEY.md §1.3).
  *
  * The reference's labeled property graph (46 node labels, 51 relationship
  * types — /root/reference/refresh-vmware.cypher) maps to two Datasets:
  *
  *   nodes(id, label, tenant, key, props: Map[String,String])
  *   edges(src, dst, relType, tenant, props: Map[String,String])
  *
  * `id` is deterministic: xxhash64(label, canonical key tuple), so the same
  * business entity gets the same id on every batch on every executor — no
  * driver-side id assignment, no monotonically_increasing_id drift.
  * `tenant` carries the reference's `managedby` scoping
  * (refresh-vmware.cypher:27,75,182): every mark-and-sweep refresh is
  * tenant-local, which at 100 TB maps to a tenant-leading sort key on the
  * store (SCALE.md), so one tenant's rows share row groups.
  */
final case class Node(
    id: Long,
    label: String,
    tenant: String,
    key: String,
    props: Map[String, String])

final case class Edge(
    src: Long,
    dst: Long,
    relType: String,
    tenant: String,
    props: Map[String, String])

object Graph {
  val NodeCols: Seq[String] = Seq("id", "label", "tenant", "key", "props")
  val EdgeCols: Seq[String] = Seq("src", "dst", "relType", "tenant", "props")

  /** Separator inside canonical key strings — keeps ("ab","c") ≠ ("a","bc"). */
  val KeySep: String = "\u001f"
  /** Distinct-from-any-string stand-in for null key parts in id hashing. */
  val NullSentinel: String = "\u0000"

  /** Deterministic node id from label + business-key columns.
    * Mirrors the MERGE composite keys of SURVEY §1.2: uniqueness of
    * (label, key tuple) ⇒ uniqueness of id (modulo 64-bit collisions,
    * which the store's dedup-by-(label,key) invariant makes harmless).
    * The '' separator keeps ("ab","c") ≠ ("a","bc").
    */
  def nodeId(label: String, keyCols: Column*): Column =
    xxhash64((lit(label) +: keyCols.map(c => coalesce(c.cast("string"), lit(NullSentinel)))): _*)

  /** Human-readable canonical key string (used for diff/debug dumps). */
  def keyString(keyCols: Column*): Column =
    concat_ws(KeySep, keyCols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** `props` collects the given columns as a string map in key order (null
    * values kept out of the map — Cypher `SET n.p = null` removes the
    * property). Built as a `map_concat` of one-entry maps, each empty when
    * its value is null, rather than `map_filter` over one map: a
    * higher-order function is interpreted and takes every ingest emission
    * projection out of whole-stage codegen.
    */
  private def propsMap(propCols: Map[String, Column]): Column = {
    val empty = map().cast("map<string,string>")
    val entries = propCols.toSeq.sortBy(_._1).map { case (name, c) =>
      val v = c.cast("string")
      when(v.isNotNull, map(lit(name), v)).otherwise(empty)
    }
    if (entries.isEmpty) empty else map_concat(entries: _*)
  }

  /** The node columns (id, label, tenant, key, props) of one entity. */
  def nodeColumns(
      label: String,
      tenant: Column,
      keyCols: Seq[Column],
      propCols: Map[String, Column]): Seq[Column] = Seq(
    nodeId(label, keyCols: _*).as("id"),
    lit(label).as("label"),
    tenant.cast("string").as("tenant"),
    keyString(keyCols: _*).as("key"),
    propsMap(propCols).as("props"))

  /** The edge columns (src, dst, relType, tenant, props) of one relationship
    * between already-resolved endpoint ids.
    */
  def edgeColumns(
      srcId: Column,
      relType: String,
      dstId: Column,
      tenant: Column,
      propCols: Map[String, Column]): Seq[Column] = Seq(
    srcId.as("src"),
    dstId.as("dst"),
    lit(relType).as("relType"),
    tenant.cast("string").as("tenant"),
    propsMap(propCols).as("props"))

  /** Build a nodes frame from a source frame: one row per entity. */
  def nodesFrom(
      df: DataFrame,
      label: String,
      tenant: Column,
      keyCols: Seq[Column],
      propCols: Map[String, Column]): DataFrame =
    df.select(nodeColumns(label, tenant, keyCols, propCols): _*)

  /** Build an edges frame: src/dst ids computed from each side's label+keys. */
  def edgesFrom(
      df: DataFrame,
      srcLabel: String,
      srcKeys: Seq[Column],
      relType: String,
      dstLabel: String,
      dstKeys: Seq[Column],
      tenant: Column,
      propCols: Map[String, Column] = Map.empty): DataFrame =
    df.select(edgeColumns(nodeId(srcLabel, srcKeys: _*), relType, nodeId(dstLabel, dstKeys: _*),
      tenant, propCols): _*)
}
