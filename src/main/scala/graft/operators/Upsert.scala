package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The MERGE/SET/REMOVE/DETACH-DELETE surface of the reference
  * (SURVEY.md §2.9 M1–M8) recast as order-independent set operations.
  *
  * Cypher MERGE is row-at-a-time eager; at 100 TB we need the same final
  * state from batch set algebra:
  *   - M1 upsert   = one join on the business key (matched → update,
  *                   unmatched-incoming → insert, unmatched-existing → keep)
  *   - M4 SET      = last-writer-wins inside a batch, keyed by an explicit
  *                   deterministic order column (row order of the sheet)
  *   - A4 ON CREATE SET = matched rows keep the existing value
  *   - M7/M8 mark-and-sweep = tenant-scoped anti-join diff: the "unverified"
  *                   flag never materializes — survivors are exactly the
  *                   batch's touched keys, plus all other tenants untouched.
  *
  * Scale notes: everything here is a single hash shuffle on the key columns;
  * `dedupeLastWriter` and the upsert join share the same partitioning, so
  * Catalyst reuses the exchange. No driver-side state, no collect.
  */
object Upsert {

  /** Collapse N in-batch writes to the same key into one row — the
    * deterministic replacement for Cypher's eager row-at-a-time SET
    * (SURVEY §2.9 M4). Highest `orderCol` wins; ties broken by the key
    * itself being unique per (key, orderCol) in well-formed sheets.
    */
  def dedupeLastWriter(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** MERGE semantics over keyed rows (schemas of both frames must match).
    *
    * @param onCreateOnly columns that keep the EXISTING value on match
    *                     (Cypher `ON CREATE SET`, refresh-vmware.cypher:285-287);
    *                     all other non-key columns take the incoming value
    *                     (unconditional `SET`, last writer wins).
    * `incoming` must be key-unique (use dedupeLastWriter first).
    */
  def upsertNodes(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      onCreateOnly: Seq[String] = Nil): DataFrame = {
    val cols = existing.columns.toSeq
    require(incoming.columns.toSeq == cols, s"schema mismatch: $cols vs ${incoming.columns.toSeq}")
    val nonKey = cols.filterNot(keys.contains)
    val ex = existing.select(cols.map(c => col(c).as(s"__ex_$c")): _*)
      .withColumn("__ex_present", lit(true))
    val inc = incoming
      .select(cols.map(col): _*)
      .withColumn("__inc_present", lit(true))
    val joinCond = keys.map(k => inc(k) <=> ex(s"__ex_$k")).reduce(_ && _)
    val joined = inc.join(ex, joinCond, "full_outer")
    // Matched or insert → incoming value (except onCreateOnly); keep-only →
    // existing. Match is decided by a presence flag, NOT per-column
    // isNotNull: Cypher ON CREATE SET leaves the property untouched on
    // match even when the existing value is NULL.
    val out = keys.map(k => coalesce(col(k), col(s"__ex_$k")).as(k)) ++
      nonKey.map { c =>
        if (onCreateOnly.contains(c))
          when(col("__inc_present") && col("__ex_present"), col(s"__ex_$c"))
            .when(col("__inc_present"), col(c))
            .otherwise(col(s"__ex_$c")).as(c)
        else
          when(col("__inc_present"), col(c)).otherwise(col(s"__ex_$c")).as(c)
      }
    joined.select(out: _*)
  }

  /** Canonicalize undirected edges (Cypher `MERGE (a)-[:R]-(b)`,
    * refresh-vmware.cypher:41,76,173): store one direction, keyed by the
    * sorted endpoint pair, so "match either direction" becomes an equi-join.
    */
  def canonicalizeUndirected(edges: DataFrame, undirectedRelTypes: Set[String]): DataFrame = {
    if (undirectedRelTypes.isEmpty) edges
    else {
      val isUndir = col("relType").isInCollection(undirectedRelTypes)
      edges
        .withColumn("__a", when(isUndir, least(col("src"), col("dst"))).otherwise(col("src")))
        .withColumn("__b", when(isUndir, greatest(col("src"), col("dst"))).otherwise(col("dst")))
        .drop("src", "dst")
        .withColumnRenamed("__a", "src")
        .withColumnRenamed("__b", "dst")
    }
  }

  /** Edge upsert keyed (src, relType, dst) — M3. Undirected types are
    * canonicalized first so both orders collapse to one key. Incoming
    * edges win on key collision (their props replace existing props).
    */
  def upsertEdges(
      existing: DataFrame,
      incoming: DataFrame,
      undirectedRelTypes: Set[String] = Set.empty): DataFrame = {
    val key = Seq("src", "relType", "dst")
    val ex = canonicalizeUndirected(existing, undirectedRelTypes)
    val inc = canonicalizeUndirected(incoming, undirectedRelTypes)
      .dropDuplicates(key)
    ex.join(inc.select(key.map(col): _*), key, "left_anti")
      .unionByName(inc)
  }

  /** Mark-and-sweep refresh for one tenant (M7 mark + M8 sweep,
    * refresh-vmware.cypher:23-31,525-530): the tenant's final node set is
    * exactly the incoming batch (stale nodes deleted, new inserted, matched
    * updated — `onCreateOnly` props retained from the previous state);
    * other tenants pass through untouched.
    */
  def markSweepNodes(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      tenantCol: String,
      tenant: String,
      onCreateOnly: Seq[String] = Nil): DataFrame = {
    val others = existing.filter(col(tenantCol) =!= tenant || col(tenantCol).isNull)
    val mine = existing.filter(col(tenantCol) === tenant)
    val merged =
      if (onCreateOnly.isEmpty) incoming
      else {
        val keep = mine.select((keys ++ onCreateOnly).map(c => col(c).as(s"__old_$c")): _*)
          .withColumn("__old_present", lit(true))
        val joinCond = keys.map(k => incoming(k) <=> keep(s"__old_$k")).reduce(_ && _)
        val cols = incoming.columns.toSeq
        // presence flag, not coalesce: a matched row whose existing value is
        // NULL keeps NULL (same ON CREATE SET law as upsertNodes).
        incoming.join(keep, joinCond, "left").select(
          cols.map { c =>
            if (onCreateOnly.contains(c))
              when(col("__old_present"), col(s"__old_$c")).otherwise(incoming(c)).as(c)
            else incoming(c)
          }: _*)
      }
    others.unionByName(merged)
  }
}
