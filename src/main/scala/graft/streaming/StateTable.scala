package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The persisted-state contract of the [[EventStream]] state tables: a
  * rerun resumes the state a prior run committed, or fails loudly before
  * any batch writes.
  *
  *   - [[open]] creates a table, or resumes it after checking its layout;
  *   - [[swap]] replaces an ordered list of tables through staged twins
  *     (`t__rebuild`), so the failable writes run while the live ones serve;
  *   - [[heal]] completes a swap that a crash interrupted.
  *
  * Every persisted [[EventStream]] state table goes through [[open]]
  * before its first write: a stream's tables before `.start()`, and
  * `{prefix}_quantizer_meta` in `maybeRebuild`, its only reader and
  * writer. One exception is deliberate: an existing `{prefix}_seen_bloom`
  * without its `_meta` stamp (pre-stamp state) gets no stamp seeded at
  * open, since that would bless whatever parameters the caller passed;
  * its first batch refuses it instead.
  *
  * The catalog has no atomic multi-table replace, so a swap is a DROP +
  * RENAME per table, ordered so that every crash state is readable:
  * leftover twins are reclaimed last table first, then twins are staged
  * and swapped first table first. So the twins present form a PREFIX of
  * the list while reclaiming or staging, and a SUFFIX while swapping.
  */
object StateTable {

  /** Table `t`'s staged twin. */
  def twin(table: String): String = s"${table}__rebuild"

  /** Create `table` if absent — empty with `schema`, or from `seed` — and
    * bucket it by `bucketCols` into `buckets` when given. If it exists,
    * its column names and types (nullability ignored: parquet round trips
    * drop non-null flags) and its bucket columns and count must equal the
    * expected ones; otherwise this throws, naming the table, the expected
    * layout and the layout found. Call it before a stream starts, so a
    * stale table fails the start rather than a micro-batch that has
    * already appended to the stream's other tables.
    */
  def open(spark: SparkSession, table: String, schema: StructType,
      bucketCols: Seq[String] = Nil, buckets: Int = 8,
      seed: Option[DataFrame] = None): Unit = {
    val expected = layout(schema.map(f => s"${f.name} ${f.dataType.catalogString}"), bucketCols, buckets)
    if (!spark.catalog.tableExists(table)) {
      val w = seed.getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](), schema))
        .write.format("parquet")
      (if (bucketCols.isEmpty) w
       else w.bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
         .sortBy(bucketCols.head, bucketCols.tail: _*))
        .saveAsTable(table)
    } else {
      // catalog metadata only: resolving the table here would cache a
      // file listing on this session that the stream's writes then stale
      val cols = spark.catalog.listColumns(table).collect().toSeq
        .map(c => s"${c.name} ${c.dataType}")
      val info = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val bucketedBy = info.get("Bucket Columns").toSeq
        .flatMap(_.stripPrefix("[").stripSuffix("]").split(", "))
        .map(_.stripPrefix("`").stripSuffix("`"))
      val found = layout(cols, bucketedBy, info.get("Num Buckets").fold(0)(_.toInt))
      if (found != expected) throw new IllegalStateException(
        s"state table $table has layout $found, but this code expects " +
          s"$expected — migrate or drop it before resuming")
    }
  }

  private def layout(cols: Seq[String], bucketCols: Seq[String], buckets: Int): String =
    cols.mkString("(", ", ", ")") +
      (if (bucketCols.isEmpty) ""
       else bucketCols.mkString(s" bucketed into $buckets by (", ", ", ")"))

  /** Replace `tables` (all live) in one staged swap: heal any interrupted
    * swap, drop leftover twins last table first, let `stage` write the
    * twins (it receives their names; it must write them in order), then
    * DROP + RENAME each table in order. A crash before the renames leaves
    * the live tables serving; a crash among them is completed by [[heal]].
    */
  def swap(spark: SparkSession, tables: Seq[String])(stage: Seq[String] => Unit): Unit = {
    heal(spark, tables)
    require(tables.forall(spark.catalog.tableExists),
      s"swap needs every live table: ${tables.mkString(", ")}")
    tables.reverse.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${twin(t)}"))
    stage(tables.map(twin))
    tables.foreach(promote(spark, _))
  }

  /** Complete a [[swap]] a crash interrupted; otherwise do nothing. Only
    * a swap leaves the present twins a suffix of `tables`, so it was in
    * flight iff they are a proper suffix, or all twins with the first
    * live table gone: then each replaces its table, in order. Any other
    * twin set is a crashed build or reclaim, never adopted; the next
    * [[swap]] reclaims it. `heal` writes: call it only where the tables
    * are written, never beside another session's swap of them (both
    * would promote one twin, and a late DROP can delete the new table).
    */
  def heal(spark: SparkSession, tables: Seq[String]): Unit = {
    val staged = tables.filter(t => spark.catalog.tableExists(twin(t)))
    if (staged.nonEmpty && tables.endsWith(staged) &&
        (staged.size < tables.size || !spark.catalog.tableExists(tables.head)))
      staged.foreach(promote(spark, _))
  }

  private def promote(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE ${twin(table)} RENAME TO $table")
    spark.catalog.refreshTable(table)
  }
}
