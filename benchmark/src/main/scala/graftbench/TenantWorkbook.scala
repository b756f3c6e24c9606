package graftbench

import graft.fixtures.{ScaledWorkbook, SyntheticWorkbook}
import graft.ingest.Workbook
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded multi-vCenter RVTools workbooks for the benchmark's base store.
  *
  * Wraps [[ScaledWorkbook.build]] and renames everything that identifies a
  * vCenter (`VI SDK UUID`, `VI SDK Server`, host names, VM UUIDs and names,
  * datastore URLs), so several tenants can share one graph store without
  * sharing node ids. The generator also states what the store built from
  * its workbooks must hold, for the benchmark's correctness checks.
  */
object TenantWorkbook {

  final case class Shape(hosts: Int, vms: Int) {
    def datastores: Int = math.max(hosts / 10, 1)
  }

  def uid(tenant: Int): String = f"vc-uuid-t$tenant%02d"
  def server(tenant: Int): String = f"vcenter$tenant%02d.acme.local"

  // ScaledWorkbook numbers each sheet's rows with a job per sheet; every
  // tenant starts from the same sheets, so they are built once.
  private val scaled = scala.collection.mutable.Map.empty[Shape, Workbook.Sheets]

  /** The workbook of vCenter `tenant`. */
  def build(spark: SparkSession, tenant: Int, shape: Shape): Workbook.Sheets = {
    val base = scaled.getOrElseUpdate(shape, ScaledWorkbook.build(spark, shape.hosts, shape.vms))
    val t = f"t$tenant%02d"
    def sub(c: String, f: Column => Column): DataFrame => DataFrame =
      d => if (d.columns.contains(c)) d.withColumn(c, f(col(c))) else d
    val steps: Seq[DataFrame => DataFrame] = Seq(
      sub("VI SDK UUID", c => when(c === SyntheticWorkbook.Uid, lit(uid(tenant))).otherwise(c)),
      sub("VI SDK Server", c => when(c === SyntheticWorkbook.Server, lit(server(tenant))).otherwise(c)),
      // host names: every "esxN.acme.local", including the datastore Hosts lists
      sub("Host", c => regexp_replace(c, "esx(\\d+)\\.", s"$t-esx$$1.")),
      sub("Hosts", c => regexp_replace(c, "esx(\\d+)\\.", s"$t-esx$$1.")),
      sub("VM", c => concat(lit(s"$t-"), c)),
      sub("VM ID", c => concat(lit(s"$t-"), c)),
      sub("VM UUID", c => concat(lit(s"$t-"), c)),
      sub("DNS Name", c => concat(lit(s"$t-"), c)),
      // disk paths embed the VM name: "[ds-K] vmN/disk.vmdk"
      sub("Path", c => regexp_replace(c, "\\] vm", s"] $t-vm")),
      sub("URL", c => regexp_replace(c, "/ds-", s"/$t-ds-")))
    base.map { case (name, sheet) => name -> steps.foldLeft(sheet.drop("_rowno"))((d, f) => f(d)) }
  }

  /** Several tenants' workbooks as one (sheet-wise union). */
  def union(books: Seq[Workbook.Sheets]): Workbook.Sheets =
    Workbook.SheetNames.map(s => s -> books.map(_(s)).reduce(_ unionByName _)).toMap

  /** Writes the production parquet-dir layout, one file per sheet. */
  def writeParquetDir(wb: Workbook.Sheets, dir: String): Unit =
    wb.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** The generator's own count of a tenant's VMs whose disk sits on
    * datastore `ds` (the disk path's "[ds-K]" prefix).
    */
  def vmsOnDatastore(wb: Workbook.Sheets, ds: Int): Long =
    wb("vDisk").filter(col("Path").startsWith(s"[ds-$ds]"))
      .select("VM UUID").distinct().count()

  /** `GraphViews.vmPlacement` rows the workbook implies, as "vm|cluster":
    * every VM sits in the cluster its resource pool path names.
    */
  def placements(wb: Workbook.Sheets): Seq[String] =
    wb("vInfo").select(col("VM"),
      regexp_extract(col("Resource pool"), "^/[^/]+/([^/]+)/", 1)).collect().toSeq
      .map(r => s"${r.getString(0)}|${r.getString(1)}")

  /** `GraphViews.datastoreReport` rows the workbook implies, as
    * "name|url|capacity|in use|utilization|hosts connected".
    */
  def datastoreRows(wb: Workbook.Sheets): Seq[String] =
    wb("vDatastore").collect().toSeq.map { r =>
      def s(c: String) = r.getAs[String](c)
      val cap = s("Capacity MB").toLong
      val used = s("In Use MB").toLong
      val util = BigDecimal(used.toDouble / cap).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val hosts = s("Hosts").split(",").map(_.trim).filter(_.nonEmpty).distinct.length
      Seq(s("Name"), s("URL"), cap, used, util, hosts).mkString("|")
    }

  /** The same "a|b|..." form for rows the program returned. */
  def rowKey(r: Row): String = r.toSeq.mkString("|")
}
