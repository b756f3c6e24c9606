package graft

import graft.fixtures.SyntheticWorkbook
import graft.ingest.{Refresh, Workbook}
import graft.views.GraphViews
import org.apache.spark.sql.functions._

/** Per-label views + operational reports over the fixture graph, and the
  * pluggable workbook source round-trip (CSV and parquet from disk must
  * produce the same graph as the in-memory sheets).
  */
class ViewsAndSourcesSpec extends SparkTestBase {

  private lazy val store = Refresh.refresh(
    SyntheticWorkbook.seededStore(spark), SyntheticWorkbook.golden(spark))

  test("typed views lift props to columns") {
    val v = GraphViews.vms(store).collect()
    assert(v.length == 3)
    val web = v.find(r => r.getAs[String]("name") == "web01").get
    assert(web.getAs[String]("fqdn") == "web01.acme.local")
    assert(GraphViews.hosts(store).count() == 2)
    assert(GraphViews.clusters(store).filter(col("ha") === "True").count() == 1)
  }

  test("typed Dataset views expose compile-checked fields with cast numerics") {
    val vms = GraphViews.vmsTyped(store).collect()
    assert(vms.length == 3)
    val web = vms.find(_.name == "web01").get
    assert(web.fqdn == "web01.acme.local" && web.cpus.exists(_ > 0))
    // typed lambda on the Dataset — the point of the typed view.
    assert(GraphViews.hostsTyped(store).filter(_.memoryMb.exists(_ > 0)).count() == 2)
    val ds = GraphViews.datastoresTyped(store).collect()
    assert(ds.forall(d => d.capacityMb.exists(_ > 0)))
    assert(ds.map(_.name).sorted.toSeq == Seq("ds-local-01", "ds-shared-01"))
  }

  test("snapshot report joins snapshots to their VMs") {
    val rep = GraphViews.snapshotReport(store).collect()
    assert(rep.length == 1)
    assert(rep.head.getAs[String]("vm_name") == "db01")
    assert(rep.head.getAs[Long]("size_mb") == 8192L)
  }

  test("datastore report computes utilization and host fanout") {
    val rep = GraphViews.datastoreReport(store).orderBy("name").collect()
    assert(rep.map(_.getAs[String]("name")).toSeq == Seq("ds-local-01", "ds-shared-01"))
    val shared = rep(1)
    assert(shared.getAs[Long]("n_hosts_connected") == 2)
    assert(shared.getAs[Double]("utilization") == 0.5)
  }

  test("vm placement resolves direct and via-pool cluster membership") {
    val p = GraphViews.vmPlacement(store)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // vm1/vm2 sit in pools members of Cluster1; vm3 wired directly to Cluster2.
    assert(p == Set(("web01", "Cluster1"), ("db01", "Cluster1"), ("tmpl01", "Cluster2")))
  }

  test("workbook round-trips through CSV and parquet sources identically") {
    val golden = SyntheticWorkbook.golden(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_wb").toString
    Workbook.SheetNames.foreach { s =>
      val df = golden(s).drop("_rowno").coalesce(1)
      df.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv_$s")
      df.write.mode("overwrite").parquet(s"$tmp/pq_$s")
      // the loaders expect <dir>/<sheet>.<ext> as a file or directory
      new java.io.File(s"$tmp/csv_$s").renameTo(new java.io.File(s"$tmp/$s.csv"))
      new java.io.File(s"$tmp/pq_$s").renameTo(new java.io.File(s"$tmp/$s.parquet"))
    }
    val fromCsv = Refresh.refresh(SyntheticWorkbook.seededStore(spark),
      Workbook.loadCsvDir(spark, tmp))
    val fromPq = Refresh.refresh(SyntheticWorkbook.seededStore(spark),
      Workbook.loadParquetDir(spark, tmp))
    // same node/edge sets as the in-memory fixture graph.
    def nodeKeys(s: Refresh.GraphStore) =
      s.nodes.select("label", "key").collect().map(r => (r.getString(0), r.getString(1))).toSet
    def edgeCount(s: Refresh.GraphStore) = s.edges.count()
    assert(nodeKeys(fromCsv) == nodeKeys(store))
    assert(nodeKeys(fromPq) == nodeKeys(store))
    assert(edgeCount(fromCsv) == edgeCount(store))
    assert(edgeCount(fromPq) == edgeCount(store))
  }

  test("workbook round-trips through a real .xlsx file") {
    val golden = SyntheticWorkbook.golden(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_xlsx").toString
    val path = s"$tmp/rvtools.xlsx"
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.orderBy("_rowno").drop("_rowno").collect()
        .map(_.toSeq.map { case s: String if s.nonEmpty => s; case _ => null }).toSeq
    graft.fixtures.XlsxFixture.write(path, Workbook.SheetNames.map { s =>
      (s, golden(s).drop("_rowno").columns.toSeq, rowsOf(golden(s)))
    })
    val loaded = Workbook.loadXlsx(spark, path)
    // cell-exact: every sheet's header and ordered rows survive the trip.
    Workbook.SheetNames.foreach { s =>
      assert(loaded(s).drop("_rowno").columns.toSeq ==
        golden(s).drop("_rowno").columns.toSeq, s"header mismatch in $s")
      assert(rowsOf(loaded(s)) == rowsOf(golden(s)), s"rows mismatch in $s")
    }
    // and the refreshed graph is identical to the in-memory fixture's.
    val fromXlsx = Refresh.refresh(SyntheticWorkbook.seededStore(spark), loaded)
    val keys = fromXlsx.nodes.select("label", "key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val storeKeys = store.nodes.select("label", "key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(keys == storeKeys)
    assert(fromXlsx.edges.count() == store.edges.count())
  }

  test("xlsx reader handles booleans, rich-text runs, sparse cells, missing sheets") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val tmp = java.nio.file.Files.createTempDirectory("graft_xlsx2").toString
    val path = s"$tmp/edge.xlsx"
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val nsr = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def part(n: String, c: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    part("[Content_Types].xml",
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/></Types>""")
    part("_rels/.rels",
      s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$nsr/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    part("xl/workbook.xml",
      s"""<workbook xmlns="$ns" xmlns:r="$nsr"><sheets><sheet name="vCluster" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$nsr/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="$nsr/sharedStrings" Target="sharedStrings.xml"/></Relationships>""")
    // rich-text run: two <r> fragments concatenate into one header string.
    part("xl/sharedStrings.xml",
      s"""<sst xmlns="$ns" count="3" uniqueCount="3"><si><r><t>VI SDK </t></r><r><t>UUID</t></r></si><si><t>Name</t></si><si><t>HA enabled</t></si></sst>""")
    // row 2: boolean TRUE, sparse Name (missing cell), VALUELESS boolean
    // in D (must stay absent, not become FALSE); row 3: boolean FALSE plus
    // a data cell BEYOND the header width (must widen, not truncate).
    part("xl/worksheets/sheet1.xml",
      s"""<worksheet xmlns="$ns"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>uuid-1</t></is></c><c r="C2" t="b"><v>1</v></c><c r="D2" t="b"/></row>""" +
        """<row r="3"><c r="A3" t="inlineStr"><is><t>uuid-2</t></is></c><c r="B3" t="inlineStr"><is><t>c2</t></is></c><c r="C3" t="b"><v>0</v></c><c r="D3" t="inlineStr"><is><t>extra</t></is></c></row>""" +
        "</sheetData></worksheet>")
    zos.close()
    val sheets = Workbook.loadXlsx(spark, path)
    val vc = sheets("vCluster").orderBy("_rowno").drop("_rowno")
    assert(vc.columns.toSeq == Seq("VI SDK UUID", "Name", "HA enabled", "_c3"))
    val rows = vc.collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq("uuid-1", null, "TRUE", null),
      Seq("uuid-2", "c2", "FALSE", "extra")))
    // the other 11 sheets are absent from the file → schema'd empty frames.
    assert(sheets("vInfo").count() == 0)
    assert(sheets("vInfo").columns.contains("VM UUID"))
  }

  test("store persists flat, key-sorted, reloads identically, filters push down") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").resolve("store").toString
    Refresh.write(Refresh.GraphStore(store.nodes.repartition(3), store.edges.repartition(3)), tmp)
    val back = Refresh.load(spark, tmp)
    // row for row; set ops need the props map as a sorted entries array.
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("props", array_sort(map_entries(col("props"))))
    Seq(back.nodes -> store.nodes, back.edges -> store.edges).foreach { case (x, y0) =>
      val y = y0.select(x.columns.map(col).toSeq: _*)
      assert(canon(x).exceptAll(canon(y)).isEmpty && canon(y).exceptAll(canon(x)).isEmpty)
    }
    // at most one file per partition of the written frame, no label
    // directories, and each file's rows in key order.
    def sortedFiles(table: String, key: Seq[String]): Unit = {
      val entries = new java.io.File(s"$tmp/$table").listFiles()
      assert(!entries.exists(_.isDirectory), entries.map(_.getName).mkString(", "))
      val files = entries.filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty && files.length <= 3, files.map(_.getName).mkString(", "))
      files.foreach { f =>
        val rows = spark.read.parquet(f.getPath).select(key.map(col): _*).collect()
          .map(r => (r.getString(0), r.getLong(1), if (key.size > 2) r.getLong(2) else 0L)).toSeq
        assert(rows == rows.sorted, s"${f.getName} is not sorted by ${key.mkString(", ")}")
      }
    }
    sortedFiles("nodes", Seq("label", "id"))
    sortedFiles("edges", Seq("relType", "src", "dst"))
    // a label filter reaches the parquet scan, whose row-group statistics
    // cover each file's label-contiguous runs.
    val hosts = back.nodes.filter(col("label") === "Vspherehost")
    val pushed = hosts.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(_.contains("EqualTo(label,Vspherehost)")), pushed.mkString("; "))
    assert(hosts.count() == 2)
  }

  test("Jsonl: corrupt lines quarantine, clean lines parse, shards round-trip") {
    import graft.ingest.Jsonl
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    // hand-written file with a torn line and a type-consistent good set.
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha", "shard": 0}""",
      """{"doc_id": 2, "text": "beta", "shard": 0}""",
      """{"doc_id": 3, "text": "gam""", // torn mid-object: must quarantine
      """{"doc_id": 4, "text": "delta", "shard": 1}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.LongType)))
    val (good, bad) = Jsonl.read(spark, dir, Some(schema))
    assert(good.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    val q = bad.as[String].collect()
    assert(q.length == 1 && q.head.contains("gam"), s"quarantine: ${q.toSeq}")
    // the INFERRING read over the same torn-line dir must not leak
    // Spark's session corrupt-record column as a data column in `good` —
    // quarantine info lives in the quarantine frame only.
    val (goodInf, badInf) = Jsonl.read(spark, dir)
    assert(!goodInf.columns.contains("_corrupt_record"),
      s"inferred schema leaked _corrupt_record: ${goodInf.columns.toSeq}")
    assert(goodInf.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    assert(badInf.count() == 1)
    // shard-partitioned gzip write → directory per shard, DuckDB-readable
    // layout, round-trips through the schema-less (inferring) read.
    val out = java.nio.file.Files.createTempDirectory("graft_jsonl_out").toString
    Jsonl.write(good, out, shardCol = Some("shard"))
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(shardDirs == Set("shard=0", "shard=1"))
    val (back, none) = Jsonl.read(spark, out)
    assert(none.isEmpty)
    assert(back.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
  }
}
