package graft.tools

import graft.GraftSession
import graft.fixtures.{ScaledWorkbook, SyntheticWorkbook}
import graft.ingest.Refresh
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._

/** Graph-ingest throughput benchmark (BASELINE.md): full mark→load→sweep
  * refresh of a range-generated RVTools workbook; reports input rows/sec
  * through the upsert kernel, then times the persist step — `Refresh.write`
  * of the refreshed store to a temp directory, reloaded and counted — and
  * reports the store's parquet file count and bytes.
  * `runMain graft.tools.IngestBench [nHosts nVms]`.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val nHosts = if (args.length > 0) args(0).toInt else 500
    val nVms = if (args.length > 1) args(1).toInt else 20000
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wb = ScaledWorkbook.build(spark, nHosts, nVms)
    val inputRows = wb.values.map(_.count()).sum
    val t0 = System.nanoTime()
    val store = Refresh.refresh(SyntheticWorkbook.seededStore(spark), wb)
    val nodes = store.nodes.count()
    val edges = store.edges.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val dir = java.nio.file.Files.createTempDirectory("graft_ingestbench")
    val path = dir.resolve("store").toString
    val t1 = System.nanoTime()
    Refresh.write(store, path)
    val writeSecs = (System.nanoTime() - t1) / 1e9
    val back = Refresh.load(spark, path)
    val (backNodes, backEdges) = (back.nodes.count(), back.edges.count())
    require(backNodes == nodes && backEdges == edges,
      s"reloaded store has $backNodes nodes and $backEdges edges, the refresh gave $nodes and $edges")
    val files = FileUtils.listFiles(dir.toFile, Array("parquet"), true).asScala
    println(f"""{"metric":"ingest_rows_per_sec","value":${inputRows / secs}%.0f,"input_rows":$inputRows,"nodes":$nodes,"edges":$edges,"sec":$secs%.2f,"write_sec":$writeSecs%.2f,"store_files":${files.size},"store_bytes":${files.map(_.length).sum}}""")
    spark.stop()
    FileUtils.deleteDirectory(dir.toFile)
  }
}
