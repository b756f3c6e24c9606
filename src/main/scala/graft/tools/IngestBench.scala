package graft.tools

import graft.GraftSession
import graft.fixtures.{ScaledWorkbook, SyntheticWorkbook}
import graft.ingest.Refresh

/** Graph-ingest throughput benchmark (BASELINE.md): full mark→load→sweep
  * refresh of a range-generated RVTools workbook; reports input rows/sec
  * through the upsert kernel. `runMain graft.tools.IngestBench [nHosts nVms]`.
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
    println(f"""{"metric":"ingest_rows_per_sec","value":${inputRows / secs}%.0f,"input_rows":$inputRows,"nodes":$nodes,"edges":$edges,"sec":$secs%.2f}""")
    spark.stop()
  }
}
