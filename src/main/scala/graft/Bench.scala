package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: times every SparkEntry query at the given SF and
  * prints ONE JSON line. Each query runs twice — the first (cold) timing
  * includes plan analysis + codegen + JIT (~0.5 s/query on this box, see
  * BASELINE.md), the second (warm) isolates the execution plan itself, so
  * a plan regression can't hide under compilation noise. `value` stays the
  * cold total for cross-round comparability; warm numbers ride alongside.
  */
object Bench {
  /** 1-minute load average from /proc/loadavg (-1.0 where unavailable).
    * Recorded at start AND end of the run so a future reader can
    * adjudicate drift without re-running: external host load arriving
    * mid-run inflates per-query lines non-uniformly (the recorded
    * contention signature), and a total from a loaded box is an upper
    * bound, not a regression.
    */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // NonFatal only: an OOM/JVM error must crash the run, not masquerade
    // as a -1 entry. A cold failure records its message on stderr and
    // skips the warm run (double-reporting one broken query as two -1s
    // would mask the root cause).
    // Inter-query hygiene (r15, OUTSIDE the timed region): queries
    // materialize intermediates with eager localCheckpoint, whose blocks
    // stay pinned in the block manager until the referencing DataFrames
    // are GC'd — across 320 sequential queries that accumulates GBs of
    // dead blocks in the shared local-mode JVM, and the resulting memory
    // pressure/evictions slowed LATER queries 2–3× versus standalone
    // runs of the same query (q_x_multimodal_dedup 12.0 s in-bench vs
    // 4.3 s standalone at the same commit). Dropping finished queries'
    // persisted RDDs between timings removes that cross-query
    // interference; each query still computes from the parquet inputs
    // (nothing is reused — this releases state, it never carries any).
    def release(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    def time(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          release()
          return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      dt
    }
    // sorted run order: per-query timings stay comparable across rounds
    // (map iteration order would shuffle which query pays the first-run
    // JIT spike).
    // SPARK_GRAFT_BENCH_PASSES=1 skips the warm pass (the large-SF
    // full-suite sanity run is cold-only by design — at 10× data the
    // warm pass doubles an hour-long run for no extra signal; warm is
    // reported as -1 so the JSON stays schema-stable).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2")
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cold = time(name, fn)
      name -> (cold,
        if (cold < 0 || passes == "1") -1.0 else time(name, fn)) // (cold, warm)
    }
    def fmt(sel: ((Double, Double)) => Double) = results
      .map { case (k, v) => s"\"" + k + "\":" + sel(v) }.mkString("{", ",", "}")
    val cold = results.map(_._2._1).sum
    val warm = results.map(_._2._2).sum
    val loadEnd = loadAvg()
    val full = s"""{"metric":"total","value":$cold,"unit":"sec","queries":${fmt(_._1)},""" +
      s""""warm_total":$warm,"queries_warm":${fmt(_._2)},"sf":"$sfDir",""" +
      s""""load_start":$loadStart,"load_end":$loadEnd}"""
    println(full)
    // A reader that keeps only a bounded tail of this output truncates the
    // full line above (~15 KB for 320 queries) from the left, so:
    //  1. the full per-query JSON is ALSO written to a file
    //     (SPARK_GRAFT_BENCH_OUT, default ./bench_out.json) so any capture
    //     size can recover per-query numbers;
    //  2. a SHORT line (same schema minus the two per-query maps, ~200
    //     chars) is printed after spark.stop(), so it is the last line on
    //     stdout and a bounded tail always holds one complete JSON line.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(full) finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    println(s"""{"metric":"total","value":$cold,"unit":"sec","n":${results.size},""" +
      s""""warm_total":$warm,"sf":"$sfDir","bench_out":"$outPath",""" +
      s""""load_start":$loadStart,"load_end":$loadEnd}""")
  }
}
