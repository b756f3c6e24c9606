package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  *   base-store --work DIR --base DIR
  *       writes the four-vCenter base store and its facts under --base
  *       (once per build: one refresh costs a minute or more cold);
  *   run --workload W --seed N --seconds S --trace 0|1 --work DIR --base DIR
  *       --out FILE [--trace-file F]
  *       sets the workload up `setupReps` times (timing each; the first
  *       pays the JVM's cold start, so `setup_s` is the median CPU time of
  *       the others), then runs a closed loop — one client, operations back to
  *       back — until S seconds have passed and at least one operation ran,
  *       and writes one JSON object to FILE. The first operation is the
  *       first of its kind in a fresh JVM, as in a spark-submit.
  */
object BenchMain {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-benchmark")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = new File(opt("work")).getAbsolutePath
    val base = new File(opt("base")).getAbsolutePath
    val spark = session(work)
    try mode match {
      case "base-store" => Workloads.buildBaseStore(spark, work, base)
      case "run" =>
        val json = run(spark, opt("workload"), opt("seed").toLong, work, base,
          opt("seconds").toDouble, opt("trace") == "1", opts.get("trace-file"))
        val w = new PrintWriter(opt("out"), "UTF-8")
        try w.println(json) finally w.close()
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(spark: SparkSession, workload: String, seed: Long, work: String, base: String,
      seconds: Double, trace: Boolean, traceFile: Option[String]): String = {
    val w = Workloads(workload, spark, seed, work, base)
    def log(msg: String): Unit = System.err.println(
      f"[benchmark] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs into the JVM: $msg")
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // (wall, CPU) seconds of each set-up
    val setupTimes = (1 to w.setupReps).map { _ =>
      val (t0, cpu0) = (System.nanoTime(), os.getProcessCpuTime)
      w.setup()
      ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9)
    }
    log(s"set up ${w.setupReps} times (wall/CPU s): " +
      setupTimes.map { case (wall, cpu) => f"$wall%.3f/$cpu%.3f" }.mkString(" "))
    val tracer = new Tracer(spark, workload)
    val heap = new HeapWatch
    case class Op(wall: Double, cpu: Double, failures: Seq[String])
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val op = ops.size
      val cpu0 = os.getProcessCpuTime
      val record = try {
        val (result, wall) = tracer.operation(op, trace)(w.operation(op, tracer))
        val cpu = (os.getProcessCpuTime - cpu0) / 1e9
        Op(wall, cpu, w.check(op, result))
      } catch {
        case scala.util.control.NonFatal(e) =>
          Op(Double.NaN, Double.NaN, Seq(s"op $op: ${e.getClass.getName}: ${e.getMessage}"))
      }
      ops += record
      log(f"operation $op took ${record.wall}%.3fs")
      record.failures.foreach(f => System.err.println(s"[benchmark] FAIL $f"))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      heap.sample()
    }
    log("operations done")
    traceFile.foreach { f =>
      val out = new PrintWriter(f, "UTF-8")
      try out.print(tracer.toJson) finally out.close()
    }

    val metrics = ArrayBuffer[(String, Double)](
      // CPU rather than wall time: a set-up is a few seconds of short Spark
      // jobs, whose wall time moves with CPU steal from other tenants of
      // the host far more than its CPU time does
      "setup_s" -> median(setupTimes.drop(1).map(_._2)),
      "op_s" -> median(ops.map(_.wall).toSeq),
      "op_cpu_s" -> median(ops.map(_.cpu).toSeq),
      "peak_heap_mb" -> heap.peakMb,
      "data_mb" -> w.dataMb)
    if (trace) {
      val spans = tracer.recorded
      val roots = spans.filter(_.parent == -1)
      for (name <- spans.map(_.name).distinct if !roots.exists(_.name == name); m <- LayerMetrics) {
        val perOp = spans.filter(_.name == name).groupBy(_.op).values.map { ss =>
          if (m == "wall_s") ss.map(_.wallS).sum else ss.map(_.counters(m)).sum
        }.toSeq
        metrics += s"$name.$m" -> median(perOp)
      }
      metrics += "busy_frac" -> roots.map(_.counters("exec_run_s")).sum / (roots.map(_.wallS).sum * Cores)
      metrics += "gc_s" -> median(roots.map(_.counters("gc_s")))
      metrics += "span_coverage" -> median(roots.map { r =>
        spans.filter(_.parent == r.id).map(_.wallS).sum / r.wallS
      })
    }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val m = metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }
    val opsJson = ops.map(o => s"""{"wall_s":${num(o.wall)},"failures":${o.failures.map(str).mkString("[", ",", "]")}}""")
    val oracles = w.oracleChecks.map { case (lane, dir, sql) =>
      s"""{"lane":${str(lane)},"result":${str(dir)},"sql":${str(sql)}}"""
    }
    s"""{"metrics":{${m.mkString(",")}},"ops":${opsJson.mkString("[", ",", "]")},""" +
      s""""oracles":${oracles.mkString("[", ",", "]")}}"""
  }

  val LayerMetrics: Seq[String] = Seq("wall_s", "jobs", "exec_cpu_s", "shuffle_write_mb",
    "plan_s", "codegen_compiles", "codegen_compile_s")
}

/** Largest live heap: heap in use after the full collections requested
  * after each operation. Spark frees shuffle and broadcast blocks from a
  * cleaner thread once a collection has found them unreachable, so a second
  * collection follows a pause for that cleanup.
  */
final class HeapWatch {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1e6
}
