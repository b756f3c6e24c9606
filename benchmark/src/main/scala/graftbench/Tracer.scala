package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's layers.
  *
  * A span records its name, start, end, parent and operation, plus the
  * change of these counters over its interval:
  *  - `jobs`, `exec_cpu_s`, `exec_run_s`, `shuffle_write_mb` from a
  *    SparkListener (job starts; task CPU, run time and shuffle bytes);
  *  - `plan_s`, the analysis + optimization + planning phases of every
  *    query that ran, from a QueryExecutionListener's planning tracker;
  *  - `codegen_compiles` and `codegen_compile_s`, the JVM-wide Janino
  *    compile count and compile time;
  *  - `gc_s`, JVM garbage-collection time.
  *
  * Listeners are attached only while a traced operation runs, so an
  * untraced operation pays nothing. Spans stay in memory until [[toJson]].
  */
final class Tracer(spark: SparkSession, workload: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs, cpuNs, runMs, shuffleBytes, planMs = new AtomicLong

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      planMs.addAndGet(Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
  }

  private val spans = ArrayBuffer.empty[Span]
  private var parents: List[Int] = Nil
  private var active = false
  private var opId = -1
  private val origin = System.nanoTime()

  private def counters(): Map[String, Double] = {
    ListenerBusAccess.drain(sc)
    Map(
      "jobs" -> jobs.get.toDouble,
      "exec_cpu_s" -> cpuNs.get / 1e9,
      "exec_run_s" -> runMs.get / 1e3,
      "shuffle_write_mb" -> shuffleBytes.get / 1e6,
      "plan_s" -> planMs.get / 1e3,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
      "gc_s" -> gcSeconds())
  }

  /** Runs operation `id`, traced or not; returns its result and wall seconds. */
  def operation[A](id: Int, traced: Boolean)(body: => A): (A, Double) = {
    opId = id
    if (traced) {
      sc.addSparkListener(taskListener)
      spark.listenerManager.register(queryListener)
      active = true
    }
    try {
      val t0 = System.nanoTime()
      val result = span(workload)(body)
      (result, (System.nanoTime() - t0) / 1e9)
    } finally if (traced) {
      active = false
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(taskListener)
      spark.listenerManager.unregister(queryListener)
    }
  }

  /** A span named after the layer function the body calls. */
  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val before = counters()
      val id = spans.size
      spans += null
      val parent = parents.headOption.getOrElse(-1)
      parents = id :: parents
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val delta = counters().map { case (k, v) => k -> (v - before(k)) }
        parents = parents.tail
        spans(id) = Span(id, name, parent, opId, t0 - origin, t1 - origin, delta)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  def toJson: String = spans.map { s =>
    val c = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"workload":"$workload",""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$c}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long, counters: Map[String, Double]) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
