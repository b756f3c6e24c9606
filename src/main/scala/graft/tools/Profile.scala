package graft.tools

import graft.GraftSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-query profiler — the §1 "measure first" harness.
  *
  * Runs named SparkEntry queries on the [[graft.GraftSession]] shape and
  * prints, per query, the seconds of the `count()` Bench times, split into
  * build (constructing the frame, with any eager checkpoint it runs), plan
  * (optimizing and physically planning the count, as `Dataset.count` does)
  * and exec (running that plan); then the job, Janino-compile and stage
  * counts and the top stages by duration with their shuffle read/write
  * volumes — the numbers that decide WHICH operator inside a multi-job
  * pipeline is the one to optimize. An argument "warm" runs each query twice and profiles the
  * second run (isolates plan shape from codegen/JIT).
  *
  * Then it lists every query the profiled run executed, in order (eager
  * checkpoints, `rdd` conversions such as GraphX inputs, and table
  * writes report as their own queries): its action, its duration and how many shuffle and
  * broadcast query stages adaptive execution ran for it, a stage that
  * reuses another's exchange not counted. AQE runs each query stage as a
  * job of its own whose call site is a CompletableFuture frame, not
  * graft code, so this list is what names the operator that owns those
  * jobs: stage jobs ≈ the summed stage counts.
  *
  * Run: sbt 'runMain graft.tools.Profile q_m5_edge_props warm'
  */
object Profile {
  private case class StageRow(id: Int, name: String, ms: Long,
      taskMs: Long, cpuMs: Long, gcMs: Long, shRead: Long, shWrite: Long,
      records: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warm = args.contains("warm")
    val names = args.filterNot(_ == "warm").toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(0L)
        val m = si.taskMetrics
        val graftFrame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.tools"))
          .getOrElse(si.name.takeWhile(_ != '\n')).trim
        stages.add(StageRow(si.stageId, graftFrame, ms,
          m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = {
        val (sh, bc) = queryStages(qe.executedPlan)
        queries.add(f"$action%-16s ${ns / 1e9}%6.2fs shuffleStages=$sh%d broadcastStages=$bc%d")
        ()
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)

    // same inter-query hygiene as Bench: drop finished queries'
    // persisted RDDs so a multi-query profile batch doesn't charge
    // later queries for earlier queries' dead checkpoint blocks.
    def release(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      release()
      if (warm) { fn(spark, sfDir).count(); release() }
      stages.clear(); jobs.set(0); queries.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val counted = fn(spark, sfDir).groupBy().count()
      val t1 = System.nanoTime()
      counted.queryExecution.executedPlan
      val t2 = System.nanoTime()
      counted.collect()
      val t3 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      def secs(a: Long, b: Long) = (b - a) / 1e9
      Thread.sleep(400) // let the listener bus drain
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_.ms)
      println(f"%n========== $n%s  wall=${secs(t0, t3)}%.2fs build=${secs(t0, t1)}%.2fs " +
        f"plan=${secs(t1, t2)}%.2fs exec=${secs(t2, t3)}%.2fs " +
        f"jobs=${jobs.get}%d compiles=$compiles%d stages=${rows.size}%d " +
        f"stageMsSum=${rows.map(_.ms).sum}%d")
      rows.take(14).foreach { r =>
        println(f"  stage ${r.id}%4d ${r.ms}%6dms task=${r.taskMs}%6dms cpu=${r.cpuMs}%6dms gc=${r.gcMs}%5dms shR=${r.shRead}%9d shW=${r.shWrite}%9d rec=${r.records}%9d  ${r.name.take(80)}%s")
      }
      println(s"  queries=${queries.size}")
      queries.asScala.zipWithIndex.foreach { case (q, i) => println(f"  query $i%3d $q%s") }
    }
    spark.stop()
  }

  /** (shuffle, broadcast) query stages an executed plan ran: AQE's
    * final plan walked through its stages and subqueries; a stage that
    * wraps a `ReusedExchange` ran no job and is not counted.
    */
  private def queryStages(p: SparkPlan): (Int, Int) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => Nil
      }
      p +: (p.children ++ p.subqueries ++ inner).flatMap(walk)
    }
    val ran = walk(p).collect {
      case s: QueryStageExec if !s.plan.isInstanceOf[ReusedExchangeExec] => s
    }
    (ran.count(_.isInstanceOf[ShuffleQueryStageExec]),
      ran.count(_.isInstanceOf[BroadcastQueryStageExec]))
  }
}
