package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Count Spark jobs triggered while `body` runs — the laziness gauge
    * for "constructing this frame costs zero actions" assertions.
    * Waits for the listener bus to quiesce (two stable readings) before
    * reporting, so asynchronous event delivery can't under-count.
    */
  def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      var prev = -1
      var cur = jobs.get()
      var rounds = 0
      while (prev != cur && rounds < 20) {
        Thread.sleep(150); prev = cur; cur = jobs.get(); rounds += 1
      }
      (a, cur)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkTestBase {
  /** The harnesses' session shape; a fixed shuffle-partition count keeps
    * plan shapes and job counts the same on every host. */
  lazy val session: SparkSession = GraftSession.builder()
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
}
