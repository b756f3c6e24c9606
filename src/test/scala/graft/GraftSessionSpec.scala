package graft

import graft.llmops.PortableHash
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The suite runs on the harnesses' session shape: if the test session and
  * `GraftSession` drift apart, tests stop checking what Bench and Verify run.
  */
class GraftSessionSpec extends SparkTestBase {

  test("the test session carries every GraftSession setting but its shuffle-partition count") {
    val differing = GraftSession.settings.collect {
      case (k, v) if k != "spark.sql.shuffle.partitions" && spark.conf.getOption(k) != Some(v) =>
        s"$k: ${spark.conf.getOption(k)} (GraftSession: $v)"
    }
    assert(differing.isEmpty, differing.mkString("; "))
    // the same settings, seen through what they do
    assert(spark.sql("SELECT graft_hash52('graft')").head().getLong(0) ==
      PortableHash.hash52Jvm("graft"))
    assert(spark.range(10).groupBy().count().queryExecution.executedPlan
      .isInstanceOf[AdaptiveSparkPlanExec])
    assert(spark.sql("SELECT unix_seconds(TIMESTAMP '1970-01-01 00:00:00')").head().getLong(0) == 0L)
  }
}
