package graft.tools

import graft.GraftSession
import graft.llmops.{PortableHash, RewardFit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reward-fit evaluation harness (VERDICT r12 item 4 — the
  * SearchBench/AnnBench discipline applied to the preference loop):
  * before trusting [[RewardFit.bradleyTerry]] strengths to label
  * best-of-n data, measure what they actually predict.
  *
  * Protocol: a planted 40-item tournament with TRUE strengths
  * s_i = i + 1; each judgment row draws its pair and its outcome from
  * seeded PortableHash uniforms (winner ~ Bernoulli(s_a/(s_a+s_b)) —
  * real preference noise, not a deterministic walk). Judgments split
  * 80/20 train/held-out by hash. For each MM round count we fit on the
  * train slice and report:
  *
  *   - held-out pair accuracy (predict the higher fitted strength,
  *     ties to the smaller item — against the observed noisy outcome);
  *   - the Bayes ceiling E[max(p, 1−p)] over the same held-out pairs
  *     (no fit can beat it — context for the absolute numbers);
  *   - the strength-gap → accuracy curve (held-out pairs bucketed by
  *     fitted-strength ratio): the calibration evidence that a LARGER
  *     fitted gap really is a more reliable preference.
  *
  * Runs at 1× and `factor`× the judgment volume (same items — more
  * judgments per pair must sharpen accuracy toward the ceiling).
  * Emits one markdown table (stderr) + one JSON line (stdout) for
  * BASELINE.md; the default `iterations = 3` stands or falls by this
  * table.
  *
  * Run: sbt 'runMain graft.tools.RewardBench
  *   /root/testdata/sf0.1 10'
  */
object RewardBench {

  private val Items = 40

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** One judgment per (doc_id, rep): pair from hashes, outcome from a
      * Bernoulli draw at the true BT probability — all integer
      * arithmetic on PortableHash uniforms.
      */
    def judgments(f: Int): DataFrame = {
      val docs = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id")
        .crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("doc_id") * f + col("rep")).as("jid"))
      val h1 = PortableHash.hash52(concat(lit("rb:a:"), col("jid")))
      val h2 = PortableHash.hash52(concat(lit("rb:b:"), col("jid")))
      val hu = PortableHash.hash52(concat(lit("rb:u:"), col("jid")))
      docs
        .withColumn("a", h1 % Items)
        .withColumn("b0", h2 % (Items - 1))
        .withColumn("b", when(col("b0") >= col("a"), col("b0") + 1)
          .otherwise(col("b0")))
        .withColumn("sa", col("a") + 1L)
        .withColumn("sb", col("b") + 1L)
        // u in [0, 2^20); winner = a iff u * (sa+sb) < sa * 2^20
        .withColumn("u", hu % (1L << 20))
        .withColumn("winner", when(
          col("u") * (col("sa") + col("sb")) < col("sa") * (1L << 20),
          col("a")).otherwise(col("b")))
        .withColumn("loser", when(col("winner") === col("a"), col("b"))
          .otherwise(col("a")))
        .withColumn("holdout",
          PortableHash.hash52(concat(lit("rb:h:"), col("jid"))) % 5 === 0)
        .select("jid", "a", "b", "sa", "sb", "winner", "loser", "holdout")
    }

    def pct(x: Double): String = f"${x * 100}%.1f%%"

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    val json = new StringBuilder("{\"metric\":\"reward_bench\",\"runs\":[")
    var first = true
    Seq(1, factor).foreach { f =>
      val j = judgments(f).cache()
      val train = j.filter(!col("holdout"))
      val held = j.filter(col("holdout"))
        .select("a", "b", "sa", "sb", "winner").cache()
      val nHeld = held.count().toDouble
      // Bayes ceiling: E[max(p, 1-p)] with p = sa/(sa+sb)
      val ceiling = held
        .select((greatest(col("sa"), col("sb")).cast("double") /
          (col("sa") + col("sb")).cast("double")).as("pmax"))
        .agg(avg("pmax")).head().getDouble(0)
      Seq(1, 2, 3, 5, 8).foreach { iters =>
        val t0 = System.nanoTime()
        val fit = RewardFit.bradleyTerry(train, "winner", "loser",
          iterations = iters).cache()
        fit.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val scored = held
          .join(fit.select(col("item").as("a"), col("strength_micro").as("wa")),
            Seq("a"))
          .join(fit.select(col("item").as("b"), col("strength_micro").as("wb")),
            Seq("b"))
          .withColumn("pred", when(col("wa") > col("wb"), col("a"))
            .when(col("wb") > col("wa"), col("b"))
            .otherwise(least(col("a"), col("b"))))
          .withColumn("hit", (col("pred") === col("winner")).cast("long"))
          .withColumn("ratio",
            greatest(col("wa"), col("wb")).cast("double") /
              greatest(least(col("wa"), col("wb")).cast("double"), lit(1.0)))
          .cache()
        val acc = scored.agg(avg("hit")).head().getDouble(0)
        // strength-gap → accuracy curve (fitted-ratio buckets)
        val curve = scored
          .withColumn("bucket",
            when(col("ratio") < 1.5, "[1.0,1.5)")
              .when(col("ratio") < 2.0, "[1.5,2.0)")
              .when(col("ratio") < 3.0, "[2.0,3.0)")
              .when(col("ratio") < 5.0, "[3.0,5.0)")
              .otherwise(">=5.0"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), avg("hit").as("acc"))
          .orderBy("bucket")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        val curveStr = curve
          .map { case (b, n, a) => s"$b ${pct(a)} (n=$n)" }.mkString("; ")
        rows += f"| ${f}x | $iters | ${pct(acc)} | ${pct(ceiling)} | " +
          f"${nHeld.toLong} | $secs%.1f s | $curveStr |"
        if (!first) json ++= ","
        first = false
        json ++= s"""{"factor":$f,"iters":$iters,"acc":$acc,""" +
          s""""ceiling":$ceiling,"n_held":${nHeld.toLong},"secs":$secs}"""
        scored.unpersist(); fit.unpersist()
      }
      held.unpersist(); j.unpersist()
    }
    System.err.println(
      "| judgments | MM iters | held-out acc | Bayes ceiling | n held | fit time | gap→acc curve |")
    System.err.println("|---|---|---|---|---|---|---|")
    rows.foreach(System.err.println)
    json ++= "]}"
    println(json.toString)
    spark.stop()
  }
}
