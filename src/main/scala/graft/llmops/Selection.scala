package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data selection by hashed n-gram importance — the DSIR shape (Xie et
  * al., "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): score every raw document by how much its hashed n-gram
  * profile looks like a small TARGET corpus (the domain you want more of)
  * versus the raw corpus itself, then keep the top of the ranking.
  *
  * Faithful to DSIR's structure — hashed n-gram features, add-one
  * smoothed bucket models for target and raw, per-document accumulation
  * over feature occurrences — with ONE deliberate substitution: the
  * per-bucket log-probability-ratio `ln(p_t[b]/p_r[b])` becomes the
  * SCALED INTEGER probability ratio `floor(SCALE · p_t[b]/p_r[b])`, and
  * documents aggregate the MEAN bucket weight instead of the sum of
  * logs. Why: a float `ln` differs in the last ulp across libm
  * implementations and a float SUM depends on partition order — either
  * would break the engine's value-exact oracle contract. The integer
  * form keeps the same "which buckets does the target over-represent"
  * signal, is monotone per bucket in the true ratio, and makes the whole
  * pipeline deterministic and engine-portable. (The substitution is NOT
  * order-equivalent to DSIR's log-sum — a document dominated by one
  * extreme bucket ranks higher here than under the log — documented, not
  * hidden.)
  *
  * Scale: both bucket-count aggregations are one groupBy each (buckets,
  * not vocabulary — `nBuckets` rows out); the weight table is
  * nBuckets-sized and BROADCASTS; scoring is one narrow pass over raw
  * gram occurrences. Nothing quadratic, nothing driver-side. Count
  * arithmetic runs in plain longs for corpora up to ~10¹² grams per
  * side and AUTOMATICALLY lifts to DECIMAL(38,0) beyond that
  * ([[importanceWeightsFromCounts]]) — every operation used (×, DIV)
  * is exact in both forms, so the weights stay value-identical across
  * engines at any corpus size.
  */
object Selection {

  /** Per-bucket integer importance weights from target vs raw gram
    * counts: `w[b] = floor(scale · (c_t[b]+1)·(N_r+B) / ((c_r[b]+1)·(N_t+B)))`
    * — the add-one-smoothed probability ratio, scaled to an exact long.
    * Buckets unseen in BOTH corpora get weight `scale` (ratio 1) only if
    * probed; the table contains every bucket seen in either corpus.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String,
      n: Int = 2, nBuckets: Int = 8192, scale: Long = 1000000L): DataFrame = {
    require(n >= 1 && nBuckets >= 1 && scale >= 1)
    def buckets(df: DataFrame): DataFrame =
      Dedup.portableShingleRows(df, idCol, textCol, n)
        .select(pmod(col("s"), lit(nBuckets.toLong)).as("bucket"))
    // distinct-per-doc shingles (the minhash index unit) keep a spammy
    // document from dominating a bucket — same robustness choice DSIR's
    // hashed features make by construction.
    val cr = buckets(raw).groupBy("bucket").agg(count(lit(1)).as("c_r"))
    val ct = buckets(target).groupBy("bucket").agg(count(lit(1)).as("c_t"))
    val nr = cr.agg(sum("c_r")).first().getLong(0)
    val nt = ct.agg(coalesce(sum("c_t"), lit(0L))).first().getLong(0)
    importanceWeightsFromCounts(
      cr.join(ct, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("c_r"), lit(0L)).as("c_r"),
          coalesce(col("c_t"), lit(0L)).as("c_t")),
      nr, nt, nBuckets, scale)
  }

  /** The weight arithmetic of [[importanceWeights]] over an already-built
    * per-bucket count frame (bucket, c_r, c_t) — split out so the 100 TB
    * count range is testable without generating 2^40 gram rows.
    *
    * Two exact integer forms, chosen by the totals:
    *   - long path (both totals < 2^40): `scale·(c_t+1)·(nr+B)` stays
    *     under 2^63 for the default 10^6 scale, so plain long DIV;
    *   - DECIMAL(38,0) path (either total ≥ 2^40): operands lift to
    *     decimal before the products — `scale·(c_t+1)·(nr+B)` at
    *     corpus scale is ~10^6·10^13·10^14 ≈ 10^33 < 10^38, inside
    *     DECIMAL(38,0), and Catalyst's IntegralDivide on decimals is
    *     exact (as is DuckDB's HUGEINT `//`), so the weights stay
    *     value-identical across engines with no float anywhere.
    * Both paths emit the same long-typed `w` (the RATIO is always
    * small — bounded by scale·(c_t+1), with c_t ≤ nt per bucket — even
    * when the intermediate products are not).
    */
  def importanceWeightsFromCounts(counts: DataFrame, nr: Long, nt: Long,
      nBuckets: Int, scale: Long = 1000000L): DataFrame = {
    require(nr >= 0 && nt >= 0 && nBuckets >= 1 && scale >= 1)
    require(nr <= Long.MaxValue - nBuckets && nt <= Long.MaxValue - nBuckets)
    val longSafe = nr < (1L << 40) && nt < (1L << 40)
    val base = counts.select(col("bucket"), col("c_r"), col("c_t"))
    val weighted =
      if (longSafe)
        // integer DIV, not double division: products stay in long range
        // (guarded above) and both engines' integer division is exact, so
        // the weights carry no float at all.
        base
          .withColumn("__num", lit(scale) * (col("c_t") + lit(1L)) * lit(nr + nBuckets))
          .withColumn("__den", (col("c_r") + lit(1L)) * lit(nt + nBuckets))
          .withColumn("w", expr("__num DIV __den"))
      else {
        val dec = (c: Column) => c.cast("decimal(38,0)")
        base
          .withColumn("__num",
            dec(lit(scale)) * dec(col("c_t") + lit(1L)) * dec(lit(nr + nBuckets)))
          .withColumn("__den", dec(col("c_r") + lit(1L)) * dec(lit(nt + nBuckets)))
          .withColumn("w", expr("__num DIV __den").cast("long"))
      }
    weighted.drop("__num", "__den")
  }

  /** Score raw documents against a weight table: mean bucket weight over
    * the document's distinct hashed n-grams, as an exact integer
    * (`floor(Σw / n_grams)`). Docs with no grams score 0. A gram whose
    * bucket is ABSENT from the table (scoring documents the weights were
    * not trained on) weighs `defaultW` — ratio 1 at the default scale —
    * rather than silently dropping out of both the sum and the
    * denominator. The weight table broadcasts; the corpus never shuffles
    * except the per-doc agg.
    */
  def importanceScores(raw: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, n: Int = 2, nBuckets: Int = 8192,
      defaultW: Long = 1000000L): DataFrame = {
    val grams = Dedup.portableShingleRows(raw, idCol, textCol, n)
      .select(col("doc"), pmod(col("s"), lit(nBuckets.toLong)).as("bucket"))
    val scored = grams
      .join(broadcast(weights.select(col("bucket"), col("w"))), Seq("bucket"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("w"), lit(defaultW))).as("w_sum"))
      .withColumn("score", expr("w_sum DIV n_grams"))
    raw.select(col(idCol).as("doc"))
      .join(scored, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("w_sum"), lit(0L)).as("w_sum"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Keep EXACTLY `floor(n · keepBps / 10000)` documents — the top of the
    * (score DESC, doc ASC) ranking — without a global sort and without a
    * single-partition window (the resampling half of the DSIR shape,
    * with a budget instead of a threshold).
    *
    * Two phases, both scalable:
    *   1. per-score counts (a groupBy — distinct-scores-sized, ≪ corpus)
    *      get a top-down cumulative count via the bucketed two-pass
    *      cumsum (`score DIV width` groups: partitioned in-group window
    *      + broadcast per-group offsets) — even all-distinct scores
    *      never funnel through one partition;
    *   2. every row whose score clears the full-group threshold enters
    *      outright (one broadcast scalar compare); rows AT the boundary
    *      score rank by doc ASC within that single score group — a
    *      window over one tie group, bounded by the tie count — and
    *      fill the remainder.
    *
    * The corpus-size count and the two 1-row threshold frames are the
    * same bounded driver/broadcast actions the engine's other budgeted
    * operators use. Deterministic, and nested in `keepBps`: a bigger
    * budget only adds documents (the ranking is fixed).
    */
  def topShare(scored: DataFrame, keepBps: Int,
      groupWidth: Long = 1L << 20): DataFrame = {
    require(keepBps >= 0 && keepBps <= 10000)
    require(groupWidth >= 1)
    // four consumers hang off `scored` (the count, the score histogram,
    // the full-group filter, the boundary ranking) — materialize once or
    // its lineage executes once per consumer.
    val sc = scored.localCheckpoint(true)
    val n = sc.count()
    val k = n * keepBps / 10000
    if (k == 0) return sc.limit(0)
    val counts = sc.groupBy("score").agg(count(lit(1)).as("__c"))
      .withColumn("__g", expr(s"score DIV $groupWidth"))
    val inG = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val offW = org.apache.spark.sql.expressions.Window
      .orderBy(col("__g").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // per-group offsets: one row per score bucket — tiny, broadcast back.
    val offsets = counts.groupBy("__g").agg(sum("__c").as("__gc"))
      .withColumn("__off", coalesce(sum("__gc").over(offW), lit(0L)))
      .select("__g", "__off")
    val cum = counts
      .withColumn("__cumIn", sum("__c").over(inG))
      .join(broadcast(offsets), Seq("__g"))
      .withColumn("__cum", col("__cumIn") + col("__off")) // rows at-or-above this score
    // smallest score whose whole group fits inside k (null if none).
    val tFull = cum.filter(col("__cum") <= k).agg(min("score").as("__tfull"))
    // the one score group straddling the budget (empty if k lands on a
    // group boundary), with how many of its ties still fit.
    val boundary = cum.filter(col("__cum") > k && col("__cum") - col("__c") < k)
      .select(col("score").as("__tb"), (lit(k) - (col("__cum") - col("__c"))).as("__need"))
    val fullIn = sc.crossJoin(broadcast(tFull))
      .filter(col("score") >= col("__tfull")).drop("__tfull")
    val tieW = org.apache.spark.sql.expressions.Window
      .partitionBy("score").orderBy(col("doc").asc)
    val boundaryIn = sc.join(broadcast(boundary), col("score") === col("__tb"))
      .withColumn("__rn", row_number().over(tieW))
      .filter(col("__rn") <= col("__need"))
      .drop("__tb", "__need", "__rn")
    fullIn.unionByName(boundaryIn)
  }
}
