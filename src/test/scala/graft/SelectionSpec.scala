package graft

import graft.llmops.Selection
import org.apache.spark.sql.functions._

class SelectionSpec extends SparkTestBase {
  import spark.implicits._

  // raw = two dialects; target = the "cats" dialect only.
  private val raw = Seq(
    (1L, "cats purr softly cats nap daily"),
    (2L, "cats chase mice cats purr softly"),
    (3L, "trucks haul gravel trucks idle loudly"),
    (4L, "trucks brake hard gravel roads crumble"),
    (5L, "x") // single token: no 2-grams
  ).toDF("doc_id", "text")
  private val target = raw.filter(col("doc_id") <= 2L)

  private def scored = {
    val w = Selection.importanceWeights(raw, target, "doc_id", "text",
      n = 2, nBuckets = 1024)
    Selection.importanceScores(raw, "doc_id", "text", w, n = 2, nBuckets = 1024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
  }

  test("target-dialect documents outscore disjoint-vocabulary ones") {
    val s = scored
    assert(Seq(1L, 2L).map(s(_)._2).min > Seq(3L, 4L).map(s(_)._2).max,
      s"target docs must outrank: $s")
    assert(s(5L) == ((0L, 0L))) // no grams -> zero, not a missing row
    assert(s.size == 5)
  }

  test("weights are the exact scaled integer ratio (hand check)") {
    // one-doc corpora with a single shared gram: c_r = c_t = 1 for that
    // bucket, nr = nt = 1, so w = 10^6 * 2 * (1+B) / (2 * (1+B)) = 10^6.
    val one = Seq((1L, "a b")).toDF("doc_id", "text")
    val w = Selection.importanceWeights(one, one, "doc_id", "text",
      n = 2, nBuckets = 1024)
      .select("c_r", "c_t", "w").collect()
    assert(w.length == 1)
    assert(w.head.getLong(0) == 1L && w.head.getLong(1) == 1L)
    assert(w.head.getLong(2) == 1000000L)
  }

  test("unseen-bucket grams weigh defaultW instead of dropping out") {
    // weights trained on `raw`; score a NEW doc with fully unseen vocab.
    val w = Selection.importanceWeights(raw, target, "doc_id", "text",
      n = 2, nBuckets = 1024)
    val novel = Seq((99L, "zzz yyy xxx www")).toDF("doc_id", "text")
    val s = Selection.importanceScores(novel, "doc_id", "text", w,
      n = 2, nBuckets = 1024)
      .collect().map(r => (r.getLong(1), r.getLong(3))).head
    assert(s._1 == 3L)          // 3 bigrams counted, not dropped
    assert(s._2 == 1000000L)    // all-default mean = ratio 1
  }

  test("topShare keeps exactly floor(n*bps/10000), equals the naive ranking") {
    // 40 docs, many tied scores (score = doc % 4 style ties via repetition)
    val docs = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) "cats purr softly cats" else if (i % 4 == 1)
        "cats purr loudly here" else "trucks haul gravel roads")).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 4 === 0)
    val w = Selection.importanceWeights(docs, target, "doc_id", "text",
      n = 2, nBuckets = 512)
    val scored = Selection.importanceScores(docs, "doc_id", "text", w,
      n = 2, nBuckets = 512).localCheckpoint(true)
    val n = scored.count()
    for (bps <- Seq(1000, 2500, 5000, 9999, 10000)) {
      val got = Selection.topShare(scored, bps)
        .select("doc").as[Long].collect().toSet
      val expected = scored.orderBy(col("score").desc, col("doc").asc)
        .limit((n * bps / 10000).toInt).select("doc").as[Long].collect().toSet
      assert(got == expected, s"bps=$bps")
      assert(got.size == (n * bps / 10000).toInt, s"bps=$bps size")
    }
    // nesting: a bigger budget only adds documents
    val s25 = Selection.topShare(scored, 2500).select("doc").as[Long].collect().toSet
    val s50 = Selection.topShare(scored, 5000).select("doc").as[Long].collect().toSet
    assert(s25.subsetOf(s50))
    assert(Selection.topShare(scored, 0).count() == 0L)
  }

  test("DECIMAL path: weights beyond 2^40 totals match BigInt arithmetic exactly") {
    import graft.llmops.Selection
    val scale = 1000000L
    val b = 64
    // per-bucket counts in the 2^41..2^45 range — the long path's
    // num = scale·(c_t+1)·(nr+B) would overflow at ~2^63; the decimal
    // branch must stay exact.
    val counts = Seq(
      (0L, 3L << 41, 5L << 40),
      (1L, 7L << 40, 1L << 43),
      (2L, 0L, 9L << 41),
      (3L, 11L << 42, 0L)
    ).toDF("bucket", "c_r", "c_t")
    val nr = (3L << 41) + (7L << 40) + (11L << 42)
    val nt = (5L << 40) + (1L << 43) + (9L << 41)
    val got = Selection.importanceWeightsFromCounts(counts, nr, nt, b, scale)
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    def expect(cr: Long, ct: Long): Long =
      ((BigInt(scale) * (BigInt(ct) + 1) * (BigInt(nr) + b)) /
        ((BigInt(cr) + 1) * (BigInt(nt) + b))).toLong
    assert(got == Map(
      0L -> expect(3L << 41, 5L << 40), 1L -> expect(7L << 40, 1L << 43),
      2L -> expect(0L, 9L << 41), 3L -> expect(11L << 42, 0L)))
    // the long path (small totals) and decimal path agree on shared ground:
    // same per-bucket counts, totals scaled down into long-safe range.
    val small = Seq((0L, 300L, 500L), (1L, 700L, 80L)).toDF("bucket", "c_r", "c_t")
    val lw = Selection.importanceWeightsFromCounts(small, 1000L, 580L, b, scale)
      .orderBy("bucket").select("w").as[Long].collect().toSeq
    def expectS(cr: Long, ct: Long): Long =
      ((BigInt(scale) * (BigInt(ct) + 1) * (1000L + b)) /
        ((BigInt(cr) + 1) * (580L + b))).toLong
    assert(lw == Seq(expectS(300L, 500L), expectS(700L, 80L)))
  }

  test("weight table broadcasts in the scoring plan") {
    val w = Selection.importanceWeights(raw, target, "doc_id", "text",
      n = 2, nBuckets = 1024)
    val plan = Selection.importanceScores(raw, "doc_id", "text", w,
      n = 2, nBuckets = 1024).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"weights not broadcast:\n$plan")
  }
}
