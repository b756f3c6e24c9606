package graft

import graft.functions.CountMin
import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** Property pins for the count-min sketch (overcount-only guarantee,
  * sharded-merge ≡ whole-build) and the salted skew join (result identity
  * with the plain join, including duplicate rows).
  */
class SketchAndSkewSpec extends SparkTestBase {

  test("CountMin estimates never undercount and are exact in a sparse grid") {
    import spark.implicits._
    val keys = Seq.fill(40)("hot") ++ (1 to 30).map(i => s"k$i")
    val df = keys.toDF("k")
    val sk = CountMin.sketch(df, "k", d = 4, w = 512)
    val probes = df.distinct()
    val est = CountMin.estimate(sk, probes, "k", d = 4, w = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (k, n) => assert(est(k) >= n, s"undercount for $k") }
    // 31 distinct keys in 4×512 cells: the hot key's estimate must be exact
    // unless all 4 of its cells collide — astronomically unlikely and
    // deterministic (fixed hashes), so pin exactness outright.
    assert(est("hot") == 40L)
  }

  test("CountMin merge of shard sketches equals the whole-corpus sketch") {
    import spark.implicits._
    val a = (1 to 50).map(i => s"k${i % 7}").toDF("k")
    val b = (1 to 30).map(i => s"k${i % 5}").toDF("k")
    val merged = CountMin.merge(
      CountMin.sketch(a, "k"), CountMin.sketch(b, "k"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = CountMin.sketch(a.unionAll(b), "k")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("CMS join-size estimate never undercounts and is tight on a clean grid") {
    import graft.functions.CountMin
    import spark.implicits._
    // A: key k appears k times (k = 1..20); B: every key twice.
    val a = (1L to 20L).flatMap(k => Seq.fill(k.toInt)(k)).toDF("k")
    val b = (1L to 20L).flatMap(k => Seq(k, k)).toDF("k")
    val exact = (1L to 20L).map(k => k * 2).sum // Σ n_a(k)·n_b(k)
    val est = CountMin.joinSizeEstimate(
      CountMin.sketch(a, "k", d = 4, w = 512),
      CountMin.sketch(b, "k", d = 4, w = 512))
      .collect().head.getLong(0)
    assert(est >= exact, s"CM inner product must never undercount: $est < $exact")
    // 40 distinct keys in 512 buckets: collisions are rare — estimate
    // stays within 2x of truth.
    assert(est <= exact * 2, s"estimate $est implausibly loose vs $exact")
  }

  test("saltedInnerJoin is row-identical to the plain join, duplicates included") {
    import spark.implicits._
    val left = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("k", "lv")
    val right = Seq((1L, "X"), (1L, "Y"), (2L, "Z")).toDF("k", "rv")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lv", "rv").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val salted = sorted(SkewJoin.saltedInnerJoin(left, right, Seq("k"), salts = 4))
    val plain = sorted(left.join(right, Seq("k")))
    // the three k=1 left rows (two of them identical) each join 2 right
    // rows → 6, plus (2,c,Z) → 7; k=3 has no match and must vanish.
    // Multiplicities must survive salting.
    assert(salted == plain && salted.size == 7)
  }

  test("saltedInnerJoin replicates the right side for hot keys only") {
    import spark.implicits._
    // k=1 is hot (3 left rows ≥ threshold 3); k=2, k=3 are cold.
    val left = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (3L, "e"))
      .toDF("k", "lv")
    val right = Seq((1L, "X"), (1L, "Y"), (2L, "Z"), (4L, "W")).toDF("k", "rv")
    val hot = left.groupBy("k").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3).select("k")
    val br = SkewJoin.split(left, right, Seq("k"), salts = 4, hotKeys = hot)
    // only k=1's right rows enter the replicated branch; the cold branch
    // keeps the rest un-replicated.
    assert(br.rightHot.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L))
    assert(br.rightCold.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    // the cold branch's plan must contain no explode (Generate) node —
    // replication is confined to the hot branch.
    val coldPlan = br.cold.queryExecution.executedPlan.toString
    assert(!coldPlan.contains("Generate"), s"cold path replicated right:\n$coldPlan")
    assert(br.hot.queryExecution.executedPlan.toString.contains("Generate"))
    // and the union is still row-identical to the plain join.
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lv", "rv").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(sorted(SkewJoin.saltedInnerJoin(left, right, Seq("k"), 4, hot)) ==
      sorted(left.join(right, Seq("k"))))
    // threshold high enough → no hot keys → no replication anywhere.
    val none = SkewJoin.saltedInnerJoin(left, right, Seq("k"), salts = 4,
      hotThreshold = Long.MaxValue)
    assert(!none.queryExecution.executedPlan.toString.contains("Generate"))
    assert(sorted(none) == sorted(left.join(right, Seq("k"))))
  }

  test("saltedInnerJoin degenerates to the plain join at salts = 1") {
    import spark.implicits._
    val left = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val right = Seq((1L, 1L), (3L, 3L)).toDF("k", "w")
    val out = SkewJoin.saltedInnerJoin(left, right, Seq("k"), salts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 10L, 1L)))
  }
}
