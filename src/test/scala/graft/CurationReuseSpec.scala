package graft

import graft.llmops.{Curation, Dedup, PortableHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The curation step builds each document's shingle structs once and
  * reads them for near-dup, decontamination and the index rows it
  * returns. Each test here keeps the code those paths replaced as its
  * reference and asserts the new path gives the same rows.
  */
class CurationReuseSpec extends SparkTestBase {
  import spark.implicits._

  private val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  /** Seeded documents from a 20-word vocabulary: short ones (fewer than
    * 5 tokens), an empty text, and longer ones that often share 5-grams. */
  private def seededDocs(seed: Int, ids: Range): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    ids.map { i =>
      val len = if (i % 9 == 0) 0 else if (i % 5 == 0) 1 + rng.nextInt(4) else 5 + rng.nextInt(25)
      i.toLong -> Seq.fill(len)(words(rng.nextInt(words.size))).mkString(" ")
    }
  }

  /** The Bloom word table and decontamination pipeline as they were
    * before the chained-probe rewrite: distinct train shingles → one
    * exploded row per probe → left join on the broadcast words →
    * `groupBy(s)` of the probe bits → exact verify → per-doc count. */
  private def oldBloomPos(h: Column, j: Int, mBits: Int): Column =
    pmod(lit(PortableHash.MinHashA(j)) * pmod(h, lit(PortableHash.P))
      + lit(PortableHash.MinHashB(j)), lit(PortableHash.P)) % mBits.toLong
  private def oldWordMask(p: Column): Seq[Column] = Seq(
    (p / 64).cast("long").as("w"),
    call_function("shiftleft", lit(1L), (p % 64).cast("int")).as("m"))
  private def oldWordTable(sh: DataFrame, mBits: Int, kProbes: Int): DataFrame =
    sh.select(explode(array((0 until kProbes).map(j => oldBloomPos(col("s"), j, mBits)): _*)).as("p"))
      .select(oldWordMask(col("p")): _*)
      .groupBy("w").agg(bit_or(col("m")).as("bits"))
  private def oldBloomWith(train: DataFrame, benchShingles: DataFrame,
      words: DataFrame, n: Int, mBits: Int, kProbes: Int): DataFrame = {
    val trainSh = Dedup.xxShingleRows(train, "doc_id", "text", n)
    val probed = trainSh.select(col("s")).distinct()
      .select(col("s"),
        posexplode(array((0 until kProbes).map(j => oldBloomPos(col("s"), j, mBits)): _*)).as(Seq("j", "p")))
      .select(col("s") +: col("j") +: oldWordMask(col("p")): _*)
      .join(broadcast(words), Seq("w"), "left")
      .groupBy("s")
      .agg(min(when(coalesce(col("bits").bitwiseAND(col("m")) =!= 0, lit(false)), 1)
        .otherwise(0)).as("_all_set"))
    val verified = probed.filter(col("_all_set") === 1).select("s")
      .join(benchShingles, Seq("s"), "left_semi")
    val hits = trainSh.join(verified, Seq("s"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_hit"))
    train.select(col("doc_id").as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sortBy(_._1)

  test("chained-probe Bloom decontamination equals the distinct/groupBy(s) pipeline row for row") {
    val trainRows = seededDocs(11, 1 to 120)
    val train = trainRows.toDF("doc_id", "text")
    // every seventh long train document leaks a 6-token span into the
    // bench set, so real hits exist; 64- and 128-bit filters saturate
    // and let most other shingles through to the verify.
    val leaks = trainRows.collect { case (i, t) if i % 7 == 0 && t.split(" ").length >= 8 =>
      t.split(" ").slice(2, 8).mkString(" ") }
    val bench = (seededDocs(12, 1000 to 1030) ++ leaks.zipWithIndex.map { case (l, k) =>
      (2000L + k) -> s"bench prefix $l bench suffix" }).toDF("doc_id", "text")
    val benchSh = Dedup.xxShingleRows(bench, "doc_id", "text", 5).select("s").distinct().cache()
    val noBench = benchSh.limit(0)
    try {
      for (mBits <- Seq(64, 128, 1 << 16); (b, tag) <- Seq(benchSh -> "bench", noBench -> "empty bench")) {
        val want = rows(oldBloomWith(train, b, oldWordTable(b, mBits, 4), 5, mBits, 4))
        val got = rows(Dedup.decontaminateBloomWith(train, "doc_id", "text", b,
          Dedup.bloomWordTable(b, mBits, 4), 5, mBits, 4))
        assert(got == want, s"mBits=$mBits, $tag")
        if (tag == "bench") assert(want.exists(_._3) && want.exists(!_._3), s"mBits=$mBits: trivial case")
        else assert(!want.exists(_._3))
      }
      // short and empty documents get a row with n_hit 0
      val want = rows(oldBloomWith(train, benchSh, oldWordTable(benchSh, 64, 4), 5, 64, 4))
        .map(r => r._1 -> r._2).toMap
      Seq(5L, 9L, 10L).foreach(d => assert(want.get(d).contains(0L), s"doc $d"))
    } finally benchSh.unpersist()
  }

  test("nearDupLosers equals the survivors-only cross probe") {
    val base = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    def edit(last: String) = base.split(" ").dropRight(1).mkString(" ") + " " + last
    val corpus = (Seq(1L -> base) ++ seededDocs(21, 2 to 60)).toDF("doc", "text")
    // 101 near-dups corpus doc 1; 102 near-dups both 101 (so it loses
    // within the batch) and corpus doc 1 (so the cross probe flags it too).
    // 403..410 copy batch docs (within-batch losers only); 302..320
    // copy corpus docs (cross losers only).
    val batch = (Seq(101L -> edit("twentyone"), 102L -> edit("twentytwo")) ++
      seededDocs(22, 103 to 180) ++ seededDocs(22, 103 to 180).take(8).map { case (i, t) => (i + 300, t) } ++
      seededDocs(21, 2 to 20).map { case (i, t) => (i + 300, t) })
      .toDF("doc", "text")
    val idx = Dedup.shingleIndexRows(corpus, "doc", "text", 3).cache()
    val bands = Dedup.indexBandRows(idx).cache()
    try {
      // the former incrementalDedupStep: within-batch clusters first,
      // then the cross probe over their survivors only.
      val inFail = Dedup.resolveClusters(Dedup.minHashPairs(batch, "doc", "text"), "id_a", "id_b")
        .filter(col("cluster") =!= col("v")).select(col("v").as("doc"))
      def cross(docs: DataFrame) = {
        val arr = Dedup.shingleIndexRows(docs, "doc", "text", 3)
        val cands = Dedup.indexBandRows(arr)
          .select(col("doc").as("batch_id"), col("band"), col("sig"))
          .join(bands.select(col("doc").as("corpus_id"), col("band"), col("sig")), Seq("band", "sig"))
          .select("batch_id", "corpus_id").distinct()
        Dedup.verifyCrossPairs(cands, arr.select("doc", "hs"), idx.select("doc", "hs"), 0.3)
          .select(col("batch_id").as("doc")).distinct()
      }
      val within = inFail.as[Long].collect().toSet
      val want = within ++ cross(batch.join(inFail, Seq("doc"), "left_anti")).as[Long].collect()
      val got = Dedup.nearDupLosers(Dedup.shingleIndexRows(batch, "doc", "text", 3),
        idx, bands, 0.3).as[Long].collect()
      assert(got.length == got.toSet.size, "a loser is listed twice")
      assert(got.toSet == want)
      val crossAll = cross(batch).as[Long].collect().toSet
      assert(within(102L) && crossAll(102L), "the seeded corpus lost its double loser")
      assert(crossAll.exists(d => !within(d)) && within.exists(_ != 102L))
      // the step's accepted documents are the batch minus those losers
      val kept = Dedup.incrementalDedupStep(batch, "doc", "text", idx, bands)
        .select("doc").as[Long].collect().toSet
      assert(kept == batch.select("doc").as[Long].collect().toSet -- want)
    } finally { idx.unpersist(); bands.unpersist() }
  }

  test("the step's returned hs/sigs equal shingleIndexRows of the accepted documents bit for bit") {
    val docs = (seededDocs(31, 1 to 80) ++ seededDocs(31, 1 to 10).map { case (i, t) => (i + 100, t) })
      .map { case (i, t) => (i, t, s"src${i % 3}") }.toDF("doc", "text", "source")
    val bench = Dedup.xxShingleRows(seededDocs(32, 500 to 505).toDF("doc", "text"), "doc", "text", 5)
      .select("s").distinct().localCheckpoint(true)
    val bloom = Dedup.bloomWordTable(bench, 1 << 16, 4).localCheckpoint(true)
    def step(b: DataFrame, idx: DataFrame, counts: DataFrame) =
      Curation.curationStep(b, idx, Dedup.indexBandRows(idx), counts, bench, bloom,
        Seq("src2"), quota = 20, minTokens = 5, maxDupGramFrac = 0.9)
    def bits(df: DataFrame) = df.select("doc", "hs", "sigs").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2))).toSeq.sortBy(_._1)
    val empty = Dedup.shingleIndexRows(docs.limit(0), "doc", "text", 3)
    val (acc1, _) = step(docs.filter(col("doc") % 2 === 0), empty,
      Seq.empty[(String, Long)].toDF("source", "n"))
    val (acc2, _) = step(docs.filter(col("doc") % 2 === 1), acc1,
      acc1.groupBy("source").agg(count(lit(1)).as("n")))
    for ((acc, day) <- Seq(acc1 -> 1, acc2 -> 2)) {
      val got = bits(acc)
      assert(got.nonEmpty, s"day $day accepted nothing")
      assert(got == bits(Dedup.shingleIndexRows(acc.select("doc", "text"), "doc", "text", 3)),
        s"day $day")
    }
  }
}
