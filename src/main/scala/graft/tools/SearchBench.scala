package graft.tools

import graft.GraftSession
import graft.llmops.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retrieval-quality harness (the AnnBench precedent, VERDICT r7 item 5):
  * recall@k and MRR for the keyword stack — tf, tf + stop-term cap, BM25
  * over a k1/b grid, RRF hybrid over a c grid, PRF expansion — against a
  * PLANTED graded-relevance benchmark at 1× and `factor`× distractor
  * volume, so the BM25/RRF/PRF defaults are evidence, not folklore.
  *
  * The benchmark (deterministic, self-contained): `topics` topics, each
  * with six synthetic topic terms t{t}w0..w5 woven into real corpus
  * filler text. Per topic, FIVE graded relevant docs —
  *
  *   grade 0: all six topic terms + 20 filler tokens
  *   grade 1: w0..w3 + 30 filler
  *   grade 2: w0, w1 + 40 filler
  *   grade 3: w1, w2 + 50 filler
  *   grade 4: w3, w4, w5 + 30 filler   ← shares NO query term: only
  *            pseudo-relevance expansion can reach it (the RM3 case)
  *
  * — plus ten near-topic DISTRACTORS (w0 once + 60 filler) and the whole
  * documents corpus (replicated ×factor with fresh ids) as background.
  * The query is "t{t}w0 t{t}w1 t{t}w2 spark value": three topic terms
  * plus two corpus-ubiquitous tokens — the filler terms are the test's
  * teeth (raw tf ranking drowns in them; idf/stop-caps are the fixes
  * under measurement). Max recall@k is 0.8 for any non-expanding system
  * (grade 4 is unreachable), 1.0 with expansion — by construction.
  *
  * Run: sbt 'runMain graft.tools.SearchBench
  *   /root/testdata/sf0.1 /tmp/graft_searchbench 10'
  * Emits one markdown table (stderr) + one JSON line (stdout) for
  * BASELINE.md.
  */
object SearchBench {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outBase = args.lift(1).getOrElse("/tmp/graft_searchbench")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val k = 10
    val topics = 20
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // bounded driver-side filler source (400 real texts), deterministic.
    val filler = base.filter(col("doc_id") < 400).orderBy("doc_id")
      .collect().map(_.getString(1))
    def fill(seed: Int, n: Int): String =
      filler(seed % filler.length).trim.split("\\s+").take(n).mkString(" ")
    def tw(t: Int, i: Int) = s"t${t}w$i"
    val relRows = for (t <- 0 until topics; j <- 0 until 5) yield {
      val terms = j match {
        case 0 => (0 to 5).map(tw(t, _))
        case 1 => (0 to 3).map(tw(t, _))
        case 2 => Seq(tw(t, 0), tw(t, 1))
        case 3 => Seq(tw(t, 1), tw(t, 2))
        case _ => Seq(tw(t, 3), tw(t, 4), tw(t, 5))
      }
      (10000000L + t * 5L + j, (terms :+ fill(t * 5 + j, 20 + 10 * j)).mkString(" "))
    }
    // near-topic distractors: w0 REPEATED (×5 in three docs, ×3 in two)
    // in SHORT docs — the tf-spam shape that makes k1 (saturation) and b
    // (length norm) earn their keep: weak saturation lets one spammed
    // term outscore a two-term match in a longer relevant doc. Five per
    // topic (below k) so spam degrades rankings without zeroing them —
    // the metric stays informative across the grid.
    val nearRows = for (t <- 0 until topics; i <- 0 until 5) yield
      (11000000L + t * 10L + i,
        (Seq.fill(if (i < 3) 5 else 3)(tw(t, 0)) :+
          fill(t * 100 + i + 7, 10)).mkString(" "))
    val planted = (relRows ++ nearRows).toDF("doc_id", "text")
    val relevant = relRows.map { case (id, _) => ((id - 10000000L) / 5, id) }
      .toDF("qid", "doc")
    val queries = (0 until topics)
      .map(t => (t.toLong, s"${tw(t, 0)} ${tw(t, 1)} ${tw(t, 2)} spark value"))
      .toDF("qid", "qtext")

    // ---- semantic lane: deterministic planted embeddings ----
    // Topic t's direction d_t and per-doc noise n_id are PortableHash-
    // derived unit-uniform vectors (dim 64) — reproducible, no RNG. The
    // semantic structure is the inverse of the keyword one:
    //   grades 0, 1, 4   → 1.0·d_t + 0.2·n  (semantically STRONG; grade 4
    //                      is the keyword-unreachable doc — the lane that
    //                      must find it)
    //   grades 2, 3      → 0.35·d_t + 0.9·n (semantically WEAK — only
    //                      keyword search ranks them; max-of-background
    //                      noise outranks them at 5k+ docs)
    //   distractors      → 0.8·d_t + 0.5·n  (near-topic spam IS close in
    //                      embedding space — the honest failure mode)
    //   background       → pure n.
    // So ANN alone tops out near 3/5 recall, BM25 at 4/5 (no grade 4),
    // and BM25+ANN fusion is the only system that can reach 1.0 — the
    // hybrid-search thesis, measured. The semantic index is the 1× set
    // (embeddings don't replicate with the keyword distractor factor:
    // a semantic index grows with the corpus, not with tf-spam volume).
    val dim = 64
    def unitVec(key: String): Array[Float] =
      Array.tabulate(dim)(kk => graft.llmops.PortableHash.unitUniformJvm(s"$key:$kk"))
    def mix(t: Int, id: Long, wT: Float, wN: Float): Array[Float] = {
      val d = unitVec(s"sbtopic:$t"); val n = unitVec(s"sbdoc:$id")
      Array.tabulate(dim)(kk => wT * d(kk) + wN * n(kk))
    }
    val plantedEmb = relRows.map { case (id, _) =>
      val t = ((id - 10000000L) / 5).toInt
      val j = ((id - 10000000L) % 5).toInt
      val (wT, wN) = if (j == 2 || j == 3) (0.35f, 0.9f) else (1.0f, 0.2f)
      (id, mix(t, id, wT, wN))
    } ++ nearRows.map { case (id, _) =>
      (id, mix(((id - 11000000L) / 10).toInt, id, 0.8f, 0.5f))
    }
    val bgIds = base.select("doc_id").collect().map(_.getLong(0))
    val embCorpus = (bgIds.toSeq.map(id => (id, unitVec(s"sbdoc:$id"))) ++ plantedEmb)
      .toDF("vec_id", "embedding")
      .localCheckpoint(true)
    val qEmb = (0 until topics).map(t => (t.toLong, unitVec(s"sbtopic:$t")))
      .toDF("vec_id", "embedding")
    def annRank(df: DataFrame): DataFrame =
      df.select(col("qid"), col("cid").as("doc"), col("rn").as("rank"))
    def annBrute = annRank(graft.llmops.Similarity.bruteForceTopK(
      embCorpus, qEmb, k))
    def annIvf = annRank(graft.llmops.Similarity.ivfTopK(
      embCorpus, qEmb, k, nlist = 16, nprobe = 8))

    def buildCorpus(f: Int): DataFrame = {
      val bg =
        if (f <= 1) base
        else {
          val off = base.agg(max("doc_id")).head().getLong(0) + 1L
          base.crossJoin(spark.range(f).select(col("id").as("_rep")))
            .withColumn("doc_id", col("doc_id") + col("_rep") * off)
            .drop("_rep")
        }
      val path = s"$outBase/f$f/documents.parquet"
      bg.unionByName(planted).write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    final case class Run(path: String, param: String, result: DataFrame)

    def sweep(f: Int): Seq[(String, String, Double, Double, Double)] = {
      val corpus = buildCorpus(f)
      def tfS(maxDf: Long) = Retrieval.searchTopK(corpus, "doc_id", "text",
        queries, "qid", "qtext", k, maxDf = maxDf)
      def bm(k1: Double, b: Double) = Retrieval.bm25TopK(corpus, "doc_id", "text",
        queries, "qid", "qtext", k, k1 = k1, b = b)
      // the stop-cap scales with the corpus (a df threshold is
      // corpus-relative); topic terms sit far below it at any factor.
      val cap = 2000L * f
      val runs = Seq(
        Run("tf", "plain", tfS(Long.MaxValue)),
        Run("tf", s"maxDf=$cap", tfS(cap)),
        Run("bm25", "k1=1.2 b=0.75", bm(1.2, 0.75)),
        Run("bm25", "k1=0.9 b=0.4", bm(0.9, 0.4)),
        Run("bm25", "k1=2.0 b=0.75", bm(2.0, 0.75)),
        Run("bm25", "k1=1.2 b=0.0", bm(1.2, 0.0)),
        Run("bm25", "k1=1.2 b=1.0", bm(1.2, 1.0)))
      def exp(fbD: Int, fbT: Int) = Retrieval.expandedSearch(corpus, "doc_id", "text",
        queries, "qid", "qtext", k, fbDocs = fbD, fbTerms = fbT, maxDf = cap)
      val runs2 = Seq(
        // c = 100 would overflow the integer-exact RRF scale at
        // maxRank = 10 (Π(101..110) > 2^63) — the long-exactness bound
        // fuseTopK documents; 10/30/60 brackets the standard default.
        // Hybrid fuses the two DIFFERENT systems (BM25 + expanded) — the
        // production shape where fusion can beat both inputs.
        Run("hybrid", "c=10", Retrieval.fuseTopK(bm(1.2, 0.75), exp(3, 2), k, c = 10)),
        Run("hybrid", "c=30", Retrieval.fuseTopK(bm(1.2, 0.75), exp(3, 2), k, c = 30)),
        Run("hybrid", "c=60", Retrieval.fuseTopK(bm(1.2, 0.75), exp(3, 2), k, c = 60)),
        Run("expanded", "fb=3,2 capped", exp(3, 2)),
        Run("expanded", "fb=5,3 capped", exp(5, 3)),
        Run("expanded", "fb=3,2 nocap", Retrieval.expandedSearch(corpus, "doc_id",
          "text", queries, "qid", "qtext", k, fbDocs = 3, fbTerms = 2)),
        // the ANN-vs-BM25 lanes: each alone is partial BY CONSTRUCTION
        // (semantic misses grades 2-3, keyword misses grade 4); the
        // cross-modal fusion is the only path to full recall.
        Run("ann", "cos brute", annBrute),
        Run("ann", "ivf nprobe=8", annIvf),
        Run("hybrid-ann", "bm25+cos c=60",
          Retrieval.fuseTopK(bm(1.2, 0.75), annBrute, k, c = 60)),
        Run("hybrid-ann", "bm25+ivf c=60",
          Retrieval.fuseTopK(bm(1.2, 0.75), annIvf, k, c = 60)))
      (runs ++ runs2).map { r =>
        r.result.count() // cold pass: JIT + plan; timing below is warm
        val t0 = System.nanoTime()
        val hits = r.result.select("qid", "doc", "rank")
          .join(broadcast(relevant), Seq("qid", "doc"))
          .groupBy("qid").agg(count(lit(1)).as("h"), min("rank").as("fr"))
          .collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = hits.map(_.getLong(1)).sum / (topics * 5.0)
        val mrr = hits.map(h => 1.0 / h.getLong(2)).sum / topics
        System.err.println(f"[searchbench] f$f ${r.path}%-8s ${r.param}%-14s " +
          f"recall@$k=$recall%.3f mrr=$mrr%.3f warm=$sec%.2fs")
        (r.path, r.param, recall, mrr, sec)
      }
    }

    val r1 = sweep(1)
    val rF = sweep(factor)
    System.err.println(s"\n| path | param | recall@$k 1x | MRR 1x | warm s 1x | recall@$k ${factor}x | MRR ${factor}x | warm s ${factor}x |")
    System.err.println("|---|---|---|---|---|---|---|---|")
    r1.zip(rF).foreach { case ((p, prm, rec1, m1, s1), (_, _, recF, mF, sF)) =>
      System.err.println(f"| $p | $prm | $rec1%.3f | $m1%.3f | $s1%.2f | $recF%.3f | $mF%.3f | $sF%.2f |")
    }
    def js(rs: Seq[(String, String, Double, Double, Double)]) = rs.map {
      case (p, prm, rec, m, s) =>
        s"""{"path":"$p","param":"$prm","recall":${math.round(rec * 1000) / 1000.0},"mrr":${math.round(m * 1000) / 1000.0},"warm_s":${math.round(s * 100) / 100.0}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"searchbench","k":$k,"factor":$factor,"f1":${js(r1)},"f$factor":${js(rF)}}""")
    spark.stop()
  }
}
