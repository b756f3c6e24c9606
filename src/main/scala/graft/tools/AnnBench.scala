package graft.tools

import graft.GraftSession
import graft.llmops.{Quantize, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN recall/latency trade-off sweep (VERDICT r4 item 7): recall@k vs
  * warm seconds for the three ANN paths — sign-LSH (`tables`), IVF
  * (`nprobe`), int8 two-stage (`candFactor`) — at 1× and `factor`× the
  * sf0.1 embeddings corpus. Ground truth is exact brute-force cosine
  * top-k with the same deterministic tie-break every path uses
  * (cos DESC, cid), so recall is exact, not tie-lottery. Replicas carry
  * disjoint vec_id ranges and unchanged payloads (exact-dup corpus — the
  * dedup-heavy shape; both GT and ANN rank it with the same ties).
  *
  * Run: sbt 'runMain graft.tools.AnnBench
  *   /root/testdata/sf0.1 /tmp/graft_annbench 10'
  * Emits one markdown table (stderr) + one JSON line (stdout) for
  * BASELINE.md.
  */
object AnnBench {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outBase = args.lift(1).getOrElse("/tmp/graft_annbench")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val k = 25
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def buildCorpus(f: Int): DataFrame = {
      val df = spark.read.parquet(s"$src/embeddings.parquet")
      val out =
        if (f <= 1) df
        else {
          val off = df.agg(max("vec_id")).head().getLong(0) + 1L
          df.crossJoin(spark.range(f).select(col("id").as("_rep")))
            .withColumn("vec_id", col("vec_id") + col("_rep") * off)
            .drop("_rep")
        }
      val path = s"$outBase/f$f/embeddings.parquet"
      out.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    final case class Run(path: String, param: String, result: DataFrame)

    def sweep(f: Int): Seq[(String, String, Double, Double)] = {
      val corpus = buildCorpus(f)
      val queries = corpus.filter(col("vec_id") < k)
      val gt = Similarity.bruteForceTopK(corpus, queries, k)
        .select("qid", "cid").cache()
      val nGt = gt.count().toDouble // ≈ k per query
      val runs = Seq(
        Run("lsh", "tables=4", Similarity.annTopK(corpus, queries, k, tables = 4)),
        Run("lsh", "tables=8", Similarity.annTopK(corpus, queries, k, tables = 8)),
        Run("lsh", "tables=16", Similarity.annTopK(corpus, queries, k, tables = 16)),
        Run("ivf", "nprobe=2", Similarity.ivfTopK(corpus, queries, k, nprobe = 2)),
        Run("ivf", "nprobe=4", Similarity.ivfTopK(corpus, queries, k, nprobe = 4)),
        Run("ivf", "nprobe=8", Similarity.ivfTopK(corpus, queries, k, nprobe = 8)),
        Run("int8", "candFactor=2", Quantize.int8TopK(corpus, queries, k, candFactor = 2)),
        Run("int8", "candFactor=4", Quantize.int8TopK(corpus, queries, k, candFactor = 4)),
        Run("int8", "candFactor=8", Quantize.int8TopK(corpus, queries, k, candFactor = 8)))
      val out = runs.map { r =>
        r.result.count() // cold pass: JIT + plan; timing below is warm
        val t0 = System.nanoTime()
        val hits = r.result.select("qid", "cid").join(gt, Seq("qid", "cid")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = hits / nGt
        System.err.println(f"[annbench] f$f ${r.path}%-5s ${r.param}%-14s " +
          f"recall@$k=${recall}%.3f warm=${sec}%.2fs")
        (r.path, r.param, recall, sec)
      }
      gt.unpersist()
      out
    }

    val r1 = sweep(1)
    val rF = sweep(factor)
    // markdown table for BASELINE.md
    System.err.println(s"\n| path | param | recall@$k 1x | warm s 1x | recall@$k ${factor}x | warm s ${factor}x |")
    System.err.println("|---|---|---|---|---|---|")
    r1.zip(rF).foreach { case ((p, prm, rec1, s1), (_, _, recF, sF)) =>
      System.err.println(f"| $p | $prm | $rec1%.3f | $s1%.2f | $recF%.3f | $sF%.2f |")
    }
    def js(rs: Seq[(String, String, Double, Double)]) = rs.map { case (p, prm, rec, s) =>
      s"""{"path":"$p","param":"$prm","recall":${math.round(rec * 1000) / 1000.0},"warm_s":${math.round(s * 100) / 100.0}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"annbench","k":$k,"factor":$factor,"f1":${js(r1)},"f$factor":${js(rF)}}""")
    spark.stop()
  }
}
