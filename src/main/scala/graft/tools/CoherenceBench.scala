package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.llmops.{Corpus, Similarity}

/** Measured evidence for [[Corpus.coherentOrder]] (the TokenizerBench
  * discipline: a claimed quality win gets a number, not prose): mean
  * adjacent-pair cosine of the embedding stream under the coherent order
  * vs the hash-shuffled [[Corpus.trainingOrder]] baseline — the quantity
  * in-context pretraining (Shi et al. 2023) optimizes, since adjacent
  * documents share a packed training sequence. Prints one line per SF
  * dir argument. Numbers recorded in BASELINE.md.
  */
object CoherenceBench {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      // the global window is measurement-only (driver-side evaluation
      // harness, not a pipeline operator)
      def meanAdj(ordered: DataFrame): Double = {
        val v = ordered.join(emb, ordered("id") === emb("vec_id"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("ord")
        v.select(Similarity.cosine(col("embedding"),
            lead(col("embedding"), 1).over(w)).as("c"))
          .agg(avg("c")).collect().head.getDouble(0)
      }
      val co = meanAdj(Corpus.coherentOrder(emb, cent).select("id", "ord"))
      val sh = meanAdj(Corpus.trainingOrder(
        emb.select(col("vec_id").as("id")), col("id")).select("id", "ord"))
      println(f"[coherence] $dir n=${emb.count()} " +
        f"adj_cos_coherent=$co%.4f adj_cos_shuffled=$sh%.4f")
    }
    spark.stop()
  }
}
