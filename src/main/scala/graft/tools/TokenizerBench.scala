package graft.tools

import graft.{GraftSession, Tables}
import graft.llmops.{Bpe, TextAnalysis, Unigram}
import org.apache.spark.sql.functions._

/** Tokenizer-quality harness (the SearchBench discipline: defaults and
  * claims become MEASURED evidence): trains [[Bpe]] and [[Unigram]] on
  * the same corpus at matched multi-piece budgets and reports the
  * fairness gauges a tokenizer choice is actually made on — fertility
  * (subwords emitted per word: sequence length ≡ training compute),
  * whole-word rate (vocabulary coverage), per-source fertility SPREAD
  * (the under-served-source signal), and wall-clock training cost.
  *
  * Usage: runMain graft.tools.TokenizerBench [sfDir] [budgets...]
  */
object TokenizerBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val budgets = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(32, 64, 128)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir).localCheckpoint(true)

    def report(tag: String, budget: Int, trainS: Double,
        perWordSyms: org.apache.spark.sql.DataFrame): Unit = {
      // perWordSyms: (word, n_syms) — corpus word stream joins it
      val bySource = docs
        .select(col("source").as("grp"),
          explode(TextAnalysis.wsTokens(col("text"))).as("word"))
        .join(perWordSyms, Seq("word"))
        .groupBy("grp").agg(count(lit(1)).as("n_words"),
          sum("n_syms").as("n_subwords"),
          sum(when(col("n_syms") === 1, 1L).otherwise(0L)).as("n_whole"))
      val tot = bySource.agg(sum("n_words"), sum("n_subwords"), sum("n_whole"))
        .head()
      val (nw, ns, nwh) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
      val spread = bySource
        .select((col("n_subwords").cast("double") / col("n_words")).as("f"))
        .agg(max("f") - min("f")).head().getDouble(0)
      println(f"[tokbench] $tag%-8s budget=$budget%4d fertility=${ns.toDouble / nw}%.4f " +
        f"whole_rate=${nwh.toDouble / nw}%.4f source_spread=$spread%.4f train=${trainS}%.1fs")
    }

    budgets.foreach { b =>
      // BPE: base chars + b merges
      val t0 = System.nanoTime()
      val vocab = docs
        .select(explode(TextAnalysis.wsTokens(col("text"))).as("word"))
        .where(length(col("word")) >= 1)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (_, finalSyms) = Bpe.learnMerges(vocab, b)
      val bpeS = (System.nanoTime() - t0) / 1e9
      report("bpe", b, bpeS,
        finalSyms.groupBy("word").agg(count(lit(1)).as("n_syms")))

      // Unigram: multi-piece budget = b (alphabet rides on top, as BPE's
      // base symbols do); maxWordLen uncapped-ish for fairness (BPE sees
      // whole words) — 24 covers this corpus's words.
      val t1 = System.nanoTime()
      val uv = Unigram.unigramVocab(docs, "doc_id", "text", vocabSize = b,
        rounds = 2, maxPieceLen = 4, maxWordLen = 24)
        .localCheckpoint(true)
      val uniS = (System.nanoTime() - t1) / 1e9
      // per-word piece counts: segment each DISTINCT word as its own
      // one-word document, join the word string back by id.
      val wordsById = docs
        .select(explode(TextAnalysis.wsTokens(col("text"))).as("text"))
        .where(length(col("text")) >= 1).distinct()
        .withColumn("doc_id", monotonically_increasing_id())
        .localCheckpoint(true)
      val segU = Unigram.segment(wordsById, "doc_id", "text", uv,
        maxPieceLen = 4, maxWordLen = 24)
      val perWord = segU.groupBy("id").agg(count(lit(1)).as("n_syms"))
        .join(wordsById.select(col("doc_id").as("id"), col("text").as("word")),
          Seq("id"))
        .select("word", "n_syms")
      report("unigram", b, uniS, perWord)

      // WordPiece: base marked chars + b likelihood-scored merges,
      // greedy longest-match serving (per distinct word, like unigram's
      // lane; [UNK] words count their single [UNK] piece).
      val t2 = System.nanoTime()
      val wv = graft.llmops.WordPiece.wordVocab(docs, "text")
        .localCheckpoint(true)
      val (wpMerges, _) = graft.llmops.WordPiece.learnMerges(wv, b)
      val wpS = (System.nanoTime() - t2) / 1e9
      val segW = graft.llmops.WordPiece.segment(wordsById, "doc_id", "text",
        graft.llmops.WordPiece.vocabTable(wv, wpMerges))
      val perWordW = segW.groupBy("id").agg(count(lit(1)).as("n_syms"))
        .join(wordsById.select(col("doc_id").as("id"), col("text").as("word")),
          Seq("id"))
        .select("word", "n_syms")
      report("wordpiece", b, wpS, perWordW)
    }
    spark.stop()
  }
}
