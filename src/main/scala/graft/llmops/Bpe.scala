package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained byte-pair encoding: learn the top-K merge table from the
  * corpus, then tokenize by replaying the merges — the learned-subword
  * upgrade over the fixed heuristic in
  * [[TextAnalysis]] (`bpeishTokens`), which this complements, not
  * replaces.
  *
  * Training runs on the WORD-FREQUENCY table, not the corpus: BPE
  * statistics are invariant to where a word occurs, so the classic
  * formulation (Sennrich et al., "Neural Machine Translation of Rare
  * Words with Subword Units") aggregates each distinct word once,
  * weighted by its count. At 100 TB that table is the corpus'
  * vocabulary — millions of rows, not billions of documents — and each
  * of the K rounds is one pair-count groupBy over it plus a windowed
  * rewrite, K bounded. The argmax pair per round is a 1-row driver
  * action (the model itself is K rows — bounded by construction).
  *
  * Everything is deterministic — ties break by (pair frequency DESC,
  * left ASC, right ASC) — and every step is windows + integer
  * arithmetic, so the full training loop is replayed value-for-value
  * by the DuckDB oracle (unrolled K rounds; LlmOpsQueries.bpeRoundsSql).
  *
  * Greedy left-to-right merge application without recursion (the one
  * subtle step, shared verbatim with the oracle): mark candidate
  * positions where (s_i, s_i+1) = (l, r); consecutive candidates can
  * only occur when l = r (else s_i+1 = r = l is a contradiction), and
  * greedy consumes a run of them at even offsets from the run start —
  * so group consecutive candidates into islands (i − running candidate
  * count) and keep candidates whose offset from the island minimum is
  * even. Kept positions emit the merged symbol; the position AFTER a
  * kept one is consumed; everything else passes through.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String, pairFreq: Long)

  /** (word, freq) vocabulary of a corpus — the training input. */
  def wordVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbolization: one row per (word, position, character).
    * Explicit substr per index, not split(word, "") — Java's split keeps
    * a trailing empty string at limit −1, which DuckDB's does not.
    */
  def initialSyms(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("freq"),
      posexplode(transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1)))).as(Seq("i0", "s")))
      .select(col("word"), col("freq"), (col("i0") + 1).cast("long").as("i"), col("s"))

  /** The most frequent adjacent symbol pair, deterministic ties. */
  private def bestPair(syms: DataFrame): Option[(String, String, Long)] = {
    val w = Window.partitionBy("word").orderBy("i")
    syms.withColumn("s2", lead(col("s"), 1).over(w))
      .filter(col("s2").isNotNull)
      .groupBy("s", "s2").agg(sum("freq").as("pf"))
      .orderBy(col("pf").desc, col("s").asc, col("s2").asc)
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** One greedy merge pass of (l, r) over the position table — the
    * island-parity rewrite described in the object scaladoc.
    */
  def mergeRound(syms: DataFrame, l: String, r: String): DataFrame =
    mergeRound(syms, l, r, l + r)

  /** [[mergeRound]] with an explicit merged-symbol spelling — the reuse
    * hook for [[WordPiece]], whose merge product strips the `##`
    * continuation marker off the right symbol (`ab + ##cd → ab cd`→
    * `abcd`, not `ab##cd`). The candidate/island/keep mechanics are
    * identical; only the emitted symbol differs.
    */
  def mergeRound(syms: DataFrame, l: String, r: String, merged: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("i")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wIsl = Window.partitionBy("word", "isl")
    syms
      .withColumn("s2", lead(col("s"), 1).over(w))
      .withColumn("cand", col("s2").isNotNull && col("s") === lit(l) && col("s2") === lit(r))
      .withColumn("isl", when(col("cand"),
        col("i") - sum(when(col("cand"), 1L).otherwise(0L)).over(run)))
      .withColumn("keep", col("cand") &&
        (col("i") - min(col("i")).over(wIsl)) % 2 === 0)
      .withColumn("dropped", coalesce(lag(col("keep"), 1).over(w), lit(false)))
      .filter(!col("dropped"))
      .select(col("word"), col("freq"),
        row_number().over(w).cast("long").as("i"),
        when(col("keep"), lit(merged)).otherwise(col("s")).as("s"))
  }

  /** Learn `k` merges from a (word, freq) vocabulary. Returns the merge
    * table and the post-merge position table (word, freq, i, s). Stops
    * early if the vocabulary exhausts (every word a single symbol).
    */
  def learnMerges(vocab: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    require(k >= 1)
    var syms = initialSyms(vocab).localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      bestPair(syms) match {
        case Some((l, r, pf)) =>
          merges += Merge(rank, l, r, pf)
          syms = mergeRound(syms, l, r).localCheckpoint(true)
          rank += 1
        case None => exhausted = true
      }
    }
    (merges.result(), syms)
  }

  /** Replay an IMPORTED merge list over a (word, freq) vocabulary — the
    * serving half of the [[VocabArtifact]] BPE round trip: a foreign
    * `merges.txt` (or our own re-read) reproduces the exact post-merge
    * position table [[learnMerges]] would have produced, without
    * retraining. One [[mergeRound]] + checkpoint per merge, rank order;
    * K is the merge count (bounded by the artifact), each round one
    * windowed rewrite over the vocabulary table.
    */
  def applyMerges(vocab: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(initialSyms(vocab).localCheckpoint(true)) {
      case (syms, (l, r)) => mergeRound(syms, l, r).localCheckpoint(true)
    }

  /** Compiled per-word replay of a KNOWN merge list (r16 phase 2): the
    * word's code-point symbols rewritten by each merge in rank order,
    * one leftmost-greedy non-overlapping pass per merge — provably
    * [[mergeRound]]'s island-parity rewrite (within a run of consecutive
    * candidate positions the kept set is every other one starting from
    * the first, which is exactly what a left-to-right scan that consumes
    * both merged symbols produces; disjoint runs don't interact).
    * Symbols split by Unicode CODE POINT, matching Spark's
    * `substr`/`length` semantics in [[initialSyms]].
    *
    * Serving-time merge application is per-word work with no cross-row
    * dependency, so the K windowed rewrites + K eager checkpoints of
    * [[applyMerges]] (an exchange-free but 2-job round per merge, paid
    * by EVERY serving call) collapse into one narrow projection.
    * Training ([[learnMerges]]) is untouched — its per-round argmax
    * genuinely depends on the previous round's table.
    */
  private[llmops] def mergeReplay(merges: Seq[(String, String)])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val ms = merges.toArray
    udf((word: String) => {
      if (word == null) null
      else {
        var syms = {
          val it = word.codePoints().iterator()
          val b = Array.newBuilder[String]
          while (it.hasNext) b += new String(Character.toChars(it.nextInt()))
          b.result()
        }
        var mi = 0
        while (mi < ms.length && syms.length > 1) {
          val (l, r) = ms(mi)
          val merged = l + r
          val b = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += merged; i += 2
            } else { b += syms(i); i += 1 }
          }
          syms = b.result()
          mi += 1
        }
        syms.toSeq
      }
    })
  }

  /** Serve a corpus with a learned (or IMPORTED —
    * [[graft.llmops.VocabArtifact.readBpeMerges]]/`readBpeJson`) merge
    * list — the [[graft.llmops.Unigram.segment]]-shaped other half of
    * BPE, one row per (id, word_idx, piece_idx, piece) in reading
    * order: merges apply to the SERVING corpus's own distinct words
    * (the BPE serving rule — a word never seen in training still
    * segments through the rules; merge application is
    * frequency-independent, so trained words reproduce their training
    * segmentation exactly, spec-pinned). Compose with
    * [[graft.llmops.VocabArtifact.byteLevel]] for the full GPT-2
    * serving stack. Feeds token-id assignment / TokenBin exactly like
    * the unigram server.
    *
    * Scale: the K merge rounds run on the DISTINCT-WORD table of the
    * serving corpus (the training discipline — corpus size enters
    * through one distinct + the final join back); each round is the
    * checkpointed [[mergeRound]] window over word positions.
    */
  def segment(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)],
      tokens: Column => Column = TextAnalysis.wsTokens): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("word_idx", "word")))
      .withColumn("word_idx", col("word_idx").cast("long"))
    // r16 phase 2: the known merge list replays per distinct word in ONE
    // compiled projection ([[mergeReplay]]) — no K-round position-table
    // rewrite, no per-round checkpoints, no collect-and-sort reassembly.
    val perWord = toks.select("word").distinct()
      .where(length(col("word")) >= 1)
      .select(col("word"), mergeReplay(merges)(col("word")).as("pieces"))
    toks.join(perWord, Seq("word"))
      .select(col("id"), col("word_idx"),
        posexplode(col("pieces")).as(Seq("piece_idx", "piece")))
      .withColumn("piece_idx", col("piece_idx").cast("long"))
  }

  /** The learned merge table as a frame: (mrank, lhs, rhs, pair_freq) —
    * `mrank`/`lhs`/`rhs`, not rank/left/right, which are SQL keywords in
    * the oracle.
    */
  def mergeTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank.toLong, m.left, m.right, m.pairFreq))
      .toDF("mrank", "lhs", "rhs", "pair_freq")
  }

  /** Tokenize a corpus with a learned merge table: per-word subword
    * counts from the post-merge position table, joined back to the
    * document word stream — the corpus itself never enters the K-round
    * rewrite, only the vocabulary does.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
      finalSyms: DataFrame,
      tokens: Column => Column = TextAnalysis.wsTokens): DataFrame = {
    val perWord = finalSyms.groupBy("word").agg(count(lit(1)).as("n_syms"))
    df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("word"))
      .join(perWord, Seq("word"))
      .groupBy("doc").agg(sum("n_syms").as("n_bpe_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** Tokenizer-fairness audit: per-group (language, source) subword
    * FERTILITY — BPE tokens emitted per word — and the single-token word
    * rate. The standard multilingual-tokenizer health check: a group
    * whose fertility is 2× another's pays 2× the sequence length (and
    * effectively 2× the compute) for the same text, the classic
    * under-served-language signal; `single_rate` is the share of word
    * occurrences the vocabulary covers whole.
    *
    * Same shape as [[tokenCounts]] — the corpus word stream joins the
    * per-word symbol counts (vocabulary-sized, usually broadcast by AQE)
    * and aggregates by group instead of doc: one narrow pass over the
    * corpus, one tiny result. Ratios round to 6 dp for engine-portable
    * comparison; counts stay exact.
    */
  def fertility(df: DataFrame, textCol: String, groupCol: String,
      finalSyms: DataFrame,
      tokens: Column => Column = TextAnalysis.wsTokens): DataFrame = {
    val perWord = finalSyms.groupBy("word").agg(count(lit(1)).as("n_syms"))
    df.select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("word"))
      .join(perWord, Seq("word"))
      .groupBy("grp").agg(
        count(lit(1)).as("n_words"),
        sum("n_syms").as("n_subwords"),
        sum(when(col("n_syms") === 1, 1L).otherwise(0L)).as("n_whole_words"))
      .select(col("grp"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_whole_words").cast("double") / col("n_words"), 6).as("single_rate"))
  }
}
