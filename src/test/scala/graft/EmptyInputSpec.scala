package graft

import graft.llmops.{Corpus, Dedup, Quantize, Similarity, TextAnalysis}
import graft.operators.Quantiles
import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the round-4 operators: empty frames and
  * empty partners must produce empty (or identity) results, never throw —
  * at 100 TB an empty partition/source is routine, not exceptional.
  */
class EmptyInputSpec extends SparkTestBase {
  import spark.implicits._

  private def noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def someDocs = Seq((1L, "a b c d e f"), (2L, "x y z w v u")).toDF("doc_id", "text")

  test("text operators on an empty corpus return empty, not errors") {
    assert(TextAnalysis.ngramRepetition(noDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.qualityGate(noDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.withPiiCounts(noDocs).count() == 0)
    assert(Corpus.tokenChunks(noDocs, "doc_id", "text", 4, 3).count() == 0)
    assert(Corpus.sourceQuota(noDocs.withColumn("source", lit("s")),
      col("doc_id"), col("source"), quota = 5).count() == 0)
  }

  test("decontamination against an EMPTY benchmark flags nothing (both paths)") {
    val exact = Dedup.decontaminate(someDocs, noDocs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val bloom = Dedup.decontaminateBloom(someDocs, noDocs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val want = Seq((1L, 0L, false), (2L, 0L, false))
    assert(exact == want && bloom == want)
  }

  test("cluster resolution of zero pairs yields every doc its own survivor") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
    assert(clusters.count() == 0)
    val surv = Dedup.dedupSurvivors(someDocs, "doc_id", clusters)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(surv == Set((1L, true), (2L, true)))
    // soft weights: no clusters → every doc a singleton at exactly 1e6
    val soft = Dedup.softDedupWeights(someDocs, "doc_id", clusters)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(soft == Set((1L, 1L, 1000000L), (2L, 1L, 1000000L)))
  }

  test("softDedupWeights: a cluster of 3 weighs 333333 each, the cluster sums to ~one doc") {
    val docs = Seq((1L, ""), (2L, ""), (3L, ""), (9L, "")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("v", "cluster")
    val w = Dedup.softDedupWeights(docs, "doc_id", clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(w == Set((1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L),
      (3L, 1L, 3L, 333333L), (9L, 9L, 1L, 1000000L)))
  }

  test("quantiles and int8 ANN tolerate empty inputs") {
    val noVals = Seq.empty[(String, Long)].toDF("k", "v")
    assert(Quantiles.perGroup(noVals, Seq("k"), "v", Seq(50)).count() == 0)
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Quantize.int8TopK(emb, noEmb, k = 3).count() == 0)
    assert(Quantize.int8TopK(noEmb, emb, k = 3).count() == 0)
  }

  test("r8 operators tolerate empty inputs: drift, NLL, Luhn, thresholds, triplets, cellStats") {
    val noVals = Seq.empty[(Long, Long)].toDF("id", "v")
    // psiDrift of two empty snapshots: every bin present, counts zero,
    // Laplace shares equal → contributions exactly 0.
    val psi = Corpus.psiDrift(noVals, noVals, "v", granularity = 16, bins = 4)
      .collect()
    assert(psi.length == 4 && psi.forall(r => r.getLong(1) == 0L &&
      r.getDouble(5) == 0.0))
    assert(Corpus.psiFromHistograms(
      Seq.empty[(String, Array[Long])].toDF("source", "hist"),
      Seq.empty[(String, Array[Long])].toDF("source", "hist"), "source")
      .count() == 0)
    // NLL / Luhn on an empty corpus: empty out, no throw.
    assert(TextAnalysis.unigramLogProb(noDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.luhnCards(noDocs, "doc_id", "text").count() == 0)
    // gateThresholds on an empty corpus: one row, zero docs, null/zero
    // thresholds — never a crash (the monitoring cron runs on day 0 too).
    val t = TextAnalysis.gateThresholds(noDocs, "doc_id", "text").collect()
    assert(t.length == 1 && t.head.getAs[Long]("n_docs") == 0L)
    // IVF triplets / cellStats with an empty corpus or no anchors.
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.mineTripletsIvf(emb, noEmb, kPos = 1, mHard = 1,
      rRand = 1, nlist = 2, nprobe = 1).count() == 0)
    val cent = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    // empty corpus: every centroid still reports (n = 0, null distance).
    val cs = Similarity.cellStats(Similarity.assignCells(noEmb, cent), cent)
      .collect()
    assert(cs.length == 2 && cs.forall(r => r.getLong(1) == 0L && r.isNullAt(3)))
  }

  test("packing, mixture and heavy hitters tolerate empty and zero-token inputs") {
    val noToks = Seq.empty[(Long, Long)].toDF("doc", "n_tokens")
    assert(Corpus.packSequences(noToks, col("doc"), col("n_tokens"), 8L).count() == 0)
    // all-zero token counts: nothing to pack, nothing thrown.
    val zeroToks = Seq((1L, 0L), (2L, 0L)).toDF("doc", "n_tokens")
    assert(Corpus.packSequences(zeroToks, col("doc"), col("n_tokens"), 8L).count() == 0)
    val noStrata = Seq.empty[(String, String)].toDF("k", "st")
    val plan = Corpus.temperatureMixPlan(noStrata, col("st"), budget = 100L)
    assert(plan.count() == 0)
    assert(Corpus.mixSample(noStrata, col("k"), col("st"), plan).count() == 0)
    // budget 0 keeps nothing but still emits the full plan table.
    val docs = Seq(("a", "s1"), ("b", "s2")).toDF("k", "st")
    val zeroPlan = Corpus.temperatureMixPlan(docs, col("st"), budget = 0L)
    assert(zeroPlan.count() == 2)
    assert(Corpus.mixSample(docs, col("k"), col("st"), zeroPlan).count() == 0)
    import graft.functions.CountMin
    val noTokens = Seq.empty[Tuple1[String]].toDF("token")
    assert(CountMin.heavyHitters(noTokens, "token", k = 4).count() == 0)
    // a single repeated token is the 100% heavy hitter at any k.
    val one = Seq.fill(5)(Tuple1("x")).toDF("token")
    val hh = CountMin.heavyHitters(one, "token", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh == Seq(("x", 5L)))
  }

  test("semDedupPairs and mixResample tolerate empty and degenerate inputs") {
    import graft.llmops.Similarity
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedupPairs(noVecs, threshold = 0.5).count() == 0)
    // a single vector has no pair, whatever cell it lands in.
    val oneVec = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.semDedupPairs(oneVec, threshold = -1.0).count() == 0)
    val docs = Seq(("a", "s1"), ("b", "s2")).toDF("k", "st")
    val zeroPlan = Corpus.temperatureMixPlan(docs, col("st"), budget = 0L)
    assert(Corpus.mixResample(docs, col("k"), col("st"), zeroPlan).count() == 0)
    val empty = Seq.empty[(String, String)].toDF("k", "st")
    val emptyPlan = Corpus.temperatureMixPlan(empty, col("st"), budget = 10L)
    assert(Corpus.mixResample(empty, col("k"), col("st"), emptyPlan).count() == 0)
    assert(Corpus.trainingOrder(
      Seq.empty[Tuple1[Long]].toDF("k"), col("k")).count() == 0)
    // a single row gets ord 0 whatever bucket its hash lands in.
    val oneRow = Corpus.trainingOrder(Seq(Tuple1(7L)).toDF("k"), col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(oneRow == Seq((7L, 0L)))
    // winnowing: no docs / docs shorter than k → no fingerprints; a doc
    // with fewer than w grams still yields its single global minimum.
    import graft.llmops.TextAnalysis
    assert(TextAnalysis.winnowing(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text").count() == 0)
    assert(TextAnalysis.winnowing(
      Seq((1L, "just two")).toDF("doc_id", "text"), "doc_id", "text", k = 3).count() == 0)
    assert(TextAnalysis.winnowing(
      Seq((1L, "one two three four")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, w = 4).count() == 1)
  }

  test("r6 operators tolerate empty inputs") {
    import graft.llmops.{Curation, Retrieval, Selection}
    // retrieval: empty corpus / empty query set
    assert(Retrieval.invertedIndex(noDocs, "doc_id", "text").count() == 0)
    assert(Retrieval.searchTopK(someDocs, "doc_id", "text",
      Seq.empty[(Long, String)].toDF("qid", "qtext"), "qid", "qtext").count() == 0)
    assert(Retrieval.searchTopK(noDocs, "doc_id", "text",
      Seq((1L, "a b")).toDF("qid", "qtext"), "qid", "qtext").count() == 0)
    // incremental dedup: empty batch against a real index, and vice versa
    val ex = Dedup.shingleIndexRows(someDocs, "doc_id", "text", 3)
    assert(Dedup.incrementalDedupStep(noDocs, "doc_id", "text",
      ex, Dedup.indexBandRows(ex)).count() == 0)
    val emptyEx = Dedup.shingleIndexRows(noDocs, "doc_id", "text", 3)
    assert(Dedup.incrementalDedupStep(someDocs, "doc_id", "text",
      emptyEx, Dedup.indexBandRows(emptyEx)).count() == 2)
    // curation: an empty corpus yields an empty ledger
    val noSrc = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(Curation.ledger(noSrc, "doc_id", "text", "source",
      noDocs, Seq("x").toDF("source"), quota = 5).count() == 0)
    // selection: empty raw corpus scores nothing; empty target still
    // yields a usable (uniform add-one) weight table
    val wEmptyTarget = Selection.importanceWeights(someDocs, noDocs,
      "doc_id", "text", n = 2, nBuckets = 64)
    assert(Selection.importanceScores(someDocs, "doc_id", "text",
      wEmptyTarget, n = 2, nBuckets = 64).count() == 2)
    assert(Selection.topShare(
      Selection.importanceScores(noDocs, "doc_id", "text", wEmptyTarget,
        n = 2, nBuckets = 64), keepBps = 5000).count() == 0)
    // data card of an empty corpus is an empty card
    assert(Corpus.dataCard(noSrc, "doc_id", "text", "source").count() == 0)
    // normalize degenerate strings
    val norm = Seq((1L, "   "), (2L, "A.B-C 12 3")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "")
    assert(norm(2L) == "abc 00 0")
  }

  test("r8 operators tolerate empty and degenerate inputs") {
    import graft.llmops.Retrieval
    // RRF fusion: an empty side degrades to the other list's ranking; two
    // empty sides fuse to nothing.
    val noRanks = Seq.empty[(Long, Long, Long)].toDF("qid", "doc", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "doc", "rank")
    assert(Retrieval.fuseTopK(noRanks, b, k = 5)
      .orderBy("rank").select("doc").as[Long].collect().toSeq == Seq(20L, 30L))
    assert(Retrieval.fuseTopK(noRanks, noRanks, k = 5).count() == 0)
    // line scrub: empty corpus → empty; single doc can never hit minDf.
    assert(Dedup.dedupLines(noDocs, "doc_id", "text").count() == 0)
    val one = Dedup.dedupLines(Seq((1L, "a\nb")).toDF("doc_id", "text"),
      "doc_id", "text").head()
    assert(one.getString(1) == "a\nb" && one.getLong(3) == 0L)
    // shard manifest: empty input → empty manifest.
    assert(Corpus.shardManifest(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "shard"),
      col("shard"), "doc_id", "text").count() == 0)
    // html strip: tag-free text passes through (modulo whitespace), pure
    // markup strips to empty, no-URL text harvests an empty array.
    val stripped = Seq((1L, "plain  text"), (2L, "<p><b></b></p>"))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.stripHtml(col("t")).as("c"),
        TextAnalysis.extractUrls(col("t")).as("u"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getSeq[String](2).size)).toMap
    assert(stripped(1L) == (("plain text", 0)))
    assert(stripped(2L) == (("", 0)))
    // cross-corpus semdedup: an empty batch probes nothing.
    val cent = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("cent_id", "centvec")
    assert(Similarity.semDedupAcross(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      Seq((5L, Array(1f, 0f))).toDF("vec_id", "embedding"),
      threshold = 0.5, centroids = cent).count() == 0)
  }

  test("r11 operators tolerate empty and degenerate inputs") {
    // preference pairs / best-of-n over zero responses
    val noResp = Seq.empty[(Long, String, Long, String, Long)]
      .toDF("prompt_id", "prompt", "resp_id", "resp", "score")
    assert(Corpus.preferencePairs(noResp, "prompt_id", "prompt", "resp_id",
      "resp", "score").count() == 0)
    assert(Corpus.bestOfN(noResp, "prompt_id", "prompt", "resp_id",
      "resp", "score", n = 3, minScore = 0.0).count() == 0)
    // a single response pairs with nothing (rank crossing)
    val one = Seq((1L, "p", 10L, "only answer", 5L))
      .toDF("prompt_id", "prompt", "resp_id", "resp", "score")
    assert(Corpus.preferencePairs(one, "prompt_id", "prompt", "resp_id",
      "resp", "score").count() == 0)
    // unigram trainer over an empty corpus: empty vocab, no throw
    assert(graft.llmops.Unigram.unigramVocab(noDocs, "doc_id", "text",
      vocabSize = 8, rounds = 1).count() == 0)
    // robots: empty rules default-allow everything; empty frontier empty
    val noRules = Seq.empty[(String, String, String)]
      .toDF("host", "rule", "path")
    val f = TextAnalysis.robotsFilter(
      Seq("https://x.example/a").toDF("url"), "url", noRules).collect()
    assert(f.length == 1 && f.head.getAs[Boolean]("allowed"))
    assert(TextAnalysis.robotsFilter(Seq.empty[String].toDF("url"),
      "url", noRules).count() == 0)
    assert(TextAnalysis.robotsRules(
      Seq.empty[(String, String)].toDF("host", "txt"), "host", "txt")
      .count() == 0)
    // token shards / pdf over empty frames: no files, empty manifests,
    // readers see nothing (no quarantine rows fabricated)
    val tb = java.nio.file.Files.createTempDirectory("empty_tb").toString
    val tbm = graft.ingest.TokenBin.write(
      Seq.empty[(Long, Seq[Long])].toDF("seq", "tokens"),
      "seq", "tokens", tb, shards = 2).collect()
    assert(tbm.length == 2 && tbm.forall(_.getAs[Long]("n_sequences") == 0L))
    assert(graft.ingest.TokenBin.read(spark, tb).count() == 0)
    val pd = java.nio.file.Files.createTempDirectory("empty_pdf").toString
    assert(graft.ingest.Pdf.write(
      Seq.empty[Tuple1[String]].toDF("t"), "t", pd, shards = 2).count() == 0)
    assert(graft.ingest.Pdf.read(spark, pd).count() == 0)
  }

  test("r12 operators tolerate empty and degenerate inputs") {
    import graft.llmops.{Dedup, LmArtifact, TextAnalysis, Unigram}
    // ARPA: an empty reference trains the 1-outcome model (<unk> at
    // P = 1, log 0) — degenerate but exactly normalized, never null
    val t = LmArtifact.arpaTable(noDocs).collect()
    assert(t.length == 1 && t.head.getString(1) == LmArtifact.Unk &&
      t.head.getLong(2) == 0L)
    // ...and it writes + re-imports
    val dir = java.nio.file.Files.createTempDirectory("empty_arpa").toString
    LmArtifact.writeArpa(spark, LmArtifact.arpaTable(noDocs),
      s"$dir/e.arpa").collect()
    assert(LmArtifact.readArpa(spark, s"$dir/e.arpa").count() == 1)
    // scoring an empty corpus under a real model: empty, no throw
    val lm = LmArtifact.arpaTable(
      Seq((1L, "a b")).toDF("doc_id", "text")).localCheckpoint(true)
    assert(LmArtifact.arpaScore(noDocs, "doc_id", "text", lm).count() == 0)
    // span decon: empty train / empty bench both degrade to no-ops
    assert(Dedup.decontaminateSpans(noDocs,
      Seq((1L, "some benchmark text here")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
    val train1 = Seq((2L, "plain training text")).toDF("doc_id", "text")
    val kept = Dedup.decontaminateSpans(train1, noDocs, "doc_id", "text")
      .collect()
    assert(kept.length == 1 && kept.head.getAs[Long]("n_removed") == 0L)
    // group advantages: empty in, empty out
    assert(graft.llmops.Corpus.groupAdvantages(
      Seq.empty[(Long, Long, Long)].toDF("prompt_id", "resp_id", "r"),
      "prompt_id", "resp_id", "r").count() == 0)
    // byte fallback: empty docs; and an EMPTY vocab still segments
    // (left-join law -> all-byte expansion), nothing throws
    val noVocab = Seq.empty[(String, Long)].toDF("piece", "nll")
    assert(Unigram.segment(noDocs, "doc_id", "text", noVocab,
      byteFallback = true).count() == 0)
    val allBytes = Unigram.segment(Seq((1L, "ab")).toDF("doc_id", "text"),
        "doc_id", "text", noVocab, byteFallback = true)
      .orderBy("piece_idx").collect().map(_.getString(3))
    assert(allBytes.toSeq == Seq("<0x61>", "<0x62>"))
    // sitemap parse of empty bodies / dsir over empty raw side
    assert(TextAnalysis.parseSitemaps(
      Seq.empty[(String, String)].toDF("u", "b"), "u", "b").count() == 0)
    // term blocklist: empty corpus; empty terms covered in LlmOpsSpec
    assert(TextAnalysis.termBlocklist(noDocs, "doc_id", "text",
      Seq("bad").toDF("term")).count() == 0)
    // coherent order over zero vectors: empty, no throw
    val noEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val oneCent = Seq((0L, Seq.fill(64)(0.1f)))
      .toDF("cent_id", "centvec")
    assert(graft.llmops.Corpus.coherentOrder(noEmb, oneCent).count() == 0)
    // frontier step over an empty link batch: nothing enqueues, the
    // bloom state passes through unchanged
    val noLinks = Seq.empty[(String, Long)].toDF("url", "prio")
    val noRules = Seq.empty[(String, String, String)]
      .toDF("host", "rule", "path")
    val state = graft.functions.Bloom.build(
      Seq("https://x.example/a").toDF("url"), "url", 4096L, 4)
      .localCheckpoint(true)
    val (enq, merged) = graft.streaming.EventStream.frontierStep(
      noLinks, "url", "prio", noRules, state, 4096L, 4)
    assert(enq.count() == 0)
    // contamination report: empty train -> nothing burned; empty bench -> empty
    val oneDoc = Seq((1L, "some training text here")).toDF("doc_id", "text")
    val cr = Dedup.contaminationReport(noDocs,
      Seq((1L, "a benchmark question with enough words here")).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(cr.length == 1 && !cr.head.getAs[Boolean]("burned"))
    assert(Dedup.contaminationReport(oneDoc, noDocs, "doc_id", "text")
      .count() == 0)
    // BPE serving over an empty corpus / empty merge list
    assert(graft.llmops.Bpe.segment(noDocs, "doc_id", "text",
      Seq(("a", "b"))).count() == 0)
    val chars = graft.llmops.Bpe.segment(oneDoc, "doc_id", "text", Nil)
      .count()
    assert(chars == "some training text here".count(_ != ' ').toLong)
    // main-content over empty corpus / empty html
    assert(TextAnalysis.extractMainContent(noDocs, "doc_id", "text")
      .count() == 0)
    val blank = TextAnalysis.extractMainContent(
      Seq((1L, "")).toDF("doc_id", "html"), "doc_id", "html").collect().head
    assert(blank.getAs[String]("main_text") == "" &&
      blank.getAs[Long]("n_blocks_kept") == 0L)
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      state.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("model-prep batch tolerates empty inputs: WordPiece, BT, NB, MMR, containment, FS, arpa3") {
    import graft.llmops.{Classify, FuzzyMatch, RewardFit, WordPiece}
    // WordPiece: empty corpus trains nothing and serves nothing
    val (m, _) = WordPiece.learnMerges(WordPiece.wordVocab(noDocs, "text"), 2)
    assert(m.isEmpty)
    assert(WordPiece.segment(noDocs, "doc_id", "text",
      Seq("a").toDF("piece")).count() == 0)
    // Bradley–Terry over zero judgments: empty, never a div-by-zero
    assert(RewardFit.bradleyTerry(
      Seq.empty[(Long, Long)].toDF("w", "l"), "w", "l").count() == 0)
    // Naive Bayes: empty labeled set → empty model; scoring with an
    // empty model yields no predictions (no classes to argmax over)
    val feats = Classify.hashedFeatures(someDocs, "doc_id", "text")
    val nbm = Classify.trainNaiveBayes(feats,
      Seq.empty[(Long, String)].toDF("doc_id", "lang"), "doc_id", "lang")
    assert(nbm.classes.count() == 0)
    assert(Classify.scoreNaiveBayes(someDocs, feats, nbm, "doc_id").count() == 0)
    // MMR over zero candidates: empty
    assert(graft.llmops.Retrieval.mmrTopK(
      Seq.empty[(Long, Long, Long)].toDF("qid", "doc", "rel_micro"),
      Seq((1L, Seq(1.0f))).toDF("vid", "vec"), "vid", "vec", k = 3)
      .count() == 0)
    // containment over an empty corpus: empty
    assert(Dedup.containmentPairs(noDocs, "doc_id", "text").count() == 0)
    // FS weights from zero labeled pairs: smoothing keeps every ratio
    // defined (m = u = 1/2 → both weights exactly 0)
    val w0 = FuzzyMatch.fellegiSunterWeights(
      Seq.empty[(Boolean, Boolean)].toDF("is_match", "ag"), "is_match",
      Seq("ag")).collect().head
    assert(w0.getAs[Long]("w_agree_micro") == 0L &&
      w0.getAs[Long]("w_disagree_micro") == 0L)
    // trigram LM on a corpus with no 3-token doc: unigram+bigram rows
    // only, and trigram scoring emits no triples
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
    val lm3 = graft.llmops.LmArtifact.arpaTable3(short)
    assert(lm3.filter(col("n") === 3).count() == 0)
    assert(graft.llmops.LmArtifact.arpaScore3(short, "doc_id", "text", lm3)
      .count() == 0)
  }

  test("r13 operators tolerate empty and degenerate inputs") {
    import spark.implicits._
    import graft.llmops.{LmArtifact, Multimodal, SpModel}
    // KN trainer on a trigram-free corpus: unigram rows only (no KN
    // bigrams exist without trigrams), scoring emits no triples
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
    val kn = LmArtifact.arpaTable3Kn(short)
    assert(kn.filter(col("n") === 3).count() == 0)
    assert(kn.filter(col("n") === 2).count() == 0)
    assert(kn.filter(col("n") === 1).count() == 3) // a, b, <unk>
    assert(LmArtifact.arpaScore3(short, "doc_id", "text", kn).count() == 0)
    // sp .model of an empty trained vocab: the <unk> row alone ships
    val emptyVocab = Seq.empty[(String, Long, Long)]
      .toDF("piece", "cnt", "nll_micro")
    val dir = java.nio.file.Files.createTempDirectory("sp_empty").toString
    val m = SpModel.writeSpModel(emptyVocab, s"$dir/e.model").collect().head
    assert(m.getAs[Long]("n_pieces") === 1L)
    val back = SpModel.readSpModel(spark, s"$dir/e.model").collect()
    assert(back.length === 1 && back.head.getAs[String]("piece") === "<unk>")
    // detection / dims / coverage over an empty media frame: empty out
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    assert(Multimodal.decodeCoverage(noMedia).count() == 0)
    assert(noMedia.select(Multimodal.detectKindCol(col("payload")),
      Multimodal.imageDimsCol(col("payload")),
      Multimodal.audioDimsCol(col("payload")),
      Multimodal.videoDimsCol(col("payload"))).count() == 0)
    assert(Multimodal.audioDims(Array.empty[Byte]).isEmpty)
    assert(Multimodal.videoDims(Array.empty[Byte]).isEmpty)
    // WebDataset: an empty frame still writes valid (terminator-only)
    // tars; reading them back is zero rows, zero quarantine
    val wdsDir = java.nio.file.Files.createTempDirectory("wds_empty").toString
    val wdsManifest = graft.ingest.WebDataset.write(
      noMedia.select(col("media_id"), col("payload")),
      col("media_id"), Seq("bin" -> col("payload")), wdsDir, shards = 2)
    assert(wdsManifest.collect().map(_.getLong(1)).sum === 0L)
    assert(graft.ingest.WebDataset.read(spark, wdsDir).count() === 0L)
    // generation rotation without a seeded frontier: loud, not silent
    val e = intercept[IllegalStateException] {
      graft.streaming.EventStream.frontierNewGeneration(spark,
        "no_such_frontier_prefix")
    }
    assert(e.getMessage.contains("meta stamp"))
  }
}
