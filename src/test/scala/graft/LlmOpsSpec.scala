package graft

import graft.llmops.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** LLM-ops operators: approximate paths validated against their exact
  * counterparts (recall), language ID against real multilingual text,
  * multimodal plumbing end-to-end with the stub codec.
  */
class LlmOpsSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, dir).cache()
  private lazy val emb = Tables.embeddings(spark, dir).cache()

  private lazy val exactPairs = Dedup
    .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("corpus has planted near-duplicates (ground truth non-empty)") {
    assert(exactPairs.nonEmpty)
  }

  test("MinHash LSH recalls every exact Jaccard>=0.8 pair") {
    val mh = Dedup.minHashPairs(docs, "doc_id", "text", maxJaccardDist = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exactPairs -- mh
    assert(missed.isEmpty, s"minhash missed: $missed")
    // and no wild overreach: candidates stay bounded.
    assert(mh.size <= exactPairs.size * 10 + 20)
  }

  test("weighted minhash: repetition counts; cap 1 degrades to plain Jaccard") {
    import spark.implicits._
    // A cycles one 6-token period 5x, B covers the same period once: the
    // DISTINCT shingle sets are identical (plain Jaccard = 1) but the
    // multisets differ 3:1 after the cap — weighted must reject the pair.
    val period = "one two three four five six"
    val rep = Seq(
      (1L, (period + " ") * 4 + period),
      (2L, period + " one two")).toDF("doc_id", "text")
    val plain = Dedup.minHashPairs(rep, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(plain == Seq((1L, 2L, 0.0)), s"plain sees identical sets: $plain")
    val weighted = Dedup.weightedMinHashPairs(rep, "doc_id", "text")
      .collect()
    assert(weighted.isEmpty,
      "weighted Jaccard must reject the repetition-skewed pair")
    // weightCap = 1 is exactly the distinct-set semantics.
    val w1 = Dedup.weightedMinHashPairs(docs, "doc_id", "text", weightCap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p1 = Dedup.minHashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(w1 == p1, "cap 1 must equal the unweighted pipeline exactly")
  }

  test("cross-corpus minhash equals the cross-parity subset of the self-join") {
    val self = Dedup.minHashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 2) != (b % 2) }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }.toSet
    val across = Dedup.minHashPairsAcross(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(across == self, s"across=$across self=$self")
  }

  test("stripHtml: block content dies, entities decode after tags, URLs harvest") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<script>evil()</script><p>hi</p>"),
      (2L, "<style>.x{}</style>a <!-- note --> b"),
      // decode-order trap: &lt;b&gt; must survive as TEXT "<b>", not be
      // stripped as a tag.
      (3L, "<p>a &lt;b&gt; c &amp; d &#39;e&#39;</p>"),
      (4L, "see https://a.b/c and <a href=\"http://d.e/f?g=1\">go</a>")
    ).toDF("id", "t")
    val got = rows.select(col("id"), TextAnalysis.stripHtml(col("t")).as("c"),
        TextAnalysis.extractUrls(col("t")).as("u"))
      .orderBy("id").collect()
      .map(r => (r.getString(1), r.getSeq[String](2))).toSeq
    assert(got(0)._1 == "hi")
    assert(got(1)._1 == "a b")
    assert(got(2)._1 == "a <b> c & d 'e'")
    assert(got(3)._1 == "see https://a.b/c and go")
    // URLs extract from the RAW markup — the href URL counts too.
    assert(got(3)._2 == Seq("https://a.b/c", "http://d.e/f?g=1\">go</a>".takeWhile(_ != '"')))
    val host = rows.sparkSession.range(1)
      .select(TextAnalysis.urlHost(lit("https://Sub.Example.COM:8080/p?x=1")).as("h"))
      .head().getString(0)
    assert(host == "sub.example.com")
  }

  test("splitLeakageAudit: straddling pairs counted, unlabeled pairs excluded") {
    import graft.llmops.Corpus
    import spark.implicits._
    val labels = Seq((1L, "train"), (2L, "test"), (3L, "train"), (4L, "train"))
      .toDF("doc_id", "split")
    // (1,2) straddles; (3,4) doesn't; (4,9) has an unlabeled endpoint →
    // excluded from both counts.
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 9L)).toDF("id_a", "id_b")
    val r = Corpus.splitLeakageAudit(labels, "doc_id", "split", pairs)
      .collect().head
    assert((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_straddling")) == ((2L, 1L)))
    // empty pair table → (0, 0), not an empty frame.
    val e = Corpus.splitLeakageAudit(labels, "doc_id", "split",
        pairs.filter(lit(false)))
      .collect().head
    assert((e.getAs[Long]("n_pairs"), e.getAs[Long]("n_straddling")) == ((0L, 0L)))
  }

  test("encoding quality: replacements and controls count, whitespace controls don't") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clean text"),
      (2L, "bad � here ��"),
      (3L, "ctl but\ttab\nnewline\rcr fine"),
      (4L, "")).toDF("doc", "text")
    val out = TextAnalysis.withEncodingQuality(rows)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((0L, 0L, 0.0)))
    assert(out(2L)._1 == 3L && out(2L)._2 == 0L)
    // tab/newline/CR are NOT mojibake; the two C0 controls are.
    assert(out(3L) == ((0L, 2L,
      math.rint(2.0 / "ctl but\ttab\nnewline\rcr fine".length * 1e6) / 1e6)))
    assert(out(4L) == ((0L, 0L, 0.0)), "empty text must not divide by zero")
  }

  test("canonicalUrl: each rule hand-checked, path case preserved") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase, default https port, tracking mid-query,
      // fragment; path case preserved.
      ("HTTPS://Sub.EX.com:443/KeepCase?q=1&utm_source=x&r=2#frag",
        "https://sub.ex.com/KeepCase?q=1&r=2"),
      // tracking first → the orphaned & is repaired to ?.
      ("http://a.com/p?utm_x=1&keep=2", "http://a.com/p?keep=2"),
      // ALL params tracking → dangling ? trims entirely.
      ("http://a.com/p?utm_x=1&gclid=2", "http://a.com/p"),
      // :80 strips for http at end-of-host and before the path.
      ("http://A.com:80", "http://a.com"),
      ("http://A.com:80/x", "http://a.com/x"),
      // non-default port survives; fbclid dies; trailing slash trims.
      ("https://b.io:8443/x/?fbclid=z", "https://b.io:8443/x"),
      ("https://c.org/", "https://c.org"))
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("dedupLines removes lines in >= minDf docs, keeps order and rare lines") {
    import spark.implicits._
    val df = Seq(
      (1L, "boiler\nalpha\nboiler2"),
      (2L, "boiler\nbeta\nboiler2"),
      (3L, "boiler\ngamma\nboiler2\nrare"),
      (4L, "delta\nrare")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, "doc_id", "text", minDf = 3)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // boiler/boiler2 hit 3 docs → scrubbed everywhere; "rare" hits only
    // 2 (< minDf) → kept; line order survives reassembly.
    assert(out == Seq(
      (1L, "alpha", 1L, 2L),
      (2L, "beta", 1L, 2L),
      (3L, "gamma\nrare", 2L, 2L),
      (4L, "delta\nrare", 2L, 0L)))
    // a doc-internal repeat counts ONCE toward df: two docs each
    // repeating a line keep it at df = 2.
    val rep = Seq((7L, "x\nx\nbody"), (8L, "x\nother")).toDF("doc_id", "text")
    val kept = Dedup.dedupLines(rep, "doc_id", "text", minDf = 3)
      .orderBy("doc").collect().map(_.getString(1)).toSeq
    assert(kept == Seq("x\nx\nbody", "x\nother"))
  }

  test("semDedupAcross equals the cross-parity subset of the self-join pairs") {
    import graft.llmops.Similarity
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    // self-join pairs restricted to cross-parity, oriented (odd=batch,
    // even=corpus) — must equal the two-sided operator exactly (same
    // frozen centroids, same cells, same cosine).
    val self = Similarity.semDedupPairs(emb, threshold = 0.4, nlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 2) != (b % 2) }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }.toSet
    val across = Similarity.semDedupAcross(
        emb.filter(col("vec_id") % 2 === 1), emb.filter(col("vec_id") % 2 === 0),
        threshold = 0.4, centroids = cent)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(across == self, s"across=$across self=$self")
  }

  test("SimHash banding honors its guarantee: every pair with Hamming<=3 is found") {
    val sigs = Dedup.simHash(docs, "doc_id", "text")
    val truth = sigs.alias("x").join(sigs.alias("y"), col("x.doc") < col("y.doc"))
      .withColumn("h", bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))))
      .filter(col("h") <= 3)
      .select(col("x.doc"), col("y.doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"missed: ${truth -- found}, extra: ${found -- truth}")
    assert(truth.nonEmpty, "expected at least one near-identical pair at Hamming<=3")
  }

  test("band-key skew guard bounds candidates from a ubiquitous key") {
    import spark.implicits._
    // 100 docs collide on one planted hot band key (→ 4950 candidate pairs
    // unguarded); two docs additionally share a rare key. Cap 10 must drop
    // every hot-bucket row and keep the rare bucket intact.
    val hot = (0L until 100L).map(d => (d, 0, 777L))
    val rare = Seq((3L, 1, 42L), (7L, 1, 42L))
    val banded = (hot ++ rare).toDF("doc", "band", "sig")
    val pruned = Dedup.pruneFrequentBandKeys(banded, Seq("band", "sig"), cap = 10)
    val kept = pruned.select("band", "sig").distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(kept == Set((1, 42L)), s"expected only the rare bucket, got $kept")
    assert(pruned.count() == 2)
  }

  test("minHash/simHash with a band-freq cap still recall rare-key pairs") {
    // at the corpus's natural skew no bucket exceeds the cap, so capped and
    // uncapped results are identical — the guard must be recall-neutral
    // unless a bucket is actually pathological.
    val capped = Dedup.minHashPairs(docs, "doc_id", "text", maxJaccardDist = 0.3,
        maxBandFreq = Some(50))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exactPairs -- capped).isEmpty, s"capped minhash missed: ${exactPairs -- capped}")
    val sim = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3,
        maxBandFreq = Some(50))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simUncapped = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim == simUncapped)
  }

  test("band-skew guard is DEFAULT-ON and bounds candidates in every banded generator") {
    import spark.implicits._
    // the default is on, and high enough to be a no-op at oracle scale.
    assert(Dedup.DefaultMaxBandFreq.exists(_ >= 10000))
    // planted pathology: 30 clones of one text (every band bucket freq 30)
    // plus one near-dup pair of unique docs (bucket freq 2). With the cap
    // below the clone count every generator must drop ALL clone pairs
    // (their only evidence is ubiquitous buckets) and keep the rare pair.
    val cloneText = "zero one two three four five six seven eight nine ten eleven"
    val uniqA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    // identical text: the pair survives every generator's verify stage, so
    // any loss can only come from the guard — which must not fire on a
    // freq-2 bucket.
    val uniqB = uniqA
    val corpus = ((0L until 30L).map(d => (d, cloneText)) ++
      Seq((100L, uniqA), (101L, uniqB))).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = pairsOf(Dedup.minHashPairs(corpus, "doc_id", "text",
      maxJaccardDist = 0.3, maxBandFreq = Some(10)))
    assert(mh == Set((100L, 101L)), s"minhash: $mh")
    val wmh = pairsOf(Dedup.weightedMinHashPairs(corpus, "doc_id", "text",
      maxJaccardDist = 0.3, maxBandFreq = Some(10)))
    assert(wmh == Set((100L, 101L)), s"weighted: $wmh")
    val sh = pairsOf(Dedup.simHashPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBandFreq = Some(10)))
    assert(sh == Set((100L, 101L)), s"simhash: $sh")
    // cross-corpus: clones on both sides prune away, the unique pair stays.
    val batch = ((200L until 230L).map(d => (d, cloneText)) ++ Seq((300L, uniqB)))
      .toDF("doc_id", "text")
    val across = Dedup.minHashPairsAcross(
        corpus.filter(col("doc_id") =!= 101L), batch, "doc_id", "text",
        maxJaccardDist = 0.3, maxBandFreq = Some(10))
      .select("corpus_id", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(across == Set((100L, 300L)), s"across: $across")
    // image-hash banding over planted signatures: 30 identical hashes
    // (all 8 buckets hot) + one Hamming-1 pair of uniques.
    val sigs = ((0L until 30L).map(d => (d, 0x1234567890abcdL)) ++
      Seq((100L, 0x0fedcba987654321L), (101L, 0x0fedcba987654320L)))
      .toDF("media_id", "ahash")
    val ih = pairsOf(graft.llmops.Multimodal.hashBandedPairs(sigs,
      maxHamming = 6, maxBandFreq = Some(10)))
    assert(ih == Set((100L, 101L)), s"imagehash: $ih")
    // and with the default cap (a no-op here) the clone pairs come back —
    // the guard only fires on genuinely-hot buckets.
    assert(pairsOf(Dedup.minHashPairs(corpus, "doc_id", "text",
      maxJaccardDist = 0.3)).size == 30 * 29 / 2 + 1)
  }

  test("embeddingStats: anisotropy 0 when centered, 1 when collapsed") {
    import spark.implicits._
    val sym = Seq((1L, Array(1f, 0f)), (2L, Array(-1f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(0f, -1f))).toDF("vec_id", "embedding")
    val s = Similarity.embeddingStats(sym).collect().head
    assert(s.getLong(0) == 4L && s.getLong(1) == 2L)
    assert(s.getDouble(2) == 1.0) // unit norms
    assert(s.getDouble(4) == 0.0) // perfectly centered: no common direction
    val collapsed = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val c = Similarity.embeddingStats(collapsed).collect().head
    assert(c.getDouble(4) == 1.0, s"collapsed corpus must read anisotropy 1: $c")
  }

  test("zipfFit: a planted power law recovers slope ≈ −1 with r² near 1") {
    import spark.implicits._
    // freq(rank r) ≈ 1000/r — a genuine Zipf head.
    val text = (1 to 50).flatMap { r =>
      Seq.fill(math.max(1, math.round(1000.0 / r).toInt))(s"w$r")
    }.mkString(" ")
    val fit = TextAnalysis.zipfFit(Seq((1L, text)).toDF("doc_id", "text"), "doc_id",
      "text", k = 40).collect().head
    assert(fit.getLong(0) == 40L)
    assert(math.abs(fit.getDouble(1) + 1.0) < 0.1, s"slope: ${fit.getDouble(1)}")
    assert(fit.getDouble(3) > 0.98, s"r2: ${fit.getDouble(3)}")
    // a flat (template-spam-like) corpus reads slope ≈ 0 — the gauge's
    // other end.
    val flat = (1 to 30).flatMap(r => Seq.fill(100)(s"f$r")).mkString(" ")
    val flatFit = TextAnalysis.zipfFit(Seq((1L, flat)).toDF("doc_id", "text"),
      "doc_id", "text", k = 30).collect().head
    assert(flatFit.getDouble(1) == 0.0, s"flat slope: $flatFit")
  }

  test("gateThresholds: quantile edges land where the planted metric mass sits") {
    import spark.implicits._
    // 100 docs of 40 distinct tokens, one 4-token runt, one monster of
    // 2000 tokens: p05(n_tokens) catches the head bucket, p99 the tail.
    val word = (i: Int) => s"w$i"
    val normal = (1L to 100L).map(i =>
      (i, (0 until 40).map(j => word((i.toInt * 40 + j) % 997)).mkString(" ")))
    val runt = Seq((200L, "a b c d"))
    val monster = Seq((300L, (0 until 2000).map(j => word(j % 997)).mkString(" ")))
    val docs = (normal ++ runt ++ monster).toDF("doc_id", "text")
    val t = TextAnalysis.gateThresholds(docs, "doc_id", "text").collect().head
    assert(t.getAs[Long]("n_docs") == 102L)
    // p05 of n_tokens: bucket edge at/below 40 but above the runt's 4.
    val minTok = t.getAs[Long]("min_tokens")
    assert(minTok >= 16L && minTok <= 40L, s"min_tokens: $minTok")
    // p99 rank (101 of 102) still lands in the 40-token mass; the single
    // monster sits past it — the gate trims the extreme tail only.
    val maxTok = t.getAs[Long]("max_tokens")
    assert(maxTok >= 32L && maxTok < 2000L, s"max_tokens: $maxTok")
    // ratio thresholds come back on the 0..1 scale with bucket precision.
    val ttr = t.getAs[Double]("min_type_token")
    assert(ttr >= 0.0 && ttr <= 1.0, s"min_type_token: $ttr")
    val dgf = t.getAs[Double]("max_dup_gram_frac")
    assert(dgf >= 0.0 && dgf <= 1.0, s"max_dup_gram_frac: $dgf")
  }

  test("psiDrift: identical snapshots score ~0, a planted shift scores high, empty bins reported") {
    import spark.implicits._
    import graft.llmops.Corpus
    val aVals = (Seq.fill(50)(10L) ++ Seq.fill(50)(40L)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // identical distributions → every contribution ~0 (only Laplace dust).
    val same = Corpus.psiDrift(aVals, aVals, "v", granularity = 16, bins = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(5))).toMap
    assert(same.size == 4 && same.values.forall(math.abs(_) < 1e-9), s"$same")
    // planted shift: everything moves to the top bin → large positive +
    // large positive contributions on both moved-from and moved-to bins.
    val bVals = Seq.fill(100)(60L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val drift = Corpus.psiDrift(aVals, bVals, "v", granularity = 16, bins = 4)
      .orderBy("bin").collect()
    val psi = drift.map(_.getDouble(5)).sum
    assert(psi > 0.25, s"planted full shift must cross the act threshold: $psi")
    // counts land in the right bins; untouched bins are present with 0s.
    assert(drift.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 50L, 0L), (1L, 0L, 0L), (2L, 50L, 0L), (3L, 0L, 100L)))
  }

  test("unigramLogProb: rare-vocabulary docs score higher NLL; reference scoring works") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common rareword common"),
      (3L, "weird tokens only here")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      .sortBy(_._1)
    assert(out.map(_._2) == List(4L, 4L, 4L))
    // the all-common doc is most "ordinary"; the all-rare doc least.
    assert(out(0)._3 < out(1)._3 && out(1)._3 < out(2)._3, s"$out")
    // scoring against an external reference: tokens absent from the
    // reference get the OOV floor, present ones score by reference counts.
    val ref = Seq(Tuple1("common common common")).toDF("text")
    val scored = TextAnalysis.unigramLogProb(docs, "doc_id", "text",
        reference = Some(ref))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // ref: T=3, V=1 → p(common) = 4/4 = 1 (nll 0), OOV = 1/4.
    assert(scored(1L) == 0.0)
    assert(math.abs(scored(3L) - (-math.log(0.25))) < 1e-6)
  }

  test("Luhn cards: valid numbers redact, invalid and short digit runs survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay 4111 1111 1111 1111 today"),      // valid Visa test number
      (2L, "ref 4111-1111-1111-1112 invalid"),    // broken check digit
      (3L, "order 123456789012 is only 12 digits"),
      (4L, "two cards 4111111111111111 and 5500 0000 0000 0004 here"),
      (5L, "no digits at all")).toDF("doc_id", "text")
    val audit = TextAnalysis.luhnCards(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(3))).toSet
    assert(audit == Set(
      (1L, "4111 1111 1111 1111", true),
      (2L, "4111-1111-1111-1112", false),
      (4L, "4111111111111111", true),
      (4L, "5500 0000 0000 0004", true)), s"audit: $audit")
  }

  test("stratified sampling is per-stratum, deterministic, and nested") {
    import graft.llmops.Corpus
    val kept = docs.filter(Corpus.stratifiedSample(col("doc_id"), col("lang"),
      Map("en" -> 2500), defaultBps = 500))
    val again = docs.filter(Corpus.stratifiedSample(col("doc_id"), col("lang"),
      Map("en" -> 2500), defaultBps = 500))
    assert(kept.select("doc_id").collect().toSeq == again.select("doc_id").collect().toSeq)
    // a rate of 10000 keeps the whole stratum; 0 keeps none of it.
    val all = docs.filter(Corpus.stratifiedSample(col("doc_id"), col("lang"),
      Map("en" -> 10000), defaultBps = 0))
    assert(all.filter(col("lang") === "en").count() == docs.filter(col("lang") === "en").count())
    assert(all.filter(col("lang") =!= "en").count() == 0)
    // nested: every doc kept at 2500 bps is kept at 5000 bps (ablation
    // stability — raising a stratum's rate only adds documents).
    val lo = docs.filter(Corpus.stratifiedSample(col("doc_id"), col("lang"),
      Map("en" -> 2500), defaultBps = 0)).select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = docs.filter(Corpus.stratifiedSample(col("doc_id"), col("lang"),
      Map("en" -> 5000), defaultBps = 0)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
  }

  test("SimHash is deterministic") {
    val a = Dedup.simHash(docs, "doc_id", "text").orderBy("doc").collect().toSeq
    val b = Dedup.simHash(docs, "doc_id", "text").orderBy("doc").collect().toSeq
    assert(a == b)
  }

  test("LSH ANN top-k has high recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"ANN recall $recall below 0.8")
  }

  test("IVF top-k with nprobe = nlist equals brute force exactly") {
    val queries = emb.filter(col("vec_id") < 8)
    // probing every cell degrades IVF to exhaustive search — results must
    // match the brute-force baseline row for row.
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == exact, s"missing: ${exact -- ivf}, extra: ${ivf -- exact}")
  }

  test("IVF top-k at nprobe < nlist keeps useful recall and stays candidate-bounded") {
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nlist = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    assert(ivf.size <= exact.size) // ≤ k per query, by construction
  }

  test("IVF with trained ML KMeans centroids keeps high recall at nprobe=4") {
    import spark.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // the trained-quantizer path the scaladoc promises: ML KMeans centers
    // flow through the `centroids` parameter. Trained with
    // distanceMeasure=cosine (IVF probes by cosine; euclidean k-means
    // carves cells by magnitude, a geometry the probe never looks at) and
    // k = 10, the corpus's true label modality. Measured sweep on this
    // corpus (k ∈ {10,16} × {euclidean,cosine} × nprobe ∈ {2,4,8}):
    // cosine@k=10 dominates — 0.425/0.675/0.95 — because top-5
    // neighborhoods here genuinely straddle cluster boundaries, so
    // mid-nprobe recall is data-bounded for ANY 10-cell quantizer; the
    // pins below are that measured frontier, not aspiration. (The
    // deterministic id<nlist quantizer LOOKS better at nprobe=4 — 0.925 —
    // only because queries vec_id<8 are themselves centroids, each
    // probing its own Voronoi cell: a self-serving accident, not a better
    // quantizer.)
    val vecs = emb.select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(10).setSeed(7L).setMaxIter(20)
      .setDistanceMeasure("cosine").fit(vecs)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat).toSeq)
    }.toSeq.toDF("cent_id", "centvec")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int) = {
      val ivf = Similarity.ivfTopK(emb, queries, k = 5, nlist = 10,
          nprobe = nprobe, centroids = Some(centroids))
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & ivf).size.toDouble / exact.size
    }
    val r2 = recallAt(2); val r4 = recallAt(4); val r8 = recallAt(8)
    info(s"trained-centroid recall: @2=$r2 @4=$r4 @8=$r8")
    assert(r2 <= r4 && r4 <= r8, s"recall must rise with nprobe: $r2/$r4/$r8")
    assert(r4 >= 0.6, s"trained-centroid IVF recall@4 too low: $r4")
    assert(r8 >= 0.9, s"trained-centroid IVF recall@8 too low: $r8")
  }

  test("LSH cosine pairs recall the exact cosine near-dups") {
    val exact = Similarity.cosinePairs(emb, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshCosinePairs(emb, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected some pairs at cosine>=0.3")
    // LSH candidates are verified with exact cosine → no false positives...
    assert((approx -- exact).isEmpty)
    // ...and recall stays high.
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"cosine-pair recall $recall below 0.8")
  }

  test("language ID recovers real-language text") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat sat on the mat and it was happy with the sun", "en"),
      (2L, "der hund und die katze sind nicht in der küche mit den kindern", "de"),
      (3L, "le chat est dans la maison et les enfants sont dans le jardin", "fr"),
      (4L, "el perro y el gato están en la casa de la abuela por la tarde", "es"),
      (5L, "zzzz qqqq xxxx wwww", "und")).toDF("doc_id", "text", "expected")
    val pred = TextAnalysis.withLangId(samples)
      .select("expected", "lang_pred").collect()
    pred.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("exact-substring dedup recovers a planted 300-token shared span (maximal, exact offsets)") {
    import spark.implicits._
    val shared = (0 until 300).map(i => s"w$i")
    val doc1 = ((0 until 50).map(i => s"a$i") ++ shared ++ (0 until 5).map(i => s"z$i")).mkString(" ")
    val doc2 = ((0 until 10).map(i => s"b$i") ++ shared ++ (0 until 7).map(i => s"y$i")).mkString(" ")
    val doc3 = (0 until 100).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(df, "doc_id", "text", width = 8, minTokens = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // ONE maximal span — not the 293 seed fragments — at the exact offsets.
    assert(spans.toSeq == Seq((1L, 2L, 50L, 10L, 300L)))
  }

  test("substring dedup splits runs at diagonal gaps; spans below width stay invisible") {
    import spark.implicits._
    val s1 = (0 until 20).map(i => s"s$i")
    val s2 = (0 until 20).map(i => s"u$i")
    val tiny = (0 until 5).map(i => s"t$i") // < width: seeds can't exist
    val doc1 = (s1 ++ (0 until 30).map(i => s"a$i") ++ s2 ++ tiny).mkString(" ")
    val doc2 = (s1 ++ (0 until 11).map(i => s"b$i") ++ s2 ++
      (0 until 3).map(i => s"c$i") ++ tiny).mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(df, "doc_id", "text", width = 8, minTokens = 8)
      .orderBy("a_start").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.toSeq == Seq((0L, 0L, 20L), (50L, 31L, 20L)))
  }

  test("cross-corpus spans ≡ the cross-parity subset of the self-join spans") {
    val self = Dedup.sharedSpans(docs, "doc_id", "text",
      width = 8, minTokens = 12, maxFpFreq = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // self-join pairs are (a < b); re-orient to (batch=even, corpus=odd).
    val expected = self.flatMap { case (a, b, as_, bs, n) =>
      if (a % 2 == 0 && b % 2 == 1) Some((a, b, as_, bs, n))
      else if (a % 2 == 1 && b % 2 == 0) Some((b, a, bs, as_, n))
      else None
    }.toSet
    val across = Dedup.sharedSpansAcross(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", width = 8, minTokens = 12, maxFpFreq = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(across == expected, s"across=${across.size} expected=${expected.size}")
  }

  test("span removal scrubs the planted span from the higher-id doc only") {
    import spark.implicits._
    val shared = (0 until 300).map(i => s"w$i")
    val doc1 = ((0 until 50).map(i => s"a$i") ++ shared ++ (0 until 5).map(i => s"z$i")).mkString(" ")
    val doc2 = ((0 until 10).map(i => s"b$i") ++ shared ++ (0 until 7).map(i => s"y$i")).mkString(" ")
    val doc3 = (0 until 100).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val out = Dedup.removeSharedSpans(df, "doc_id", "text", width = 8, minTokens = 50)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((355L, 0L, doc1)))    // lowest-id occurrence survives intact
    val doc2Clean = ((0 until 10).map(i => s"b$i") ++ (0 until 7).map(i => s"y$i")).mkString(" ")
    assert(out(2L) == ((17L, 300L, doc2Clean))) // span excised, remainder stitched
    assert(out(3L) == ((100L, 0L, doc3)))    // untouched doc passes through
  }

  test("quality metrics sane on a known string") {
    import spark.implicits._
    val df = Seq((1L, "The quick, brown fox!")).toDF("doc_id", "text")
    val m = TextAnalysis.withQuality(df).collect().head
    assert(m.getAs[Long]("n_chars") == 21)
    assert(m.getAs[Long]("n_tokens") == 4)
    assert(m.getAs[Long]("n_punct") == 2)    // comma + bang
    assert(m.getAs[Long]("n_stopwords") == 1) // 'The'
  }

  test("ngram repetition metrics hand-checked on crafted docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),   // "a b"×3, "b a"×2 — all grams duplicated
      (2L, "x"),             // shorter than n — zero row survives
      (3L, "p q r s")        // all grams unique
    ).toDF("doc_id", "text")
    val m = TextAnalysis.ngramRepetition(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getAs[Long]("doc") -> r).toMap
    assert(m(1L).getAs[Long]("n_grams") == 5)
    assert(m(1L).getAs[String]("top_gram") == "a b")
    assert(m(1L).getAs[Long]("top_count") == 3)
    assert(m(1L).getAs[Double]("top_gram_char_frac") == 0.818182) // 3*3/11
    assert(m(1L).getAs[Double]("dup_gram_char_frac") == 1.363636) // (9+6)/11 — overlap can exceed 1
    assert(m(2L).getAs[Long]("n_grams") == 0)
    assert(m(2L).isNullAt(m(2L).fieldIndex("top_gram")))
    assert(m(2L).getAs[Double]("dup_gram_char_frac") == 0.0)
    assert(m(3L).getAs[Double]("dup_gram_char_frac") == 0.0)
    // count tie (all 1) breaks to the lexicographically largest gram.
    assert(m(3L).getAs[String]("top_gram") == "r s")
  }

  test("quality gate: each rule fires on its crafted doc, first-fail wins") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten"),       // keep
      (2L, "tiny doc"),                                               // too_short
      (3L, Seq.fill(10)("a b").mkString(" ")),                        // short_tokens (avg 1)
      (4L, Seq.fill(10)("extraordinarily magnanimous").mkString(" ")), // long_tokens
      (5L, Seq.fill(12)("spam").mkString(" "))                        // low_diversity (ttr hits first)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(df, "doc_id", "text",
      minTokens = 5, maxTokens = 100, minAvgTokenLen = 2.0,
      maxAvgTokenLen = 12.0, minTypeToken = 0.3, maxDupGramFrac = 0.5)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[String]("reason")).toMap
    assert(out == Map(1L -> "keep", 2L -> "too_short", 3L -> "short_tokens",
      4L -> "long_tokens", 5L -> "low_diversity"))
    // with diversity relaxed, the same spam doc falls through to the
    // repetition rule — CASE order is part of the contract.
    val rep = TextAnalysis.qualityGate(df.filter(col("doc_id") === 5L), "doc_id",
      "text", minTokens = 5, minTypeToken = 0.0, maxDupGramFrac = 0.5)
      .collect().head.getAs[String]("reason")
    assert(rep == "repetitive")
  }

  test("weightedSample is nested in the weight and clamps out-of-range weights") {
    import graft.llmops.Corpus
    def kept(bps: org.apache.spark.sql.Column): Set[Long] = docs
      .filter(Corpus.weightedSample(col("doc_id"), bps))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val low = kept(lit(2000))
    val high = kept(lit(6000))
    assert(low.subsetOf(high), "raising the weight must only ADD rows")
    assert(low.nonEmpty && high.size > low.size)
    assert(kept(lit(20000)) == kept(lit(10000)), "weights clamp at 10000")
    assert(kept(lit(-5)).isEmpty, "negative weights clamp to keep-nothing")
  }

  test("sourceQuota: salted two-phase equals the single-window definition, any salt count") {
    import graft.llmops.{Corpus, PortableHash}
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(PortableHash.hash52(col("doc_id").cast("string")),
        col("doc_id").cast("string"))
    val naive = docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    for (salts <- Seq(1, 3, 16)) {
      val got = Corpus.sourceQuota(docs, col("doc_id"), col("source"),
        quota = 7, salts = salts).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == naive, s"salts=$salts diverged from single-window")
    }
    // quota actually binds: no source exceeds it.
    val capped = Corpus.sourceQuota(docs, col("doc_id"), col("source"), quota = 7)
      .groupBy("source").count().agg(max("count")).collect().head.getLong(0)
    assert(capped <= 7)
  }

  test("withoutSources drops exactly the blocked sources") {
    import graft.llmops.Corpus
    import spark.implicits._
    val blocked = Seq("src0", "src2").toDF("source")
    val kept = Corpus.withoutSources(docs, col("source"), blocked)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    val all = docs.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(kept == all -- Set("src0", "src2"))
  }

  test("PII redaction: emails, IPv4, digit runs — order prevents cross-rule bites") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org here"),
      (2L, "host 192.168.1.254 up"),
      (3L, "acct 12345678901 and 123456"),   // second run too short
      (4L, "reach a1_b%c@x.io at 10.0.0.1 ref 99887766554")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withPiiCounts(df)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"),
          r.getAs[Long]("n_digit_runs")), r.getAs[String]("redacted"))).toMap
    assert(out(1L)._1 == ((1L, 0L, 0L)))
    assert(out(1L)._2 == "mail [EMAIL] here")
    assert(out(2L)._1 == ((0L, 1L, 0L)))
    assert(out(2L)._2 == "host [IP] up")
    assert(out(3L)._1 == ((0L, 0L, 1L)))
    assert(out(3L)._2 == "acct [NUM] and 123456")
    assert(out(4L)._1 == ((1L, 1L, 1L)))
    assert(out(4L)._2 == "reach [EMAIL] at [IP] ref [NUM]")
  }

  test("type-token ratio is case-insensitive distinct over total") {
    import spark.implicits._
    val df = Seq((1L, "A a b")).toDF("doc_id", "text")
    val v = df.select(TextAnalysis.typeTokenRatio(col("text")).as("ttr"))
      .collect().head.getDouble(0)
    assert(v == 0.666667)
  }

  test("multimodal stub pipeline: payload → metadata + features, deterministic") {
    val media = Multimodal.payloadFrom(docs, "doc_id", "text")
    val meta = Multimodal.withMetadata(media)
    assert(meta.filter(col("byte_len") =!= length(col("payload"))).count() == 0)
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect().toSeq
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect().toSeq
    assert(f1.map(_.media_id) == f2.map(_.media_id))
    assert(f1.head.features.length == 8)
    assert(f1.zip(f2).forall { case (a, b) => a.features.sameElements(b.features) })
    // feature values derive from payload bytes — nonzero for nonempty docs.
    assert(f1.forall(f => f.byte_len == 0 || f.features.exists(_ != 0f)))
  }

  test("frameJaccardPairs: shared-prefix payloads pair, disjoint ones never") {
    import spark.implicits._
    val a = "AAAABBBBCCCCDDDDEEEEFFFFGGGGHHHHIIIIJJJJKKKKLLLL" // 48 bytes
    val rows = Seq(
      (1L, a),
      (2L, a + "MMMMNNNNOOOO"), // same 48-byte prefix + 12 more
      (3L, "zzzzyyyyxxxxwwwwvvvvuuuuttttssssrrrrqqqqppppoooo")
    ).toDF("doc_id", "text")
    val media = Multimodal.payloadFrom(rows, "doc_id", "text")
    // frames at 0/12/24/36(/48): docs 1-2 share the three full prefix
    // frames, frame@36 differs (12-byte tail vs 16-byte), doc 3 shares
    // nothing. J(1,2) = 3 / (4 + 5 - 3) = 0.5.
    val pairs = Multimodal.frameJaccardPairs(media, frameLen = 16,
        stride = 12, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0.5)))
    // exact-duplicate payloads score 1.0
    val dup = Multimodal.payloadFrom(
      Seq((7L, a), (8L, a)).toDF("doc_id", "text"), "doc_id", "text")
    val d = Multimodal.frameJaccardPairs(dup, 16, 12, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(d == Seq((7L, 8L, 1.0)))
  }

  test("frameJaccardPairs maxDf: planted ubiquitous frame never generates candidates") {
    import spark.implicits._
    // every payload opens with the same 16-byte "black lead-in" frame;
    // tails are pairwise-distinct. frameLen=16, stride=16 → frame 0 is
    // the shared fingerprint (df = n), the rest are df = 1.
    val lead = "LEADLEADLEADLEAD"
    val rows = (1L to 12L).map(i => (i, lead + f"tail$i%012d" + f"xtra$i%012d"))
      .toDF("doc_id", "text")
    val media = Multimodal.payloadFrom(rows, "doc_id", "text")
    // cap below the lead frame's df: the only shared fingerprint is
    // excluded from candidate generation, so NO pair is ever emitted —
    // the d²/2 blowup the cap exists to prevent.
    val capped = Multimodal.frameJaccardPairs(media, frameLen = 16,
      stride = 16, threshold = 0.01, maxDf = 4)
    assert(capped.count() == 0L)
    // two true near-dups (identical tails) still pair under the cap, and
    // the Jaccard is EXACT over the FULL sets — the shared lead frame
    // counts back into the numerator through the hot-postings join:
    // docs 21/22 share all 3 frames (lead + 2 tail) → J = 1.0 even
    // though the lead fingerprint (df = 13 > 4... df counts distinct
    // docs: lead df = 14 here) is above the cap.
    val withDup = rows.unionByName(
      Seq((21L, lead + "same-tail-aaaaaa" + "same-tail-bbbbbb"),
        (22L, lead + "same-tail-aaaaaa" + "same-tail-bbbbbb")).toDF("doc_id", "text"))
    val pairs = Multimodal.frameJaccardPairs(
        Multimodal.payloadFrom(withDup, "doc_id", "text"),
        frameLen = 16, stride = 16, threshold = 0.9, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((21L, 22L, 1.0)))
  }

  test("real image decode: synthetic PNG/BMP dimensions and channel means recovered") {
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int, format: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "image", png(4, 2, 0xFF0000)),          // pure red 4×2
      (2L, "image", png(3, 3, 0x808080, "bmp")),   // mid gray 3×3 BMP
      (3L, "image", "not an image".getBytes("UTF-8")), // corrupt → stub fallback
      (4L, "text", "plain text stays stubbed".getBytes("UTF-8")))
    val media = rows.toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r.features).toMap
    // red 4×2: [w, h, meanR, meanG, meanB, meanLuma, lumaStd, aspect]
    assert(f(1L)(0) == 4f && f(1L)(1) == 2f)
    assert(f(1L)(2) == 1f && f(1L)(3) == 0f && f(1L)(4) == 0f)
    assert(math.abs(f(1L)(5) - 0.299f) < 1e-6)   // luma of pure red
    assert(f(1L)(6) == 0f)                        // constant image: zero std
    assert(f(1L)(7) == 2f)                        // aspect 4/2
    // gray BMP 3×3: all channels 128/255
    assert(f(2L)(0) == 3f && f(2L)(1) == 3f)
    assert(math.abs(f(2L)(2) - 128f / 255f) < 1e-6)
    assert(math.abs(f(2L)(4) - 128f / 255f) < 1e-6)
    // corrupt image payload and text kind both take the stub path.
    assert(f(3L).sameElements(Multimodal.decodeStub("not an image".getBytes("UTF-8"))))
    assert(f(4L).sameElements(Multimodal.decodeStub("plain text stays stubbed".getBytes("UTF-8"))))
  }

  test("pHash: re-encode/resize exact invariance, gamma robustness, discrimination, banded pairs") {
    import spark.implicits._
    def img(w: Int, h: Int, format: String)(gray: (Int, Int) => Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = math.max(0, math.min(255, gray(x, y)))
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val grad = (x: Int, _: Int) => x * 4
    val gradV = (_: Int, y: Int) => y * 4
    val checker = (x: Int, y: Int) => if (((x / 8) + (y / 8)) % 2 == 0) 32 else 224
    val gamma = (x: Int, y: Int) => {
      val p = grad(x, y) / 255.0; (math.pow(p, 2.2) * 255.0).round.toInt
    }
    val hGrad = Multimodal.imagePHash(img(64, 64, "png")(grad)).get
    // (a) re-encode invariance: BMP of the same pixels hashes identically
    assert(Multimodal.imagePHash(img(64, 64, "bmp")(grad)).get === hGrad)
    // (b) resize invariance: 2× nearest upscale -> same block means -> same hash
    assert(Multimodal.imagePHash(
      img(128, 128, "png")((x, y) => grad(x / 2, y / 2))).get === hGrad)
    // (c) gamma robustness: the nonlinear remap stays NEAR (low-frequency
    // structure preserved); (d) distinct patterns are FAR
    val hGamma = Multimodal.imagePHash(img(64, 64, "png")(gamma)).get
    val hChecker = Multimodal.imagePHash(img(64, 64, "png")(checker)).get
    val hGradV = Multimodal.imagePHash(img(64, 64, "png")(gradV)).get
    assert(hamming(hGrad, hGamma) <= 6, s"gamma drifted ${hamming(hGrad, hGamma)}")
    assert(hamming(hGrad, hChecker) >= 14, s"checker too close ${hamming(hGrad, hChecker)}")
    // the transpose shares the zero-plateau bits (measured Hamming 8) —
    // what matters is that it stays ABOVE the pairing threshold
    assert(hamming(hGrad, hGradV) > 6, s"vertical too close ${hamming(hGrad, hGradV)}")
    // (e) flat image: all AC coefficients 0 -> hash exactly 0
    assert(Multimodal.imagePHash(img(64, 64, "png")((_, _) => 77)).get === 0L)
    // corrupt payload degrades to None, never throws
    assert(Multimodal.imagePHash("not an image".getBytes("UTF-8")).isEmpty)
    // (f) end to end: the banded pair surfaces the gamma-edited copy
    // of the gradient and nothing pairs with the checkerboard
    val media = Seq(
      (1L, "image", img(64, 64, "png")(grad)),
      (2L, "image", img(64, 64, "png")(gamma)),
      (3L, "image", img(64, 64, "png")(checker)),
      (4L, "text", "nope".getBytes("UTF-8"))).toDF("media_id", "kind", "payload")
    val pairs = Multimodal.imagePHashPairs(media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("pHash fuzz: seeded payload corruption never kills — decode or None, no exception") {
    val im = new java.awt.image.BufferedImage(48, 48,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 48) im.setRGB(x, y, (x * 5) << 8)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val clean = bos.toByteArray
    val rnd = new scala.util.Random(7) // fixed seed: reproducible fuzz
    (0 until 60).foreach { trial =>
      val bytes = clean.clone()
      trial % 3 match {
        case 0 => (0 to rnd.nextInt(6)).foreach { _ =>
          val p = rnd.nextInt(bytes.length)
          bytes(p) = (bytes(p) ^ (1 + rnd.nextInt(255))).toByte
        }
        case 1 => ()
        case 2 => ()
      }
      val cut = if (trial % 3 == 1) rnd.nextInt(bytes.length) else bytes.length
      val junk = if (trial % 3 == 2) {
        val j = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(j); j
      } else Array.emptyByteArray
      // must not throw: either a hash or None — the degrade contract
      val r = Multimodal.imagePHash(bytes.take(cut) ++ junk)
      assert(r.isEmpty || r.isDefined) // shape only; no exception is the assertion
    }
  }

  test("real WAV decode: synthetic PCM sample stats recovered exactly; corrupt bytes stub") {
    import spark.implicits._
    def wav(ch: Int, rate: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(ch.toShort).putInt(rate)
        .putInt(rate * ch * bits / 8).putShort((ch * bits / 8).toShort)
        .putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      bb.array()
    }
    def s16(vals: Short*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vals.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putShort)
      bb.array()
    }
    // mono 16-bit @8 kHz: [0, +0.5, -0.5, 32767/32768]
    val mono = wav(1, 8000, 16, s16(0, 16384, -16384, 32767))
    // stereo 8-bit @4 kHz: unsigned bytes [128, 255, 0, 128] →
    // [0, 127/128, -1, 0]; 4 samples / 2 channels = 2 frames.
    val stereo = wav(2, 4000, 8, Array[Byte](128.toByte, 255.toByte, 0, 128.toByte))
    val junk = "RIFFnot really a wav".getBytes("UTF-8")
    val media = Seq(
      (1L, "audio", mono), (2L, "audio", stereo), (3L, "audio", junk),
      (4L, "video", mono) // wrong kind: stays stubbed even for valid WAV bytes
    ).toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r.features).toMap
    // mono: [ch, rate, frames, mean, rms, min, max, dur]
    val m = Seq(0.0, 16384 / 32768.0, -16384 / 32768.0, 32767 / 32768.0)
    assert(f(1L)(0) == 1f && f(1L)(1) == 8000f && f(1L)(2) == 4f)
    assert(math.abs(f(1L)(3) - (m.sum / 4)) < 1e-7)
    assert(math.abs(f(1L)(4) - math.sqrt(m.map(x => x * x).sum / 4)) < 1e-7)
    assert(f(1L)(5) == -0.5f && f(1L)(6) == (32767 / 32768.0).toFloat)
    assert(math.abs(f(1L)(7) - 4f / 8000f) < 1e-9)
    // stereo 8-bit
    val st = Seq(0.0, 127 / 128.0, -1.0, 0.0)
    assert(f(2L)(0) == 2f && f(2L)(1) == 4000f && f(2L)(2) == 2f)
    assert(math.abs(f(2L)(3) - (st.sum / 4)) < 1e-7)
    assert(f(2L)(5) == -1f && f(2L)(6) == (127 / 128.0).toFloat)
    assert(math.abs(f(2L)(7) - 2f / 4000f) < 1e-9)
    // corrupt audio bytes and non-audio kinds take the stub path.
    assert(f(3L).sameElements(Multimodal.decodeStub(junk)))
    assert(f(4L).sameElements(Multimodal.decodeStub(mono)))
    // direct parse: truncated data chunk rejects instead of over-reading.
    assert(Multimodal.decodeWav(mono.dropRight(2)).isEmpty)
  }

  test("thumbnails: fit-inside resize preserves aspect and color; non-images pass through empty") {
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, "image", png(8, 4, 0x00FF00)),   // green 8×4 → 4×2 at maxDim 4
      (2L, "image", png(2, 2, 0x0000FF)),   // 2×2 → upscaled to 4×4
      (3L, "text", "not an image".getBytes("UTF-8"))).toDF("media_id", "kind", "payload")
    val t = Multimodal.thumbnails(media, maxDim = 4).collect()
      .map(r => r.media_id -> r).toMap
    assert(t(1L).thumb_w == 4 && t(1L).thumb_h == 2)
    assert(t(2L).thumb_w == 4 && t(2L).thumb_h == 4)
    assert(t(3L).thumb_w == 0 && t(3L).thumb.isEmpty)
    // re-decode the thumb: still pure green everywhere.
    val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t(1L).thumb))
    assert(im.getWidth == 4 && im.getHeight == 2)
    assert((for (y <- 0 until 2; x <- 0 until 4)
      yield im.getRGB(x, y) & 0xFFFFFF).forall(_ == 0x00FF00))
  }

  test("int8 quantization: reconstruction error bounded by half a quantization step") {
    import graft.llmops.Quantize
    val z = Quantize.quantized(emb)
      .select(col("id"), col("scale"),
        posexplode(arrays_zip(col("vec"), col("qvec"))))
      .select(col("scale"), col("col")("vec").cast("double").as("v"),
        col("col")("qvec").cast("double").as("qv"))
      .withColumn("err", abs(col("v") - col("qv") / col("scale")))
      .withColumn("bound", lit(0.5000001) / col("scale"))
    assert(z.filter(col("err") > col("bound")).count() == 0)
    // and bytes stay inside the symmetric range.
    val mx = Quantize.quantized(emb)
      .select(array_max(transform(col("qvec"), b => abs(b.cast("int")))).as("m"))
      .agg(max("m")).collect().head.getInt(0)
    assert(mx <= 127)
  }

  test("int8 two-stage ANN keeps high recall vs exact brute force") {
    import graft.llmops.Quantize
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Quantize.int8TopK(emb, queries, k = 5, candFactor = 4)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 ANN recall $recall below 0.9")
  }

  test("frame sampling slices the exact bytes with tokenChunks tail arithmetic") {
    import spark.implicits._
    val media = Multimodal.payloadFrom(
      Seq((1L, "abcdefghij"), (2L, "x")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.sampleFrames(media, frameLen = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq.sortBy(t => (t._1, t._2))
    // doc 1 (10 bytes): frames at 1..4, 4..7, 7..10, 10 — overlap 1 byte.
    assert(out.map(t => (t._1, t._2, t._3)) == Seq(
      (1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (1L, 3L, 1L), (2L, 0L, 1L)))
    // byte-exactness: frame 1 of doc 1 is "defg".
    val md5defg = java.security.MessageDigest.getInstance("MD5")
      .digest("64656667".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1)._4 == md5defg)
  }

  test("sign-LSH ANN (annTopK) is deterministic and recalls brute-force neighbors") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // few bits per table at this tiny SF — buckets stay populated; scale
    // tuning (bits up with corpus size) is the operator's contract.
    val approx = Similarity.annTopK(emb, queries, k = 5, bits = 4)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"sign-LSH ANN recall $recall below 0.6")
    val again = Similarity.annTopK(emb, queries, k = 5, bits = 4)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx == again, "annTopK not deterministic")
  }

  test("random projection: inner products preserved at the 12/outDim JL scale") {
    // the JL property itself, not top-k recall (this corpus's cosine
    // margins are tighter than a 4x projection resolves — the operator's
    // scaladoc says to size outDim to the margin): across all pairs of a
    // 50-vector sample, projected dots regress onto true dots with slope
    // ~ outDim/12 (uniform[-0.5,0.5) plane components have variance 1/12)
    // and correlate strongly.
    val outDim = 16
    val vecs = emb.limit(50).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val projs = Similarity.randomProject(emb.limit(50), outDim).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val ids = vecs.keys.toSeq.sorted
    val pairs = for (i <- ids.indices; j <- i + 1 until ids.size)
      yield (dot(vecs(ids(i)), vecs(ids(j))), dot(projs(ids(i)), projs(ids(j))))
    val (tx, ty) = (pairs.map(_._1), pairs.map(_._2))
    val (mx, my) = (tx.sum / tx.size, ty.sum / ty.size)
    val cov = tx.zip(ty).map { case (x, y) => (x - mx) * (y - my) }.sum
    val vx = tx.map(x => (x - mx) * (x - mx)).sum
    val vy = ty.map(y => (y - my) * (y - my)).sum
    val corr = cov / math.sqrt(vx * vy)
    val slope = cov / vx
    val expected = outDim / 12.0
    // per-pair JL noise is large at a 4x reduction (the bound wants
    // outDim ~ ln(n)/eps^2) — pin positivity of the correlation and the
    // UNBIASEDNESS of the scale, which averaging makes tight: the
    // regression slope over ~1200 pairs and the mean norm ratio over
    // 50x16 components both sit at outDim/12.
    assert(corr >= 0.3, s"JL correlation $corr below 0.3")
    assert(math.abs(slope - expected) / expected <= 0.4,
      s"JL slope $slope vs expected $expected")
    val normRatio = ids.map(i =>
      dot(projs(i), projs(i)) / dot(vecs(i), vecs(i))).sum / ids.size
    assert(math.abs(normRatio - expected) / expected <= 0.25,
      s"mean norm ratio $normRatio vs expected $expected")
    // determinism: fixed planes -> identical projection on a second run.
    val again = Similarity.randomProject(emb.limit(50), outDim).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(again == projs.map { case (k, v) => k -> v.toList })
  }

  test("multi-probe sign-LSH: candidate superset of the single-probe path, recall rises") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(res: Set[(Long, Long)]) = (exact intersect res).size.toDouble / exact.size
    val single = Similarity.annTopK(emb, queries, k = 5, bits = 8)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.annTopKMultiProbe(emb, queries, k = 5, bits = 8)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the probe set strictly contains the exact bucket, so the candidate
    // pool is a superset — top-k recall vs ground truth can only rise.
    assert(recallOf(multi) >= recallOf(single),
      s"multi-probe recall ${recallOf(multi)} < single ${recallOf(single)}")
    // at 8 bits the single path is bucket-starved at this SF — the flips
    // must deliver a real lift, not a tie.
    assert(recallOf(multi) >= 0.5 && recallOf(multi) > recallOf(single),
      s"expected a strict lift: multi ${recallOf(multi)} single ${recallOf(single)}")
  }

  test("triplet mining: roles partition the rank space, counts exact, deterministic") {
    val anchors = emb.filter(col("vec_id") < 3)
    val out = Similarity.mineTriplets(emb, anchors, kPos = 2, mHard = 3, rRand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // exact counts per anchor and role.
    for (a <- Seq(0L, 1L, 2L)) {
      val mine = out.filter(_._1 == a)
      assert(mine.count(_._3 == "positive") == 2)
      assert(mine.count(_._3 == "hard_negative") == 3)
      assert(mine.count(_._3 == "random_negative") == 2)
      // positives are ranks 1-2, hard 3-5, random 6-7; no anchor self-pair.
      assert(mine.filter(_._3 == "positive").map(_._4).sorted.toSeq == Seq(1L, 2L))
      assert(mine.filter(_._3 == "hard_negative").map(_._4).sorted.toSeq == Seq(3L, 4L, 5L))
      assert(mine.filter(_._3 == "random_negative").map(_._4).sorted.toSeq == Seq(6L, 7L))
      assert(!mine.exists(_._2 == a))
      // a random negative is never also a positive/hard (disjoint cands).
      assert(mine.map(_._2).distinct.length == mine.length)
    }
    // determinism: the hash-picked randoms repeat exactly.
    val again = Similarity.mineTriplets(emb, anchors, kPos = 2, mHard = 3, rRand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSet == again.toSet)
  }

  test("cellStats: occupancy, skew ratio, centroid distance; empty cells reported") {
    import spark.implicits._
    val cent = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(-1f, -1f)))
      .toDF("cent_id", "centvec")
    val vecs = Seq(
      (10L, Array(1f, 0.1f)), (11L, Array(1f, -0.1f)), (12L, Array(0.9f, 0f)),
      (13L, Array(0.1f, 1f))).toDF("vec_id", "embedding")
    val stats = Similarity.cellStats(Similarity.assignCells(vecs, cent), cent)
      .orderBy("cell").collect()
    // cell 0 holds 3 vectors, cell 1 holds 1, cell 2 is empty (and still
    // reported — an empty cell is a wasted probe the operator should see).
    assert(stats.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 3L), (1L, 1L), (2L, 0L)))
    val occ = stats.map(_.getDouble(2))
    assert(math.abs(occ(0) - 2.25) < 1e-9 && math.abs(occ(1) - 0.75) < 1e-9 &&
      occ(2) == 0.0, s"occ ratios: ${occ.toSeq}")
    assert(stats(2).isNullAt(3), "empty cell must report null mean_cdist")
    val d1 = stats(1).getDouble(3)
    assert(d1 > 0 && d1 < 0.1, s"cell-1 mean distance: $d1")
    assert(stats(0).getDouble(3) > 0)
  }

  test("IVF triplet mining: brute-force parity at nprobe = nlist, bounded candidates below it") {
    val anchors = emb.filter(col("vec_id") < 3)
    // nprobe = nlist probes every cell → the candidate set is the whole
    // corpus and positives/hard negatives MUST equal the exact path.
    val exact = Similarity.mineTriplets(emb, anchors, kPos = 2, mHard = 3, rRand = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    val full = Similarity.mineTripletsIvf(emb, anchors, kPos = 2, mHard = 3,
        rRand = 0, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(full == exact, s"nprobe=nlist must reproduce brute force; diff=${(full diff exact) ++ (exact diff full)}")
    // nprobe < nlist: role counts exact, randoms come from COMPLEMENT
    // cells only (never probed ones), no anchor self-pair, deterministic.
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val cellOf = Similarity.assignCells(emb, cent)
      .select("cid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Similarity.mineTripletsIvf(emb, anchors, kPos = 2, mHard = 3,
        rRand = 2, nlist = 8, nprobe = 3, poolPerCell = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    for (a <- Seq(0L, 1L, 2L)) {
      val mine = out.filter(_._1 == a)
      assert(mine.count(_._3 == "positive") == 2)
      assert(mine.count(_._3 == "hard_negative") == 3)
      assert(mine.count(_._3 == "random_negative") == 2)
      assert(!mine.exists(_._2 == a))
      assert(mine.map(_._2).distinct.length == mine.length)
      // near cands sit in probed cells; randoms sit in complement cells —
      // the two cell sets are disjoint by construction.
      val nearCells = mine.filter(m => m._3 != "random_negative").map(m => cellOf(m._2)).toSet
      val randCells = mine.filter(_._3 == "random_negative").map(m => cellOf(m._2)).toSet
      assert((nearCells intersect randCells).isEmpty,
        s"anchor $a: random negatives leaked into probed cells ($nearCells vs $randCells)")
    }
    val again = Similarity.mineTripletsIvf(emb, anchors, kPos = 2, mHard = 3,
        rRand = 2, nlist = 8, nprobe = 3, poolPerCell = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSet == again.toSet)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (4L, "too short")).toDF("doc_id", "text")
    val bench = Seq((1L, "xx alpha beta gamma delta epsilon yy")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(0L -> (1L, true), 2L -> (0L, false), 4L -> (0L, false)))
  }

  test("contamination fraction grades overlap and agrees with the binary rule at 0") {
    import spark.implicits._
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "one two three four five six"),
      (4L, "too short")).toDF("doc_id", "text")
    val bench = Seq((1L, "xx alpha beta gamma delta epsilon yy")).toDF("doc_id", "text")
    // doc 0 has 3 shingles, exactly 1 shared → frac 1/3: above 0.3, not 0.4.
    val out = Dedup.contaminationScore(train, bench, "doc_id", "text",
        n = 5, maxOverlap = 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out == Map(0L -> ((3L, 1L, 0.333333, true)),
      2L -> ((2L, 0L, 0.0, false)), 4L -> ((0L, 0L, 0.0, false))))
    val strict = Dedup.contaminationScore(train, bench, "doc_id", "text",
        n = 5, maxOverlap = 0.4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(strict == Map(0L -> false, 2L -> false, 4L -> false))
    // at maxOverlap = 0 the graded rule degenerates to the binary any-hit
    // rule — same flags as decontaminate on the real corpus split.
    val tr = docs.filter(col("doc_id") % 2 === 0)
    val be = docs.filter(col("doc_id") % 2 === 1)
    val graded = Dedup.contaminationScore(tr, be, "doc_id", "text", n = 5,
        maxOverlap = 0.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val binary = Dedup.decontaminate(tr, be, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(graded == binary)
  }

  test("token chunking: boundaries, overlap, and short-tail coverage hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    val df = Seq((1L, "t1 t2 t3 t4 t5 t6 t7"), (2L, "a b")).toDF("doc_id", "text")
    val got = Corpus.tokenChunks(df, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("chunk"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_chunk_tokens"))).toSet
    // doc 1 (7 tokens): chunks at 1..4, 4..7, 7 — every token covered,
    // one-token overlap between consecutive chunks.
    assert(got == Set((1L, 0L, 1L, 4L), (1L, 1L, 4L, 4L), (1L, 2L, 7L, 1L),
      (2L, 0L, 1L, 2L)))
  }

  test("sentence chunking: boundaries, straddle rule, unterminated tail hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    // doc 1: sentences of 3 / 4 / 2 tokens. budget 4 → s1 starts at tok 0
    // (chunk 0), s2 at 3 (chunk 0 — straddles past the budget, whole
    // sentences never cut), s3 at 7 (chunk 1). The last "sentence" has no
    // terminator and still counts. doc 2: "!" then "?" boundaries.
    val df = Seq(
      (1L, "a b one. c d e two! tail here"),
      (2L, "x! y? z.")).toDF("doc_id", "text")
    val got = Corpus.sentenceChunks(df, "doc_id", "text", budget = 4, keepText = true)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("chunk"),
        r.getAs[Long]("start_sent"), r.getAs[Long]("n_sentences"),
        r.getAs[Long]("n_chunk_tokens"), r.getAs[String]("chunk_text"))).toSet
    assert(got == Set(
      (1L, 0L, 1L, 2L, 7L, "a b one. c d e two!"),
      (1L, 1L, 3L, 1L, 2L, "tail here"),
      (2L, 0L, 1L, 3L, 3L, "x! y? z.")))
    // conservation: every sentence lands in exactly one chunk — total
    // sentence and token counts are preserved across chunks.
    val chunks = Corpus.sentenceChunks(docs, "doc_id", "text", budget = 25)
    val totals = chunks.agg(sum("n_sentences"), sum("n_chunk_tokens"))
      .collect().head
    val direct = docs.select(
        explode(split(regexp_replace(trim(col("text")), "([.!?])\\s+", "$1\u0001"), "\u0001")).as("s"))
      .agg(count(lit(1)), sum(size(split(trim(col("s")), "\\s+"))))
      .collect().head
    assert(totals.getLong(0) == direct.getLong(0))
    assert(totals.getLong(1) == direct.getLong(1))
  }

  test("cjk-aware sentence chunking: fullwidth boundaries, script-token budget, Latin unchanged") {
    import graft.llmops.Corpus
    import spark.implicits._
    // doc 1: three CJK sentences of 5 / 4 / 3 script-tokens (per-char
    // units, terminators count as their own run token); the trailing ？
    // at end-of-string leaves an empty segment that must DROP. budget 5:
    // s1 (5 tok before: 0) → chunk 0, s2 (before: 5) → chunk 1, s3
    // (before: 9) → chunk 1. doc 2: Latin text must behave exactly as
    // the default mode.
    val df = Seq(
      (1L, "机器学习。数据好！为何？"),
      (2L, "a b one. c d e two! tail here")).toDF("doc_id", "text")
    val got = Corpus.sentenceChunks(df, "doc_id", "text", budget = 5,
        keepText = true, cjkAware = true)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("chunk"),
        r.getAs[Long]("start_sent"), r.getAs[Long]("n_sentences"),
        r.getAs[Long]("n_chunk_tokens"), r.getAs[String]("chunk_text"))).toSet
    assert(got == Set(
      (1L, 0L, 1L, 1L, 5L, "机器学习。"),
      (1L, 1L, 2L, 2L, 7L, "数据好！ 为何？"),
      (2L, 0L, 1L, 2L, 7L, "a b one. c d e two!"),
      (2L, 1L, 3L, 1L, 2L, "tail here")))
    // default mode on the same CJK doc: one sentence, one chunk — the
    // degeneration cjkAware exists to fix.
    val flat = Corpus.sentenceChunks(df.filter(col("doc_id") === 1L),
        "doc_id", "text", budget = 5)
      .collect().map(r => (r.getAs[Long]("n_sentences"), r.getAs[Long]("n_chunk_tokens")))
    assert(flat.toSeq == Seq((1L, 1L)))
  }

  test("packed loss mask: placeholder tokens drop from the loss at packed coordinates") {
    import graft.llmops.Corpus
    import spark.implicits._
    // doc 1: 3 tokens (one masked, punctuation attached), doc 2: 4
    // tokens. seqLen 4: doc 2 straddles the sequence boundary.
    val df = Seq(
      (1L, "hello [EMAIL], world"),
      (2L, "a b c d")).toDF("doc_id", "text")
    val got = Corpus.packedLossMask(df, "doc_id", "text", seqLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, 0L, 0L, 0L, 1L), (1L, 1L, 0L, 1L, 0L), (1L, 2L, 0L, 2L, 1L),
      (2L, 0L, 0L, 3L, 1L), (2L, 1L, 1L, 0L, 1L),
      (2L, 2L, 1L, 1L, 1L), (2L, 3L, 1L, 2L, 1L)))
    // alignment invariant: seq*seqLen + pos_in_seq is the global stream
    // offset — contiguous over the whole corpus
    val offs = got.toSeq.map(t => t._3 * 4 + t._4).sorted
    assert(offs === (0L until 7L))
  }

  test("chat SFT tokens: assistant-only mask, markers never train, positions contiguous") {
    import graft.llmops.Corpus
    import spark.implicits._
    val turns = Seq(
      (1L, 0L, "user", "hi there"),
      (1L, 1L, "assistant", "hello friend"),
      (1L, 2L, "user", "bye")).toDF("conv", "turn_idx", "role", "content")
    val got = Corpus.chatSftTokens(turns, "conv", "turn_idx", "role", "content")
      .orderBy("pos")
      .collect().map(r => (r.getLong(3), r.getString(4), r.getLong(5)))
    // turn 0: <|user|> hi there <|end|>  — all mask 0
    // turn 1: <|assistant|> hello friend <|end|> — content+end mask 1, marker 0
    // turn 2: <|user|> bye <|end|> — all mask 0
    assert(got.toSeq === Seq(
      (0L, "<|user|>", 0L), (1L, "hi", 0L), (2L, "there", 0L), (3L, "<|end|>", 0L),
      (4L, "<|assistant|>", 0L), (5L, "hello", 1L), (6L, "friend", 1L), (7L, "<|end|>", 1L),
      (8L, "<|user|>", 0L), (9L, "bye", 0L), (10L, "<|end|>", 0L)))
    // positions are a contiguous 0..n-1 render of the conversation
    assert(got.map(_._1).toSeq === (0L until 11L))
  }

  test("FIM transform: PSM render reconstructs the document; pass-through is byte-identical") {
    import graft.llmops.{Corpus, PortableHash}
    import spark.implicits._
    val df = Seq((7L, "a b c d e"), (8L, "x y z")).toDF("doc_id", "text")
    // fimBps=10000: every doc transforms — check the render algebra
    val rows = Corpus.fimTransform(df, "doc_id", "text", fimBps = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    rows.foreach { case (doc, fim, text) =>
      assert(fim === 1L)
      // sentinels appear exactly once, in PSM order
      val pi = text.indexOf("<|fim_prefix|>")
      val si = text.indexOf("<|fim_suffix|>")
      val mi = text.indexOf("<|fim_middle|>")
      assert(pi === 0 && si > pi && mi > si)
      // reassembling prefix+middle+suffix recovers the original tokens
      val p = text.substring(pi + 14, si).trim
      val sfx = text.substring(si + 14, mi).trim
      val m = text.substring(mi + 14).trim
      val orig = if (doc == 7L) "a b c d e" else "x y z"
      val rejoin = Seq(p, m, sfx).filter(_.nonEmpty).mkString(" ")
      assert(rejoin === orig, s"doc $doc: $text")
      // cuts match the declared hash arithmetic
      val n = orig.split(" ").length
      val c1 = PortableHash.hash52Jvm(s"$doc:fimc1") % (n + 1)
      val c2 = PortableHash.hash52Jvm(s"$doc:fimc2") % (n + 1)
      val (lo, hi) = (math.min(c1, c2).toInt, math.max(c1, c2).toInt)
      assert(p === orig.split(" ").take(lo).mkString(" "))
      assert(m === orig.split(" ").slice(lo, hi).mkString(" "))
    }
    // fimBps=0: everything passes through byte-identical
    val none = Corpus.fimTransform(df, "doc_id", "text", fimBps = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(none === Set((7L, 0L, "a b c d e"), (8L, 0L, "x y z")))
  }

  test("link extraction: resolution branches, quote styles, drops — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val html = """<html><a href="https://other.example/p?q=1">abs</a>
      |<A HREF='/rel/page'>root-rel</A>
      |<a class=x href="//cdn.example/a.js">proto-rel</a>
      |<a href="mailto:a@b.c">mail</a>
      |<a href="sub/page.html">path-rel drops</a>
      |<a href=unquoted.html>unquoted drops</a>
      |<span href="https://notanchor.example/x">not an anchor</span></html>""".stripMargin
    val df = Seq((1L, html, "HTTPS://Src.Example:8080/dir/index.html"))
      .toDF("doc_id", "html", "base")
    val got = TextAnalysis.extractLinks(df, "doc_id", "html", "base")
      .collect().map(r => (r.getString(3), r.getString(4), r.getLong(5))).toSet
    assert(got === Set(
      ("https://other.example/p?q=1", "other.example", 0L),
      ("HTTPS://src.example/rel/page", "src.example", 1L),
      ("HTTPS://cdn.example/a.js", "cdn.example", 0L)))
  }

  test("code quality: gauges integer-exact, cascade order, each rule trips") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val df = Seq(
      (1L, "val x = 1\nval y = 2"),                       // keep
      (2L, "short\n" + "m" * 1200),                       // long_line
      (3L, ("a" * 150 + "\n") * 3 + "a" * 150),           // wide_lines (avg 150)
      (4L, "{};=+!@#$%\n{};=+!@#$%"),                     // binary_soup (0 alnum)
      (5L, "// AUTO-GENERATED file\nval x = 1"),          // autogenerated
      (6L, "x" * 1500 + "\n// do not edit")               // autogen wins over long_line
    ).toDF("doc_id", "text")
    val got = TextAnalysis.codeQuality(df, "doc_id", "text",
        maxLineLen = 1000, maxAvgLineLen = 100, minAlnumBps = 2500)
      .collect().map(r => r.getLong(0) -> ((r.getString(6), r.getBoolean(7)))).toMap
    assert(got === Map(1L -> ("keep", true), 2L -> ("long_line", false),
      3L -> ("wide_lines", false), 4L -> ("binary_soup", false),
      5L -> ("autogenerated", false), 6L -> ("autogenerated", false)))
    // gauge arithmetic on doc 1: lines 9+9 chars, len 19, alnum 10
    // (v,a,l,x,1 per line)
    val r1 = TextAnalysis.codeQuality(df.filter($"doc_id" === 1), "doc_id", "text")
      .select("n_lines", "max_line", "avg_line", "alnum_bps").collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) ===
      ((2L, 9L, 9L, 10L * 10000L / 19L)))
  }

  test("epochs plan: cap, one-pass redistribution, re-cap, shortfall — hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    // a: wants 10 epochs of 10 -> capped at 40, excess 60
    // b: wants 50 of 100 -> bonus 60*100//150 = 40 -> 90 (under cap 400)
    // c: wants 60 of 50 -> bonus 60*50//150 = 20 -> 80, re-capped? cap
    //    is 200 -> 80 stands. shortfall = (100+50+60) - (40+90+80) = 0
    val plan = Seq(("a", 10L, 100L), ("b", 100L, 50L), ("c", 50L, 60L))
      .toDF("stratum", "c", "target")
    val got = Corpus.epochsPlan(plan, maxEpochs = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === Map(
      "a" -> ((40L, 40000L, 1L, 0L)),
      "b" -> ((90L, 9000L, 0L, 0L)),
      "c" -> ((80L, 16000L, 0L, 0L))))
    // re-cap binds: tiny uncapped stratum cannot blow its own ceiling
    val plan2 = Seq(("a", 10L, 1000L), ("b", 5L, 1L)).toDF("stratum", "c", "target")
    val got2 = Corpus.epochsPlan(plan2, maxEpochs = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(6)))).toMap
    // a capped at 40 (excess 960); b bonus 960*5//5=960 -> re-cap at 20
    // shortfall = (1000+1) - (40+20) = 941
    assert(got2 === Map("a" -> ((40L, 941L)), "b" -> ((20L, 941L))))
  }

  test("bitext mining: mutual-best margin pairs; the hub vector stays unpaired") {
    import graft.llmops.Similarity
    import spark.implicits._
    val left = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val right = Seq(
      (11L, Array(0.9f, 0.1f, 0.0f)),   // the true match of 0
      (13L, Array(0.1f, 0.9f, 0.0f)),   // the true match of 1
      (15L, Array(0.6f, 0.6f, 0.1f))    // hub: close to BOTH left vectors
    ).toDF("vec_id", "embedding")
    val got = Similarity.mineBitext(left, right, k = 2, marginThreshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // mutual bests are the true matches; the hub never wins a margin race
    assert(got.map(t => (t._1, t._2)).toSet === Set((0L, 11L), (1L, 13L)))
    // hand margin: cos(0,11)=.9939, avg_a(0)=(.9939+.7024)/2, avg_b(11)=
    // (.9939+.1104)/2 -> margin ~1.42
    got.foreach { case (_, _, m) => assert(m > 1.40 && m < 1.44) }
  }

  test("Bloom seen-set: no false negatives ever; merge law bloom(A)|bloom(B) = bloom(A u B)") {
    import graft.functions.Bloom
    import spark.implicits._
    val a = (0 until 40).map(i => s"https://a.example/$i").toDF("url")
    val b = (40 until 80).map(i => s"https://b.example/$i").toDF("url")
    val m = 512L
    // law 1: every inserted key probes positive (zero false negatives)
    val ba = Bloom.build(a, "url", mBits = m, k = 4)
    val fn = Bloom.mightContain(ba, a, "url", mBits = m, k = 4)
      .filter(!col("might_contain")).count()
    assert(fn === 0L)
    // law 2: merge is the union filter, word for word
    val merged = Bloom.merge(ba, Bloom.build(b, "url", mBits = m, k = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val union = Bloom.build(a.unionAll(b), "url", mBits = m, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === union)
    // masks are 32-bit words: every word fits in [0, 2^32)
    assert(union.forall { case (wi, w) => wi >= 0 && wi < m / 32 &&
      w >= 0 && w < (1L << 32) })
  }

  test("robots.txt: group binding, longest-match/allow-wins, wildcards, anchors, defaults — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val robots =
      "Disallow: /orphan\n" +            // before any group: binds nothing
        "User-agent: evilbot\nDisallow: /\n\n" + // non-star group: ignored
        "User-agent: *\nUser-agent: nice-bot\n" + // stacked UA lines, one group
        "# a comment line\n" +
        "Disallow: /a\nAllow: /a/ok\nDisallow: /w*z\nDisallow: /end$\n" +
        "Allow:\n"                        // empty path: not a rule
    val hosts = Seq(("h.example", robots)).toDF("host", "txt")
    val rules = TextAnalysis.robotsRules(hosts, "host", "txt")
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(rules === Set(("disallow", "/a"), ("allow", "/a/ok"),
      ("disallow", "/w*z"), ("disallow", "/end$")),
      s"got $rules")

    val urls = Seq(
      "https://h.example/a/page",     // disallow /a
      "https://h.example/a/okstuff",  // allow /a/ok outranks /a by length
      "https://h.example/warez",      // wildcard /w*z
      "https://h.example/end",        // anchored
      "https://h.example/endless",    // anchor near-miss: allowed
      "https://h.example/orphan",     // groupless rule binds nothing
      "https://h.example/free",       // no rule matches
      "https://other.example/a/page"  // host without robots: default allow
    ).toDF("url")
    val got = TextAnalysis.robotsFilter(urls,
        "url", TextAnalysis.robotsRules(hosts, "host", "txt"))
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(got("https://h.example/a/page") === false)
    assert(got("https://h.example/a/okstuff") === true)
    assert(got("https://h.example/warez") === false)
    assert(got("https://h.example/end") === false)
    assert(got("https://h.example/endless") === true)
    assert(got("https://h.example/orphan") === true)
    assert(got("https://h.example/free") === true)
    assert(got("https://other.example/a/page") === true)
  }

  test("unigram vocab: multi-char pieces beat per-char paths, alphabet always kept, segment() replays training — hand-checked") {
    import graft.llmops.Unigram
    import spark.implicits._
    // 'banana' repeated: 'an'/'na'/'ana'-style pieces must out-score
    // all-singles paths; 'xz' appears once — its chars survive only as
    // coverage singles.
    val docs = Seq((1L, "banana banana banana band"), (2L, "banana xz"))
      .toDF("doc_id", "text")
    val v = Unigram.unigramVocab(docs, "doc_id", "text", vocabSize = 6,
      rounds = 2, maxPieceLen = 3, maxWordLen = 12)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every character of the corpus is present (coverage law)
    "banndxz".foreach(c => assert(v.contains(c.toString), s"missing single '$c'"))
    // a multi-char banana piece won the budget and carries Viterbi mass
    val multis = v.filter(_._2._1 > 1)
    assert(multis.nonEmpty, s"expected multi-char pieces in $v")
    assert(multis.keys.exists(p => "banana".contains(p)),
      s"expected a banana substring piece, got ${multis.keys}")
    // Viterbi counts: no multi piece can out-count total word mass (5 words)
    multis.values.foreach { case (_, cnt) => assert(cnt >= 1L && cnt <= 10L) }

    // segment() with the trained vocab: every word reassembles exactly,
    // pieces come out in reading order
    val seg = Unigram.segment(docs, "doc_id", "text",
      Unigram.unigramVocab(docs, "doc_id", "text", 6, 2, 3, 12))
    val joined = seg.groupBy("id", "word_idx")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("piece_idx"), col("piece")))),
        x => x("piece"))).as("word"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(joined((1L, 0L)) === "banana")
    assert(joined((1L, 3L)) === "band")
    assert(joined((2L, 1L)) === "xz")
  }

  test("preferencePairs: best-vs-worst pairing, margin floor, rank-cross stop, within-pair Jaccard dedup — hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    val resp = Seq(
      // prompt 1: 4 responses, scores 40/30/20/10 — pair 1 = (101 vs 104,
      // margin 30), pair 2 = (102 vs 103, margin 10 — dropped by the
      // minMargin 15 floor)
      (1L, "ask one", 101L, "the red fox runs far", 40L),
      (1L, "ask one", 102L, "a blue bird sings loud", 30L),
      (1L, "ask one", 103L, "green turtles swim slowly home", 20L),
      (1L, "ask one", 104L, "dogs bark at night often", 10L),
      // prompt 2: 3 responses — pair 1 = (201 vs 203); pair 2 would pair
      // the middle response with itself (rank 2 from both ends) — the
      // crossing guard must stop it
      (2L, "ask two", 201L, "alpha beta gamma delta", 90L),
      (2L, "ask two", 202L, "epsilon zeta eta theta", 50L),
      (2L, "ask two", 203L, "iota kappa lambda mu", 10L),
      // prompt 3: best and worst are the SAME text (case differs) —
      // Jaccard 1 over lowercased tokens, pair dropped
      (3L, "ask three", 301L, "identical words here now", 80L),
      (3L, "ask three", 302L, "IDENTICAL WORDS HERE NOW", 5L),
      // prompt 4: tie — no strict preference, no pair
      (4L, "ask four", 401L, "some text alpha", 7L),
      (4L, "ask four", 402L, "other text beta", 7L)
    ).toDF("prompt_id", "prompt", "resp_id", "resp", "score")
    val got = Corpus.preferencePairs(resp, "prompt_id", "prompt", "resp_id",
        "resp", "score", minMargin = 15.0, maxPairsPerPrompt = 2)
      .orderBy("prompt_id", "pair_rank").collect()
      .map(r => (r.getAs[Long]("prompt_id"), r.getAs[Long]("pair_rank"),
        r.getAs[Long]("chosen_id"), r.getAs[Long]("rejected_id"),
        r.getAs[Long]("margin")))
    assert(got.toSeq === Seq((1L, 1L, 101L, 104L, 30L), (2L, 1L, 201L, 203L, 80L)))
    // disjoint-text pairs carry their Jaccard gauge: 0 shared tokens
    val bps = Corpus.preferencePairs(resp, "prompt_id", "prompt", "resp_id",
        "resp", "score", minMargin = 15.0)
      .filter(col("prompt_id") === 1L).head().getAs[Long]("pair_jac_bps")
    assert(bps === 0L)
    // with the margin floor at 0 and ranks widened, prompt 1's second
    // pair appears and the tie (prompt 4) still never pairs
    val loose = Corpus.preferencePairs(resp, "prompt_id", "prompt",
        "resp_id", "resp", "score", minMargin = 0.0, maxPairsPerPrompt = 2)
      .select("prompt_id", "pair_rank", "chosen_id", "rejected_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(loose === Set((1L, 1L, 101L, 104L), (1L, 2L, 102L, 103L),
      (2L, 1L, 201L, 203L)))
  }

  test("unpairedPreferences: prompt-relative labels, exact-mean drops, all-tied prompts vanish — hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    val resp = Seq(
      (1L, "p1", 10L, "bad", 10L), (1L, "p1", 11L, "mid", 20L),
      (1L, "p1", 12L, "good", 30L),          // mean 20: -1 / drop / +1
      (2L, "p2", 20L, "same", 7L), (2L, "p2", 21L, "same2", 7L) // all tied
    ).toDF("prompt_id", "prompt", "resp_id", "resp", "score")
    val got = Corpus.unpairedPreferences(resp, "prompt_id", "prompt",
        "resp_id", "resp", "score")
      .collect().map(r => r.getLong(2) -> r.getLong(6)).toMap
    assert(got === Map(10L -> -1L, 12L -> 1L))
    // reward-model FLOAT scores in (0,1) must not truncate to all-ties
    val floats = Seq(
      (1L, "p", 10L, "bad", 0.2), (1L, "p", 11L, "good", 0.8)
    ).toDF("prompt_id", "prompt", "resp_id", "resp", "score")
    val gotF = Corpus.unpairedPreferences(floats, "prompt_id", "prompt",
        "resp_id", "resp", "score")
      .collect().map(r => r.getLong(2) -> r.getLong(6)).toMap
    assert(gotF === Map(10L -> -1L, 11L -> 1L))
  }

  test("crawlWaves: per-host budget per wave, authority-first, hosts independent — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val fr = Seq(
      ("u1", "a", 90L), ("u2", "a", 80L), ("u3", "a", 70L),
      ("u4", "a", 60L), ("u5", "a", 50L),
      ("v1", "b", 10L)
    ).toDF("url", "host", "pr")
    val got = TextAnalysis.crawlWaves(fr, "url", "host", "pr", perHostPerWave = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      "u1" -> ((0L, 0L)), "u2" -> ((0L, 1L)), "u3" -> ((1L, 0L)),
      "u4" -> ((1L, 1L)), "u5" -> ((2L, 0L)), "v1" -> ((0L, 0L))))
  }

  test("crawlWaves: planted HOT HOST spreads across range slices yet ranks exactly like the plain window") {
    import graft.llmops.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // one hot host with 2000 frontier URLs (ties AND distinct priorities
    // mixed — both rank paths), three cold hosts with a handful each
    val rows =
      (0 until 2000).map(i => (f"https://hot.example/p$i%04d", "hot.example",
        (i % 7).toLong)) ++
      (0 until 5).map(i => (s"https://cold$i.example/x", s"cold$i.example", 3L))
    val fr = rows.toDF("url", "host", "pr").repartition(13)
    val got = TextAnalysis.crawlWaves(fr, "url", "host", "pr",
      perHostPerWave = 9, buckets = 8)
    // reference: the plain single-window rank (correct by construction,
    // skewed by construction — exactly what the bucketed spine replaces)
    val ref = fr.withColumn("__r", row_number().over(
        Window.partitionBy("host").orderBy(col("pr").desc, col("url").asc))
        .cast("long") - 1L)
      .select(col("url"), expr("__r div 9L").as("wave"), (col("__r") % 9).as("slot"))
    val gotM = got.collect().map(r => r.getString(0) ->
      ((r.getLong(2), r.getLong(3)))).toMap
    val refM = ref.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotM === refM)
    // the premise: range partitioning actually SPREADS the hot host —
    // no slice holds more than a fraction of its frontier
    val sliceSizes = fr.select(col("url"), col("host"), col("pr"))
      .repartitionByRange(8, col("host"), col("pr").desc, col("url").asc)
      .rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sliceSizes.max < 800,
      s"hot host not spread: slice sizes ${sliceSizes.mkString(",")}")
  }

  test("robotsCrawlDelay + crawlWavesBudget: star-group binding, max-wins, per-host budgets — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val robots = Seq(
      // star group with crawl-delay 5; evilbot group's delay binds nothing
      ("slow.example", "User-agent: evilbot\nCrawl-delay: 99\n\n" +
        "User-agent: *\nDisallow: /x\nCrawl-delay: 5\n"),
      // two star groups: max wins (3 vs 10)
      ("slower.example", "User-agent: *\nCrawl-delay: 3\n\n" +
        "User-agent: *\nCrawl-delay: 10\n"),
      // malformed value drops; no usable directive -> host absent
      ("bad.example", "User-agent: *\nCrawl-delay: soon\n"),
      ("plain.example", "User-agent: *\nDisallow: /y\n")
    ).toDF("host", "txt")
    val delays = TextAnalysis.robotsCrawlDelay(robots, "host", "txt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(delays === Map("slow.example" -> 5L, "slower.example" -> 10L))

    // budgets: wave length 10s -> slow gets 2/wave, slower 1/wave,
    // everything else the default 4
    val budgets = TextAnalysis.robotsCrawlDelay(robots, "host", "txt")
      .select(col("host"),
        greatest(lit(1L), expr("10 div crawl_delay_secs")).as("per_wave"))
    val fr = (
      (0 until 5).map(i => (s"https://slow.example/p$i", "slow.example", (9 - i).toLong)) ++
      (0 until 3).map(i => (s"https://slower.example/p$i", "slower.example", (9 - i).toLong)) ++
      (0 until 3).map(i => (s"https://plain.example/p$i", "plain.example", (9 - i).toLong))
    ).toDF("url", "host", "pr")
    val got = TextAnalysis.crawlWavesBudget(fr, "url", "host", "pr",
        budgets, defaultPerWave = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got("https://slow.example/p0") === ((0L, 0L)))
    assert(got("https://slow.example/p1") === ((0L, 1L)))
    assert(got("https://slow.example/p2") === ((1L, 0L)))   // budget 2
    assert(got("https://slower.example/p0") === ((0L, 0L)))
    assert(got("https://slower.example/p1") === ((1L, 0L))) // budget 1
    assert(got("https://plain.example/p2") === ((0L, 2L)))  // default 4
  }

  test("bestOfN: deterministic n-slice, argmax with id tie-break, rejection floor — hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    val resp = Seq(
      (1L, "p1", 10L, "r10", 50L), (1L, "p1", 11L, "r11", 80L),
      (1L, "p1", 12L, "r12", 80L), (1L, "p1", 13L, "r13", 99L), // outside n=3
      (2L, "p2", 20L, "r20", 5L), (2L, "p2", 21L, "r21", 9L)    // best < floor
    ).toDF("prompt_id", "prompt", "resp_id", "resp", "score")
    val got = Corpus.bestOfN(resp, "prompt_id", "prompt", "resp_id",
        "resp", "score", n = 3, minScore = 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
        r.getLong(5)))
    // prompt 1: 99-scoring resp 13 is OUTSIDE the first-3 slice; the
    // 80-tie breaks to the smaller id. prompt 2: rejected whole.
    assert(got.toSeq === Seq((1L, 11L, 80L, 3L)))
  }

  test("Bloom: null keys ignored by build, answer false on probe — one row per distinct key kept") {
    import graft.functions.Bloom
    import spark.implicits._
    val withNull = Seq(Option("https://a.example/1"), None, Option("https://a.example/2"))
      .toDF("url")
    val f = Bloom.build(withNull, "url", mBits = 512L, k = 4)
    // a null key contributes NO words: state ≡ the null-free build
    val clean = Bloom.build(withNull.where(col("url").isNotNull), "url", 512L, 4)
    assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      clean.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // probe keeps row parity: one verdict per distinct key INCLUDING null,
    // and null answers false (nulls are never keys)
    val got = Bloom.mightContain(f, withNull, "url", 512L, 4).collect()
      .map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    assert(got.size === 3)
    assert(got(Option("https://a.example/1")) && got(Option("https://a.example/2")))
    assert(!got(None))
  }

  test("repetition gauges: dup lines, max token run, entropy — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val df = Seq(
      (1L, "go go go stop go"),            // run 3; entropy of {go:4, stop:1}
      (2L, "nav\nbody text\nnav\nend")     // 1 of 4 lines is a repeat
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionGauges(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val h1 = math.log(5) - (4 * math.log(4) + 1 * math.log(1)) / 5.0
    assert(got(1L)._1 === 5L)                       // n_tokens
    assert(got(1L)._2 === 0L)                       // one line, no dups
    assert(got(1L)._3 === 3L)                       // go go go
    assert(math.abs(got(1L)._4 - h1) < 1e-6)
    assert(got(2L)._2 === 2500L)                    // 1/4 lines duplicated
    assert(got(2L)._3 === 1L)                       // no token run
  }

  test("bitext IVF: probe-everything reduces to the exact miner; partial probes keep recall") {
    val left = emb.filter(col("vec_id") % 2 === 0)
    val right = emb.filter(col("vec_id") % 2 === 1)
    val exact = Similarity.mineBitext(left, right, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identity law: nprobe covering every cell => the candidate set is
    // the full pair universe => output EQUALS the exact miner's
    val all = Similarity.mineBitextIvf(left, right, k = 4,
        nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === exact)
    // partial probes: recall measured 0.85 at sf0.01 (nprobe 4 of 8
    // cells); pin a conservative floor here on the tiny slice
    val part = Similarity.mineBitextIvf(left, right, k = 4,
        nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty &&
      (part & exact).size.toDouble / exact.size >= 0.6,
      s"IVF pair recall collapsed: ${(part & exact).size}/${exact.size}")
  }

  test("NFC normalize + invisible scrub: composition, idempotence, token healing") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val df = Seq(
      (1L, "café"),                 // decomposed -> composes to café
      (2L, "café"),                  // already NFC -> unchanged
      (3L, "ze​ro­ wi‌dth⁠ x﻿"), // invisibles
      (4L, "plain ascii")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.stripInvisible(
          TextAnalysis.nfcNormalize(col("text"))).as("clean"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) === "café")       // composed, length 4
    assert(out(1L) === out(2L))           // the two spellings now COLLIDE
    assert(out(3L) === "zero width x")    // renders-as-nothing chars gone
    assert(out(4L) === "plain ascii")
    // idempotence: normalizing the normalized output is the identity
    val again = Seq((1L, out(1L))).toDF("doc_id", "text")
      .select(TextAnalysis.stripInvisible(
        TextAnalysis.nfcNormalize(col("text")))).collect()(0).getString(0)
    assert(again === out(1L))
  }

  test("packTokens: any per-token frame lands in packSequences coordinates, columns pass through") {
    import graft.llmops.Corpus
    import spark.implicits._
    val perTok = Seq(
      (10L, 0L, "a", 1L), (10L, 1L, "b", 0L), (10L, 2L, "c", 1L),
      (20L, 0L, "x", 1L), (20L, 1L, "y", 1L)).toDF("unit", "p", "tok", "m")
    val got = Corpus.packTokens(perTok, "unit", "p", seqLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // unit 10 occupies stream 0..2, unit 20 occupies 3..4 (straddles seq 0/1)
    assert(got === Set(
      (10L, 0L, "a", 1L, 0L, 0L), (10L, 1L, "b", 0L, 0L, 1L),
      (10L, 2L, "c", 1L, 0L, 2L),
      (20L, 0L, "x", 1L, 0L, 3L), (20L, 1L, "y", 1L, 1L, 0L)))
    // the alignment invariant: seq*seqLen + pos_in_seq is contiguous
    assert(got.toSeq.map(t => t._5 * 4 + t._6).sorted === (0L until 5L))
  }

  test("length-bucketed batching: hand-checked assignment; bucketing shrinks the pad bill") {
    import graft.llmops.Corpus
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 12L), (3L, 100L), (4L, 11L), (5L, 95L))
      .toDF("doc_id", "nt")
    val got = Corpus.lengthBucketBatches(df, "doc_id", col("nt"),
        batchTokens = 25, granularity = 64, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // bucket 0 (short): docs 1,2,4 START at 0,10,22 -> all batch 0
    // bucket 1 (long): docs 3,5 start at 0,100 -> batches 0 and 100//25=4
    assert(got === Set((1L, 0L, 0L), (2L, 0L, 0L), (4L, 0L, 0L),
      (3L, 1L, 0L), (5L, 1L, 4L)))
    // the headline claim: like-lengths batching pads less than id-order
    def padBill(granularity: Long): Long = {
      val docs = Tables.documents(spark, dir)
      Corpus.lengthBucketBatches(docs, "doc_id",
          size(split(trim(col("text")), "\\s+")).cast("long"),
          batchTokens = 600, granularity = granularity, maxBucket = 16)
        .groupBy("bucket", "batch")
        .agg((max("n_tokens") * count(lit(1)) - sum("n_tokens")).as("pad"))
        .agg(sum("pad")).collect()(0).getLong(0)
    }
    val bucketed = padBill(8)
    val unbucketed = padBill(100000) // everything lands in bucket 0
    assert(bucketed < unbucketed,
      s"bucketing must shrink padding: $bucketed !< $unbucketed")
  }

  test("script segments: gaps-and-islands over CJK-aware tokens — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    // "hello world 汉字 again": latin run (2 tokens), han run (2 per-char
    // tokens), latin run (1) — the doc-fraction view cannot see the flip
    val df = Seq((1L, "hello world 汉字 again")).toDF("doc_id", "text")
    val got = TextAnalysis.scriptSegments(df, "doc_id", "text")
      .orderBy("seg")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (0L, "latin", 2L, 0L), (1L, "han", 2L, 2L), (2L, "latin", 1L, 4L)))
  }

  test("host quality prior: keep-rate roll-up, min-evidence guard — hand-checked") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val df = Seq(
      // spam.example: 1 of 4 keeps -> 2500 bps, flagged
      ("https://spam.example/1", false), ("https://spam.example/2", false),
      ("https://spam.example/3", false), ("https://spam.example/4", true),
      // good.example: 3 of 4 keeps -> 7500 bps, not flagged
      ("https://good.example/1", true), ("https://good.example/2", true),
      ("https://good.example/3", true), ("https://good.example/4", false),
      // tiny.example: 100% fail but only 2 docs -> min-evidence guard holds
      ("https://tiny.example/1", false), ("https://tiny.example/2", false)
    ).toDF("url", "keep")
    val got = TextAnalysis.hostQualityPrior(df, "url", "keep",
        minDocs = 3, minKeepBps = 5000)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got("spam.example") === ((4L, 1L, 2500L, true)))
    assert(got("good.example") === ((4L, 3L, 7500L, false)))
    assert(got("tiny.example") === ((2L, 0L, 0L, false))) // too little evidence
  }

  test("card markdown: deterministic render, sorted rows, totals line") {
    import graft.llmops.{Corpus, Release}
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "s2"), (2L, "d e", "s1"), (3L, "f g h i", "s1"))
      .toDF("doc_id", "text", "source")
    val md = Release.cardMarkdown(
        Corpus.dataCard(docs, "doc_id", "text", "source"), "Test card")
      .collect()(0)
    val text = md.getString(2)
    assert(md.getString(0).length === 32)               // md5 hex
    assert(md.getLong(1) === text.length.toLong)
    assert(text.startsWith("# Test card\n\n| source |"))
    // rows sorted by source; totals correct
    val s1 = text.indexOf("| s1 | 2 | 6 |")
    val s2 = text.indexOf("| s2 | 1 | 3 |")
    assert(s1 >= 0 && s2 > s1, text)
    assert(text.endsWith("Totals: 3 docs, 9 tokens across 2 sources."))
    // render is a pure function of the card: re-render hashes identically
    val again = Release.cardMarkdown(
      Corpus.dataCard(docs, "doc_id", "text", "source"), "Test card")
      .collect()(0).getString(0)
    assert(again === md.getString(0))
  }

  test("interpolated NLL: unseen pairs separate by w2 plausibility where pure bigram cannot") {
    import graft.llmops.TextAnalysis
    import spark.implicits._
    val ref = Seq(("the cat sat on the mat the end"))
      .toDF("text") // "the" is frequent, everything else rare
    val probes = Seq(
      (1L, "green the"),   // unseen pair, PLAUSIBLE second word
      (2L, "green zzz"))   // unseen pair, unseen second word
      .toDF("doc_id", "text")
    def nll(f: org.apache.spark.sql.DataFrame) = f
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val interp = nll(TextAnalysis.interpolatedLogProb(probes, "doc_id",
      "text", lambda = 0.75, reference = Some(ref)))
    val bigram = nll(TextAnalysis.bigramLogProb(probes, "doc_id", "text",
      reference = Some(ref)))
    // pure bigram: both pairs unseen, same context count -> identical NLL
    assert(math.abs(bigram(1L) - bigram(2L)) < 1e-9, bigram.toString)
    // interpolation: the frequent "the" earns unigram credit
    assert(interp(1L) < interp(2L) - 0.1, interp.toString)
  }

  test("curriculum phases: bounded-histogram quantile split hand-checked") {
    import graft.llmops.Corpus
    import spark.implicits._
    // bins: 4 docs at bin 0, 2 at bin 10, 3 at bin 20 (total 9, phases
    // 3). cum_before: 0 / 4 / 6 -> phase = cum*3//9 = 0 / 1 / 2. Docs
    // in one bin share a phase (cohorts 4/2/3 — equal up to a bin).
    val scored = (Seq.fill(4)(0.0005) ++ Seq.fill(2)(0.0102) ++ Seq.fill(3)(0.0199))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val got = Corpus.curriculumPhases(scored.toDF("doc", "s"), "doc", "s", phases = 3)
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[Long]("bin"), r.getAs[Long]("phase"))).toMap
    assert((0L to 3L).forall(got(_) == (0L, 0L)))
    assert((4L to 5L).forall(got(_) == (10L, 1L)))
    assert((6L to 8L).forall(got(_) == (20L, 2L)))
    // clamps: negative scores -> bin 0, huge -> maxBin; empty in, empty out
    val clamped = Corpus.curriculumPhases(
      Seq((1L, -5.0), (2L, 1e9)).toDF("doc", "s"), "doc", "s", phases = 2)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("bin")).toMap
    assert(clamped(1L) === 0L && clamped(2L) === 32768L)
    assert(Corpus.curriculumPhases(
      Seq.empty[(Long, Double)].toDF("doc", "s"), "doc", "s", phases = 3)
      .count() === 0L)
    // order_key is a deterministic per-doc hash: stable across runs
    val k1 = Corpus.curriculumPhases(scored.toDF("doc", "s"), "doc", "s", 3)
      .select("doc", "order_key").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 === got.keys.map(d => d -> graft.llmops.PortableHash.hash52Jvm(s"$d:cur")).toMap)
  }

  test("quality-aware survivors keep the longest member, not the lowest id") {
    import spark.implicits._
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L)).toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("v", "cluster")
    val out = Dedup.dedupSurvivorsBy(docs, "doc_id", "n_chars", clusters)
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[Long]("survivor"), r.getAs[Boolean]("is_survivor")))).toMap
    // 2 and 3 tie on score 9 → lowest id (2) wins; 4 is unclustered → its
    // own survivor.
    assert(out == Map(1L -> ((2L, false)), 2L -> ((2L, true)),
      3L -> ((2L, false)), 4L -> ((4L, true))))
  }

  test("bloom decontamination equals the exact path, even under heavy FP pressure") {
    val train = docs.filter(col("doc_id") % 2 === 0)
    val bench = docs.filter(col("doc_id") % 2 === 1)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val exact = canon(Dedup.decontaminate(train, bench, "doc_id", "text", n = 5))
    // a comfortable filter AND a saturated 256-bit one (most probes
    // collide): false positives must die in the verify stage either way.
    for (m <- Seq(1 << 16, 256)) {
      val got = canon(Dedup.decontaminateBloom(train, bench, "doc_id", "text",
        n = 5, mBits = m, kProbes = 4))
      assert(got == exact, s"bloom path diverged at mBits=$m")
    }
  }

  test("KMV sketch is partition-invariant, exact below k, ~6% above") {
    import graft.functions.KMinValues
    val li = Tables.lineitem(spark, dir)
    def sketchOf(df: org.apache.spark.sql.DataFrame, k: Int) = df
      .agg(KMinValues.sketch(col("l_suppkey"), k).as("kmv"))
      .select(col("kmv"), KMinValues.estimate(col("kmv"), k).as("est"))
      .collect().head
    // identical sketch under any partitioning (min-k is order-invariant).
    val a = sketchOf(li.repartition(1), 64)
    val b = sketchOf(li.repartition(13), 64)
    assert(a.getSeq[Long](0) == b.getSeq[Long](0))
    // exact when distinct < k.
    val truth = li.select(countDistinct("l_suppkey")).collect().head.getLong(0)
    val exact = sketchOf(li, 4096)
    assert(exact.getDouble(1) == truth.toDouble)
    // estimator branch: within 3/sqrt(k-2) of truth on l_orderkey (many
    // distincts at every SF).
    val k = 256
    val many = li.agg(KMinValues.sketch(col("l_orderkey"), k).as("kmv"))
      .select(KMinValues.estimate(col("kmv"), k).as("est")).collect().head.getDouble(0)
    val trueOrders = li.select(countDistinct("l_orderkey")).collect().head.getLong(0)
    val err = math.abs(many - trueOrders) / trueOrders
    assert(trueOrders < k || err <= 3.0 / math.sqrt(k - 2), s"KMV err $err (est $many vs $trueOrders)")
  }

  test("decontamination shuffle path matches the broadcast path") {
    val train = docs.filter(col("doc_id") % 2 === 0)
    val bench = docs.filter(col("doc_id") % 2 === 1)
    def run(bc: Boolean) = Dedup.decontaminate(train, bench, "doc_id", "text",
        broadcastBench = bc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(true) == run(false))
  }

  test("cdcChunks: every byte in exactly one chunk; boundaries re-align after insertion") {
    import spark.implicits._
    // non-repeating deterministic bytes (an md5 stream) — repetitive text
    // would let shifted fixed-stride frames coincidentally match.
    val md = java.security.MessageDigest.getInstance("MD5")
    val base: Array[Byte] = (0 until 60).flatMap(i =>
      md.digest(s"blk$i".getBytes("UTF-8")).toSeq).toArray
    val media = Seq((1L, "bin", base),
        (2L, "bin", Array[Byte](120, 121, 122) ++ base))
      .toDF("media_id", "kind", "payload")
    val chunks = Multimodal.cdcChunks(media, window = 8, maskBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    // conservation + contiguity per payload: chunks tile [1, n] exactly.
    for ((id, n) <- Seq((1L, base.length.toLong), (2L, base.length.toLong + 3L))) {
      val cs = chunks.filter(_._1 == id).sortBy(_._2)
      assert(cs.map(_._4).sum == n, s"payload $id: chunks must cover every byte")
      assert(cs.head._3 == 1L)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, "chunks must be contiguous")
        case _ =>
      }
    }
    // the CDC property: after a 3-byte prefix insertion the interior
    // boundaries re-align on content, so the two payloads share most
    // chunk hashes — while every fixed-stride frame shifts (zero shared
    // full-length frames).
    val h1 = chunks.filter(_._1 == 1L).map(_._5).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._5).toSet
    assert((h1 & h2).size >= 3,
      s"expected re-aligned shared chunks, got ${(h1 & h2).size}")
    val fr = Multimodal.sampleFrames(media, frameLen = 16, stride = 16)
      .filter(col("frame_bytes") === 16)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val f1 = fr.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fr.filter(_._1 == 2L).map(_._2).toSet
    assert((f1 & f2).isEmpty, "fixed-stride frames all shift after the insertion")
  }

  test("gear CDC: expression matches the JVM recurrence; insertion re-aligns; stats hand-check") {
    import org.apache.spark.sql.graftfn.GearBoundaries
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    val base: Array[Byte] = (0 until 60).flatMap(i =>
      md.digest(s"gearblk$i".getBytes("UTF-8")).toSeq).toArray
    // the expression's boundaries equal a straight JVM replay of the
    // h = ((h<<1) + G[b]) & mask recurrence.
    def jvmBoundaries(bytes: Array[Byte], m: Int): Seq[Long] = {
      val mask = (1L << m) - 1
      var h = 0L
      bytes.zipWithIndex.flatMap { case (b, i) =>
        h = ((h << 1) + GearBoundaries.Gear(b & 0xFF)) & mask
        if (h == 0L) Some(i + 1L) else None
      }.toSeq
    }
    val got = Seq(Tuple1(base)).toDF("payload")
      .select(GearBoundaries.gearBoundaries(col("payload"), 6).as("b"))
      .head().getSeq[Long](0).toList
    assert(got == jvmBoundaries(base, 6).toList && got.nonEmpty)
    // same insertion-robustness as the md5 path: shifted payload shares
    // interior chunks.
    val media = Seq((1L, "bin", base),
        (2L, "bin", Array[Byte](1, 2, 3) ++ base))
      .toDF("media_id", "kind", "payload")
    val chunks = Multimodal.cdcChunksGear(media, maskBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getString(4)))
    for (id <- Seq(1L, 2L))
      assert(chunks.filter(_._1 == id).map(_._2).sum ==
        base.length + (if (id == 2L) 3 else 0), "chunks must tile the payload")
    val h1 = chunks.filter(_._1 == 1L).map(_._3).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).size >= 3, s"gear boundaries must re-align, shared=${(h1 & h2).size}")
    // dedup stats on planted duplication: two identical payloads and one
    // distinct → every chunk of the twin dedups away.
    val twin = Seq((1L, "bin", base), (2L, "bin", base),
        (3L, "bin", md.digest("other".getBytes("UTF-8"))))
      .toDF("media_id", "kind", "payload")
    val st = Multimodal.cdcDedupStats(Multimodal.cdcChunksGear(twin, maskBits = 4))
      .collect().head
    val (nc, nu, tb, ub) = (st.getAs[Long]("n_chunks"), st.getAs[Long]("n_unique_chunks"),
      st.getAs[Long]("total_bytes"), st.getAs[Long]("unique_bytes"))
    assert(tb == 2L * base.length + 16)
    // the twin's every chunk dedups against payload 1, so unique bytes
    // are AT MOST one copy + the distinct doc (strictly less if short
    // chunks also repeat within the base payload — they may).
    assert(ub <= base.length + 16 && ub > 0)
    assert(nc > nu && st.getAs[Long]("saved_bps") ==
      (tb - ub) * 10000 / tb)
  }

  test("aHash: half-split image gives the known hash; re-encode invariant; pairs band-found") {
    import spark.implicits._
    def img(w: Int, h: Int, fill: (Int, Int) => Int,
        format: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, fill(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    // left half black, right half white → cells j<4 mean 0, j>=4 mean
    // 255000; avg = 127500 → bit i*8+j set iff j>=4 → 0xF0 per row byte.
    val split = img(64, 64, (x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    assert(Multimodal.imageAHash(split).contains(0xF0F0F0F0F0F0F0F0L))
    // the same picture re-encoded as BMP: identical pixels → identical
    // hash (the invariant byte-frame dedup can't give).
    val splitBmp = img(64, 64, (x, _) => if (x < 32) 0x000000 else 0xFFFFFF, "bmp")
    assert(Multimodal.imageAHash(splitBmp).contains(0xF0F0F0F0F0F0F0F0L))
    // a lightly-vandalized copy (one corner cell brightened) lands within
    // a small Hamming distance; the inverse image is far.
    val nearDup = img(64, 64, (x, y) =>
      if (x < 8 && y < 8) 0xFFFFFF else if (x < 32) 0x000000 else 0xFFFFFF)
    val inverse = img(64, 64, (x, _) => if (x < 32) 0xFFFFFF else 0x000000)
    val media = Seq(
      (1L, "image", split), (2L, "image", splitBmp), (3L, "image", nearDup),
      (4L, "image", inverse), (5L, "image", Array[Byte](1, 2, 3)), // corrupt
      (6L, "audio", split)) // wrong kind: excluded even with decodable bytes
      .toDF("media_id", "kind", "payload")
    val hashes = Multimodal.imageHashes(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashes.keySet == Set(1L, 2L, 3L, 4L),
      "corrupt payloads and non-image kinds must drop, decodable images hash")
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) <= 2)
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(4L)) >= 32)
    val pairs = Multimodal.imageHashPairs(media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected the three near-dup pairs, got $pairs")
  }

  test("real AVI decode: exact frame stats, frame hashes match stills, corrupt degrades") {
    import spark.implicits._
    val LE = java.nio.ByteOrder.LITTLE_ENDIAN
    def dib(w: Int, h: Int, fill: (Int, Int) => Int): Array[Byte] = {
      val rowSize = ((w * 3 + 3) / 4) * 4
      val data = new Array[Byte](rowSize * h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = fill(x, y)
        val row = (h - 1 - y) * rowSize // bottom-up
        data(row + x * 3) = (rgb & 0xFF).toByte
        data(row + x * 3 + 1) = ((rgb >> 8) & 0xFF).toByte
        data(row + x * 3 + 2) = ((rgb >> 16) & 0xFF).toByte
      }
      data
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + (body.length & 1)).order(LE)
      bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array()
    }
    def list(kind: String, bodies: Array[Byte]*): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ bodies.flatten)
    def avi(w: Int, h: Int, usPerFrame: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val avih = java.nio.ByteBuffer.allocate(56).order(LE)
      avih.putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
        .putInt(frames.length).putInt(0).putInt(1).putInt(0)
        .putInt(w).putInt(h) // dwWidth @32, dwHeight @36
      chunk("RIFF", "AVI ".getBytes("US-ASCII") ++
        list("hdrl", chunk("avih", avih.array())) ++
        list("movi", frames.map(f => chunk("00db", f)): _*))
    }
    val split = dib(64, 64, (x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    val inverse = dib(64, 64, (x, _) => if (x < 32) 0xFFFFFF else 0x000000)
    val vid = avi(64, 64, 40000, Seq(split, inverse)) // 25 fps
    // direct parse: exact dims, frame interval, frame count and bytes.
    val v = Multimodal.decodeAvi(vid).get
    assert(v.width == 64 && v.height == 64 && v.microSecPerFrame == 40000)
    assert(v.frames.size == 2 && v.frames(0).sameElements(split))
    // frame hashes: the SAME grid hash as the still-image path — frame 0
    // reproduces the known half-split signature from the aHash spec.
    val media = Seq(
      (1L, "video", vid),
      (2L, "video", "RIFFnot an avi really".getBytes("UTF-8")), // corrupt
      (3L, "image", vid) // wrong kind: excluded even with decodable bytes
    ).toDF("media_id", "kind", "payload")
    val hashes = Multimodal.videoFrameHashes(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hashes.map(h => (h._1, h._2)).toSet == Set((1L, 0L), (1L, 1L)),
      s"only the decodable video's frames hash: ${hashes.toSeq}")
    val byFrame = hashes.map(h => h._2 -> h._3).toMap
    assert(byFrame(0L) == 0xF0F0F0F0F0F0F0F0L)
    assert(java.lang.Long.bitCount(byFrame(0L) ^ byFrame(1L)) >= 32)
    // features: real decode for kind=video, stub for corrupt bytes.
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r.features).toMap
    assert(f(1L)(0) == 64f && f(1L)(1) == 64f && f(1L)(2) == 2f && f(1L)(3) == 25f)
    assert(math.abs(f(1L)(4) - 0.5f) < 1e-3, s"mean luma: ${f(1L)(4)}") // half black/half white
    assert(math.abs(f(1L)(7) - 2f / 25f) < 1e-6) // duration
    assert(f(2L).sameElements(Multimodal.decodeStub("RIFFnot an avi really".getBytes("UTF-8"))))
    // torn movi chunk: the walk keeps the parsed header, drops the frames.
    val torn = Multimodal.decodeAvi(vid.dropRight(2))
    assert(torn.exists(_.frames.isEmpty))
    // a frame whose bytes are neither a full DIB nor JPEG (a genuinely
    // compressed codec) is skipped by the hash path, not fatal.
    val mixed = avi(64, 64, 40000, Seq(split, Array[Byte](1, 2, 3)))
    val mh = Multimodal.videoFrameHashes(
        Seq((9L, "video", mixed)).toDF("media_id", "kind", "payload"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(mh.toSeq == Seq((0L, 0xF0F0F0F0F0F0F0F0L)))
    // MJPEG: a JPEG frame chunk decodes for real (in-JDK ImageIO) — the
    // lossy re-encode lands within a small Hamming distance of the exact
    // DIB signature, which is exactly the re-encoded-copy story.
    val jpegFrame = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64)
        im.setRGB(x, y, if (x < 32) 0x000000 else 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    val mjpeg = avi(64, 64, 40000, Seq(jpegFrame))
    val jh = Multimodal.videoFrameHashes(
        Seq((8L, "video", mjpeg)).toDF("media_id", "kind", "payload"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(jh.length == 1 &&
      java.lang.Long.bitCount(jh.head._2 ^ 0xF0F0F0F0F0F0F0F0L) <= 4,
      s"MJPEG frame hash too far: ${jh.toSeq}")
  }

  test("kmeans: integer Lloyd rounds hand-checked, incl. negative truncating means") {
    import spark.implicits._
    // 1-D vectors, two obvious clusters around -1.0 and +1.0; scale 4 →
    // quantized values -5, -3, 3, 5. Seeds (2 lowest ids): -5 and -3.
    val vecs = Seq(
      (0L, Seq(-1.25f)), (1L, Seq(-0.75f)), (2L, Seq(0.75f)), (3L, Seq(1.25f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansQuantized(vecs, nlist = 2, iters = 1, scale = 4L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    // Assignment vs seeds c0=-5, c1=-3: -5→c0; -3→c1; 3,5→c1 (closer to -3).
    // Updates: cell0 mean = -5; cell1 mean = (-3+3+5) div 3 = 5 div 3 = 1
    // (truncating, positive). Seeds are cent_id 0 and 1.
    assert(out == Map(0L -> List(-5L), 1L -> List(1L)))
    // Negative truncating mean: nlist = 1 pools members -5, -3, 0 →
    // -8 div 3 = -2 (toward zero — floor would give -3). This pins
    // JVM div ≡ DuckDB // semantics on the update step.
    val neg = Seq((0L, Seq(-1.25f)), (1L, Seq(-0.75f)), (2L, Seq(0.0f)))
      .toDF("vec_id", "embedding")
    val negOut = Similarity.kmeansQuantized(neg, nlist = 1, iters = 1, scale = 4L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(negOut == Map(0L -> List(-2L)))
  }

  test("kmeans: iters=0 returns the seeds; empty cells keep their centroid") {
    import spark.implicits._
    val vecs = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.0f, 1.0f)), (12L, Seq(1.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.kmeansQuantized(vecs, nlist = 2, iters = 0, scale = 4L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(seeds == Map(10L -> List(4L, 0L), 11L -> List(0L, 4L)))
    // an outlier-free far seed: give nlist = 3 over the same 3 rows, then
    // one iteration — every seed is its own nearest (12 joins 10's cell);
    // cell 11 is a singleton and cell 12's seed attracts nothing after 12
    // moves... construct directly: seed 12 = (4, 0) quantized? vec 12 is
    // (1.0, 0.1) → (4, 0) at scale 4 — identical key to seed 10's cell ⇒
    // ties to the LOWEST cent_id, so cell 12 goes EMPTY and must keep its
    // seed value verbatim.
    val out = Similarity.kmeansQuantized(vecs, nlist = 3, iters = 1, scale = 4L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(out(12L) == List(4L, 0L), "empty cell must retain its previous centroid")
    assert(out(10L) == List(4L, 0L)) // mean of (4,0) and (4,0)
    assert(out(11L) == List(0L, 4L))
  }

  test("kmeans centroids feed ivfTopK: nprobe=nlist equals brute force") {
    val e120 = emb.limit(120)
    val cent = Similarity.centroidsToFloat(
      Similarity.kmeansQuantized(e120, nlist = 6, iters = 2))
    val queries = e120.filter(col("vec_id") < 4)
    val ivf = Similarity.ivfTopK(e120, queries, k = 5, nlist = 6, nprobe = 6,
        centroids = Some(cent))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bf = Similarity.bruteForceTopK(e120, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == bf)
  }

  test("shingles on documents shorter than n return empty, not an error") {
    import spark.implicits._
    val short = Seq("one two", "a", "", "alpha beta gamma").toDF("text")
    val out = short.select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(out == List(Nil, Nil, Nil, List("alpha beta gamma")))
    // and shingles agrees with shinglesFromTokens on the same input
    val viaTokens = short
      .select(split(trim(col("text")), "\\s+").as("toks"))
      .select(Dedup.shinglesFromTokens(col("toks"), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(out == viaTokens)
  }

  test("refitGateOnDrift: drifted sources re-fit from current corpus, others keep reference verbatim") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    def mkDocs(collapse: Boolean) = (0 until 120).map { i =>
      val src = s"s${i % 3}"
      val body =
        if (collapse && src == "s0") "tiny doc"
        else ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * (2 + i % 4)).trim
      (i.toLong, body, src)
    }.toDF("doc_id", "text", "source")
    val refDocs = mkDocs(collapse = false)
    val curDocs = mkDocs(collapse = true)
    val reference = TextAnalysis.gateThresholdsBySource(refDocs, "doc_id", "text", "source")
    // drift frame: s0 crossed, s1 below, s9 reported-but-absent from current
    val drift = Seq(("s0", 0.41), ("s1", 0.02), ("s9", 0.9)).toDF("source", "psi")
    val out = TextAnalysis.refitGateOnDrift(curDocs, "doc_id", "text", "source",
      drift, reference).collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out.keySet == Set("s0", "s1", "s9"))
    assert(out("s0").getAs[Boolean]("refit"))
    assert(!out("s1").getAs[Boolean]("refit"))
    // absent-from-current source cannot re-fit even above threshold
    assert(!out("s9").getAs[Boolean]("refit"))
    val refRows = reference.collect().map(r => r.getAs[String]("source") -> r).toMap
    // undrifted source: reference thresholds VERBATIM
    Seq("n_docs", "min_tokens", "max_tokens").foreach(c =>
      assert(out("s1").getAs[Long](c) == refRows("s1").getAs[Long](c), c))
    // drifted source: thresholds came from the CURRENT (collapsed) corpus
    val curRows = TextAnalysis.gateThresholdsBySource(curDocs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    Seq("min_tokens", "max_tokens").foreach(c =>
      assert(out("s0").getAs[Long](c) == curRows("s0").getAs[Long](c), c))
    assert(out("s0").getAs[Long]("max_tokens") <
      refRows("s0").getAs[Long]("max_tokens"),
      "collapsed source must re-fit to smaller token thresholds")
    // per-source ≡ global when restricted to one source
    val g = TextAnalysis.gateThresholds(
      refDocs.filter(col("source") === "s2"), "doc_id", "text").head()
    val bySrc = refRows("s2")
    Seq("n_docs", "min_tokens", "max_tokens").foreach(c =>
      assert(g.getAs[Long](c) == bySrc.getAs[Long](c), c))
  }

  test("stripMarkdown: fences vanish with content, text survives markers, snake_case intact") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    val md = "## Head\nsee [the docs](http://d) and ![alt text](img.png)\n" +
      "```\nSECRET = 42\n```\nuse `my_func` on snake_case_name\n" +
      "> note here\n* bullet\n2. numbered\n***\n**bold** _solo_ __strong__"
    val out = Seq(md).toDF("text")
      .select(TextAnalysis.stripMarkdown(col("text")).as("t"))
      .head().getString(0)
    assert(!out.contains("SECRET"), "fenced code content must vanish")
    assert(out.contains("the docs") && !out.contains("http://d"))
    assert(out.contains("alt text") && !out.contains("img.png"))
    assert(out.contains("my_func") && out.contains("snake_case_name"))
    assert(out.contains("note here") && !out.contains(">"))
    assert(out.contains("bullet") && out.contains("numbered"))
    assert(out.contains("bold") && !out.contains("**"))
    assert(out.contains("_solo_"), "single underscores are not emphasis")
    assert(out.contains("strong") && !out.contains("__"))
    assert(!out.contains("## ") && out.contains("Head"))
  }

  test("bigramLogProb: word order matters — scrambled text scores higher than prose the unigram model can't separate") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    val prose = "the cat sat on the mat and the dog sat on the rug"
    // same multiset of tokens, order destroyed: unigram NLL identical by
    // construction, bigram NLL must rise.
    val scrambled = "mat the and on rug dog the sat cat the on sat the"
    val reference = (0 until 50).map(i => (i.toLong, prose)).toDF("doc_id", "text")
    val probe = Seq((100L, prose), (101L, scrambled)).toDF("doc_id", "text")
    val bi = TextAnalysis.bigramLogProb(probe, "doc_id", "text",
        reference = Some(reference))
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Double]("avg_nll")).toMap
    assert(bi(100L) < bi(101L),
      s"bigram NLL must separate order: ${bi(100L)} vs ${bi(101L)}")
    val uni = TextAnalysis.unigramLogProb(probe, "doc_id", "text",
        reference = Some(reference))
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Double]("avg_nll")).toMap
    assert(math.abs(uni(100L) - uni(101L)) < 1e-9,
      "unigram NLL is orderless on a permuted doc — the gap bigram closes")
    // sub-2-token docs carry no pairs and drop out
    val tiny = TextAnalysis.bigramLogProb(
      Seq((1L, "one")).toDF("doc_id", "text"), "doc_id", "text")
    assert(tiny.isEmpty)
  }

  test("gopherRules: planted structural pathologies hit their rules; vocabulary ids stable") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    val docs = Seq(
      (1L, "- the apple of banana\n- the cherry of date\n- the fig of grape"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (3L, "the quick brown fox jumps over the lazy dog again\nread much more of this great offer today..."),
      (4L, "the price is ### and ### more ### of ### hash ### signs ### here"),
      (5L, "short the"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[String]("reason")).toMap
    assert(out(1L) === "bullet_listing")
    assert(out(2L) === "keep")
    assert(out(3L) === "ellipsis_spam")
    assert(out(4L) === "symbol_soup")
    assert(out(5L) === "too_short")
    val vocab = TextAnalysis.vocabulary(docs, "doc_id", "text", size = 4, minDf = 2)
      .collect()
    assert(vocab.map(_.getAs[Long]("id")).toSeq == (0L until vocab.length))
    assert(vocab.forall(_.getAs[Long]("df") >= 2L))
    assert(vocab.head.getAs[String]("term") === "the") // highest tf
  }

  test("band-skew cap firing is OBSERVABLE: graft_band_prune metric reports pruned keys") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val pruned = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_band_prune_"))
            pruned.add(row.getLong(row.fieldIndex("pruned_band_keys")))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 5 identical docs: every (band, sig) bucket holds 5 > cap 2 —
      // every band key prunes, the pair output empties, and the metric
      // must SAY so (silent recall loss is the failure mode under test).
      val docs = (1 to 5).map(i =>
        (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      val capped = graft.llmops.Dedup.minHashPairs(docs, "doc_id", "text",
        maxBandFreq = Some(2))
      assert(capped.isEmpty, "all-degenerate buckets must prune to zero pairs")
      // observed-metric delivery is async on the listener bus — poll.
      val deadline = System.currentTimeMillis() + 20000
      while (pruned.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val seen = pruned.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(seen.nonEmpty && seen.max > 0L,
        s"cap fired but no graft_band_prune observation reported it: ${seen.toList}")
      // under-cap run: metric reports 0 pruned keys, pairs intact.
      pruned.clear()
      val uncapped = graft.llmops.Dedup.minHashPairs(docs, "doc_id", "text",
        maxBandFreq = Some(100))
      assert(uncapped.count() == 10L, "5 identical docs pair completely under the cap")
      val deadline2 = System.currentTimeMillis() + 20000
      while (pruned.isEmpty && System.currentTimeMillis() < deadline2)
        Thread.sleep(100)
      val seen2 = pruned.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(seen2.nonEmpty && seen2.forall(_ == 0L),
        s"under-cap run must observe zero pruned keys: ${seen2.toList}")
    } finally spark.listenerManager.unregister(listener)
  }
  test("script-aware text stack: CJK gauges sane, ja/zh disambiguation, ngram langid confidence floor") {
    import spark.implicits._
    val zh = "机器学习模型需要大量高质量的训练数据才能表现良好"  // 24 Han chars, no spaces
    val ja = "これはテストです機械学習のデータ"                  // kana + kanji
    val en = "machine learning models need a lot of high quality training data"
    val mixed = Seq((0L, zh), (1L, ja), (2L, en)).toDF("doc_id", "text")

    // Under wsTokens the Chinese doc is ONE token; under scriptTokens it
    // is per-char — every length gauge downstream changes units with it.
    val ws = TextAnalysis.withQuality(mixed, "text")
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    val st = TextAnalysis.withQuality(mixed, "text", TextAnalysis.scriptTokens)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(ws(0L) === 1L, "whitespace tokenization reads the zh doc as one token")
    assert(st(0L) === zh.length.toLong, "script tokenization is per-char for Han")
    assert(st(1L) === ja.length.toLong)
    assert(st(2L) === ws(2L), "Latin text tokenizes identically under both")

    // blank text: scriptTokens yields an EMPTY array (wsTokens keeps [""]).
    val blank = Seq(("", 0)).toDF("text", "k")
      .select(size(TextAnalysis.scriptTokens(col("text")))).head().getInt(0)
    assert(blank === 0)

    // script-gated langid: kana presence separates ja from zh; Latin text
    // falls back to the function-word profiles; empty text is und.
    val lang = TextAnalysis.withLangIdScript(
        Seq((0L, zh), (1L, ja), (2L, en), (3L, "")).toDF("doc_id", "text"))
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(lang === Map(0L -> "zh", 1L -> "ja", 2L -> "en", 3L -> "und"))

    // gopherRules with scriptTokens: the zh doc's n_tokens is per-char
    // (the rule VERDICT may still be non_alpha — English-published
    // thresholds — but the UNITS are no longer one-token-per-doc).
    val gr = TextAnalysis.gopherRules(mixed, "doc_id", "text",
        minTokens = 5, tokens = TextAnalysis.scriptTokens)
      .select("doc", "n_tokens").as[(Long, Long)].collect().toMap
    assert(gr(0L) === zh.length.toLong)

    // char-ngram langid: trained profiles classify held-out sentences;
    // gibberish falls below the confidence floor -> und with its score.
    val train = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and runs to the house with the cat"),
      ("zh", "敏捷的棕色狐狸跳过懒惰的狗然后跑到房子里和猫一起玩耍学习数据")).toDF("lang", "txt")
    val prof = TextAnalysis.charNgramProfiles(train, "lang", "txt", n = 3, topK = 50)
    val scoredocs = Seq(
      (0L, "the dog runs over the house and the fox jumps in the garden"),
      (1L, "狐狸跳过狗然后到花园里学习模型"),
      (2L, "zzq xvk wqj pfft grbl nnk vvx")).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdByNgram(scoredocs, "doc_id", "text", prof)
      .select("doc", "lang_pred").as[(Long, String)].collect().toMap
    assert(pred(0L) === "en")
    assert(pred(1L) === "zh")
    assert(pred(2L) === "und", "gibberish must fall below the confidence floor")
  }

  test("audio envelope hash: hand-computed square-wave bits; volume/bit-depth/resample invariant; pairs band-found") {
    import spark.implicits._
    def wav(ch: Int, rate: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(ch.toShort).putInt(rate)
        .putInt(rate * ch * bits / 8).putShort((ch * bits / 8).toShort)
        .putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      bb.array()
    }
    // 64 segments x segLen samples: even segments carry a +/-amp square
    // wave (energy amp^2), odd segments silence (energy 0) -> mean
    // energy amp^2/2 -> exactly the even bits set: 0x5555555555555555.
    def squareWave16(amp: Short, segLen: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(64 * segLen * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (seg <- 0 until 64; i <- 0 until segLen)
        bb.putShort(if (seg % 2 == 0) (if (i % 2 == 0) amp else (-amp).toShort) else 0)
      bb.array()
    }
    def squareWave8(amp: Int, segLen: Int): Array[Byte] =
      (for (seg <- 0 until 64; i <- 0 until segLen) yield
        (if (seg % 2 == 0) (if (i % 2 == 0) 128 + amp else 128 - amp) else 128).toByte
      ).toArray

    val original = wav(1, 8000, 16, squareWave16(16384, 100))
    val expected = 0x5555555555555555L
    assert(Multimodal.audioEnvelopeHash(original) === Some(expected))

    // volume re-encode (half gain), bit-depth re-encode (8-bit), and a
    // 2:1 "resample" (half the samples per segment) all land on the SAME
    // envelope hash — their bytes share nothing with the original.
    val quiet = wav(1, 8000, 16, squareWave16(8192, 100))
    val eightBit = wav(1, 8000, 8, squareWave8(64, 100))
    val resampled = wav(1, 4000, 16, squareWave16(16384, 50))
    assert(Multimodal.audioEnvelopeHash(quiet) === Some(expected))
    assert(Multimodal.audioEnvelopeHash(eightBit) === Some(expected))
    assert(Multimodal.audioEnvelopeHash(resampled) === Some(expected))

    // a different recording (odd segments loud) is the complement.
    def inverse16(segLen: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(64 * segLen * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (seg <- 0 until 64; i <- 0 until segLen)
        bb.putShort(if (seg % 2 == 1) (if (i % 2 == 0) 16384 else -16384).toShort else 0)
      bb.array()
    }
    val other = wav(1, 8000, 16, inverse16(100))
    assert(Multimodal.audioEnvelopeHash(other) === Some(0xAAAAAAAAAAAAAAAAL))

    // stereo downmix preserves the envelope; silence hashes to 0; junk absent.
    def interleave(d: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(d.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val src = java.nio.ByteBuffer.wrap(d).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (src.remaining() >= 2) { val v = src.getShort; bb.putShort(v); bb.putShort(v) }
      bb.array()
    }
    assert(Multimodal.audioEnvelopeHash(wav(2, 8000, 16, interleave(squareWave16(16384, 100))))
      === Some(expected))
    assert(Multimodal.audioEnvelopeHash(wav(1, 8000, 16, new Array[Byte](12800)))
      === Some(0L))
    assert(Multimodal.audioEnvelopeHash("RIFFnot audio".getBytes("UTF-8")).isEmpty)

    // end to end: the re-encodes pair with the original via the shared
    // banded machinery; the complement recording pairs with nothing.
    val media = Seq(
      (0L, "audio", original), (1L, "audio", quiet), (2L, "audio", eightBit),
      (3L, "audio", resampled), (4L, "audio", other),
      (5L, "audio", "RIFFjunk".getBytes("UTF-8")),
      (6L, "text", original) // wrong kind: not hashed
    ).toDF("media_id", "kind", "payload")
    val pairs = Multimodal.audioHashPairs(media, maxHamming = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }
  test("hostBlocklist: parent-domain suffix matching, lookalike miss, label cap, unparseable keeps") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    val deep = "https://" + ("x." * 40) + "spam.test/deep" // 42 labels: spam.test beyond the 8-suffix tail? no - tail keeps the SHORTEST 8 suffixes, spam.test is among them
    val urls = Seq(
      (0L, "https://cdn.eu.spam.test/a"),        // parent domain listed
      (1L, "https://spamtest.org/b"),            // lookalike: label-suffix only
      (2L, "https://ADS.Example.NET/c"),         // case-insensitive host
      (3L, "not a url at all"),                  // unparseable -> keeps
      (4L, deep),                                // adversarial label farm
      (5L, "https://deep.block.spam.test/e")     // two listed suffixes: longest wins
    ).toDF("doc", "url")
    val blocked = Seq("spam.test", "ads.example.net", "block.spam.test").toDF("d")
    val r = TextAnalysis.hostBlocklist(urls, "doc", "url", blocked)
      .select("doc", "blocked", "blocked_by").collect()
      .map(x => x.getLong(0) -> (x.getBoolean(1), x.getString(2))).toMap
    assert(r(0L) === ((true, "spam.test")))
    assert(r(1L) === ((false, null)))
    assert(r(2L) === ((true, "ads.example.net")))
    assert(r(3L) === ((false, null)))
    assert(r(4L) === ((true, "spam.test")), "tail-capped explode still sees short listed domains")
    assert(r(5L) === ((true, "block.spam.test")), "longest matched suffix reports")
    // the cap bounds the explode: a 42-label host contributes <= 8 suffix rows
    val nSfx = urls.filter(col("doc") === 4L)
      .select(explode(transform(
        sequence(greatest(lit(1), size(split(TextAnalysis.urlHost(col("url")), "\\.")) - 7),
          size(split(TextAnalysis.urlHost(col("url")), "\\."))),
        i => i))).count()
    assert(nSfx === 8L)
  }

  test("DSIR: on-target raw docs outweigh off-target, dense smoothed model, deterministic Gumbel-top-k, 1-token guard") {
    import graft.llmops.Dsir
    import spark.implicits._
    val B = 256
    // target speaks the alpha-vocab; the raw pool mixes alpha-docs with
    // disjoint-vocab noise docs — DSIR must rank every alpha doc above
    // every noise doc by a wide margin
    val target = (0L until 8L).map(i =>
      (i, "alpha beta gamma delta alpha beta gamma")).toDF("doc_id", "text")
    val raw = ((100L until 106L).map(i => (i, "alpha beta gamma delta")) ++
      (200L until 212L).map(i => (i, s"zeta$i eta theta iota kappa"))
      ).toDF("doc_id", "text")
    val rCounts = Dsir.hashedNgramCounts(raw, "doc_id", "text", B)
      .localCheckpoint(true)
    val tP = Dsir.bucketLogProbs(
      Dsir.hashedNgramCounts(target, "doc_id", "text", B), B)
    val rP = Dsir.bucketLogProbs(rCounts, B)
    // the fitted model is DENSE: exactly B rows, absent cells at the
    // smoothing floor, present cells strictly above it
    assert(tP.count() === B.toLong)
    val floor = math.round(math.log(1.0 / (8 * 13 + B)) * 1e6) // T = 8 docs x 13 grams
    val probs = tP.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probs.values.min === floor)
    assert(probs.values.max > floor)
    val w = Dsir.dsirLogWeights(rCounts, tP, rP)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alphaMin = (100L until 106L).map(w).min
    val noiseMax = (200L until 212L).map(w).max
    assert(alphaMin > noiseMax,
      s"on-target weight floor $alphaMin must beat noise ceiling $noiseMax")
    // Gumbel-top-k: deterministic (same seed => same set), and with the
    // planted margin the selected half is exactly the alpha docs
    val s1 = Dsir.dsirSample(Dsir.dsirLogWeights(rCounts, tP, rP), 6, "s")
      .collect().map(_.getLong(0)).toSet
    val s2 = Dsir.dsirSample(Dsir.dsirLogWeights(rCounts, tP, rP), 6, "s")
      .collect().map(_.getLong(0)).toSet
    assert(s1 === s2)
    assert(s1 === (100L until 106L).toSet,
      s"with a wide margin the top-6 must be the on-target docs: $s1")
    // a 1-token doc contributes its unigram only — no bigram crash
    val one = Dsir.hashedNgramCounts(Seq((1L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text", B)
    assert(one.agg(sum("cnt")).head().getLong(0) === 1L)
  }

  test("parseSitemaps: urlset/sitemapindex, CDATA, entity decode order, invalid entries, scope") {
    import spark.implicits._
    val bodies = Seq(
      // urlset: entity in loc, lastmod, whitespace-padded loc
      ("https://a.example/sm.xml",
        "<?xml version=\"1.0\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<url><loc>https://a.example/p?x=1&amp;y=2</loc><lastmod>2026-03-01</lastmod></url>\n" +
        "<url>\n <loc> https://a.example/q </loc>\n <priority>0.5</priority>\n</url>\n</urlset>"),
      // sitemapindex: CDATA loc (with inner spaces trimmed), one lastmod
      ("https://b.example/smi.xml",
        "<sitemapindex>\n<sitemap><loc><![CDATA[ https://b.example/child1.xml ]]></loc>" +
        "<lastmod>2026-01-02T03:04:05Z</lastmod></sitemap>\n" +
        "<sitemap><loc>https://b.example/child2.xml</loc></sitemap>\n</sitemapindex>"),
      // decode-order law: &amp;lt; is the LITERAL text "&lt;", not "<"
      ("https://c.example/sm.xml",
        "<urlset><url><loc>https://c.example/esc?a=&amp;lt;b&amp;gt;&quot;&apos;</loc></url></urlset>"),
      // invalid entries drop; error page parses to zero; a prefixed
      // namespace parses like the default one (the r15 prefix support)
      ("https://d.example/sm.xml",
        "<urlset><url></url><url><loc></loc></url><url><lastmod>2026-01-01</lastmod></url></urlset>"),
      ("https://e.example/sm.xml", "<html><body>500</body></html>"),
      ("https://f.example/sm.xml",
        "<sm:urlset xmlns:sm=\"x\"><sm:url><sm:loc>https://f.example/p</sm:loc></sm:url></sm:urlset>")
    ).toDF("u", "body")
    val got = TextAnalysis.parseSitemaps(bodies, "u", "body")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)))).toSet
    assert(got === Set(
      ("https://a.example/sm.xml", "url", "https://a.example/p?x=1&y=2", Some("2026-03-01")),
      ("https://a.example/sm.xml", "url", "https://a.example/q", None),
      ("https://b.example/smi.xml", "sitemap", "https://b.example/child1.xml", Some("2026-01-02T03:04:05Z")),
      ("https://b.example/smi.xml", "sitemap", "https://b.example/child2.xml", None),
      ("https://c.example/sm.xml", "url", "https://c.example/esc?a=&lt;b&gt;\"'", None),
      ("https://f.example/sm.xml", "url", "https://f.example/p", None)))
  }

  test("decontaminateSpans: the leaked span is excised, the rest of the doc ships; short overlaps survive") {
    import spark.implicits._
    val leak = "which ancient city stood beside the wide green river when the old empire fell"
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val train = Seq(
      (2L, s"$filler $leak more prose after the leak"),  // leaked mid-doc
      (4L, "a perfectly clean training document with nothing shared at all"),
      (6L, s"short overlap the wide green river only"))  // < minTokens, survives
      .toDF("doc_id", "text")
    val bench = Seq((1L, s"quiz question: $leak ?")).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(train, bench, "doc_id", "text",
        width = 8, minTokens = 12, maxFpFreq = 128)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val leakLen = leak.split(" ").length
    // doc 2: exactly the leaked span is gone, prefix and suffix intact
    val (_, kept2, removed2, clean2) = out(0)
    assert(removed2 === leakLen.toLong)
    assert(kept2 === 30L + 5L)
    assert(clean2 === s"$filler more prose after the leak")
    // doc 4 and 6 untouched (clean / below minTokens)
    assert(out(1)._3 === 0L && out(1)._4.nonEmpty)
    assert(out(2)._3 === 0L)
    // every train doc returns, bench docs never do
    assert(out.map(_._1).toSeq === Seq(2L, 4L, 6L))
  }

  test("coherentOrder: dense total order, equals the plain-window rank, and MEASURABLY beats the shuffle baseline on adjacent cosine") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val co = Corpus.coherentOrder(emb, cent).localCheckpoint(true)
    val n = emb.count()
    // dense 0-based total order
    assert(co.count() === n)
    assert(co.agg(min("ord"), max("ord"), countDistinct("ord")).collect()
      .head.toSeq === Seq(0L, n - 1, n))
    // the bucketed spine equals the plain global window exactly
    val plain = co.select(col("id"), col("ord"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cell"), col("proj"), col("id"))) - 1).cast("long")
        .as("ord2"))
    assert(plain.filter(col("ord") =!= col("ord2")).count() === 0)
    // the point of the operator: mean adjacent cosine under coherent
    // order must clearly beat the de-correlating hash shuffle
    def meanAdjCos(ordered: org.apache.spark.sql.DataFrame): Double = {
      val v = ordered.join(emb, ordered("id") === emb("vec_id"))
        .select(col("ord"), col("embedding"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("ord")
      v.select(Similarity.cosine(col("embedding"),
          lead(col("embedding"), 1).over(w)).as("c"))
        .agg(avg("c")).collect().head.getDouble(0)
    }
    val coherent = meanAdjCos(co.select("id", "ord"))
    val shuffled = meanAdjCos(Corpus.trainingOrder(
      emb.select(col("vec_id").as("id")), col("id")).select("id", "ord"))
    assert(coherent > shuffled + 0.05,
      s"coherent order must beat shuffle on adjacency: $coherent vs $shuffled")
  }

  test("extractMainContent: link-farm blocks drop, content keeps its in-text anchors, short blocks drop, density boundary exact") {
    import spark.implicits._
    val page =
      "<html><body>" +
        "<nav><a href=\"/a\">Home</a> <a href=\"/b\">About</a> <a href=\"/c\">Contact us now</a></nav>" +
        "<p>This is the real article content explaining something useful, " +
        "with <a href=\"/ref\">one reference link</a> inside the prose.</p>" +
        "<p>Promo!</p>" +
        "<script>var x = 'this never counts as text';</script>" +
        "<footer><a href=\"/t\">Terms of service page</a> <a href=\"/p\">Privacy policy notice</a></footer>" +
        "</body></html>"
    val out = TextAnalysis.extractMainContent(
      Seq((1L, page)).toDF("doc_id", "html"), "doc_id", "html").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("main_text") ===
      "This is the real article content explaining something useful, " +
        "with one reference link inside the prose.")
    assert(r.getAs[Long]("n_blocks_kept") === 1L)
    // nav, Promo! and footer considered-and-dropped; script text died
    assert(r.getAs[Long]("n_blocks_dropped") === 3L)
    // density boundary: anchor exactly half the text keeps (<=), a
    // character more drops
    val half =
      "<p><a href=\"/x\">aaaaaaaaaaaaaaaaaaaa</a> bbbbbbbbbbbbbbbbbbb</p>"
    val over =
      "<p><a href=\"/x\">aaaaaaaaaaaaaaaaaaaaa</a> bbbbbbbbbbbbbbbbbb</p>"
    val d2 = TextAnalysis.extractMainContent(
      Seq((1L, half), (2L, over)).toDF("doc_id", "html"), "doc_id", "html")
      .orderBy("doc").collect()
    assert(d2(0).getAs[Long]("n_blocks_kept") === 1L)   // 20/40 = 0.5 keeps
    assert(d2(1).getAs[Long]("n_blocks_kept") === 0L)   // 21/40 > 0.5 drops
    // no markup at all: the whole text is one kept block
    val bare = TextAnalysis.extractMainContent(
      Seq((1L, "just some plain text long enough to keep around"))
        .toDF("doc_id", "html"), "doc_id", "html").collect().head
    assert(bare.getAs[Long]("n_blocks_kept") === 1L &&
      bare.getAs[Long]("n_blocks_dropped") === 0L)
  }

  test("contaminationReport: leaked items burn, boilerplate shingles cap observably, clean items read zero") {
    import spark.implicits._
    val leak = "which ancient city stood beside the wide green river"
    val boiler = "all rights reserved contact us for more information"
    val train = (1 to 5).map(i => (i * 2L, s"train doc $i padding words $boiler")) :+
      (100L, s"a real leak here $leak end of doc")
    val bench = Seq(
      (1L, s"quiz: $leak ?"),                 // genuinely leaked: 1 train doc
      (3L, s"footer text $boiler exactly"),   // boilerplate: df 5 > cap 3
      (5L, "completely novel benchmark question nobody ever wrote"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train.toDF("doc_id", "text"), bench,
        "doc_id", "text", n = 5, maxShingleDf = 3)
      .orderBy("bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    // item 1: burned by exactly one train doc, no hot shingles
    assert(got(0)._1 === 1L && got(0)._2 === 1L && got(0)._3 > 0L &&
      got(0)._4 === 0L && got(0)._5 === true)
    // item 3: its shared shingles are boilerplate (df 5 > 3) — excluded
    // from the counts but REPORTED, so the item is NOT burned
    assert(got(1)._1 === 3L && got(1)._2 === 0L && got(1)._3 === 0L &&
      got(1)._4 > 0L && got(1)._5 === false)
    // item 5: clean
    assert(got(2) === ((5L, 0L, 0L, 0L, false)))
  }

  test("robotsRulesFor: specific group wins wholesale, star fallback, stacked + case-insensitive agents, star-agent equals robotsRules") {
    import spark.implicits._
    val bodies = Seq(
      // specific group present: * must be IGNORED, not unioned
      ("h1", "User-agent: graftbot\nDisallow: /bot\n\nUser-agent: *\nDisallow: /all"),
      // no specific group: fall back to *
      ("h2", "User-agent: *\nDisallow: /all"),
      // stacked agents + case variant bind the group
      ("h3", "User-agent: other\nUser-Agent: GRAFTBOT\nAllow: /ok\nDisallow: /no"))
      .toDF("host", "txt")
    val got = TextAnalysis.robotsRulesFor(bodies, "host", "txt", "GraftBot")
      .orderBy("host", "rule", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === Seq(
      ("h1", "disallow", "/bot"),
      ("h2", "disallow", "/all"),
      ("h3", "allow", "/ok"), ("h3", "disallow", "/no")))
    // agent "*" reduces to the default-group rules
    val star = TextAnalysis.robotsRulesFor(bodies, "host", "txt", "*")
      .orderBy("host", "rule", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val plain = TextAnalysis.robotsRules(bodies, "host", "txt")
      .orderBy("host", "rule", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(star.toSeq === plain.toSeq)
    // empty agent refuses
    val e = intercept[IllegalArgumentException](
      TextAnalysis.robotsRulesFor(bodies, "host", "txt", "  "))
    assert(e.getMessage.contains("product token"))
  }

  test("decontaminateSemantic: the near-copy flags, the orthogonal doc clears, ties break to the smallest bench id") {
    import spark.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val bench = Seq(
      (1L, v(1, 0, 0, 0)), (3L, v(0, 1, 0, 0))).toDF("vec_id", "embedding")
    val train = Seq(
      (2L, v(0.99, 0.1, 0, 0)),   // paraphrase-close to bench 1
      (4L, v(0, 0, 1, 0)),        // orthogonal to the whole suite
      (6L, v(0.5, 0.5, 0, 0)))    // equal cosine to bench 1 and 3 -> tie
      .toDF("vec_id", "embedding")
    val got = Similarity.decontaminateSemantic(train, bench, threshold = 0.9)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got(0)._1 === 2L && got(0)._2 === 1L && got(0)._4 === true)
    assert(got(0)._3 > 0.99)
    assert(got(1) === ((4L, 1L, 0.0, false)))
    // the tie: identical cosine to both bench items -> smallest id wins
    assert(got(2)._2 === 1L && got(2)._4 === false)
    assert(math.abs(got(2)._3 - math.sqrt(0.5)) < 1e-5)
  }

  test("contentOptOuts: attribute order/quote/case tolerant, token-exact, TDM value-exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<meta name=\"robots\" content=\"noindex,nofollow\"><body>x</body>"),
      (2L, "<META CONTENT='noai' NAME='ROBOTS'>"),          // reversed attrs, caps
      (3L, "<meta name=\"robots\" content=\"noindexing\">"), // token trap
      (4L, "<meta name=\"tdm-reservation\" content=\"1\">"),
      (5L, "<meta name=\"tdm-reservation\" content=\"0\">"), // reserved only at 1
      (6L, "<p>no meta at all</p>"))
      .toDF("doc_id", "html")
    val got = TextAnalysis.contentOptOuts(docs, "doc_id", "html")
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (1L, true, true, false, false),
      (2L, false, false, true, false),
      (3L, false, false, false, false),
      (4L, false, false, false, true),
      (5L, false, false, false, false),
      (6L, false, false, false, false)))
  }

  test("termBlocklist: token-exact words + phrases, overlaps count, case-folded, never substring") {
    import spark.implicits._
    val terms = Seq("class", "table scan", "batch batch").toDF("term")
    val docs = Seq(
      (1L, "the batch batch batch job"),      // phrase overlaps: 2 hits
      (2L, "a Table SCAN appears here"),      // case-folded phrase
      (3L, "classic classes classify"),       // substring must NOT match
      (4L, "one class and a table scan too"), // two distinct terms
      (5L, "nothing banned at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.termBlocklist(docs, "doc_id", "text", terms)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, true),
      (2L, 1L, 1L, true),
      (3L, 0L, 0L, false),
      (4L, 2L, 2L, true),
      (5L, 0L, 0L, false)))
    // empty blocklist: every doc returns unblocked, nothing throws
    val none = TextAnalysis.termBlocklist(docs, "doc_id", "text",
      Seq.empty[String].toDF("term")).collect()
    assert(none.length === 5 && none.forall(!_.getBoolean(3)))
  }

  test("groupAdvantages: hand-checked whitening, all-equal group zeroes, singleton zeroes, float reward loud") {
    import spark.implicits._
    // group 10: rewards 1,2,3 (micro) -> mean 2, pop std sqrt(2/3);
    // adv = (r-2)/sqrt(2/3) -> -1.224745, 0, 1.224745
    val resp = Seq(
      (10L, 1L, 1L), (10L, 2L, 2L), (10L, 3L, 3L),
      (20L, 4L, 7L), (20L, 5L, 7L),   // all-equal -> adv 0
      (30L, 6L, 42L))                  // singleton -> adv 0
      .toDF("prompt_id", "resp_id", "reward_micro")
    val got = Corpus.groupAdvantages(resp, "prompt_id", "resp_id", "reward_micro")
      .orderBy("prompt_id", "resp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      (10L, 1L, -3L, -1.224745), (10L, 2L, 0L, 0.0), (10L, 3L, 3L, 1.224745),
      (20L, 4L, 0L, 0.0), (20L, 5L, 0L, 0.0),
      (30L, 6L, 0L, 0.0)))
    // whitening law on a real group: sum(adv) ~ 0, sum(adv^2) ~ n
    val g = got.filter(_._1 == 10L).map(_._4)
    assert(math.abs(g.sum) < 1e-5)
    assert(math.abs(g.map(a => a * a).sum - 3.0) < 1e-4)
    // float rewards refuse loudly (scale to micros upstream)
    val fl = Seq((1L, 1L, 0.5)).toDF("prompt_id", "resp_id", "reward")
    val e = intercept[IllegalArgumentException](
      Corpus.groupAdvantages(fl, "prompt_id", "resp_id", "reward"))
    assert(e.getMessage.contains("integral"))
  }
}
