package graft.llmops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.RootLower

/** Standard-format n-gram language-model artifact — the THIRD interop
  * envelope next to the tokenizer files ([[VocabArtifact]]) and the
  * Megatron token shards ([[graft.ingest.TokenBin]]): the engine's
  * quality-gate LM ladder ([[TextAnalysis.unigramLogProb]] /
  * [[TextAnalysis.bigramLogProb]] / [[TextAnalysis.interpolatedLogProb]])
  * scores documents, but until now the model behind the score existed
  * only as transient DataFrames inside one query — no external stack
  * (KenLM, SRILM, a CCNet-style curation pipeline on another engine)
  * could reproduce or audit the gate. This object trains a bigram
  * backoff LM and ships it as a standard `.arpa` file (the SRILM/KenLM
  * wire format every n-gram toolchain reads), imports foreign `.arpa`
  * files, and scores corpora under an imported model.
  *
  * Model (chosen because STRICT BACKOFF is what ARPA can represent —
  * Jelinek–Mercer interpolation has an additive unseen-pair term no
  * `bow(w1)·P(w2)` factorization can express, so the engine's JM rung
  * stays a score while THIS model is the artifact):
  *
  *  - unigrams: add-1 smoothing over `V + 1` outcomes (the +1 is
  *    `<unk>`): `P(w) = (c(w) + 1) / (T + V + 1)`,
  *    `P(<unk>) = 1 / (T + V + 1)` — total mass exactly 1.
  *  - bigrams: absolute discounting (Ney et al. 1994) with `D = 0.75`
  *    (an exactly representable double): seen pairs carry
  *    `P(w2 | w1) = (c(w1 w2) − D) / c1(w1)` where `c1(w1) = Σ_w2
  *    c(w1 w2)` is the CONTEXT count (bigram starts — not the unigram
  *    count, whose document-final occurrences start no bigram); the
  *    reserved mass routes through the backoff weight
  *    `bow(w1) = (D · N1+(w1) / c1(w1)) / (1 − Σ_{seen w2} P_uni(w2))`
  *    where `N1+(w1)` counts distinct seen continuations — so
  *    `Σ_w2 P(w2 | w1) = 1` exactly (spec-asserted). A context with no
  *    observed continuation (a word seen only document-finally, and
  *    `<unk>` itself) has no discounted mass to route: `bow = 1`.
  *  - no `<s>`/`</s>` sentence markers: the engine scores document
  *    streams, not sentence-segmented text (scope stated; a foreign
  *    model that ships them imports fine — they are just vocabulary).
  *
  * Numeric discipline: every stored value is `log10` (the ARPA
  * convention) on the BIGINT micro grid — `floor(log10(x)·1e6 + 0.5)`,
  * the [[Unigram]] quantize-then-decide rule — carried as positive
  * `nll10_micro` for probabilities and signed `bow10_micro` for backoff
  * weights. The FILE prints each value from its micro integer by string
  * arithmetic (never a double format), so table and file can never
  * disagree; scoring sums the stored micro integers, making per-doc
  * totals engine-exact BIGINTs.
  *
  * A literal `<unk>` token in the reference corpus would collide with
  * the sentinel and silently absorb real mass — the trainer REFUSES it
  * loudly (the TokenBin out-of-range discipline).
  *
  * Case folding: every trainer and scorer lowercases with
  * [[org.apache.spark.sql.graftfn.RootLower]], not `lower()`, whose ICU
  * path costs a cold JVM's first scan about a second of table set-up
  * (see its scaladoc for the code points where the two differ).
  *
  * Scale: the unigram/context tables are vocab-bounded and broadcast;
  * the bigram table GROWS with the reference corpus (the tfidf lesson —
  * see [[TextAnalysis.bigramLogProb]]) so every bigram join is a plain
  * shuffle equi-join, never a forced broadcast. The `.arpa` file itself
  * is a single sequential text stream by definition of the format;
  * [[writeArpa]] therefore STREAMS the sorted table through the driver
  * with `toLocalIterator` (one partition resident at a time, never a
  * whole-model collect) — the TABLE is the scale-path handle, the file
  * is the interop envelope (the tokenizer.json stance).
  */
object LmArtifact {

  val Unk = "<unk>"
  private val Micro = 1000000L

  /** floor(log10(num/den)·1e6 + 0.5) as a signed BIGINT column —
    * the shared quantizer for probabilities and backoff weights.
    */
  private def log10Micro(x: Column): Column =
    floor(log10(x) * Micro + lit(0.5)).cast("long")

  /** Train the bigram backoff LM over a reference corpus; returns the
    * canonical artifact table, one row per ARPA entry:
    * `(n, gram, nll10_micro, bow10_micro)` —
    *  - `n = 1`: `gram` is the word (`<unk>` included), `nll10_micro`
    *    the positive micro `−log10 P(w)`, `bow10_micro` the signed
    *    micro `log10 bow(w)` (0 where `bow = 1`).
    *  - `n = 2`: `gram` is `"w1 w2"`, `bow10_micro` null.
    * Ordering (also the file order): unigrams `<unk>`-first then by
    * word; bigrams by gram.
    */
  def arpaTable(reference: DataFrame, refTextCol: String = "text",
      tokens: Column => Column = TextAnalysis.wsTokens,
      discount: Double = 0.75): DataFrame =
    arpaParts(reference, refTextCol, tokens, discount)._2

  /** [[arpaTable]] plus its materialized bigram-count table — shared so
    * [[arpaTable3]] reuses the counts instead of re-exploding the corpus
    * (the chain's tables hang off `cb` several times over).
    */
  private def arpaParts(reference: DataFrame, refTextCol: String,
      tokens: Column => Column,
      discount: Double): (DataFrame, DataFrame) = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val toks = reference
      .select(explode(tokens(RootLower.lower(col(refTextCol)))).as("w"))
    // the sentinel must not collide with a real token — refuse loudly,
    // on the data path (assert_true weaves into the kept value so the
    // check can't be pruned and costs no extra corpus scan).
    val cu0 = toks.groupBy("w").agg(count(lit(1)).as("cu"))
    // EAGER checkpoints on the vocab/bigram count tables (the
    // arpaTable3Kn discipline, r15): ~5 downstream consumers reference
    // cu — two broadcast totals, the unigram rows, the per-context
    // bookkeeping — and each broadcast subquery re-executes its whole
    // subtree, so without the barrier the corpus was re-tokenized and
    // re-aggregated once per consumer (measured: q_x_arpa_score ran 31
    // jobs, five of them full tokenize passes, 13.6 s standalone).
    val cu = cu0.select(coalesce(
      assert_true(col("w") =!= lit(Unk), lit(
        s"reference corpus contains a literal '$Unk' token — it would " +
          "collide with the OOV sentinel; pre-filter or re-tokenize"))
        .cast("string"),
      col("w")).as("w"), col("cu")).localCheckpoint(eager = true)
    // coalesce the empty-corpus sum: zero observed tokens leave a
    // 1-outcome model (<unk> at P = 1, log 0) — degenerate but exactly
    // normalized, never a null-score row.
    val totals = broadcast(cu.agg(
      coalesce(sum("cu"), lit(0L)).as("tt"), count(lit(1)).as("vd")))
    // P_uni on the micro grid, <unk> carried as a real row.
    val uniProb = cu.select(col("w"), col("cu"))
      .unionAll(cu.sparkSession.range(1)
        .select(lit(Unk).as("w"), lit(0L).as("cu")))
      .crossJoin(totals)
      .withColumn("nll10_micro",
        -log10Micro((col("cu") + 1) / (col("tt") + col("vd") + 1)))
      .select("w", "cu", "nll10_micro")
    // adjacent-pair counts (the bigramLogProb gram shape).
    val grams = reference
      .select(tokens(RootLower.lower(col(refTextCol))).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(posexplode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> struct(__toks[i] as w1, __toks[i + 1] as w2))"))
        .as(Seq("__p", "__g")))
      .select(col("__g.w1").as("w1"), col("__g.w2").as("w2"))
    val cb = grams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint(eager = true)
    // per-context discount bookkeeping: distinct continuations and the
    // unigram mass they already own (the bow denominator).
    val uniOfW2 = uniProb.select(col("w").as("w2"),
      col("nll10_micro").as("__u2"), col("cu").as("cu2"))
    // per-context bookkeeping keyed on the CONTEXT COUNT c1 = Σ_w2
    // c(w1 w2) — the bigram-start total, NOT the unigram count (a word's
    // document-final occurrences start no bigram; using cu(w1) would
    // leak their mass and break Σ_w2 P(w2|w1) = 1, which the spec
    // asserts exactly).
    val ctx = cb
      .crossJoin(totals)
      .join(broadcast(uniOfW2.drop("__u2")), Seq("w2"))
      .groupBy("w1")
      .agg(count(lit(1)).as("n1p"), sum("cb").as("c1"),
        // Σ_{seen w2} P_uni(w2) as an exact rational: Σ(cu2+1) / (T+V+1)
        sum(col("cu2") + 1).as("seen_num"),
        first("tt").as("tt"), first("vd").as("vd"))
    val bows = ctx
      .withColumn("bow10_micro", log10Micro(
        (lit(discount) * col("n1p") / col("c1")) /
          (lit(1.0) - col("seen_num") / (col("tt") + col("vd") + 1))))
      .select("w1", "bow10_micro")
    val uniRows = uniProb
      .join(broadcast(bows.withColumnRenamed("w1", "w")), Seq("w"), "left")
      .select(lit(1).as("n"), col("w").as("gram"), col("nll10_micro"),
        coalesce(col("bow10_micro"), lit(0L)).as("bow10_micro"))
    val biRows = cb.join(broadcast(ctx.select("w1", "c1")), Seq("w1"))
      .withColumn("nll10_micro",
        -log10Micro((col("cb") - lit(discount)) / col("c1")))
      .select(lit(2).as("n"),
        concat(col("w1"), lit(" "), col("w2")).as("gram"),
        col("nll10_micro"), lit(null).cast("long").as("bow10_micro"))
    (cb, uniRows.unionAll(biRows)
      .orderBy(col("n"),
        when(col("gram") === Unk && col("n") === 1, lit(0)).otherwise(lit(1)),
        col("gram")))
  }

  /** Train the TRIGRAM absolute-discount backoff LM — [[arpaTable]]'s
    * model extended one order (the same Ney discounting at n = 3;
    * deliberately NOT Kneser–Ney's continuation-count lower orders —
    * stated, so the artifact's semantics are exactly what the file
    * declares): seen trigrams carry `P(w3 | w1 w2) = (c(w1w2w3) − D) /
    * c(w1w2·)` with `c(w1w2·)` the TRIGRAM-START count (the same
    * document-final subtlety as `c1` — a pair ending a document starts
    * no trigram); the reserved mass routes through the bigram-row
    * backoff weight
    *
    *   bow(w1 w2) = (D · N1+(w1w2·) / c(w1w2·))
    *              / (1 − Σ_{seen w3} P(w3 | w2))
    *
    * whose denominator is EXACT single-denominator arithmetic: every
    * trigram continuation's bigram (w2 w3) is itself seen (c(w2w3) ≥
    * c(w1w2w3)), so `Σ_{seen} P(w3|w2) = (Σ c(w2w3) − D·N1+(w1w2·)) /
    * c1(w2)` — one rational per context, and `Σ_w3 P(w3 | w1 w2) = 1`
    * exactly (spec-asserted by enumeration). Bigram rows therefore now
    * carry a bow (0 — i.e. 1 — for pairs that never start a trigram);
    * unigram rows keep the [[arpaTable]] bow; trigram rows carry none.
    * [[arpaTable]] itself stays bit-identical — this is a second
    * trainer, not a change.
    *
    * Scale: unigram/context tables vocab-bounded; the bigram AND trigram
    * tables grow with the reference corpus — every join on them is a
    * plain shuffle equi-join; bow2 needs one (w2-keyed) broadcast of the
    * bigram context table.
    */
  def arpaTable3(reference: DataFrame, refTextCol: String = "text",
      tokens: Column => Column = TextAnalysis.wsTokens,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val (cb, base0) = arpaParts(reference, refTextCol, tokens, discount)
    val base = base0.localCheckpoint(true)
    val toksArr = reference
      .select(tokens(RootLower.lower(col(refTextCol))).as("__toks"))
    // adjacent triples — the gram shape one order up.
    val tg = toksArr.filter(size(col("__toks")) >= 3)
      .select(posexplode(expr(
        "transform(sequence(0, size(__toks) - 3), " +
          "i -> struct(__toks[i] as w1, __toks[i + 1] as w2, __toks[i + 2] as w3))"))
        .as(Seq("__p", "__g")))
      .select(col("__g.w1").as("w1"), col("__g.w2").as("w2"),
        col("__g.w3").as("w3"))
    val ct = tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
      .localCheckpoint(true)
    // bigram counts/context totals for the bow2 arithmetic come straight
    // from arpaParts' materialized count table (r15 — previously rebuilt
    // here with a second corpus explode).
    val c1 = cb.groupBy("w1").agg(sum("cb").as("c1"))
    val ctx2 = ct
      .join(cb.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("cb23")), Seq("w2", "w3"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n1p3"), sum("ct").as("c12"),
        sum("cb23").as("sum_cb23"))
      .join(broadcast(c1.select(col("w1").as("w2"), col("c1").as("c1w2"))),
        Seq("w2"))
      .localCheckpoint(true)
    val bow2 = ctx2.select(col("w1"), col("w2"),
      log10Micro((lit(discount) * col("n1p3") / col("c12")) /
        (lit(1.0) - (col("sum_cb23") - lit(discount) * col("n1p3")) /
          col("c1w2").cast("double"))).as("bow2"))
    val triRows = ct.join(ctx2.select("w1", "w2", "c12"), Seq("w1", "w2"))
      .select(lit(3).as("n"),
        concat(col("w1"), lit(" "), col("w2"), lit(" "), col("w3")).as("gram"),
        (-log10Micro((col("ct") - lit(discount)) / col("c12"))).as("nll10_micro"),
        lit(null).cast("long").as("bow10_micro"))
    val uniRows = base.filter(col("n") === 1)
    val biWithBow = base.filter(col("n") === 2)
      .withColumn("__w1", split(col("gram"), " ").getItem(0))
      .withColumn("__w2", split(col("gram"), " ").getItem(1))
      .join(bow2.select(col("w1").as("__w1"), col("w2").as("__w2"),
        col("bow2")), Seq("__w1", "__w2"), "left")
      .select(col("n"), col("gram"), col("nll10_micro"),
        coalesce(col("bow2"), lit(0L)).as("bow10_micro"))
    uniRows.unionByName(biWithBow).unionByName(triRows)
      .orderBy(col("n"),
        when(col("gram") === Unk && col("n") === 1, lit(0)).otherwise(lit(1)),
        col("gram"))
  }

  /** Train the trigram **Kneser–Ney** backoff LM — [[arpaTable3]]'s
    * sibling with the CONTINUATION-COUNT lower orders (Kneser & Ney
    * 1995; the fixed-D backoff form, not SRILM's count-estimated
    * discounts — stated): the highest order keeps raw counts with
    * absolute discounting, but the bigram level models "how many
    * distinct contexts does this continuation complete":
    *
    *   - trigram rows: `P(w3 | w1 w2) = (c(w1w2w3) − D) / c(w1w2·)` —
    *     unchanged from [[arpaTable3]];
    *   - bigram rows (the KN core): `ckn(a b) = |{w : c(w a b) > 0}|`
    *     (distinct left contexts), `P_KN(b | a) = (ckn(a b) − D) /
    *     ckn(a ·)` — "francisco" scores low however frequent, because
    *     it completes one context;
    *   - unigram rows: `P_cont(w) = (|{a : c(a w) > 0}| + 1) /
    *     (|bigram types| + V + 1)` — continuation counts with the
    *     house add-1-over-V+1 `<unk>` treatment (Σ = 1 exactly);
    *   - backoff weights: the same single-denominator discount-mass
    *     rationals as [[arpaTable3]], computed over the KN
    *     distributions (every trigram continuation (w2 w3) is a KN
    *     bigram BY DEFINITION — the structure that keeps the Σ_seen
    *     mass one exact rational per context).
    *
    * Trigram-context pairs (w1 w2) that are NOT themselves KN
    * continuations (no `(w0 w1 w2)` trigram — document-initial pairs)
    * still need their bow carried by a bigram row, so they ship with
    * the BACKOFF-CONSISTENT probability `nll = nll_uni(w2) − bow(w1)`
    * (exact integer micro arithmetic — the value the decoder's backoff
    * path would compute anyway; SRILM prints the same entries). The
    * enumeration law `Σ_w3 P(w3 | w1 w2) = 1` holds exactly and is
    * spec-asserted. Output schema and ordering are [[arpaTable3]]'s —
    * [[writeArpa]]/[[readArpa]]/[[arpaScore3]] consume it unchanged.
    *
    * Scale: the ckn/ucont tables are distinct-pair-bounded aggregations
    * of the trigram/bigram tables (plain shuffles); everything keyed on
    * single words broadcasts (vocab-bounded).
    */
  def arpaTable3Kn(reference: DataFrame, refTextCol: String = "text",
      tokens: Column => Column = TextAnalysis.wsTokens,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val toks = reference
      .select(explode(tokens(RootLower.lower(col(refTextCol)))).as("w"))
    val cu0 = toks.groupBy("w").agg(count(lit(1)).as("cu"))
    // the <unk> sentinel guard — same weave as arpaTable
    val cu = cu0.select(coalesce(
      assert_true(col("w") =!= lit(Unk), lit(
        s"reference corpus contains a literal '$Unk' token — it would " +
          "collide with the OOV sentinel; pre-filter or re-tokenize"))
        .cast("string"),
      col("w")).as("w"), col("cu")).localCheckpoint(eager = true)
    val toksArr = reference
      .select(tokens(RootLower.lower(col(refTextCol))).as("__toks"))
    val grams = toksArr.filter(size(col("__toks")) >= 2)
      .select(posexplode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> struct(__toks[i] as w1, __toks[i + 1] as w2))"))
        .as(Seq("__p", "__g")))
      .select(col("__g.w1").as("w1"), col("__g.w2").as("w2"))
    val cb = grams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint(eager = true)
    // unigram continuation counts + the (|bigram types|, V) totals
    val ucont = cb.groupBy(col("w2").as("w")).agg(count(lit(1)).as("nc"))
    val totals = broadcast(cb.agg(count(lit(1)).as("nb"))
      .crossJoin(cu.agg(count(lit(1)).as("vd"))))
    val uniProb = cu.select("w")
      .unionAll(cu.sparkSession.range(1).select(lit(Unk).as("w")))
      .join(broadcast(ucont), Seq("w"), "left")
      .na.fill(0L, Seq("nc"))
      .crossJoin(totals)
      .withColumn("nll10_micro",
        -log10Micro((col("nc") + 1) / (col("nb") + col("vd") + 1)))
      .select("w", "nc", "nll10_micro")
      .localCheckpoint(eager = true)
    val tg = toksArr.filter(size(col("__toks")) >= 3)
      .select(posexplode(expr(
        "transform(sequence(0, size(__toks) - 3), " +
          "i -> struct(__toks[i] as w1, __toks[i + 1] as w2, __toks[i + 2] as w3))"))
        .as(Seq("__p", "__g")))
      .select(col("__g.w1").as("w1"), col("__g.w2").as("w2"),
        col("__g.w3").as("w3"))
    val ct = tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
      .localCheckpoint(eager = true)
    // KN bigram continuation counts: rows of ct are distinct (w1,w2,w3),
    // so count(*) per (w2,w3) IS |distinct w1|
    val ckn = ct.groupBy(col("w2").as("a"), col("w3").as("b"))
      .agg(count(lit(1)).as("cknb"))
      .localCheckpoint(eager = true)
    val ckn2 = ckn.groupBy("a")
      .agg(count(lit(1)).as("n1pk"), sum("cknb").as("ckntot"))
      .localCheckpoint(eager = true)
    // unigram-row bows: discount mass of the KN bigram distribution per
    // context a, over the continuation-unigram seen mass (one rational)
    val bows = ckn
      .join(broadcast(ucont.select(col("w").as("b"), col("nc"))),
        Seq("b"), "left")
      .na.fill(0L, Seq("nc"))
      .groupBy("a")
      .agg(count(lit(1)).as("n1pk"), sum("cknb").as("ckntot"),
        sum(col("nc") + 1).as("seen_num"))
      .crossJoin(totals)
      .withColumn("bow10_micro", log10Micro(
        (lit(discount) * col("n1pk") / col("ckntot")) /
          (lit(1.0) - col("seen_num") / (col("nb") + col("vd") + 1))))
      .select(col("a").as("w"), col("bow10_micro"))
      .localCheckpoint(eager = true)
    // trigram-context bookkeeping over the KN bigram seen mass
    val ctx3 = ct
      .join(ckn.select(col("a").as("w2"), col("b").as("w3"), col("cknb")),
        Seq("w2", "w3"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n1p3"), sum("ct").as("c12"),
        sum("cknb").as("sum_ckn"))
      .join(broadcast(ckn2.select(col("a").as("w2"), col("ckntot"))),
        Seq("w2"))
      .localCheckpoint(eager = true)
    val bow2 = ctx3.select(col("w1").as("a"), col("w2").as("b"),
      log10Micro((lit(discount) * col("n1p3") / col("c12")) /
        (lit(1.0) - (col("sum_ckn") - lit(discount) * col("n1p3")) /
          col("ckntot").cast("double"))).as("bow2"))
    // bigram rows: KN continuations ∪ trigram-context-only pairs (the
    // latter at the backoff-consistent integer value so their bow has a
    // row to ride)
    val knP = ckn
      .join(broadcast(ckn2.select(col("a"), col("ckntot"))), Seq("a"))
      .select(col("a"), col("b"),
        (-log10Micro((col("cknb") - lit(discount)) / col("ckntot")))
          .as("kn_nll"))
    val biAll = knP.join(bow2, Seq("a", "b"), "full_outer")
      .join(broadcast(uniProb.select(col("w").as("b"),
        col("nll10_micro").as("u_b"))), Seq("b"))
      .join(broadcast(bows.select(col("w").as("a"),
        col("bow10_micro").as("bow_a"))), Seq("a"), "left")
      .select(lit(2).as("n"),
        concat(col("a"), lit(" "), col("b")).as("gram"),
        coalesce(col("kn_nll"),
          col("u_b") - coalesce(col("bow_a"), lit(0L))).as("nll10_micro"),
        coalesce(col("bow2"), lit(0L)).as("bow10_micro"))
    val triRows = ct.join(ctx3.select("w1", "w2", "c12"), Seq("w1", "w2"))
      .select(lit(3).as("n"),
        concat(col("w1"), lit(" "), col("w2"), lit(" "), col("w3")).as("gram"),
        (-log10Micro((col("ct") - lit(discount)) / col("c12"))).as("nll10_micro"),
        lit(null).cast("long").as("bow10_micro"))
    val uniRows = uniProb
      .join(broadcast(bows), Seq("w"), "left")
      .select(lit(1).as("n"), col("w").as("gram"), col("nll10_micro"),
        coalesce(col("bow10_micro"), lit(0L)).as("bow10_micro"))
    uniRows.unionByName(biAll).unionByName(triRows)
      .orderBy(col("n"),
        when(col("gram") === Unk && col("n") === 1, lit(0)).otherwise(lit(1)),
        col("gram"))
  }

  /** Exact fixed-6dp decimal of a signed micro integer — string
    * arithmetic, no double ever formatted, so the printed value IS the
    * micro grid value.
    */
  private[graft] def microToDecimal(micro: Long): String = {
    val sign = if (micro < 0) "-" else ""
    val a = math.abs(micro)
    s"$sign${a / Micro}.${"%06d".format(a % Micro)}"
  }

  /** Write the artifact table as a standard `.arpa` text file (LF line
    * ends, TAB-separated fields, fixed 6-dp decimals printed from the
    * micro integers). Unigram lines carry the backoff column only when
    * `bow ≠ 1` (`bow10_micro ≠ 0`) — the SRILM convention that an
    * absent third field means log10 bow 0. Streams via
    * `toLocalIterator` (see object scaladoc); atomic tmp+rename, no
    * checksum sidecars. Returns a 1-row manifest
    * (file, n_unigrams, n_bigrams, content_md5).
    */
  def writeArpa(spark: SparkSession, table: DataFrame, path: String): DataFrame = {
    import spark.implicits._
    val sorted = table.select("n", "gram", "nll10_micro", "bow10_micro")
      .orderBy(col("n"),
        when(col("gram") === Unk && col("n") === 1, lit(0)).otherwise(lit(1)),
        col("gram"))
    val counts = table.groupBy("n").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n1 = counts.getOrElse(1, 0L)
    val n2 = counts.getOrElse(2, 0L)
    val n3 = counts.getOrElse(3, 0L)
    require(n1 > 0, "artifact table has no unigram rows")
    val p = new Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(p.toUri,
      spark.sparkContext.hadoopConfiguration)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    try {
      fs.setWriteChecksum(false)
      fs.setVerifyChecksum(false)
      fs.mkdirs(p.getParent)
      val tmp = new Path(p.getParent, s".${p.getName}.tmp")
      val raw = fs.create(tmp, true)
      val out = new java.io.BufferedOutputStream(raw, 1 << 16)
      def emit(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        md5.update(b)
        out.write(b)
      }
      try {
        emit(s"\\data\\\nngram 1=$n1\nngram 2=$n2\n" +
          (if (n3 > 0) s"ngram 3=$n3\n" else "") + "\n\\1-grams:\n")
        var section = 1
        val it = sorted.toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          val n = r.getInt(0)
          while (section < n) {
            section += 1; emit(s"\n\\$section-grams:\n")
          }
          val logp = microToDecimal(-r.getLong(2))
          // a row of order < the model's top order carries its context's
          // backoff — omitted when log10 bow = 0 (the SRILM convention;
          // bigram-only tables have NULL there, so their bytes are
          // unchanged)
          val bow = if (r.isNullAt(3)) 0L else r.getLong(3)
          if (bow == 0L) emit(s"$logp\t${r.getString(1)}\n")
          else emit(s"$logp\t${r.getString(1)}\t${microToDecimal(bow)}\n")
        }
        if (section == 1 && n2 == 0) emit("\n\\2-grams:\n")
        emit("\n\\end\\\n")
      } finally out.close()
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"rename failed: $path")
    } finally fs.close()
    Seq((path, n1, n2, n3, md5.digest().map("%02x".format(_)).mkString))
      .toDF("file", "n_unigrams", "n_bigrams", "n_trigrams", "content_md5")
  }

  /** Import a foreign `.arpa` file into the canonical artifact table.
    * Tolerant of what real SRILM/KenLM output varies: CRLF line ends,
    * spaces OR tabs between fields, `%g`-style floats (scientific
    * notation, bare integers) — foreign doubles land on the micro grid
    * via the same `floor(x·1e6 + 0.5)`. Loud with line numbers on:
    * missing `\data\` / `\end\`, a section count that disagrees with
    * the rows actually present, an n-gram line whose word count is not
    * `n` (+ optional bow on unigrams), a non-numeric logp, and 3-gram
    * or higher sections (scope: this engine's LM ladder is ≤ 2-gram).
    * Driver-streamed (interop path; the table is the scale handle).
    */
  def readArpa(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(p.toUri,
      spark.sparkContext.hadoopConfiguration)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Option[Long])]
    val declared = scala.collection.mutable.Map.empty[Int, Long]
    try {
      fs.setVerifyChecksum(false)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), "UTF-8"))
      try {
        var ln = 0
        var state = "preamble" // preamble | data | grams | done
        var section = 0
        def fail(msg: String): Nothing =
          throw new IllegalArgumentException(s"$path:$ln: $msg")
        def parseMicro(s: String): Long = {
          val d = try s.toDouble catch {
            case _: NumberFormatException => fail(s"non-numeric value '$s'")
          }
          math.floor(d * Micro + 0.5).toLong
        }
        var line = in.readLine()
        while (line != null) {
          ln += 1
          val t = line.stripSuffix("\r").trim
          if (t.nonEmpty) state match {
            case "preamble" =>
              if (t == "\\data\\") state = "data"
              else fail(s"expected \\data\\ header, got '$t'")
            case "data" =>
              if (t.startsWith("ngram ")) {
                val kv = t.drop(6).split("=", 2)
                if (kv.length != 2) fail(s"malformed ngram count '$t'")
                val n = kv(0).trim.toIntOption.getOrElse(
                  fail(s"malformed ngram order '${kv(0)}'"))
                val c = kv(1).trim.toLongOption.getOrElse(
                  fail(s"malformed ngram count '${kv(1)}'"))
                if (n > 3) fail(s"$n-gram section declared — this " +
                  "reader covers the engine's <= 3-gram ladder")
                declared(n) = c
              } else if (t == "\\1-grams:") { state = "grams"; section = 1 }
              else fail(s"expected ngram counts or \\1-grams:, got '$t'")
            case "grams" =>
              if (t == "\\2-grams:") section = 2
              else if (t == "\\3-grams:") section = 3
              else if (t == "\\1-grams:") section = 1
              else if (t == "\\end\\") state = "done"
              else if (t.startsWith("\\")) fail(s"unexpected section '$t'")
              else {
                val f = t.split("[ \t]+")
                if (section == 1) {
                  if (f.length < 2 || f.length > 3)
                    fail(s"unigram line needs 2-3 fields, got ${f.length}")
                  val bow = if (f.length == 3) parseMicro(f(2)) else 0L
                  rows += ((1, f(1), -parseMicro(f(0)), Some(bow)))
                } else if (section == 2) {
                  if (f.length < 3 || f.length > 4)
                    fail(s"bigram line needs 3-4 fields, got ${f.length}")
                  val bow = if (f.length == 4) Some(parseMicro(f(3))) else None
                  rows += ((2, s"${f(1)} ${f(2)}", -parseMicro(f(0)), bow))
                } else {
                  if (f.length != 4)
                    fail(s"trigram line needs 4 fields, got ${f.length}")
                  rows += ((3, s"${f(1)} ${f(2)} ${f(3)}", -parseMicro(f(0)), None))
                }
              }
            case "done" => fail(s"content after \\end\\: '$t'")
          }
          line = in.readLine()
        }
        if (state != "done") fail("missing \\end\\ terminator")
        val actual = rows.groupBy(_._1).map { case (n, rs) => n -> rs.size.toLong }
        Seq(1, 2, 3).foreach { n =>
          val d = declared.getOrElse(n, 0L)
          val a = actual.getOrElse(n, 0L)
          require(d == a,
            s"$path: \\data\\ declares $d ${n}-grams but file has $a")
        }
      } finally in.close()
    } finally fs.close()
    // bow semantics follow the MODEL ORDER: in a trigram file a bigram
    // line without a bow field means log10 bow 0; in a bigram-only file
    // bigram rows carry no bow concept at all (NULL — the historical
    // table shape, byte-compatible round trips)
    val hasTri = rows.exists(_._1 == 3)
    rows.toSeq
      .toDF("n", "gram", "nll10_micro", "bow10_micro")
      .select(col("n"), col("gram"), col("nll10_micro"),
        when(col("n") === 1, coalesce(col("bow10_micro"), lit(0L)))
          .when(col("n") === 2 && lit(hasTri),
            coalesce(col("bow10_micro"), lit(0L)))
          .otherwise(lit(null).cast("long")).as("bow10_micro"))
  }

  /** Score a corpus under an artifact-table LM (trained here or imported
    * via [[readArpa]]) with standard backoff decoding: tokens map to
    * `<unk>` when out of vocabulary; each adjacent pair scores the
    * stored bigram micro-nll when the pair is in the model, else
    * `nll_uni(w2) − log10 bow(w1)` (all micro integers — the per-doc
    * total is an exact BIGINT sum of stored values, no float
    * accumulation). A model without an `<unk>` row refuses loudly
    * (scoring open-vocabulary text under a closed-vocabulary model is a
    * modeling decision the caller must make, not a silent floor).
    * Returns (doc, n_pairs, n_oov, n_backoff, sum_nll10_micro) —
    * `n_oov` counts pairs whose TARGET token mapped to `<unk>`,
    * `n_backoff` pairs that took the backoff path.
    *
    * Scale: vocab-bounded unigram/bow tables broadcast; the pair stream
    * joins the bigram table on the gram — plain shuffle equi-join (the
    * model's bigram table grows with ITS training corpus); one keyed
    * aggregation. Docs with fewer than two tokens carry no pairs and
    * drop out (the bigramLogProb convention).
    */
  def arpaScore(df: DataFrame, idCol: String, textCol: String,
      lm0: DataFrame,
      tokens: Column => Column = TextAnalysis.wsTokens): DataFrame = {
    // Materialize the artifact ONCE: six consumers hang off it (the
    // <unk> require, three broadcast unigram projections, the vocab
    // membership probe, the bigram join) and each broadcast subquery
    // re-executes its subtree — scoring under a freshly-TRAINED model
    // re-ran the whole trainer per consumer before the barrier (r15).
    val lm = lm0.localCheckpoint(eager = true)
    val uni = lm.filter(col("n") === 1)
      .select(col("gram").as("w"), col("nll10_micro").as("u_nll"),
        col("bow10_micro").as("bow"))
    require(!uni.filter(col("w") === Unk).isEmpty,
      s"model has no '$Unk' unigram — cannot score open-vocabulary text")
    val bi = lm.filter(col("n") === 2)
      .select(col("gram"), col("nll10_micro").as("b_nll"))
    // both sides of the adjacency self-join read this — one
    // materialization (the two-consumer rule), or the explode + vocab
    // join would run twice over the corpus
    // vocabulary membership EXCLUDES the '<unk>' model row: the sentinel
    // is the OOV mass, not a token of the training corpus (arpaTable
    // refuses corpora containing it), so a scored document carrying the
    // literal string '<unk>' counts as OOV — matching a replay that maps
    // through training counts rather than the model's unigram table.
    val toks = df.select(col(idCol).as("doc"),
        posexplode(tokens(RootLower.lower(col(textCol)))).as(Seq("pos", "raw")))
      .join(broadcast(uni.filter(col("w") =!= lit(Unk))
          .select(col("w"), lit(1).as("__in"))),
        col("raw") === col("w"), "left")
      .select(col("doc"), col("pos"),
        when(col("__in").isNotNull, col("raw")).otherwise(lit(Unk)).as("tok"),
        col("__in").isNull.as("oov"))
      .localCheckpoint(eager = true)
    // adjacent pairs via lead() over the per-doc window — ONE exchange
    // of the token stream (hash by doc) instead of the former self-join
    // on (doc, pos+1), which shuffled the stream once per join side
    // (r15; per-doc windows are key-partitioned, never corpus-global).
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("pos")
    val pairs = toks
      .select(col("doc"), col("tok").as("w1"),
        lead(col("tok"), 1).over(wDoc).as("w2"),
        lead(col("oov"), 1).over(wDoc).as("oov2"))
      .filter(col("w2").isNotNull)
    pairs
      .join(bi, concat(col("w1"), lit(" "), col("w2")) === col("gram"), "left")
      .join(broadcast(uni.select(col("w").as("w2"),
        col("u_nll").as("u2_nll"))), Seq("w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("bow"))), Seq("w1"))
      .withColumn("__nll", coalesce(col("b_nll"),
        col("u2_nll") - col("bow")))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("oov2").cast("long")).as("n_oov"),
        sum(col("b_nll").isNull.cast("long")).as("n_backoff"),
        sum("__nll").as("sum_nll10_micro"))
  }

  /** Score a corpus under a TRIGRAM artifact (trained by [[arpaTable3]]
    * or imported) with standard two-level backoff decoding: each
    * adjacent triple scores the stored trigram micro-nll when present;
    * else `nll_bi(w2 w3) − log10 bow(w1 w2)` (an absent (w1 w2) context
    * backs off at bow 1 — the Katz convention); else
    * `nll_uni(w3) − log10 bow(w2) − log10 bow(w1 w2)`. All sums are
    * exact BIGINTs of stored micro values. Returns (doc, n_triples,
    * n_oov, n_backoff_bi, n_backoff_uni, sum_nll10_micro) — `n_oov`
    * counts triples whose TARGET w3 mapped to `<unk>`; docs with fewer
    * than three tokens carry no triples and drop out.
    *
    * Scale: the unigram table broadcasts; bigram and trigram joins are
    * plain shuffle equi-joins on the gram (both tables grow with the
    * model's training corpus); one keyed aggregation.
    */
  def arpaScore3(df: DataFrame, idCol: String, textCol: String,
      lm0: DataFrame,
      tokens: Column => Column = TextAnalysis.wsTokens): DataFrame = {
    // one artifact materialization, many consumers — see arpaScore.
    val lm = lm0.localCheckpoint(eager = true)
    val uni = lm.filter(col("n") === 1)
      .select(col("gram").as("w"), col("nll10_micro").as("u_nll"),
        col("bow10_micro").as("bow1"))
    require(!uni.filter(col("w") === Unk).isEmpty,
      s"model has no '$Unk' unigram — cannot score open-vocabulary text")
    val bi = lm.filter(col("n") === 2)
      .select(col("gram"), col("nll10_micro").as("b_nll"),
        coalesce(col("bow10_micro"), lit(0L)).as("bow2"))
    val tri = lm.filter(col("n") === 3)
      .select(col("gram").as("__tg"), col("nll10_micro").as("t_nll"))
    // membership excludes '<unk>' — see arpaScore's rationale.
    val toks = df.select(col(idCol).as("doc"),
        posexplode(tokens(RootLower.lower(col(textCol)))).as(Seq("pos", "raw")))
      .join(broadcast(uni.filter(col("w") =!= lit(Unk))
          .select(col("w"), lit(1).as("__in"))),
        col("raw") === col("w"), "left")
      .select(col("doc"), col("pos"),
        when(col("__in").isNotNull, col("raw")).otherwise(lit(Unk)).as("tok"),
        col("__in").isNull.as("oov"))
      .localCheckpoint(eager = true)
    // adjacent triples via lead() — one exchange of the token stream
    // instead of the former double self-join's three (see arpaScore).
    val wDoc3 = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("pos")
    val triples = toks
      .select(col("doc"), col("tok").as("w1"),
        lead(col("tok"), 1).over(wDoc3).as("w2"),
        lead(col("tok"), 2).over(wDoc3).as("w3"),
        lead(col("oov"), 2).over(wDoc3).as("oov3"))
      .filter(col("w3").isNotNull)
    triples
      .join(tri, concat(col("w1"), lit(" "), col("w2"), lit(" "),
        col("w3")) === col("__tg"), "left")
      .join(bi.select(col("gram"), col("b_nll")),
        concat(col("w2"), lit(" "), col("w3")) === col("gram"), "left")
      .join(bi.select(col("gram").as("__g12"), col("bow2")),
        concat(col("w1"), lit(" "), col("w2")) === col("__g12"), "left")
      .join(broadcast(uni.select(col("w").as("w3"),
        col("u_nll").as("u3_nll"))), Seq("w3"))
      .join(broadcast(uni.select(col("w").as("w2"), col("bow1"))), Seq("w2"))
      .withColumn("__bow12", coalesce(col("bow2"), lit(0L)))
      .withColumn("__nll", coalesce(col("t_nll"),
        coalesce(col("b_nll") - col("__bow12"),
          col("u3_nll") - col("bow1") - col("__bow12"))))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_triples"),
        sum(col("oov3").cast("long")).as("n_oov"),
        sum((col("t_nll").isNull && col("b_nll").isNotNull).cast("long"))
          .as("n_backoff_bi"),
        sum((col("t_nll").isNull && col("b_nll").isNull).cast("long"))
          .as("n_backoff_uni"),
        sum("__nll").as("sum_nll10_micro"))
  }
}
