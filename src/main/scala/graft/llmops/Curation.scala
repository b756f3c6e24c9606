package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full curation pipeline as ONE auditable operator: every document
  * gets a verdict row naming the FIRST stage that dropped it (or `kept`)
  * — the decision ledger a data-governance review asks for ("why is this
  * document in/out of the training set?"), and the shape every serious
  * pretraining pipeline ends up hand-rolling.
  *
  * Stage order is the conventional cheap-to-expensive cascade, and each
  * stage sees only the survivors of the previous one (a near-duplicate
  * of a quality-rejected document is NOT a dup — its twin is already
  * gone):
  *
  *   1. `blocked_source` — curated source/domain blocklist
  *      ([[Corpus.withoutSources]] semantics: NULL source is blocked);
  *   2. `quality`        — the Gopher-style composite gate
  *      ([[TextAnalysis.qualityGate]]; the gate's reason is surfaced in
  *      `quality_reason`);
  *   3. `exact_dup`      — content-hash dedup, min-id survivor
  *      ([[Dedup.exact]] rule);
  *   4. `near_dup`       — MinHash-LSH pairs → connected components →
  *      min-id survivor ([[Dedup.minHashPairs]] + [[Dedup.resolveClusters]]);
  *   5. `contaminated`   — benchmark n-gram collision
  *      ([[Dedup.decontaminate]], any-hit rule);
  *   6. `quota`          — per-source cap ([[Corpus.sourceQuota]],
  *      deterministic smallest-hash winners).
  *
  * Scale: the cascade is exactly as expensive as its parts — each stage
  * is one pass over ITS survivor set, the expensive stages (minhash,
  * decontamination) run on the already-thinned corpus, and the ledger
  * assembly joins doc-id-sized marker frames (not text) back onto the
  * input. Each survivor frame is EAGERLY checkpointed (the
  * `Refresh.materialize` discipline): six downstream marker frames hang
  * off the cascade, and without the barriers each one re-executed the
  * whole upstream chain — the gate's n-gram aggregations ran 5× per
  * ledger (measured 10s → 4s warm at sf0.1). Determinism is
  * inherited: every stage's decision is hash- or min-id-based, never
  * RNG, so the ledger is reproducible row for row (and DuckDB-oracled
  * end to end as `q_x_curation_ledger`).
  *
  * `bench` must carry `idCol` and `textCol`; `blockedSources`' first
  * column is the blocklist.
  */
object Curation {

  /** `fittedThresholds`: when present (the
    * [[TextAnalysis.gateThresholdsBySource]] / refit row shape), stage 2
    * runs [[TextAnalysis.qualityGateFitted]] with per-source data-fitted
    * thresholds instead of the scalar constants — the drifted-re-release
    * path composed end to end.
    */
  def ledger(docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      bench: DataFrame, blockedSources: DataFrame, quota: Int,
      minTokens: Long = 5, maxTokens: Long = 100000,
      minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
      minTypeToken: Double = 0.2, maxDupGramFrac: Double = 0.75,
      contamN: Int = 5, maxJaccardDist: Double = 0.3,
      quotaSalts: Int = 16,
      fittedThresholds: Option[DataFrame] = None): DataFrame = {
    require(quota > 0)
    // r16 one-frame cascade: stages 1–3 are per-document decisions
    // (blocklist flag, the narrow gate verdict, the content-hash window)
    // — they ride ONE frame as columns instead of alive_i frames
    // re-joined back per marker. Per-stage decision sets are unchanged:
    // the gate verdict is per-doc (same answer whether computed on the
    // full corpus or on blocklist survivors), and the exact-dedup min
    // only ranges over stage-2 survivors via min(when(pass2, doc)).
    // This replaces 4 eager checkpoints and 10 doc-keyed joins with one
    // checkpoint, one content-hash window exchange and 3 small marker
    // joins (the two genuinely set-shaped stages, near-dup and
    // decontamination, still compute on the filtered survivor set and
    // join back doc-sized markers) — guide §2.4.
    val d0 = Corpus.spreadScan(docs.select(col(idCol).as("doc"),
      col(textCol).as("text"), col(sourceCol).as("source")))

    // 1. blocklist — broadcast; NULL source blocked (NOT IN semantics).
    val b = broadcast(blockedSources
      .select(col(blockedSources.columns.head).cast("string").as("__bsrc")).distinct())
    val flagged = d0.join(b, col("source") === col("__bsrc"), "left")
      .withColumn("__blocked", col("__bsrc").isNotNull || col("source").isNull)
      .drop("__bsrc")

    // 2. quality gate as a narrow column — scalar constants, or the
    // per-source fitted thresholds when the caller re-fit after drift.
    val gated = fittedThresholds.fold(
        flagged.withColumn("__qr", TextAnalysis.qualityReasonExpr(col("text"),
          minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
          minTypeToken, maxDupGramFrac)))(thr =>
        TextAnalysis.withQualityReasonFitted(flagged, "text", "source", thr, "__qr"))
    val pass2 = !col("__blocked") && col("__qr") === "keep"

    // 3. exact dedup — min-id survivor per content hash, among stage-2
    // survivors only (failed rows are excluded from the min via when()).
    val base = gated
      .withColumn("__keep3", min(when(pass2, col("doc"))).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .withColumn("__ex", pass2 && col("doc") =!= col("__keep3"))
      .withColumn("__pass3", pass2 && col("doc") === col("__keep3"))
      .drop("__keep3")
      .localCheckpoint(true)

    // 4. near-dup dedup among exact survivors.
    val alive3 = base.filter(col("__pass3")).select("doc", "text", "source")
    val pairs = Dedup.minHashPairs(alive3, "doc", "text", maxJaccardDist)
    val ndFail = Dedup.resolveClusters(pairs, "id_a", "id_b")
      .filter(col("cluster") =!= col("v")).select(col("v").as("doc"))
    val base4 = base.join(ndFail.withColumn("__nd", lit(true)), Seq("doc"), "left")
      .withColumn("__pass4", col("__pass3") && col("__nd").isNull)

    // 5. benchmark decontamination among dedup survivors.
    val contamFail = Dedup.decontaminate(
        base4.filter(col("__pass4")).select("doc", "text"),
        bench.select(col(idCol).as("doc"), col(textCol).as("text")),
        "doc", "text", contamN)
      .filter(col("contaminated")).select("doc")
      .localCheckpoint(true)
    val base5 = base4.join(contamFail.withColumn("__ct", lit(true)), Seq("doc"), "left")
      .withColumn("__pass5", col("__pass4") && col("__ct").isNull)

    // 6. per-source quota among everything that survived.
    val quotaKeep = Corpus.sourceQuota(
        base5.filter(col("__pass5")).select("doc", "source"),
        col("doc"), col("source"), quota, quotaSalts)
      .select(col("doc"), lit(true).as("__qk"))

    // Ledger verdict: CASE order = stage order, each doc reports its
    // FIRST failure; all markers are already columns on the one frame.
    base5.join(quotaKeep, Seq("doc"), "left")
      .select(col("doc"), col("source"),
        when(col("__blocked"), "blocked_source")
          .when(col("__qr") =!= "keep", "quality")
          .when(col("__ex"), "exact_dup")
          .when(col("__nd"), "near_dup")
          .when(col("__ct"), "contaminated")
          .when(col("__qk").isNull, "quota")
          .otherwise("kept").as("stage"),
        when(!col("__blocked") && col("__qr") =!= "keep",
          col("__qr")).as("quality_reason"))
      .withColumn("kept", col("stage") === "kept")
  }

  /** One micro-batch of the STREAMING curation cascade — the shared core
    * of [[graft.streaming.EventStream.curationStream]] and its batch-mode
    * replay oracle (`q_x_curation_stream`): the stream's foreachBatch
    * calls exactly this, so the oracle's two-day replay covers the SAME
    * code path the continuous pipeline runs.
    *
    * Inputs: `b0` is the micro-batch as (doc, text, source); the state
    * frames are the accepted corpus' near-dup index (`corpusIndex`, the
    * [[Dedup.shingleIndexRows]] (doc, hs, …) shape /
    * `corpusBands` (doc, band, sig)), the lifetime per-source
    * accepted counts (`sourceCounts` (source, n)), and the
    * decontamination state (`benchShingles` (s) + `bloomWords`
    * (w, bits)); empty frames degrade each stage to a no-op (batch one
    * of a fresh corpus). Returns (accepted (doc, text, source, hs, sigs),
    * ledger (doc, source, stage, quality_reason, kept)). `hs`/`sigs` are
    * each accepted document's [[Dedup.shingleIndexRows]] columns, the
    * rows a caller appends to the index, so the accepted documents are
    * never shingled a second time.
    *
    * Shape: one eager checkpoint after the exact-dup window (stage 3)
    * holds, for every exact-dup survivor, the compiled shingle struct
    * both set-shaped stages need: hashes and MinHash signatures at `n`
    * for near-dup, xxhash64 hashes at `contamN` for decontamination.
    * Near-dup ([[Dedup.nearDupLosers]]) and decontamination
    * ([[Dedup.bloomHits]]) then read that frame side by side, and each
    * joins a doc-sized marker back. Decontamination runs over the
    * stage-3 survivors, not over the near-dup survivors, so its input is
    * not the near-dup result and no near-dup job sits inside its plan.
    * The labels do not change: whether a document is contaminated is a
    * fact of its own shingles, the same whichever other documents are
    * probed, and the ledger's CASE reports the FIRST failing stage, so a
    * near-dup loser that is also contaminated still reads `near_dup`,
    * and a stage-5 survivor is still a near-dup survivor. A second eager
    * checkpoint after the quota rank backs both the ledger and the
    * accepted set.
    *
    * Stage semantics vs the batch ledger, where they differ:
    *   - `near_dup` covers both within-batch cluster losers and
    *     accepted-corpus near-dups ([[Dedup.incrementalDedupStep]]'s
    *     greedy arrival-order contract);
    *   - `quota` is ARRIVAL-ORDER greedy: lifetime count so far plus
    *     doc-id rank within the batch, capped at `quota` — a stream
    *     cannot un-accept yesterday's documents (the batch operator's
    *     smallest-hash sample would).
    */
  def curationStep(b0: DataFrame,
      corpusIndex: DataFrame, corpusBands: DataFrame,
      sourceCounts: DataFrame,
      benchShingles: DataFrame, bloomWords: DataFrame,
      blockedSources: Seq[String], quota: Int,
      minTokens: Long = 5, maxTokens: Long = 100000,
      minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
      minTypeToken: Double = 0.2, maxDupGramFrac: Double = 0.75,
      maxJaccardDist: Double = 0.3, numHashTables: Int = 5, n: Int = 3,
      contamN: Int = 5, mBits: Int = 1 << 20,
      kProbes: Int = 4): (DataFrame, DataFrame) = {
    require(quota > 0)
    // r16 one-frame cascade — same restructure as [[ledger]]: stages
    // 1–3 and 6 ride the batch frame as columns (blocklist and the gate
    // are per-document predicates, exact dedup is one content-hash
    // window over stage-2 survivors, the arrival-order quota is one
    // per-source running count over stage-5 survivors); only the two
    // set-shaped stages compute on the stage-3 survivor set and join a
    // doc-sized marker back.
    val w = org.apache.spark.sql.expressions.Window
    // 1. blocklist (literal set — blocklists are driver-sized).
    val flagged = b0.withColumn("__blocked", col("source").isNull ||
      col("source").isin(blockedSources.map(x => x: Any): _*))
    // 2. quality gate as a narrow column.
    val gated = flagged.withColumn("__qr",
      TextAnalysis.qualityReasonExpr(col("text"),
        minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
        minTypeToken, maxDupGramFrac))
    val pass2 = !col("__blocked") && col("__qr") === "keep"
    // 3. within-batch exact dedup (min-id survivor among stage-2
    // survivors; failed rows never enter the min). Survivors also get
    // their near-dup and decontamination shingle structs here, once.
    val base = gated
      .withColumn("__keep3", min(when(pass2, col("doc"))).over(
        w.partitionBy(md5(col("text")))))
      .withColumn("__ex", pass2 && col("doc") =!= col("__keep3"))
      .withColumn("__pass3", pass2 && col("doc") === col("__keep3"))
      .drop("__keep3")
      .withColumn("__sh", when(col("__pass3"), Dedup.shingleStruct(col("text"),
        n, numHashTables, md5_52 = true)))
      .withColumn("__xh", when(col("__pass3"), Dedup.shingleStruct(col("text"),
        contamN, 0, md5_52 = false)("hashes")))
      .localCheckpoint(true)
    val alive3 = base.filter(col("__pass3"))
    // 4. near-dup: within batch + against the accepted-corpus index.
    val ndFail = Dedup.nearDupLosers(
        alive3.select(col("doc"), col("__sh")("hashes").as("hs"),
          col("__sh")("sigs").as("sigs")),
        corpusIndex, corpusBands, maxJaccardDist)
      .select(col("doc"), lit(true).as("__nd"))
    // 5. decontamination against the streamed bench state, over the
    // same stage-3 survivors (the CASE below keeps near_dup first).
    val ctFail = Dedup.bloomHits(alive3.select(col("doc"), col("__xh").as("hs")),
        benchShingles, bloomWords, mBits, kProbes)
      .select(col("doc"), lit(true).as("__ct"))
    val base5 = base.drop("__xh")
      .join(ndFail, Seq("doc"), "left")
      .join(ctFail, Seq("doc"), "left")
      .withColumn("__pass5",
        col("__pass3") && col("__nd").isNull && col("__ct").isNull)
    // 6. incremental per-source quota: lifetime-accepted counts +
    // arrival rank (doc-id order within the batch; the running count
    // over stage-5 survivors equals their row_number in doc order).
    val base6 = base5
      .join(sourceCounts.withColumnRenamed("n", "__sofar"), Seq("source"), "left")
      .withColumn("__sofar", coalesce(col("__sofar"), lit(0L)))
      .withColumn("__rn", count(when(col("__pass5"), lit(1))).over(
        w.partitionBy("source").orderBy("doc")
          .rowsBetween(w.unboundedPreceding, w.currentRow)).cast("long"))
      .withColumn("__acc",
        col("__pass5") && col("__sofar") + col("__rn") <= quota)
      .localCheckpoint(true)
    val accepted = base6.filter(col("__acc")).select(col("doc"), col("text"),
      col("source"), col("__sh")("hashes").as("hs"), col("__sh")("sigs").as("sigs"))
    // ledger rows for EVERY input doc, first failing stage wins.
    val ledger = base6
      .select(col("doc"), col("source"),
        when(col("__blocked"), "blocked_source")
          .when(col("__qr") =!= "keep", "quality")
          .when(col("__ex"), "exact_dup")
          .when(col("__nd"), "near_dup")
          .when(col("__ct"), "contaminated")
          .when(col("__pass5") && !col("__acc"), "quota")
          .otherwise("kept").as("stage"),
        when(!col("__blocked") && col("__qr") =!= "keep", col("__qr"))
          .as("quality_reason"))
      .withColumn("kept", col("stage") === "kept")
    (accepted, ledger)
  }

  /** Per-source attrition roll-up of a [[ledger]] (or
    * [[curationStep]] ledger) — where the documents AND the tokens went,
    * by (source, stage): the one-look governance answer to "why is this
    * source under-represented in the release" and the denominator for
    * mixture re-planning after curation. One ledger⋈token-counts join +
    * a map-side-combining aggregate; output is sources × stages rows.
    */
  def attrition(ledgerDf: DataFrame, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    ledgerDf
      .join(docs.select(col(idCol).as("doc"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("__nt")),
        Seq("doc"))
      .groupBy("source", "stage")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))

  /** Governance diff between two curation runs' ledgers — the
    * release-to-release answer to "what changed, and why": every
    * document classifies as
    *   `added`     — only in B (new upstream data),
    *   `removed`   — only in A (data withdrawn upstream),
    *   `regressed` — kept by A, dropped by B (`stage_b` says why),
    *   `recovered` — dropped by A, kept by B,
    *   `restaged`  — dropped by both but at a different stage (a rule
    *                 or threshold change moved the verdict earlier or
    *                 later in the cascade),
    *   `same`      — identical verdict.
    * Inputs are two [[ledger]]-shaped frames (doc, source, stage, …).
    * Scale: ONE full-outer equi-join on doc over two narrow
    * corpus-sized frames plus a codegen'd CASE — nothing quadratic;
    * roll up per (source, change) downstream with a map-side agg.
    */
  def ledgerDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val la = a.select(col("doc"), col("source").as("__sa"),
      col("stage").as("stage_a"))
    val lb = b.select(col("doc"), col("source").as("__sb"),
      col("stage").as("stage_b"))
    la.join(lb, Seq("doc"), "full_outer")
      .select(col("doc"), coalesce(col("__sb"), col("__sa")).as("source"),
        col("stage_a"), col("stage_b"),
        when(col("stage_a").isNull, "added")
          .when(col("stage_b").isNull, "removed")
          .when(col("stage_a") === "kept" && col("stage_b") =!= "kept", "regressed")
          .when(col("stage_a") =!= "kept" && col("stage_b") === "kept", "recovered")
          .when(col("stage_a") =!= col("stage_b"), "restaged")
          .otherwise("same").as("change"))
  }
}
