package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines: deterministic
  * sampling, train/valid/test splitting, and token-budget sharding.
  *
  * All decisions derive from PortableHash over a stable key — never from
  * RNG state — so results are reproducible run-to-run, independent of
  * partitioning and cluster size, and exactly checkable by a SQL oracle.
  * Every operator is a narrow codegen'd projection/filter (the window in
  * `tokenShards` is the one shuffle); at 100 TB they run at scan speed.
  */
object Corpus {

  /** Keep ~pct% of rows, chosen by key hash — the deterministic,
    * partition-invariant replacement for df.sample(). Same key → same
    * decision on every run and every cluster.
    */
  def hashSample(keyCol: Column, pct: Int): Column = {
    require(pct >= 0 && pct <= 100)
    PortableHash.hash52(keyCol.cast("string")) % 100 < pct
  }

  /** Guard against an under-parallel scan feeding per-document heavy
    * work (tokenize/explode/hash): when the input's partition count is
    * below the cluster's default parallelism — the unsplittable-input
    * case: one gzip file, or a parquet file written as a single row
    * group, which byte-range splitting cannot parallelize — repartition
    * to default parallelism right after the read (guide §2.5). On a
    * well-laid-out input (≥ one split per core, the 100 TB case) this is
    * a NO-OP: no extra exchange enters the plan. The round-robin
    * repartition is deterministic under retries (sortBeforeRepartition
    * stays on) and every downstream consumer here is a keyed aggregation
    * or join, so results are partition-layout-invariant.
    */
  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Per-stratum deterministic sampling — rebalance a corpus by keeping a
    * different fraction of each stratum (the "downsample web crawl,
    * upweight books, keep all code" move every pretraining mix needs).
    * Rates are basis points out of 10_000 per stratum value; strata absent
    * from the map fall back to `defaultBps`. Same hash-bucket mechanism as
    * [[hashSample]]: keep iff hash(key) % 10000 < rate(stratum) —
    * deterministic, partition-invariant, and a row kept at rate r stays
    * kept at every rate ≥ r (nested samples, so raising a stratum's rate
    * only ADDS documents — stable ablations).
    */
  def stratifiedSample(keyCol: Column, stratumCol: Column,
      ratesBps: Map[String, Int], defaultBps: Int = 0): Column = {
    require(ratesBps.nonEmpty && (ratesBps.values ++ Seq(defaultBps)).forall(r => r >= 0 && r <= 10000))
    val bucket = PortableHash.hash52(keyCol.cast("string")) % 10000
    val rate = ratesBps.toSeq.sortBy(_._1).foldLeft(when(lit(false), lit(0))) {
      case (acc, (s, r)) => acc.when(stratumCol === s, lit(r))
    }.otherwise(lit(defaultBps))
    bucket < rate
  }

  /** Per-ROW weighted sampling: keep each row with its own probability
    * `weightBps/10000` (clamped), decided by the key hash — the
    * quality-weighted corpus-mix move (keep high-quality docs with
    * certainty, downweight the tail) with [[hashSample]]'s guarantees:
    * deterministic, partition-invariant, and nested (raising a row's
    * weight can only keep it; a kept row never drops).
    */
  def weightedSample(keyCol: Column, weightBps: Column): Column =
    PortableHash.hash52(keyCol.cast("string")) % 10000 <
      least(lit(10000), greatest(lit(0), weightBps))

  /** Assign each row a split label by cumulative hash-bucket ranges out of
    * 10_000 (e.g. Seq("train" -> 8000, "valid" -> 1000, "test" -> 1000)).
    * Order matters (ranges are cumulative in the given order); weights must
    * sum to ≤ 10_000, remainder falls into the last split.
    */
  def withSplit(df: DataFrame, keyCol: Column,
      splits: Seq[(String, Int)], outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 10000)
    val bucket = PortableHash.hash52(keyCol.cast("string")) % 10000
    val bounds = splits.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val expr = splits.init.zip(bounds.init).foldLeft(when(lit(false), lit(""))) {
      case (acc, ((name, _), hi)) => acc.when(bucket < hi, lit(name))
    }.otherwise(lit(splits.last._1))
    df.withColumn(outCol, expr)
  }

  /** Leakage-safe split: assign train/valid/test by the document's
    * near-duplicate CLUSTER label, not by the document itself, so two
    * near-duplicates can never straddle a split boundary — the classic
    * eval-contamination bug ([[withSplit]] hashes each doc independently,
    * so a 0.9-Jaccard twin of a training document lands in test 20% of
    * the time). `clusters` is the `(v, cluster)` labeling from
    * [[Dedup.resolveClusters]]; documents absent from it are singletons
    * and fall back to their own key — the same hash mechanism, so with an
    * empty cluster table this degrades exactly to [[withSplit]].
    *
    * The effective split key is exposed as `split_key` so downstream
    * audits can verify the no-straddle invariant with one groupBy.
    *
    * Scale: one equi-join corpus⋈clusters (the cluster table has at most
    * one row per PAIRED document — usually far smaller than the corpus,
    * often broadcastable), then the split decision is the same codegen'd
    * hash expression as [[withSplit]]. No window, no driver state.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
      splits: Seq[(String, Int)], outCol: String = "split"): DataFrame = {
    require(!docs.columns.contains("split_key") && !docs.columns.contains("__lscl"),
      "leakageSafeSplit reserves columns split_key and __lscl")
    val eff = docs
      .join(clusters.select(col("v").as(idCol), col("cluster").as("__lscl")),
        Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("__lscl"), col(idCol)))
      .drop("__lscl")
    withSplit(eff, col("split_key"), splits, outCol)
  }

  /** Split-leakage AUDIT — the one-query governance check
    * [[leakageSafeSplit]] exists to pass: given per-document split labels
    * and a near-duplicate pair table, count the pairs whose endpoints
    * landed in DIFFERENT splits (each such pair is an eval-contamination
    * path). One row: (n_pairs, n_straddling) — zero straddling is the
    * acceptance bar for a leakage-safe split; a per-doc hash split fails
    * it by construction (~2·p·(1−p) of pairs). Two broadcast-sized label
    * joins; pairs missing a label are excluded (count both sides or fix
    * the label table first).
    */
  def splitLeakageAudit(splits: DataFrame, idCol: String, splitCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    pairs
      .join(splits.select(col(idCol).as("__ida"), col(splitCol).as("__sa")),
        col(aCol) === col("__ida"))
      .join(splits.select(col(idCol).as("__idb"), col(splitCol).as("__sb")),
        col(bCol) === col("__idb"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)), lit(0L))
          .as("n_straddling"))

  /** Sliding token-window chunking: split each document into chunks of
    * `window` tokens starting every `stride` tokens (stride < window ⇒
    * overlap — the long-context / RAG-indexing shape). One narrow
    * `explode(sequence(...))` per row, codegen'd end to end: chunk count
    * and boundaries derive arithmetically from the token count, so no
    * shuffle and no per-token blowup (the chunk SLICE materializes, the
    * token list does not explode row-per-token).
    *
    * Tail rule: a chunk starts at every stride multiple < n_tokens, so the
    * final chunks may be shorter than `window`. With `window >= stride`
    * every token lands in ≥ 1 chunk (property-tested); `window < stride`
    * deliberately SKIPS the tokens between chunks (sparse sampling).
    */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int, keepText: Boolean = false): DataFrame = {
    require(window >= 1 && stride >= 1)
    val t = split(trim(col(textCol)), "\\s+")
    val base = df.select(col(idCol).as("doc"), t.as("_t"),
      size(t).cast("long").as("_n"))
    val sliced = base
      .select(col("doc"), col("_t"), col("_n"),
        explode(sequence(lit(0L), floor((col("_n") - 1) / stride))).as("chunk"))
      .select(col("doc"), col("chunk"),
        (col("chunk") * stride + 1).as("start_tok"),
        slice(col("_t"), (col("chunk") * stride + 1).cast("int"), lit(window)).as("_ct"))
    // keepText materializes the chunk string itself — the RAG-indexing
    // shape (feed chunks to Retrieval/embedding); off by default so the
    // metadata-only path never pays the token-volume duplication.
    val tail =
      if (keepText) Seq(concat_ws(" ", col("_ct")).as("chunk_text")) else Nil
    sliced.select(Seq(col("doc"), col("chunk"), col("start_tok"),
      size(col("_ct")).cast("long").as("n_chunk_tokens"),
      md5(concat_ws(" ", col("_ct"))).as("chunk_md5")) ++ tail: _*)
  }

  /** Sentence-boundary chunking — the RAG-indexing shape that never cuts
    * mid-sentence: each document splits into sentences (a boundary after
    * `[.!?]` + whitespace; the final unterminated sentence counts too),
    * and whole sentences group greedily into chunks by the
    * [[tokenShards]] rule at document scope: a sentence joins chunk
    * `floor(tokens_before_it / budget)`. Chunks hold whole sentences, so
    * they run `budget` ± one straddling sentence — the same "the unit
    * starts in its budget-multiple" semantics tokenShards gives shards.
    *
    * Emits one row per (doc, chunk): `start_sent` (1-based index of the
    * chunk's first sentence), `n_sentences`, `n_chunk_tokens`, and
    * `chunk_md5` over the space-joined sentence text (pass
    * `keepText = true` for the text itself — the [[tokenChunks]]
    * contract). The sentence split is a codegen'd regexp in the
    * Java-regex/RE2-common subset (no lookbehind), replicated verbatim by
    * the SQL oracle; per-doc windows only — documents are bounded, the
    * corpus never funnels through a global window.
    *
    * `cjkAware = true` adds the non-Latin half of the contract: a
    * boundary ALSO falls after the fullwidth terminators 。！？ with no
    * whitespace requirement (CJK prose has none — without this a Chinese
    * document is ONE sentence and the chunker degenerates to whole-doc
    * units), empty segments from a terminator at end-of-string are
    * dropped (`start_sent` still indexes the original split positions),
    * and the token budget is gauged in [[TextAnalysis.scriptTokens]]
    * units so a per-char CJK sentence weighs its character count, not 1.
    * Latin documents behave identically in both modes.
    */
  def sentenceChunks(df: DataFrame, idCol: String, textCol: String,
      budget: Long, keepText: Boolean = false,
      cjkAware: Boolean = false): DataFrame = {
    require(budget >= 1)
    val sep = "\u0001"
    val base = regexp_replace(trim(col(textCol)), "([.!?])\\s+", "$1" + sep)
    val marked =
      if (cjkAware) regexp_replace(base, "([。！？])", "$1" + sep) else base
    val sents = split(marked, sep)
    val explodedAll = df
      .select(col(idCol).as("doc"), posexplode(sents).as(Seq("pos", "sent")))
    val kept =
      if (cjkAware) explodedAll.filter(trim(col("sent")) =!= "") else explodedAll
    val ntok =
      if (cjkAware) size(TextAnalysis.scriptTokens(col("sent"))).cast("long")
      else size(split(trim(col("sent")), "\\s+")).cast("long")
    val exploded = kept.withColumn("ntok", ntok)
    val w = Window.partitionBy("doc").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = exploded
      .withColumn("chunk",
        floor(coalesce(sum(col("ntok")).over(w), lit(0L)) / budget).cast("long"))
    val ordered = array_sort(collect_list(struct(col("pos"), col("sent"))))
    val text = concat_ws(" ", transform(ordered, s => s("sent")))
    val tail = if (keepText) Seq(text.as("chunk_text")) else Nil
    val aggs = Seq(count(lit(1)).as("n_sentences"),
      sum(col("ntok")).as("n_chunk_tokens"),
      md5(text).as("chunk_md5")) ++ tail
    chunked.groupBy("doc", "chunk")
      .agg((min(col("pos")) + 1).cast("long").as("start_sent"), aggs: _*)
  }

  /** C4/RefinedWeb-style per-source quota cap: keep at most `quota`
    * documents per source (domain), chosen deterministically as the
    * `quota` smallest `hash52(key)` values (ties broken on the key string)
    * — a stable uniform sample of each source, not "whatever arrived
    * first".
    *
    * Skew is the scale hazard: a naive `Window.partitionBy(source)` funnels
    * a hot domain's billions of rows through one partition. So this runs
    * two phases: phase 1 ranks within (source, salt) — `salts` deterministic
    * sub-partitions derived from the same hash — and keeps `quota` rows per
    * salt, bounding every phase-2 partition to `salts × quota` rows no
    * matter how hot the domain. Phase 1 keeps a superset of the final
    * winners (each salt keeps its `quota` best, and the global top-`quota`
    * contains at most `quota` from any salt), so the result is EXACTLY the
    * single-window answer — which is what the SQL oracle states.
    */
  def sourceQuota(df: DataFrame, keyCol: Column, sourceCol: Column,
      quota: Int, salts: Int = 16): DataFrame = {
    require(quota > 0 && salts > 0)
    val reserved = Seq("__h", "__k", "__src", "__salt", "__r1", "__rn")
    require(!df.columns.exists(reserved.contains),
      s"input must not carry reserved columns ${reserved.mkString(", ")}")
    val staged = df
      .withColumn("__h", PortableHash.hash52(keyCol.cast("string")))
      .withColumn("__k", keyCol.cast("string"))
      .withColumn("__src", sourceCol)
      .withColumn("__salt", pmod(col("__h"), lit(salts.toLong)))
    val perSalt = Window.partitionBy("__src", "__salt")
      .orderBy(col("__h"), col("__k"))
    val perSource = Window.partitionBy("__src").orderBy(col("__h"), col("__k"))
    staged
      .withColumn("__r1", row_number().over(perSalt))
      .filter(col("__r1") <= quota)
      .withColumn("__rn", row_number().over(perSource))
      .filter(col("__rn") <= quota)
      .drop("__h", "__k", "__src", "__salt", "__r1", "__rn")
  }

  /** Source blocklist: drop every row whose source appears in `blocked`.
    * Blocklists are curated (thousands of domains, not billions) →
    * broadcast anti-join, no shuffle of the corpus side.
    *
    * Null handling is SQL `NOT IN` semantics, matching the oracle: a NULL
    * source is DROPPED (`null NOT IN (...)` is never true). Without the
    * explicit isNotNull filter, `null === x` never matches so left_anti
    * would silently KEEP null-source rows — a divergence from the
    * documented contract that only shows up when null sources appear.
    */
  def withoutSources(df: DataFrame, sourceCol: Column,
      blocked: DataFrame): DataFrame = {
    val b = blocked.select(blocked.columns.head)
      .withColumnRenamed(blocked.columns.head, "__blocked_src").distinct()
    df.filter(sourceCol.isNotNull)
      .join(broadcast(b), sourceCol === col("__blocked_src"), "left_anti")
  }

  /** Contiguous token-budget sharding: documents in `orderCol` order (a
    * numeric, globally-ordering column) are streamed into shards of
    * ~`budget` tokens (shard = the budget-multiple the document STARTS in —
    * the standard contiguous-token-stream packing for pretraining).
    *
    * The global running sum is computed scalably in two passes instead of a
    * single-partition global window: a parallel per-group cumsum
    * (partitioned window over coarse `groupSize` buckets of the order
    * column), plus a broadcast join against the tiny running-offset table of
    * group totals. No stage ever funnels the full data through one
    * partition.
    */
  def tokenShards(df: DataFrame, orderCol: Column, tokenCol: Column,
      budget: Long, outCol: String = "shard",
      groupSize: Long = 1L << 20): DataFrame =
    withStreamOffset(df, orderCol, tokenCol, groupSize)
      .withColumn(outCol, floor(col("__start") / budget).cast("long"))
      .drop("__start")

  /** Adds `__start` = the EXCLUSIVE prefix sum of `tokenCol` in `orderCol`
    * order (the row's 0-based offset in the concatenated global token
    * stream), computed scalably in two passes instead of a single-partition
    * global window: a parallel per-group cumsum (partitioned window over
    * coarse `groupSize` buckets of the order column) plus a broadcast join
    * against the tiny running-offset table of group totals. No stage ever
    * funnels the full data through one partition. Shared spine of
    * [[tokenShards]] and [[packSequences]].
    */
  /** The stream-offset spine derives its coarse group via integer
    * division of the ORDER key — a non-numeric key would implicit-cast
    * to null, and a later equi-join on the null group would silently
    * drop every row (an empty result instead of an error). Operators
    * that take the key by NAME check it here; Column-typed entry points
    * ([[tokenShards]]/[[packSequences]]) document the contract instead.
    */
  private[llmops] def requireNumericKey(df: DataFrame, colName: String, op: String): Unit = {
    val dt = df.schema(colName).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op: column '$colName' must be numeric (got ${dt.simpleString}) — " +
        "the coarse-group spine divides it; a string id would cast to null " +
        "and silently drop all rows")
  }

  private def withStreamOffset(df: DataFrame, orderCol: Column,
      tokenCol: Column, groupSize: Long): DataFrame = {
    val g = floor(orderCol / groupSize).cast("long")
    val inGroup = Window.partitionBy("__g").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = df.withColumn("__g", g)
      .withColumn("__cum_in", sum(tokenCol).over(inGroup))
    // tiny: one row per group — running offset of all PRIOR groups.
    val offsets = withCum.groupBy("__g")
      .agg(sum(tokenCol).as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(
          Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__g", "__off")
    withCum.join(broadcast(offsets), Seq("__g"))
      .withColumn("__start", col("__off") + col("__cum_in") - tokenCol)
      .drop("__g", "__cum_in", "__off")
  }

  /** GPT-style sequence packing (concatenate-then-split): the global token
    * stream in `orderCol` order is cut into fixed `seqLen`-token training
    * sequences, and documents SPAN sequence boundaries — unlike
    * [[tokenShards]], which only assigns the shard a document STARTS in.
    * Emits one row per (document × overlapped sequence) with the fragment
    * geometry a packer needs: `seq` (sequence id), `start_in_seq` (the
    * fragment's 0-based token offset inside the sequence), and
    * `n_seq_tokens` (fragment length); rows with zero `tokenCol` vanish
    * (they contribute no tokens to any sequence).
    *
    * Scale: the fragment fan-out per document is 1 + floor((start mod
    * seqLen + n − 1) / seqLen) ≤ n/seqLen + 1 — a narrow codegen'd
    * `explode(sequence(...))`, never per-token. The only shuffles are the
    * two-pass prefix sum of [[withStreamOffset]]; at 100 TB the packing
    * itself runs at scan speed and the output is exactly the input token
    * volume re-keyed by sequence.
    */
  def packSequences(df: DataFrame, orderCol: Column, tokenCol: Column,
      seqLen: Long, groupSize: Long = 1L << 20): DataFrame = {
    require(seqLen >= 1)
    val reserved = Seq("__start", "seq", "start_in_seq", "n_seq_tokens")
    require(!df.columns.exists(reserved.contains),
      s"input must not carry reserved columns ${reserved.mkString(", ")}")
    val off = col("__start")
    val lo = greatest(off, col("seq") * seqLen)
    withStreamOffset(df.filter(tokenCol >= 1), orderCol, tokenCol, groupSize)
      .withColumn("seq", explode(sequence(
        floor(off / seqLen).cast("long"),
        floor((off + tokenCol - 1) / seqLen).cast("long"))))
      .withColumn("start_in_seq", (lo - col("seq") * seqLen).cast("long"))
      .withColumn("n_seq_tokens",
        (least(off + tokenCol, (col("seq") + 1) * seqLen) - lo).cast("long"))
      .drop("__start")
  }

  /** Temperature-smoothed mixture resampling (the multilingual-pretraining
    * rebalance: sample stratum i with probability ∝ count_i^α, α = 1/2 —
    * exponent smoothing flattens the head so low-resource strata keep a
    * usable share). Returns the TINY per-stratum plan table
    * (stratum, c, target, keep_bps): weight w_i = floor(√c_i · 10⁶),
    * target_i = floor(budget · w_i / Σw), and a per-stratum keep rate in
    * basis points. Apply it with [[mixSample]].
    *
    * α is fixed at 1/2 deliberately: `sqrt` is an IEEE-754
    * correctly-rounded operation, so Spark and any SQL oracle compute
    * bit-identical weights — general `pow` carries no such guarantee
    * across libm implementations. Every other step is integer arithmetic
    * or exactly-rounded double ops (cast, ×, ÷, floor), so the whole plan
    * table is portable and hash-match checkable.
    *
    * Scale: one keyed count over the corpus (map-side partial agg), then
    * all arithmetic happens on the strata-sized table; the corpus is never
    * shuffled and the plan table broadcasts.
    */
  def temperatureMixPlan(df: DataFrame, stratumCol: Column,
      budget: Long): DataFrame =
    temperatureMixPlanOver(df, stratumCol, lit(1L), budget)

  /** [[temperatureMixPlan]] with per-row WEIGHTS — the budget a training
    * run actually allocates is TOKENS, not documents (a stratum of long
    * documents holds more training mass per doc than a stratum of
    * tweets; a doc-count mixture silently over-samples the short
    * stratum). `c` becomes the stratum's total weight (token mass),
    * `target` a token target, and `keep_bps` the keep rate that hits the
    * token target IN EXPECTATION under the same per-key hash-bucket
    * decision ([[mixSample]] unchanged — keep/drop stays per DOCUMENT;
    * with weight 1 this is exactly the doc-count plan, which delegates
    * here). Same integer/exactly-rounded-double arithmetic → the plan
    * table stays hash-match oracle-checkable.
    */
  def temperatureMixPlanWeighted(df: DataFrame, stratumCol: Column,
      weightCol: Column, budget: Long): DataFrame =
    temperatureMixPlanOver(df, stratumCol, weightCol, budget)

  private def temperatureMixPlanOver(df: DataFrame, stratumCol: Column,
      weightCol: Column, budget: Long): DataFrame = {
    require(budget >= 0)
    val counts = df.groupBy(stratumCol.as("stratum"))
      .agg(sum(weightCol.cast("long")).as("c"))
      .withColumn("__w", floor(sqrt(col("c").cast("double")) * 1e6).cast("long"))
    val totalW = counts.agg(sum("__w").as("__tw"))
    counts.crossJoin(broadcast(totalW))
      .withColumn("target", floor(lit(budget).cast("double") *
        (col("__w").cast("double") / col("__tw").cast("double"))).cast("long"))
      .withColumn("keep_bps", least(lit(10000L),
        floor(lit(10000.0) * col("target").cast("double") /
          col("c").cast("double"))).cast("long"))
      .drop("__w", "__tw")
  }

  /** Apply a [[temperatureMixPlan]]: keep each row iff its key hash lands
    * under its stratum's keep rate — the same deterministic,
    * partition-invariant, nested hash-bucket decision as [[hashSample]].
    * The plan side is strata-sized → broadcast join, no corpus shuffle.
    */
  def mixSample(df: DataFrame, keyCol: Column, stratumCol: Column,
      plan: DataFrame): DataFrame =
    // plan columns take reserved names so a corpus column named "stratum"
    // or "keep_bps" can't collide with the join/filter references.
    df.join(broadcast(plan.select(col("stratum").as("__mix_stratum"),
        col("keep_bps").as("__mix_bps"))),
        stratumCol === col("__mix_stratum"))
      .filter(PortableHash.hash52(keyCol.cast("string")) % 10000 < col("__mix_bps"))
      .drop("__mix_stratum", "__mix_bps")

  /** Deterministic global training order: rank every row by
    * (hash52(key), key) — a pseudo-random but fully reproducible
    * permutation of the corpus, the "shuffle the data before sharding /
    * curriculum" step every training run needs. `outCol` is the dense
    * 0-based position; feed it to [[tokenShards]] or [[packSequences]]
    * as the order column to get shuffled shards. `keyCol` must be unique
    * (it is the tie-break that makes the order total).
    *
    * Scale: the classic two-pass global rank — hash52 is uniform on
    * [0, 2⁵²), so fixed-width hash buckets are balanced by construction:
    * within-bucket rank is a PARTITIONED window (never a single-partition
    * global window), bucket offsets are an nBuckets-row cumulative table
    * broadcast back. Same spine as [[withStreamOffset]], keyed by the
    * hash instead of a given numeric order. Size `nBuckets` ≈
    * rows / target-partition-rows: each bucket is one window partition,
    * so the default 1024 is right up to ~10⁹ rows; a 100 TB corpus wants
    * 10⁵–10⁶ buckets (the offset table stays trivially broadcastable).
    */
  def trainingOrder(df: DataFrame, keyCol: Column, outCol: String = "ord",
      nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 1)
    val reserved = Seq("__h", "__g", "__rn", "__off", outCol)
    require(!df.columns.exists(reserved.contains),
      s"input must not carry reserved columns ${reserved.mkString(", ")}")
    val width = math.max(1L, (1L << 52) / nBuckets)
    val withG = df.withColumn("__h", PortableHash.hash52(keyCol.cast("string")))
      .withColumn("__g", floor(col("__h") / width).cast("long"))
    val inB = Window.partitionBy("__g").orderBy(col("__h"), keyCol)
    val offsets = withG.groupBy("__g").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(
        Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__g", "__off")
    withG.withColumn("__rn", row_number().over(inB).cast("long"))
      .join(broadcast(offsets), Seq("__g"))
      .withColumn(outCol, col("__off") + col("__rn") - 1)
      .drop("__h", "__g", "__rn", "__off")
  }

  /** Similarity-coherent global training order — in-context pretraining
    * (Shi et al. 2023, arXiv:2310.10638): packing RELATED documents into
    * the same training sequence teaches cross-document reasoning where
    * random packing wastes the context window on unrelated neighbors.
    * The paper chains kNN neighbors into paths; at corpus scale that is
    * an all-pairs graph build, so this operator ships the SCALABLE
    * approximation (deviation stated): coherence comes from IVF-cell
    * grouping (same-topic docs land in the same cell) plus a 1-D
    * locality key WITHIN the cell (a deterministic [[PortableHash]]
    * hyperplane projection — cell-mates that are also near each other
    * get near keys), and the global order is (cell, proj, id). The
    * within-cell chain is approximate; the cell-level grouping — where
    * the bulk of the adjacency gain lives (spec-measured: mean adjacent
    * cosine ≫ the hash-shuffled [[trainingOrder]] baseline) — is exact.
    *
    * Feed `ord` to [[packSequences]]/[[tokenShards]] exactly like
    * [[trainingOrder]]'s output (use THAT one when you want the
    * de-correlated shuffle; this one when you want coherence — they are
    * the two ends of the same knob).
    *
    * Scale: centroids broadcast (assignCells); the rank is the
    * range-bucketed spine (repartitionByRange on the full order key +
    * within-slice rank + an offsets table bounded by the bucket count —
    * the crawlWaves/trainingOrder discipline, never a single-partition
    * global window). Returns (id, cell, proj, ord) — ord dense 0-based.
    */
  def coherentOrder(embeddings: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, buckets: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    val n = if (buckets >= 1) buckets else spark.sparkContext.defaultParallelism
    val cells = graft.llmops.Similarity.assignCells(
      embeddings, centroids, idCol, vecCol)
    val plane = typedLit((0 until dim).map(d =>
      PortableHash.unitUniformJvm(s"icp:$d")))
    val keyed = cells.select(col("cell"), col("cid").as("id"),
      round(graft.llmops.Similarity.dot(col("cvec"), plane), 6).as("proj"))
    // the two-consumer checkpoint pins the SAMPLED range boundaries
    // (the rankPerHost rule): offsets and rank must see one partitioning
    val parted = keyed
      .repartitionByRange(n, col("cell"), col("proj"), col("id"))
      .withColumn("__bkt", spark_partition_id().cast("long"))
      .localCheckpoint(eager = true)
    val inSlice = Window.partitionBy("__bkt")
      .orderBy(col("cell"), col("proj"), col("id"))
    val offsets = parted.groupBy("__bkt").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(
        Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("__bkt", "__off")
    parted.withColumn("__rn", row_number().over(inSlice).cast("long"))
      .join(broadcast(offsets), Seq("__bkt"))
      .withColumn("ord", col("__off") + col("__rn") - 1L)
      .select("id", "cell", "proj", "ord")
  }

  /** Apply a [[temperatureMixPlan]] WITH REPLACEMENT (upsampling): where
    * [[mixSample]] can only keep or drop (targets above a stratum's count
    * are clamped by `keep_bps ≤ 10000`), this emits each row
    * `floor(cb/10000)` times plus one more iff `hash(key) % 10000 <
    * cb % 10000`, where `cb = floor(10000·target/c)` is the stratum's
    * copy rate in basis points (> 10000 ⇒ guaranteed repetition) — the
    * "epoch low-resource languages more than once" move of every
    * multilingual pretraining mix. Output gains a 0-based `copy` index
    * column; per-stratum emitted count is within one per row of `target`.
    *
    * Determinism and nesting carry over from [[hashSample]]: the decision
    * is the key hash, never RNG, so results are partition-invariant, and
    * a bigger budget (target is monotone in it) can only raise `cb` and
    * therefore per-row copy counts — existing copies never vanish.
    *
    * Scale: the plan side is strata-sized → broadcast join; the fan-out
    * is a narrow codegen'd `explode(sequence(...))` bounded by
    * `cb/10000 + 1` per row — no shuffle anywhere. Exact-double safety:
    * `10000.0·target` is exact for any target < 2⁴⁹, far beyond a row
    * budget.
    */
  def mixResample(df: DataFrame, keyCol: Column, stratumCol: Column,
      plan: DataFrame): DataFrame = {
    require(!df.columns.contains("copy"),
      "input must not carry the reserved output column `copy`")
    val cb = floor(lit(10000.0) * col("__mix_target").cast("double") /
      col("__mix_c").cast("double")).cast("long")
    df.join(broadcast(plan.select(col("stratum").as("__mix_stratum"),
        col("c").as("__mix_c"), col("target").as("__mix_target"))),
        stratumCol === col("__mix_stratum"))
      // Column./ is double division — floor+cast back to long keeps the
      // whole copy count integral (cb < 2^49, exact in double).
      .withColumn("__mix_n", floor(cb / 10000L).cast("long") +
        when(PortableHash.hash52(keyCol.cast("string")) % 10000 < cb % 10000L,
          1L).otherwise(0L))
      .filter(col("__mix_n") >= 1)
      .withColumn("copy", explode(sequence(lit(0L), col("__mix_n") - 1)))
      .drop("__mix_stratum", "__mix_c", "__mix_target", "__mix_n")
  }

  /** Per-source corpus report card — the "data card" table a dataset
    * release ships: document and token counts, mean and exact
    * p50/p90/p99 document lengths ([[graft.operators.Quantiles]] rank
    * rule — always an actual value, engine-portable), and the
    * within-source exact-duplicate count (min-id survivor rule, the
    * [[Dedup.exact]] semantics scoped per source). Everything is integer
    * arithmetic (`DIV` for the mean) so the whole card is value-exact
    * under the oracle.
    *
    * Scale: one pass computes tokens + content hash, the dup window and
    * the quantile rank window both partition by source (the quantile
    * window shares ONE exchange with its groupBy, as Quantiles pins),
    * and the output is sources-sized. Skewed sources are the caveat at
    * 100 TB — a single source holding half the corpus funnels through
    * one partition in the rank window; for that shape run the card per
    * source-shard and merge, or accept the sketch-grade KMV/CMS numbers
    * instead.
    */
  def dataCard(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc"), col(sourceCol).as("source"),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"),
      md5(col(textCol)).as("__h"))
    val withKeep = base.withColumn("__keep",
      min("doc").over(Window.partitionBy("source", "__h")))
    val stats = withKeep.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      expr("sum(n_tokens) DIV count(1)").as("avg_tokens"),
      sum(when(col("doc") =!= col("__keep"), 1L).otherwise(0L)).as("n_exact_dups"),
      countDistinct("__h").as("n_distinct"))
    stats.join(
      graft.operators.Quantiles.perGroup(
        base.select("source", "n_tokens"), Seq("source"), "n_tokens",
        Seq(50, 90, 99)),
      Seq("source"))
  }

  /** Release manifest for a sharded corpus: one row per shard with exact
    * doc/token counts and an ORDER-INVARIANT content checksum — the
    * `bit_xor` of each member's 52-bit portable hash of `"id:text"`.
    * Two manifests agree iff the shards hold the same row SETS,
    * regardless of row order, partitioning, or file layout — so
    * verifying a re-run, a migration, or a replica is a shards-sized
    * manifest compare, never a data diff. (xor is commutative,
    * associative and self-inverse: any single-row difference flips the
    * checksum; a pair of byte-identical rows cancels, which ids make
    * impossible here.) One aggregation, shards-sized output, and
    * incrementally maintainable: xor-folding a new batch's rows into
    * the stored manifest equals recomputing it — the same merge-law
    * contract as the streaming cards.
    */
  def shardManifest(df: DataFrame, shardCol: Column, idCol: String,
      textCol: String): DataFrame =
    df.select(shardCol.as("shard"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("__nt"),
        PortableHash.hash52(
          concat(col(idCol).cast("string"), lit(":"), col(textCol))).as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"),
        expr("bit_xor(__h)").as("content_xor"))

  /** Population-stability-index drift report between two corpus
    * snapshots over a non-negative numeric column (doc token counts,
    * quality scores scaled to integers — any gauge the pipeline already
    * computes): bin both sides into `bins` fixed-width buckets of
    * `granularity` (values past the last edge clamp into it — the
    * [[graft.functions.LongHistogram]] bucketing), Laplace-smooth the
    * bin shares (+1 per bin, so an empty bin contributes a finite,
    * stable penalty instead of a division by zero), and emit one row
    * per bin with both shares and the PSI contribution
    * `(p − q)·ln(p/q)`. Σ contrib is the PSI: the industry reading is
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 act — for a training
    * pipeline, "act" means yesterday's mixture/quality calibration no
    * longer describes today's crawl (re-fit the gate thresholds,
    * re-check the source mix) — the distribution-level companion to
    * [[graft.llmops.Similarity.cellStats]]'s embedding-space drift
    * gauge.
    *
    * Scale: two map-side-combining groupBys over the snapshots plus a
    * bins-sized assembly join — no shuffle carries data rows. Every
    * quantity is integer counts → one ln per bin, rounded 6 dp (the
    * tfidf/BM25 float discipline), so the whole report is
    * SQL-replayable (q_x_corpus_drift_psi).
    */
  def psiDrift(a: DataFrame, b: DataFrame, valCol: String,
      granularity: Long = 16, bins: Int = 32): DataFrame = {
    require(granularity >= 1 && bins >= 2)
    // integer div (DuckDB `//`), non-negative by the greatest-clamp.
    def binned(df: DataFrame, n: String) =
      df.select(least(
          expr(s"greatest(cast($valCol as bigint), 0) div $granularity"),
          lit(bins - 1L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(n))
    val allBins = a.sparkSession.range(bins).select(col("id").as("bin"))
    val na = binned(a, "na")
    val nb = binned(b, "nb")
    // coalesce: sum over an EMPTY snapshot is NULL — an empty side must
    // degrade to the all-Laplace uniform (PSI 0 vs another empty), not
    // null-poison every share.
    val totals = broadcast(na.agg(coalesce(sum("na"), lit(0L)).as("ta"))
      .crossJoin(nb.agg(coalesce(sum("nb"), lit(0L)).as("tb"))))
    val p = (col("na") + 1) / (col("ta") + bins)
    val q = (col("nb") + 1) / (col("tb") + bins)
    allBins.join(na, Seq("bin"), "left").join(nb, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .crossJoin(totals)
      .select(col("bin"), col("na"), col("nb"),
        round(p, 6).as("p"), round(q, 6).as("q"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
  }

  /** [[psiDrift]] over ALREADY-BUILT per-key histogram state — the form
    * the STREAMING reports need: [[graft.streaming.EventStream
    * .dataCardStream]] persists one bounded
    * [[graft.functions.LongHistogram]] per source, so drift against a
    * frozen reference snapshot is one join of two bounded state tables —
    * no corpus rescan, ever. Emits (key, n_a, n_b, psi) with the same
    * Laplace-smoothed Σ(p−q)·ln(p/q) and the same 0.1/0.25 thresholds;
    * keys present in only one side are omitted (no basis for a
    * comparison). Work is keys × buckets rows — monitoring-cheap at any
    * corpus size, which is the point: the expensive part (the
    * histogram) was already paid incrementally by the stream.
    */
  def psiFromHistograms(a: DataFrame, b: DataFrame, keyCol: String,
      histCol: String = "hist"): DataFrame = {
    val j = a.select(col(keyCol).as("key"), col(histCol).as("ha"))
      .join(b.select(col(keyCol).as("key"), col(histCol).as("hb")), Seq("key"))
    val rows = j.select(col("key"),
        posexplode(arrays_zip(col("ha"), col("hb"))).as(Seq("bin", "z")))
      .select(col("key"), col("bin"),
        col("z")("ha").as("na"), col("z")("hb").as("nb"))
    val tot = rows.groupBy("key")
      .agg(sum("na").as("ta"), sum("nb").as("tb"), count(lit(1)).as("nbins"))
    val p = (col("na") + 1) / (col("ta") + col("nbins"))
    val q = (col("nb") + 1) / (col("tb") + col("nbins"))
    rows.join(tot, Seq("key"))
      .withColumn("__contrib", (p - q) * log(p / q))
      .groupBy("key")
      .agg(first("ta").as("n_a"), first("tb").as("n_b"),
        round(sum("__contrib"), 6).as("psi"))
  }

  /** Curriculum phase assignment — the difficulty-ordered training
    * schedule (easy-first curriculum / hard-last annealing): documents
    * split into `phases` roughly-equal cohorts by a difficulty score
    * (pass e.g. [[TextAnalysis.unigramLogProb]]'s `avg_nll`), each doc
    * gets its phase plus a deterministic `order_key` so "sort by
    * (phase, order_key)" IS the training order — shuffled within a
    * phase, ordered across phases.
    *
    * Scale: a global `ntile` would funnel 100 TB of rows through ONE
    * unpartitioned window — instead the quantile split runs on a
    * BOUNDED histogram (the [[TextAnalysis.gateThresholdsBySource]] /
    * weighted-quantiles discipline): `bin = floor(score · binScale)`
    * (an exactly-rounded float multiply + floor, portable across
    * engines — no engine-dependent rounding), one map-side-combinable
    * count per bin (≤ `maxBin` rows), the cumulative window runs over
    * the ≤ maxBin-row histogram only, and the phase of a bin is
    * `(cum_before · phases) // total` — every doc in a bin shares its
    * phase, so cohort sizes are equal up to one bin's population
    * (tighten `binScale` for finer boundaries; the histogram stays
    * bounded). The corpus itself is touched by exactly one aggregation
    * and one broadcast join.
    */
  def curriculumPhases(scored: DataFrame, idCol: String, scoreCol: String,
      phases: Int, binScale: Long = 1024, maxBin: Long = 1L << 15): DataFrame = {
    require(phases >= 1 && binScale >= 1 && maxBin >= 1)
    val bin = least(greatest(floor(col(scoreCol) * binScale), lit(0L)),
      lit(maxBin)).cast("long")
    val withBin = scored.select(col(idCol), col(scoreCol), bin.as("bin"))
    val hist = withBin.groupBy("bin").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    // the corpus total rides a broadcast scalar (the epochsPlan shortfall
    // pattern), NOT a driver-side .first(): constructing the operator
    // triggers zero jobs and the plan stays lazily composable. coalesce
    // to 1 keeps the div defined on an empty histogram (empty in, empty
    // out — there are no rows for the phase to apply to).
    val totF = hist.agg(coalesce(sum("n"), lit(1L)).as("__tot"))
    val phased = hist
      .withColumn("cum_before", coalesce(sum(col("n")).over(w), lit(0L)))
      .crossJoin(broadcast(totF))
      .withColumn("phase", expr(s"(cum_before * $phases) div __tot"))
      .select("bin", "phase")
    withBin.join(broadcast(phased), Seq("bin"))
      .select(col(idCol), col(scoreCol), col("bin"), col("phase"),
        PortableHash.hash52(concat(col(idCol).cast("string"), lit(":cur")))
          .as("order_key"))
  }

  /** Token-level LOSS MASK aligned into the [[packSequences]] layout —
    * the "redact, then don't train on the placeholder" contract: a
    * trainer must not compute loss on `[EMAIL]`/`[IP]`/`[NUM]`
    * redaction tokens (they are synthetic markers, not language), and
    * the mask has to be addressed in PACKED coordinates because that is
    * what the training loop sees. Feed the REDACTED text (e.g.
    * [[TextAnalysis.withPiiCounts]]'s `redacted`); every token becomes
    * one row with its global packed position: `seq` and `pos_in_seq`
    * are exactly the [[packSequences]] geometry for the same
    * (order, token-count) stream — `seq·seqLen + pos_in_seq` is the
    * token's global stream offset — and `loss_mask` is 0 when the token
    * carries a placeholder (adjacent punctuation included: the match is
    * find-anywhere), 1 otherwise.
    *
    * Scale: the same two-pass prefix-sum spine as packSequences (the
    * running-offset window sees one row per coarse order-group, never
    * the corpus) plus one posexplode — linear in corpus tokens, which
    * is the output's own size; no other shuffle.
    */
  def packedLossMask(df: DataFrame, idCol: String, textCol: String,
      seqLen: Long, groupSize: Long = 1L << 20,
      maskRe: String = "\\[(EMAIL|IP|NUM)\\]"): DataFrame = {
    require(seqLen >= 1)
    requireNumericKey(df, idCol, "packedLossMask")
    val withN = df
      .select(col(idCol).as("doc"),
        TextAnalysis.wsTokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") >= 1)
    withStreamOffset(withN, col("doc"), col("__n"), groupSize)
      .select(col("doc"), col("__start"),
        posexplode(col("__toks")).as(Seq("tok_idx", "token")))
      .select(col("doc"), col("tok_idx").cast("long").as("tok_idx"),
        expr(s"(__start + tok_idx) div ${seqLen}L").as("seq"),
        ((col("__start") + col("tok_idx")) % seqLen).as("pos_in_seq"),
        when(col("token").rlike(maskRe), 0L).otherwise(1L).as("loss_mask"))
  }

  /** Length-bucketed DYNAMIC BATCHING — the padding-minimizing batch
    * assignment for models trained on whole (un-packed) examples, where
    * every batch pads to its longest member: documents group into length
    * buckets (`bucket = min(n_tokens / granularity, maxBucket)` — like
    * lengths batch together, so padding ≈ granularity instead of
    * max-doc-length), and within a bucket consecutive documents fill
    * token-budget batches (`batch = running_tokens div batchTokens`,
    * deterministic in id order). Emits (doc, n_tokens, bucket, batch) —
    * group by (bucket, batch) for the padding audit: `max·count − sum`
    * IS the pad-token bill the bucketing exists to shrink.
    *
    * Scale: the per-bucket running token sum is the [[packSequences]]
    * two-pass spine GENERALIZED to a composite key — the in-group window
    * partitions by (bucket, coarse id-group), the offsets table is one
    * row per (bucket, group) with its window PARTITIONED by bucket, and
    * the join back broadcasts. No stage funnels a bucket (which can hold
    * most of the corpus) through one partition.
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokenCol: Column,
      batchTokens: Long, granularity: Long = 64, maxBucket: Long = 1024,
      groupSize: Long = 1L << 20): DataFrame = {
    require(batchTokens >= 1 && granularity >= 1 && maxBucket >= 0)
    requireNumericKey(df, idCol, "lengthBucketBatches")
    val base = df.select(col(idCol).as("doc"), tokenCol.cast("long").as("n_tokens"))
      .withColumn("bucket",
        least(expr("n_tokens div " + granularity + "L"), lit(maxBucket)))
      .withColumn("__g", expr(s"doc div ${groupSize}L"))
    val inGroup = Window.partitionBy("bucket", "__g").orderBy("doc")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = base.withColumn("__cum_in", sum("n_tokens").over(inGroup))
    val offsets = withCum.groupBy("bucket", "__g")
      .agg(sum("n_tokens").as("__tot"))
      .withColumn("__off", coalesce(sum("__tot").over(
        Window.partitionBy("bucket").orderBy("__g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "__g", "__off")
    withCum.join(broadcast(offsets), Seq("bucket", "__g"))
      .withColumn("__start", col("__off") + col("__cum_in") - col("n_tokens"))
      .withColumn("batch", expr(s"__start div ${batchTokens}L"))
      .select("doc", "n_tokens", "bucket", "batch")
  }

  /** Maps ANY per-token frame into the [[packSequences]] geometry — the
    * generalization [[packedLossMask]] special-cases for redacted text:
    * given one row per token with a unit ORDER key (`orderCol` — the
    * document/conversation the token belongs to) and the token's 0-based
    * position within that unit (`posCol`), emit `seq` and `pos_in_seq`
    * for the concatenated global stream in orderCol order. Every other
    * input column passes through, so a [[chatSftTokens]] frame arrives
    * with its `loss_mask`/`role` and leaves as the exact artifact an SFT
    * trainer consumes: packed coordinates + mask, one row per token.
    *
    * Scale: unit token counts are one map-side-combinable groupBy on the
    * order key; the running offset is the [[packSequences]] two-pass
    * prefix-sum spine (coarse-group window, never the corpus); the final
    * join is keyed on the order key. Linear in the input, which is
    * already token-sized.
    */
  def packTokens(perToken: DataFrame, orderCol: String, posCol: String,
      seqLen: Long, groupSize: Long = 1L << 20): DataFrame = {
    require(seqLen >= 1)
    requireNumericKey(perToken, orderCol, "packTokens")
    val counts = perToken.groupBy(col(orderCol))
      .agg(count(lit(1)).as("__n"))
    val offsets = withStreamOffset(counts, col(orderCol), col("__n"), groupSize)
      .select(col(orderCol), col("__start"))
    perToken.join(offsets, Seq(orderCol))
      .withColumn("seq",
        expr(s"(__start + $posCol) div ${seqLen}L"))
      .withColumn("pos_in_seq",
        (col("__start") + col(posCol)) % seqLen)
      .drop("__start")
  }

  /** Chat-template SFT rendering with an ASSISTANT-ONLY loss mask — the
    * instruction-tuning data-prep step: multi-turn conversations
    * `(conv, turn_idx, role, content)` render through a deterministic
    * template (`<|role|>` marker, the turn's whitespace tokens, an
    * `<|end|>` terminator per turn) into one row per rendered token with
    * its conversation-global `pos` and `loss_mask` — 1 ONLY on assistant
    * content tokens and the assistant's own `<|end|>` (the model must
    * learn to stop), 0 on every prompt token, role marker, and
    * non-assistant turn. This is the supervised-fine-tuning contract:
    * gradient flows through responses, never through prompts — training
    * on user tokens teaches the model to imitate users. The per-token
    * shape (rather than a rendered string) keeps role↔token alignment
    * exact and feeds [[packedLossMask]]-style packing directly: group by
    * `conv`, sum tokens, and the [[packSequences]] spine takes over.
    *
    * Scale: the only windows are PARTITIONED BY conversation (turn
    * ordering + intra-conversation prefix sum — bounded by turns per
    * conversation, never the corpus); the explode emits exactly the
    * output's own size. One shuffle on `conv`, nothing global.
    */
  def chatSftTokens(turns: DataFrame, convCol: String, turnCol: String,
      roleCol: String, textCol: String,
      assistantRole: String = "assistant"): DataFrame = {
    val isA = when(col(roleCol) === assistantRole, 1L).otherwise(0L)
    val contentToks = TextAnalysis.wsTokens(col(textCol))
    // per-turn rendered token array: role marker, content, terminator
    val turnToks = concat(
      array(concat(lit("<|"), col(roleCol), lit("|>"))),
      contentToks,
      array(lit("<|end|>")))
    val perTurn = turns.select(
      col(convCol).cast("long").as("conv"),
      col(turnCol).cast("long").as("turn_idx"),
      col(roleCol).as("role"),
      turnToks.as("__toks"), isA.as("__isa"))
    val w = Window.partitionBy("conv").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    perTurn
      .withColumn("__off",
        coalesce(sum(size(col("__toks")).cast("long")).over(w), lit(0L)))
      .select(col("conv"), col("turn_idx"), col("role"), col("__off"),
        col("__isa"), posexplode(col("__toks")).as(Seq("__p", "token")))
      .select(col("conv"), col("turn_idx"), col("role"),
        (col("__off") + col("__p")).as("pos"), col("token"),
        // the role marker (position 0 in its turn) never trains; content
        // and the terminator train iff the turn is the assistant's
        when(col("__p") === 0, 0L).otherwise(col("__isa")).as("loss_mask"))
  }

  /** Data-constrained repetition plan (Muennighoff et al. 2023,
    * arXiv:2305.16264 — repeating data up to ~4 epochs costs almost
    * nothing; beyond that returns decay rapidly): takes a mixture PLAN
    * table (`stratum, c, target` — [[temperatureMixPlanWeighted]]'s
    * output, c = available tokens, target = wanted tokens) and answers
    * "how many EPOCHS of each stratum does this budget imply, and where
    * does the repetition cap bind?" Strata whose target exceeds
    * `maxEpochs·c` are CAPPED at it; the capped excess redistributes in
    * one pass to uncapped strata proportional to their availability
    * (re-capped — a stratum can't blow its own ceiling on the bonus),
    * and any budget still unplaced after the pass reports as per-row
    * `shortfall` rather than silently vanishing (one pass is stated:
    * full water-filling takes ≤ #strata rounds, and the residual after
    * one round is already second-order; the user sees it in the column).
    * `epochs_bps` = tokens·10⁴/c is the per-stratum repetition factor
    * the paper's guidance applies to.
    *
    * All arithmetic is integer with the excess product lifted to
    * DECIMAL(38,0) (the [[Selection]] discipline — `excess·c` at 100 TB
    * token counts overflows a long; IntegralDivide on decimals is exact
    * on both engines). Scale: every frame here is plan-table-sized
    * (#strata rows); the corpus is never touched.
    */
  def epochsPlan(plan: DataFrame, maxEpochs: Long = 4): DataFrame = {
    require(maxEpochs >= 1)
    val cap = col("c") * maxEpochs
    val base = plan.select(col("stratum"), col("c"), col("target"),
      least(col("target"), cap).as("__t0"),
      (col("target") > cap).cast("long").as("capped"))
    val excess = base.agg(
      coalesce(sum(col("target") - col("__t0")), lit(0L)).as("__ex"))
    val uncapped = base.filter(col("capped") === 0L)
      .agg(coalesce(sum("c"), lit(0L)).as("__uc"))
    val placed = base.crossJoin(broadcast(excess)).crossJoin(broadcast(uncapped))
      .withColumn("__bonus",
        when(col("capped") === 0L && col("__uc") > 0L,
          expr("CAST((CAST(__ex AS DECIMAL(38,0)) * c) div __uc AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("tokens",
        least(col("__t0") + col("__bonus"), col("c") * maxEpochs))
      .withColumn("epochs_bps", expr("(tokens * 10000) div greatest(c, 1L)"))
    // shortfall as a broadcast scalar, not a window — the whole operator
    // carries zero windows (PlanSpec-pinned)
    placed.crossJoin(broadcast(placed.agg(
        coalesce(sum(col("target") - col("tokens")), lit(0L)).as("shortfall"))))
      .select("stratum", "c", "target", "tokens", "epochs_bps", "capped",
        "shortfall")
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, arXiv:2207.14255)
    * — the code-model data augmentation: a deterministic `fimBps`/10000
    * fraction of documents is re-rendered for INFILLING training by
    * cutting the token stream at two hash-derived points and emitting the
    * pieces in PSM sentinel order
    * `<|fim_prefix|> P <|fim_suffix|> S <|fim_middle|> M` — the model
    * sees both context sides before generating the middle, learning
    * insertion without a bidirectional architecture; the rest of the
    * corpus passes through unchanged (`fim = 0`, the paper's key result
    * being that a mixed AR+FIM corpus costs no AR capability. Selection
    * and both cuts come from [[PortableHash.hash52]] on the document id,
    * so the transform is reproducible run-to-run and engine-to-engine —
    * the property a training-data pipeline needs for exact re-builds.
    *
    * Scale: a pure per-row codegen'd projection — no shuffle, no window,
    * no join; at 100 TB this runs at scan speed.
    */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
      fimBps: Int = 5000): DataFrame = {
    require(fimBps >= 0 && fimBps <= 10000)
    val key = col(idCol).cast("string")
    val toks = TextAnalysis.wsTokens(col(textCol))
    val sel = PortableHash.hash52(concat(key, lit(":fim"))) % 10000 < fimBps
    df.select(col(idCol).as("doc"), toks.as("__t"),
        sel.cast("long").as("fim"),
        (PortableHash.hash52(concat(key, lit(":fimc1"))) %
          (size(toks) + 1).cast("long")).as("__c1"),
        (PortableHash.hash52(concat(key, lit(":fimc2"))) %
          (size(toks) + 1).cast("long")).as("__c2"),
        col(textCol).as("__orig"))
      .withColumn("__lo", least(col("__c1"), col("__c2")).cast("int"))
      .withColumn("__hi", greatest(col("__c1"), col("__c2")).cast("int"))
      .select(col("doc"), col("fim"),
        when(col("fim") === 1L, concat_ws(" ", concat(
            array(lit("<|fim_prefix|>")), slice(col("__t"), lit(1), col("__lo")),
            array(lit("<|fim_suffix|>")),
            slice(col("__t"), col("__hi") + 1, size(col("__t")) - col("__hi")),
            array(lit("<|fim_middle|>")),
            slice(col("__t"), col("__lo") + 1, col("__hi") - col("__lo")))))
          .otherwise(col("__orig")).as("text"))
  }

  /** Preference-pair (DPO/RLHF) assembly — the post-training artifact the
    * SFT surface ([[chatSftTokens]] → [[packTokens]]) feeds into: from a
    * table of SCORED responses (one row per (prompt, response) with a
    * preference score — human ratings, a reward model, or
    * [[Classify.scoreHashed]]), build (prompt, chosen, rejected) rows.
    * The pairing rule is deterministic and order-free: per prompt,
    * responses rank by (score DESC, response id ASC) and the i-th best
    * pairs with the i-th worst, i ≤ `maxPairsPerPrompt`, stopping before
    * the ranks cross (a response never pairs with itself; with 2 or 3
    * responses only one pair exists). A pair survives only if
    *
    *   - the preference is STRICT and wide enough: `chosen_score −
    *     rejected_score ≥ minMargin` and > 0 (equal scores teach
    *     nothing — DPO's loss is undefined on ties);
    *   - chosen and rejected are not near-identical: token-set Jaccard
    *     (distinct lowercased whitespace tokens) must be strictly below
    *     `maxPairJaccardBps`/10000 — a pair whose two sides say the same
    *     thing carries no preference signal, and byte-identical twins
    *     (Jaccard 1) are the degenerate case. Integer cross-multiply, no
    *     float division, so the decision is engine-portable.
    *
    * Emits (prompt_id, prompt, pair_rank, chosen_id, chosen,
    * rejected_id, rejected, margin, pair_jac_bps). Downstream, split
    * assignment MUST key on the prompt (or its near-dup cluster —
    * [[leakageSafeSplit]]), never the pair row: a chosen/rejected twin
    * straddling train/eval is the same contamination class the split
    * audit exists for, and prompt decontamination against eval suites
    * ([[Dedup.decontaminate]] / the streamed bench state) composes on
    * the `prompt` column.
    *
    * Scale: two row_number windows PARTITIONED by prompt (bounded by
    * responses-per-prompt, never global), one equi-join on (prompt,
    * rank), and a codegen'd per-pair Jaccard over the two token arrays —
    * no corpus-wide window, no driver state.
    */
  def preferencePairs(responses: DataFrame, promptIdCol: String,
      promptCol: String, respIdCol: String, respCol: String,
      scoreCol: String, minMargin: Double = 0.0, maxPairsPerPrompt: Int = 1,
      maxPairJaccardBps: Int = 9000): DataFrame = {
    require(maxPairsPerPrompt >= 1, "maxPairsPerPrompt must be >= 1")
    require(maxPairJaccardBps >= 0 && maxPairJaccardBps <= 10000,
      "maxPairJaccardBps must be in [0, 10000]")
    val ranked = responses
      .select(col(promptIdCol).as("prompt_id"), col(promptCol).as("prompt"),
        col(respIdCol).as("resp_id"), col(respCol).as("resp"),
        col(scoreCol).as("score"))
      .withColumn("__rb", row_number().over(
        Window.partitionBy("prompt_id").orderBy(col("score").desc, col("resp_id").asc)))
      .withColumn("__rw", row_number().over(
        Window.partitionBy("prompt_id").orderBy(col("score").asc, col("resp_id").desc)))
    val chosen = ranked.filter(col("__rb") <= maxPairsPerPrompt)
      .select(col("prompt_id"), col("prompt"), col("__rb").as("pair_rank"),
        col("resp_id").as("chosen_id"), col("resp").as("chosen"),
        col("score").as("chosen_score"), col("__rw").as("__crw"))
    val rejected = ranked.filter(col("__rw") <= maxPairsPerPrompt)
      .select(col("prompt_id"), col("__rw").as("pair_rank"),
        col("resp_id").as("rejected_id"), col("resp").as("rejected"),
        col("score").as("rejected_score"))
    val ct = array_distinct(transform(
      TextAnalysis.wsTokens(col("chosen")), x => lower(x)))
    val rt = array_distinct(transform(
      TextAnalysis.wsTokens(col("rejected")), x => lower(x)))
    val inter = size(array_intersect(ct, rt)).cast("long")
    val uni = size(array_union(ct, rt)).cast("long")
    chosen.join(rejected, Seq("prompt_id", "pair_rank"))
      // ranks must not cross: the i-th best must still sit strictly above
      // the i-th worst (pair_rank < its own rank-from-the-bottom), else
      // the pair would reuse a response or invert the preference.
      .filter(col("pair_rank") < col("__crw"))
      .filter(col("chosen_score") > col("rejected_score") &&
        (col("chosen_score") - col("rejected_score")) >= minMargin)
      .withColumn("__i", inter).withColumn("__u", uni)
      .filter(col("__i") * 10000L < col("__u") * maxPairJaccardBps)
      .select(col("prompt_id"), col("prompt"), col("pair_rank").cast("long").as("pair_rank"),
        col("chosen_id"), col("chosen"), col("rejected_id"), col("rejected"),
        (col("chosen_score") - col("rejected_score")).as("margin"),
        expr("__i * 10000 div __u").as("pair_jac_bps"))
  }

  /** Rejection sampling / best-of-n SFT assembly — the OTHER
    * post-training artifact next to [[preferencePairs]] (RAFT /
    * rejection-tuned SFT: sample n responses, keep the reward argmax,
    * train on it as a plain SFT example): from the same scored-response
    * table, per prompt take the FIRST `n` responses in response-id
    * order (the deterministic "sampled n" — a real pipeline samples;
    * a replayable one slices), pick the best by (score DESC, id ASC),
    * and keep it only when its score clears `minScore` (the rejection
    * half: a prompt whose best attempt is still bad ships nothing —
    * training on the least-bad of n bad answers teaches bad). Emits
    * (prompt_id, prompt, resp_id, response, score, n_candidates);
    * feed [[chatSftTokens]]/[[packTokens]] downstream.
    *
    * Scale: two prompt-partitioned row_number windows and one filter —
    * bounded by responses-per-prompt, no global state.
    */
  /** KTO-style UNPAIRED preference labeling — the third post-training
    * assembly next to [[preferencePairs]] (needs pairs) and [[bestOfN]]
    * (keeps one): KTO consumes (prompt, completion, desirable?) rows,
    * and the honest reference point for "desirable" on a scored table
    * is the PROMPT'S OWN mean — a response can only be good or bad
    * relative to what the sampler produced for that prompt (an absolute
    * threshold conflates easy and hard prompts). Label +1 when
    * `score > prompt mean`, −1 when below, DROPPED on exact ties (a
    * response at its own prompt's mean teaches nothing). The comparison
    * is the integer cross-multiply `score·n vs Σscores` — no float
    * mean, engine-exact. Emits (prompt_id, prompt, resp_id, response,
    * score, n_responses, label); KTO's global desirable/undesirable
    * balance weights are one `groupBy(label).count()` away.
    *
    * Scale: one map-side-combinable per-prompt aggregation broadcast
    * back — no window at all.
    */
  def unpairedPreferences(responses: DataFrame, promptIdCol: String,
      promptCol: String, respIdCol: String, respCol: String,
      scoreCol: String): DataFrame = {
    // the score keeps ITS OWN numeric type: casting reward-model floats
    // in (0,1) to long would truncate everything to 0 — every response
    // would tie its prompt mean and the operator would return an empty
    // frame with no error. The cross-multiply works unchanged on
    // doubles (it exists to avoid a DIVIDED mean, not floats).
    require(responses.schema(scoreCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"unpairedPreferences: '$scoreCol' must be numeric")
    val base = responses.select(col(promptIdCol).as("prompt_id"),
      col(promptCol).as("prompt"), col(respIdCol).as("resp_id"),
      col(respCol).as("response"), col(scoreCol).as("score"))
    val stats = base.groupBy("prompt_id")
      .agg(sum("score").as("__sum"), count(lit(1)).as("__n"))
    base.join(stats, Seq("prompt_id"))
      .withColumn("label",
        when(col("score") * col("__n") > col("__sum"), 1L)
          .when(col("score") * col("__n") < col("__sum"), -1L))
      .filter(col("label").isNotNull)
      .select(col("prompt_id"), col("prompt"), col("resp_id"),
        col("response"), col("score"), col("__n").as("n_responses"),
        col("label"))
  }

  def bestOfN(responses: DataFrame, promptIdCol: String, promptCol: String,
      respIdCol: String, respCol: String, scoreCol: String,
      n: Int, minScore: Double): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val sampled = responses
      .select(col(promptIdCol).as("prompt_id"), col(promptCol).as("prompt"),
        col(respIdCol).as("resp_id"), col(respCol).as("response"),
        col(scoreCol).as("score"))
      .withColumn("__s", row_number().over(
        Window.partitionBy("prompt_id").orderBy(col("resp_id").asc)))
      .filter(col("__s") <= n)
    sampled
      .withColumn("__r", row_number().over(
        Window.partitionBy("prompt_id").orderBy(col("score").desc, col("resp_id").asc)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("prompt_id")))
      .filter(col("__r") === 1 && col("score") >= minScore)
      .select(col("prompt_id"), col("prompt"), col("resp_id"),
        col("response"), col("score"), col("__n").cast("long").as("n_candidates"))
  }

  /** GRPO group-relative advantages (Shao et al. 2024, the DeepSeekMath
    * recipe) — the third post-training labeling next to the pairwise
    * ([[preferencePairs]]) and unpaired ([[unpairedPreferences]]) forms:
    * each response's reward normalizes against its OWN prompt group,
    * `adv = (r − mean) / std` (population std — the group IS the
    * population GRPO averages over), replacing a learned value baseline
    * with the group statistic.
    *
    * Numeric discipline: rewards enter as INTEGER micros (`rewardCol`
    * must be integral — a float reward pre-scales upstream, the
    * curriculumPhases quantize-then-decide rule), and both moments stay
    * exact integers: `d_i = n·r_i − Σr` (the cross-multiplied deviation,
    * the [[unpairedPreferences]] trick) and `n·Σr² − (Σr)²  (= n²·σ²)`
    * accumulated in DECIMAL(38,0) (the importance-weight precedent —
    * micro rewards square past BIGINT). Only the final
    * `adv = d_i / sqrt(n·Σr² − (Σr)²)` — algebraically `(r−μ)/σ` with
    * every cancellation done on integers — touches floating point,
    * rounded 6. An all-equal group (σ = 0, zero signal,
    * GRPO's degenerate batch) emits adv 0 for every member rather than
    * NaN; singleton groups are the n=1 case of the same rule.
    *
    * Returns (prompt_id, resp_id, reward_micro, n_group, d_micro, adv).
    * Scale: one map-side-combinable groupBy(prompt) + one shuffle
    * equi-join back on the prompt — no window, no global state.
    */
  def groupAdvantages(responses: DataFrame, promptIdCol: String,
      respIdCol: String, rewardCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = responses.schema(rewardCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"groupAdvantages: '$rewardCol' must be an integral micro reward " +
        s"(got ${dt.simpleString}) — scale float rewards to the micro grid " +
        "upstream so the group moments stay exact")
    val base = responses.select(col(promptIdCol).as("prompt_id"),
      col(respIdCol).as("resp_id"),
      col(rewardCol).cast("long").as("reward_micro"))
    val stats = base.groupBy("prompt_id")
      .agg(count(lit(1)).as("__n"),
        sum("reward_micro").as("__s"),
        sum(col("reward_micro").cast("decimal(38,0)") *
          col("reward_micro").cast("decimal(38,0)")).as("__q"))
    base.join(stats, Seq("prompt_id"))
      .withColumn("d_micro", col("__n") * col("reward_micro") - col("__s"))
      // n²σ² = n·Σr² − (Σr)² — exact in DECIMAL(38,0); adv = d / √(n²σ²) · √n
      .withColumn("__var_nn",
        (col("__n").cast("decimal(38,0)") * col("__q") -
          col("__s").cast("decimal(38,0)") * col("__s").cast("decimal(38,0)"))
          .cast("double"))
      // adv = (d/n) / (√(n²σ²)/n) = d / √(n·Σr² − (Σr)²)
      .withColumn("adv",
        when(col("__var_nn") === 0.0, lit(0.0))
          .otherwise(round(col("d_micro") / sqrt(col("__var_nn")), 6)))
      .select(col("prompt_id"), col("resp_id"), col("reward_micro"),
        col("__n").as("n_group"), col("d_micro"), col("adv"))
  }
}
