package graft.llmops

import graft.analytics.GraphAnalytics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, exact → fuzzy:
  *
  *  - exact: hash-groupBy on a content fingerprint (one shuffle).
  *  - n-gram Jaccard: exact set similarity over word shingles via an
  *    inverted-index self-join — the verifier for the approximate paths.
  *  - MinHash LSH: Spark ML MinHashLSH (seeded, deterministic) for
  *    sub-quadratic candidate generation at scale.
  *  - SimHash: 64-bit signature + banded Hamming candidates, all
  *    codegen'd built-ins (no UDF).
  *
  * Scale notes: the quadratic risk in near-dup detection is always the
  * candidate join. Both fuzzy paths bound it — LSH by banding, the
  * inverted index by dropping ubiquitous shingles (`maxShingleDf`), which
  * is also what kills the skewed-key hot partitions at 100 TB.
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per distinct content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles from an ALREADY-MATERIALIZED tokens
    * column. The tokens must be a bound attribute, not an inline split(...)
    * expression: an expression referenced inside the transform() lambda is
    * re-evaluated per element, which turns shingling into O(len²) regex
    * splits per document (measured 22s for 5k docs before the fix, ~1s
    * after).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-gram shingles per document (small-input convenience —
    * for pipelines, materialize tokens first and use shinglesFromTokens).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact n-gram Jaccard near-dup pairs (ids ordered a < b) via prefix
    * filtering (the All-Pairs/PPJoin bound): order each doc's shingles
    * rarest-first by global document frequency and index only the first
    * |S| − ⌈t·|S|⌉ + 1 of them — any pair with Jaccard ≥ t is guaranteed to
    * collide inside both prefixes, so the candidate join touches a small
    * fraction of the inverted index while the result stays EXACT. This is
    * what keeps near-dup detection sub-quadratic at 100 TB: the frequent
    * shingles (the quadratic blowup and the skewed keys) never enter the
    * index.
    */
  /** Distinct hashed word n-gram shingles per doc as rows (doc, s) — ONE
    * narrow compiled pass ([[org.apache.spark.sql.graftfn.ShingleMinHash]],
    * r16). The previous shape (posexplode + per-doc lead() windows +
    * dropDuplicates) paid one exchange of the whole token stream to line
    * adjacent tokens up and a second to deduplicate (doc, s); shingling
    * needs nothing outside the document's own row, so both exchanges are
    * gone and the hash runs inside WholeStageCodegen. Hash values, the
    * distinct-set semantics and null/short-doc behavior are identical
    * (tested against both hash paths).
    */
  private def hashedShingleRows(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      md5_52: Boolean): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(shingleStruct(col(textCol), n, 0, md5_52)("hashes")).as("s"))

  /** The compiled per-doc shingle/signature struct over a text column. */
  private def shingleStruct(text: Column, n: Int, numHashTables: Int,
      md5_52: Boolean): Column =
    org.apache.spark.sql.graftfn.ShingleMinHash.of(
      split(trim(text), "\\s+"), n, numHashTables, md5_52)

  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // integer prefix bound — same quantize-then-decide rationale as
    // containmentPairs (floor to basis points so the prefix is never
    // shorter than the true ⌈t·|S|⌉ bound under float representation)
    val tBps = math.floor(threshold * 10000).toLong
    // arr and prefix are each consumed by a self-join / multiple stages —
    // cache them or the whole chain recomputes per consumer. Set sizes
    // come narrow out of the compiled shingle struct (r16) — no groupBy.
    val arr = df.select(col(idCol).as("doc"),
      shingleStruct(col(textCol), n, 0, md5_52 = false).as("__sh")).cache()
    val ex = arr.select(col("doc"), explode(col("__sh")("hashes")).as("s"))
    val sizes = arr.select(col("doc"),
      size(col("__sh")("hashes")).cast("long").as("n_sh"))
      .filter(col("n_sh") > 0)
    val dfCounts = ex.groupBy("s").agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy("doc").orderBy(col("_df").asc, col("s").asc)
    val prefix = ex.join(dfCounts, Seq("s"))
      .withColumn("_rk", row_number().over(w))
      .join(sizes, Seq("doc"))
      .filter(col("_rk") <=
        col("n_sh") - expr(s"(n_sh * ${tBps}L + 9999L) div 10000L") + 1)
      .select("doc", "s")
      .cache()
    val cands = prefix.alias("x")
      .join(prefix.alias("y"), col("x.s") === col("y.s") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      .distinct()
    // exact intersection sizes: each candidate pair intersects its two
    // docs' distinct-hash ARRAYS in one codegen'd array_intersect (r16
    // phase 2) — previously the pair fanned out to one row per id_a
    // shingle through two equi-joins and a count aggregate (the measured
    // hot stage of the pair generators; guide §2.3/§2.4). shared > 0 is
    // implied by candidacy (the pair shares its prefix shingle) and kept
    // as an explicit filter to mirror the old inner-join semantics.
    val hs = arr.select(col("doc"), col("__sh")("hashes").as("__hs"))
    val result = cands
      .join(hs.select(col("doc").as("id_a"), col("__hs").as("__ha")), Seq("id_a"))
      .join(hs.select(col("doc").as("id_b"), col("__hs").as("__hb")), Seq("id_b"))
      .withColumn("shared",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .filter(col("shared") > 0)
      .withColumn("jaccard", col("shared") /
        (size(col("__ha")).cast("long") + size(col("__hb")).cast("long")
          - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    // Materialize eagerly so the caches can be released before returning —
    // a long-lived session calling this repeatedly must not accumulate
    // storage memory (near-dup results are tiny vs their inputs).
    val out = result.localCheckpoint(true)
    prefix.unpersist(); arr.unpersist()
    out
  }

  /** CONTAINMENT near-dup pairs — the ASYMMETRIC axis symmetric Jaccard
    * is blind to: a short document quoted whole inside a long one scores
    * `C(A→B) = |A∩B| / |A|` near 1 while its Jaccard is tiny (the
    * wrapper-page / full-quote / boilerplate-envelope class; the LSH
    * Ensemble motivation). Emits ORDERED pairs — `(id_a, id_b)` means
    * "id_a's shingles are contained in id_b's" — so both directions of
    * an asymmetric pair report with their own denominators.
    *
    * Candidates use the containment PREFIX FILTER, which prunes ONE side
    * only: `C ≥ t` forces `|A∩B| ≥ ceil(t·|A|)`, so the intersection
    * must touch one of A's `|A| − ceil(t·|A|) + 1` globally-rarest
    * shingles — A's prefix joins the FULL inverted index (B is never
    * pruned; that is what makes the filter lossless for containment).
    * `maxShingleDf` (default on, the banded family's observable-cap
    * discipline) drops shingles hotter than the cap from CANDIDATE
    * GENERATION only — verification still counts every shingle — so
    * recall loss is confined to pairs whose every prefix-intersection
    * shingle is ubiquitous, and the exact verify keeps reported values
    * exact. Returns (id_a, id_b, containment, n_a, n_b), containment
    * rounded 6dp.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Int] = DefaultMaxBandFreq): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // Quantize the threshold to basis points ROUNDING DOWN, and compute
    // the prefix bound in pure integer arithmetic: tBps/10000 <= t, so
    // ceil(n_sh*tBps/10000) <= ceil(t*n_sh) — the quantized prefix is
    // never SHORTER than the true one (float representation error in
    // ceil(t * n_sh) could round past the true ceiling and drop an
    // exactly-at-threshold pair; the quantize-then-decide bound cannot).
    val tBps = math.floor(threshold * 10000).toLong
    // containment is a SET measure — the compiled shingle struct is
    // already distinct per doc, and set sizes come narrow out of it (r16;
    // previously an extra distinct() exchange + a sizes groupBy).
    val arr = df.select(col(idCol).as("doc"),
      shingleStruct(col(textCol), n, 0, md5_52 = false).as("__sh")).cache()
    val ex = arr.select(col("doc"), explode(col("__sh")("hashes")).as("s"))
    val sizes = arr.select(col("doc"),
      size(col("__sh")("hashes")).cast("long").as("n_sh"))
      .filter(col("n_sh") > 0)
    val dfCounts = ex.groupBy("s").agg(count(lit(1)).as("_df"))
    val joinable = maxShingleDf match {
      case Some(cap) => dfCounts.filter(col("_df") <= cap)
      case None => dfCounts
    }
    val w = Window.partitionBy("doc").orderBy(col("_df").asc, col("s").asc)
    val prefix = ex.join(joinable, Seq("s"))
      .withColumn("_rk", row_number().over(w))
      .join(sizes, Seq("doc"))
      .filter(col("_rk") <=
        col("n_sh") - expr(s"(n_sh * ${tBps}L + 9999L) div 10000L") + 1)
      .select("doc", "s")
    val full = ex.join(joinable.select("s"), Seq("s"), "left_semi")
    val cands = prefix.alias("x")
      .join(full.alias("y"), col("x.s") === col("y.s") &&
        col("x.doc") =!= col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      .distinct()
    // verification still counts EVERY shingle (the cap only prunes
    // candidate generation): the pair intersects its two docs' full
    // distinct-hash arrays in one codegen'd array_intersect (r16 phase 2;
    // replaces the candidate×|A| row fan-out through two equi-joins and a
    // count aggregate — the measured 6 s-cpu hot stage of this operator).
    // shared > 0 is implied by candidacy (the prefix shingle is in both
    // docs); the filter mirrors the old inner-join semantics exactly.
    val hs = arr.select(col("doc"), col("__sh")("hashes").as("__hs"))
    val result = cands
      .join(hs.select(col("doc").as("id_a"), col("__hs").as("__ha")), Seq("id_a"))
      .join(hs.select(col("doc").as("id_b"), col("__hs").as("__hb")), Seq("id_b"))
      .withColumn("shared",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .filter(col("shared") > 0)
      .withColumn("n_a", size(col("__ha")).cast("long"))
      .withColumn("n_b", size(col("__hb")).cast("long"))
      .withColumn("containment", col("shared") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"),
        col("n_a"), col("n_b"))
    val out = result.localCheckpoint(true)
    arr.unpersist()
    out
  }

  /** MinHash-LSH near-dup pairs — pure codegen'd DataFrame ops, no ML
    * vector UDTs in the hot path. Shingles are hashed with the portable
    * 52-bit hash, each of `numHashTables` fixed modular permutations takes
    * a per-doc min (one groupBy with N min-aggs = one shuffle), candidates
    * are pairs colliding on ANY signature slot (OR-amplification, the same
    * scheme as Spark ML's MinHashLSH), and every candidate is verified by
    * EXACT Jaccard over the hashed shingle sets. Deterministic end to end
    * (hardcoded permutation constants), and — because every step is plain
    * integer arithmetic on a hash both engines share — fully mirrored by a
    * DuckDB oracle (LlmOpsQueries.minHashOracleSql).
    *
    * Returns (id_a < id_b, jaccard_dist = 1 − J) with J exact.
    */
  /** Drop banded rows whose (band, key) bucket holds more than `cap` docs
    * before the candidate self-join. A bucket of f docs emits f²/2 pairs —
    * one pathological key (an empty-ish doc signature, a boilerplate
    * shingle every page shares) turns the LSH join quadratic at 100 TB.
    * Capping trades recall ONLY on pairs whose every collision is via a
    * ubiquitous key, which at dedup thresholds are overwhelmingly false
    * candidates anyway. DEFAULT ON at [[DefaultMaxBandFreq]] across the
    * banded family (pass None for exact LSH semantics).
    */
  private[graft] def pruneFrequentBandKeys(
      banded: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val hot = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bf")).filter(col("_bf") > cap)
      .select(keyCols.map(col): _*)
    // The cap firing must be OBSERVABLE — dropped pairs leave no trace in
    // the output, so silent recall loss would be undetectable. `observe`
    // plants a CollectMetrics node on the hot-key side, surfaced as
    // `graft_band_prune_N` → pruned_band_keys through the standard
    // QueryExecutionListener / observedMetrics channel (spec-pinned).
    // The EAGER localCheckpoint right after it is load-bearing twice
    // over: (1) delivery — the downstream candidate self-join duplicates
    // this subtree, and AQE's stage handling silently drops observed
    // metrics from duplicated subtrees (found empirically; a metric on a
    // once-referenced, own-action frame always delivers); (2) planning —
    // the anti-join's build side becomes a materialized known-tiny
    // relation (hot keys only, usually empty), so it broadcasts on exact
    // size instead of an estimate. Cost: the hot-key aggregate runs as
    // its own small job over the (cached) element rows.
    val obs = hot.observe(
      s"graft_band_prune_${Dedup.pruneObsId.incrementAndGet()}",
      count(lit(1)).as("pruned_band_keys"))
      .localCheckpoint(true)
    banded.join(obs, keyCols, "left_anti")
  }

  /** Unique observation names per plan ([[pruneFrequentBandKeys]]) — Spark
    * rejects a reused observation name inside one query.
    */
  private val pruneObsId = new java.util.concurrent.atomic.AtomicLong()

  /** The default band-skew cap, ON for every banded pair generator
    * (minhash / weighted / cross-corpus / simhash / image-aHash). Set
    * high enough that triggering it is itself the evidence: a bucket of
    * >100k docs sharing one signature minimum (or simhash block) is a
    * DEGENERATE key — empty-ish documents, an all-black thumbnail, a
    * boilerplate header the whole crawl shares — and its 5×10⁹+
    * candidate pairs would dominate the run before anyone read the
    * scaladoc. The recall loss is confined to pairs whose EVERY
    * colliding band is that ubiquitous (a true near-dup pair at dedup
    * thresholds collides on a discriminative band with probability
    * 1 − (1 − J^r)^(bands−hot), ≈ 1 when J is near 1 and only a minority
    * of bands are degenerate) — unlike [[graft.llmops.Multimodal
    * .frameJaccardPairs]]'s maxDf cap there is no exact count-back, so
    * the loss is documented rather than repaired — and OBSERVABLE: every
    * capped run emits a `graft_band_prune_N` observation
    * (pruned_band_keys; > 0 == the cap fired) at zero extra cost, so a
    * monitoring pipeline sees the recall trade the moment it happens. Pass
    * `maxBandFreq = None` to get uncapped exact-LSH semantics, or a
    * lower cap to trade recall for bounded candidates on known-skewed
    * data. A no-op below 100k docs per bucket — every existing oracle
    * runs orders of magnitude under it.
    */
  val DefaultMaxBandFreq: Option[Int] = Some(100000)

  def minHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxJaccardDist: Double = 0.3, numHashTables: Int = 5, n: Int = 3,
      maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame = {
    require(numHashTables <= PortableHash.MinHashA.length,
      s"at most ${PortableHash.MinHashA.length} hash tables supported")
    // r16: shingle hashes, set sizes AND signature minima all come out of
    // the one compiled per-doc pass — no groupBy exchange to build
    // signatures, no groupBy to count set sizes (guide §2.4); only the
    // banding join shuffles anything, and the exact verify intersects the
    // candidates' hash arrays directly (r16 phase 2).
    val arr = df.select(col(idCol).as("doc"),
      shingleStruct(col(textCol), n, numHashTables, md5_52 = true).as("__sh"))
      .cache()
    val hs = arr.select(col("doc"), col("__sh")("hashes").as("hs"))
    val allBanded = arr.select(col("doc"),
      posexplode(col("__sh")("sigs")).as(Seq("band", "sig")))
    val out = pairsFromParts(hs, allBanded, maxJaccardDist, maxBandFreq)
    arr.unpersist()
    out
  }

  /** The shared minhash pair pipeline over an element-row frame (doc, s):
    * signature minima per permutation, OR-amplified banding (+ the
    * optional band-skew guard), and the exact set-Jaccard verify. Used by
    * [[minHashPairs]] (distinct shingle hashes) and
    * [[weightedMinHashPairs]] (capped-multiset expansion — the SAME set
    * machinery computes the weighted Jaccard there, because expanded
    * copies share their copy indices up to the pairwise minimum).
    */
  private def pairsFromElementRows(ex: DataFrame, maxJaccardDist: Double,
      numHashTables: Int, maxBandFreq: Option[Int]): DataFrame = {
    // ONE groupBy builds the per-doc element array AND the signature
    // minima together (r16 phase 2; previously two groupBys — sigs and
    // set sizes — plus the element-row verify joins). Element rows are
    // distinct per doc by construction (the weighted expansion emits one
    // row per (gram, copy-index)), so the collected array is a set and
    // the array_intersect verify counts exactly what the equi-join
    // count(*) did.
    val sigAggs = (0 until numHashTables).map(i =>
      min(PortableHash.minhashPerm(col("s"), i)).as(s"_m$i"))
    val grouped = ex.groupBy("doc")
      .agg(collect_list(col("s")).as("hs"), sigAggs: _*)
    val allBanded = grouped.select(col("doc"),
      posexplode(array((0 until numHashTables).map(i => col(s"_m$i")): _*))
        .as(Seq("band", "sig")))
    pairsFromParts(grouped.select("doc", "hs"), allBanded,
      maxJaccardDist, maxBandFreq)
  }

  /** Banding + band-skew guard + exact set-Jaccard verify over
    * already-built parts: per-doc distinct-hash arrays (doc, hs) and
    * banded signature rows (doc, band, sig). The verify joins each
    * candidate pair to its two hash arrays and computes the intersection
    * size with one codegen'd array_intersect per pair (r16 phase 2) —
    * replacing the candidate×shingles row fan-out through two equi-joins
    * and a count aggregate, the measured hot stage of every minhash
    * caller. `shared > 0` mirrors the old inner-join semantics (a pair
    * sharing no element never produced a count row).
    */
  private def pairsFromParts(hs: DataFrame,
      allBanded: DataFrame, maxJaccardDist: Double,
      maxBandFreq: Option[Int]): DataFrame = {
    val banded = maxBandFreq.fold(allBanded)(
      pruneFrequentBandKeys(allBanded, Seq("band", "sig"), _))
    val cands = banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      .distinct()
    cands
      .join(hs.select(col("doc").as("id_a"), col("hs").as("__ha")), Seq("id_a"))
      .join(hs.select(col("doc").as("id_b"), col("hs").as("__hb")), Seq("id_b"))
      .withColumn("shared",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .filter(col("shared") > 0)
      .withColumn("jaccard_dist",
        lit(1.0) - col("shared") /
          (size(col("__ha")).cast("long") + size(col("__hb")).cast("long")
            - col("shared")))
      .filter(col("jaccard_dist") <= maxJaccardDist)
      .select(col("id_a"), col("id_b"), round(col("jaccard_dist"), 6).as("jaccard_dist"))
      .localCheckpoint(true)
  }

  /** WEIGHTED-Jaccard near-dup pairs — plain Jaccard treats a shingle
    * occurring once and fifty times identically, so a document that
    * repeats one paragraph all over looks like a near-dup of anything
    * sharing that paragraph. Weighted Jaccard
    * `J_w = Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b)` (with per-shingle tf
    * capped at `weightCap` — the BM25-style saturation that stops one
    * runaway phrase from dominating) weighs repetition honestly — and it
    * reduces EXACTLY to set Jaccard over the capped-multiset expansion
    * (shingle s with tf t becomes elements s#1..s#min(t, cap): two docs
    * share copies 1..min of each shingle, so set-intersection = Σ min and
    * set-union = Σ max). The whole existing minhash machinery — portable
    * signatures, banding, skew guard, exact verify — then runs UNCHANGED
    * on the expanded elements; expansion multiplies element rows by at
    * most `weightCap`.
    */
  def weightedMinHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxJaccardDist: Double = 0.3, numHashTables: Int = 5, n: Int = 3,
      weightCap: Int = 3,
      maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame = {
    require(weightCap >= 1)
    require(numHashTables <= PortableHash.MinHashA.length,
      s"at most ${PortableHash.MinHashA.length} hash tables supported")
    val toks = split(trim(col(textCol)), "\\s+")
    val raw = df.select(col(idCol).as("doc"),
      explode(when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))).as("g"))
    val ex = raw.groupBy("doc", "g").agg(count(lit(1)).as("tf"))
      .select(col("doc"),
        explode(sequence(lit(1L), least(col("tf"), lit(weightCap.toLong)))).as("i"),
        col("g"))
      .select(col("doc"), PortableHash.hash52(
        concat(col("g"), lit("#"), col("i").cast("string"))).as("s"))
      .cache()
    val out = pairsFromElementRows(ex, maxJaccardDist, numHashTables, maxBandFreq)
    ex.unpersist()
    out
  }

  /** Benchmark decontamination (the GPT-3/Pile n-gram collision rule):
    * flag every training document sharing at least one word n-gram with any
    * benchmark document. Returns one row per training doc with the count of
    * its distinct shingles that collide (`n_hit`) and the flag.
    *
    * Scale: the benchmark shingle set is normally tiny next to the training
    * corpus — a distinct-project that broadcasts, making the whole check
    * one broadcast-semi-join-shaped pass over training shingles, no pair
    * explosion. For a benchmark suite too large to broadcast (a deduped
    * union of hundreds of eval sets), pass `broadcastBench = false`: the
    * semi-join then shuffles on the shingle hash — one extra exchange,
    * same result (regression-tested), no driver memory bound.
    */
  def decontaminate(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int = 5, broadcastBench: Boolean = true): DataFrame = {
    val trainSh = hashedShingleRows(train, idCol, textCol, n, md5_52 = false)
    val benchSh0 = hashedShingleRows(bench, idCol, textCol, n, md5_52 = false)
      .select("s").distinct()
    val benchSh = if (broadcastBench) broadcast(benchSh0) else benchSh0
    val hits = trainSh.join(benchSh, Seq("s"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_hit"))
    train.select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  /** Contamination report per BENCHMARK item — [[decontaminate]]
    * transposed: the training-side verdict says which TRAIN docs to
    * drop; this says which EVAL items are already BURNED (their content
    * leaked into the corpus widely enough that a clean-looking score on
    * them is memorization, not capability — the eval-integrity view a
    * release review reads). One row per bench doc:
    * (bench_id, n_train_docs — distinct training documents sharing at
    * least one n-gram, n_shingles_hit — distinct leaked shingles,
    * n_shingles — the item's total, burned = n_train_docs > 0).
    *
    * Hot-shingle cap, observable (the no-silent-caps rule): a shingle
    * occurring in more than `maxShingleDf` DISTINCT training documents
    * is boilerplate, not leakage — counting its full pair fan-out would
    * explode the join output for zero signal. Capped shingles are
    * EXCLUDED from the pair counts and REPORTED per item
    * (`n_shingles_hot`), so a reviewer sees exactly what was not
    * counted.
    *
    * Scale: the bench shingle set broadcasts; pairs exist only for
    * actual hits and each shingle's fan-out is ≤ maxShingleDf by the
    * cap; two keyed aggregations. The train side is scanned once.
    */
  def contaminationReport(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxShingleDf: Int = 1000): DataFrame = {
    require(maxShingleDf >= 1)
    val trainSh = hashedShingleRows(train, idCol, textCol, n, md5_52 = false)
      .dropDuplicates("doc", "s")
    val benchSh = hashedShingleRows(bench, idCol, textCol, n, md5_52 = false)
      .dropDuplicates("doc", "s")
      .select(col("doc").as("bench_id"), col("s"))
      .localCheckpoint(eager = true) // bench-sized; feeds 3 consumers
    // ONE train scan: the bench-matching rows materialize (hit-bounded —
    // tiny unless the corpus is massively contaminated), and both the
    // df cap and the pair counts derive from them.
    val matched = trainSh
      .join(broadcast(benchSh.select("s").distinct()), Seq("s"), "left_semi")
      .select(col("doc").as("train_id"), col("s"))
      .localCheckpoint(eager = true)
    val hot = matched.groupBy("s")
      .agg(countDistinct("train_id").as("__df"))
      .filter(col("__df") > maxShingleDf).select("s")
    val hits = benchSh
      .join(matched.join(broadcast(hot), Seq("s"), "left_anti"), Seq("s"))
      .groupBy("bench_id")
      .agg(countDistinct("train_id").as("n_train_docs"),
        countDistinct("s").as("n_shingles_hit"))
    val hotPerItem = benchSh.join(broadcast(hot), Seq("s"), "left_semi")
      .groupBy("bench_id").agg(count(lit(1)).as("n_shingles_hot"))
    val totals = benchSh.groupBy("bench_id")
      .agg(count(lit(1)).as("n_shingles"))
    bench.select(col(idCol).as("bench_id"))
      .join(totals, Seq("bench_id"), "left")
      .join(hits, Seq("bench_id"), "left")
      .join(hotPerItem, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shingles_hit"), lit(0L)).as("n_shingles_hit"),
        coalesce(col("n_shingles_hot"), lit(0L)).as("n_shingles_hot"),
        (coalesce(col("n_train_docs"), lit(0L)) > 0).as("burned"))
  }

  /** Fractional decontamination (the graded FLAN/PaLM-style rule): a
    * training document is contaminated iff MORE THAN `maxOverlap` of its
    * distinct n-gram shingles appear anywhere in the benchmark suite —
    * the binary any-hit rule of [[decontaminate]] is too aggressive on
    * incidental shared phrases; the overlap FRACTION separates verbatim
    * leakage from common n-grams. Returns one row per training doc:
    * (doc, n_shingles, n_hit, overlap_frac, contaminated). Docs shorter
    * than n tokens have no shingles and score 0.
    *
    * Scale: identical shape to [[decontaminate]] — one pass over
    * training shingles against the broadcast (or shuffled, see
    * `broadcastBench`) benchmark set; the extra per-doc denominator
    * rides the same aggregation, so the fraction costs nothing more.
    */
  def contaminationScore(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxOverlap: Double = 0.1,
      broadcastBench: Boolean = true): DataFrame = {
    val trainSh = hashedShingleRows(train, idCol, textCol, n, md5_52 = false)
    val benchSh0 = hashedShingleRows(bench, idCol, textCol, n, md5_52 = false)
      .select("s").distinct().withColumn("__hit", lit(1))
    val benchSh = if (broadcastBench) broadcast(benchSh0) else benchSh0
    val perDoc = trainSh.join(benchSh, Seq("s"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hit"))
    val frac = col("n_hit").cast("double") / col("n_shingles").cast("double")
    train.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(frac, lit(0.0)), 6).as("overlap_frac"),
        coalesce(frac > maxOverlap, lit(false)).as("contaminated"))
  }

  /** Cross-corpus MinHash near-dup: the INCREMENTAL dedup shape — flag
    * each document of a NEW batch that near-duplicates the EXISTING
    * corpus, without ever self-joining either side. Same signatures,
    * banding and exact-Jaccard verify as [[minHashPairs]] (and the same
    * default-on hot-bucket guard), but candidates pair strictly across the
    * two inputs, so the work is |batch-bands ⋈ corpus-bands| — at 100 TB
    * the corpus bands are computed once per refresh cycle and the daily
    * batch probes them; yesterday's data never re-pairs with itself.
    *
    * Returns (batch_id, corpus_id, jaccard_dist), one row per verified
    * cross pair.
    */
  def minHashPairsAcross(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      maxJaccardDist: Double = 0.3, numHashTables: Int = 5, n: Int = 3,
      maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame = {
    require(numHashTables <= PortableHash.MinHashA.length)
    // r16: hashes and signature minima from the compiled per-doc pass —
    // bands no longer pay a groupBy exchange on either side.
    val arrC = corpus.select(col(idCol).as("doc"),
      shingleStruct(col(textCol), n, numHashTables, md5_52 = true).as("__sh"))
      .cache()
    val arrB = batch.select(col(idCol).as("doc"),
      shingleStruct(col(textCol), n, numHashTables, md5_52 = true).as("__sh"))
      .cache()
    val hsC = arrC.select(col("doc"), col("__sh")("hashes").as("hs"))
    val hsB = arrB.select(col("doc"), col("__sh")("hashes").as("hs"))
    def bands(arr: DataFrame) = arr.select(col("doc"),
      posexplode(col("__sh")("sigs")).as(Seq("band", "sig")))
    val bandedC = maxBandFreq.fold(bands(arrC))(
      pruneFrequentBandKeys(bands(arrC), Seq("band", "sig"), _))
    val bandedB = maxBandFreq.fold(bands(arrB))(
      pruneFrequentBandKeys(bands(arrB), Seq("band", "sig"), _))
    val cands = bandedB.select(col("doc").as("batch_id"), col("band"), col("sig"))
      .join(bandedC.select(col("doc").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("batch_id", "corpus_id").distinct()
    val result = verifyCrossPairs(cands, hsB, hsC, maxJaccardDist)
    val out = result.localCheckpoint(true)
    arrC.unpersist(); arrB.unpersist()
    out
  }

  /** Distinct portable-hash shingle rows (doc, s) — the element-row view
    * used by the selection/decontamination operators.
    */
  private[graft] def portableShingleRows(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    hashedShingleRows(df, idCol, textCol, n, md5_52 = true)

  /** Compiled shingle INDEX rows (doc, hs, sigs) — the r16 phase-2 shape
    * of the incremental/streaming dedup state: per-doc distinct-hash
    * array + banded signature minima out of the one compiled pass. The
    * cross-probe verify intersects the two docs' arrays directly, so a
    * probe no longer pays a groupBy over the WHOLE standing index to
    * rebuild set sizes, nor the candidate×shingles row fan-out through
    * the verify equi-joins (guide §2.3 — shuffle a per-doc array once,
    * not one row per shingle per candidate).
    */
  private[graft] def shingleIndexRows(df: DataFrame, idCol: String,
      textCol: String, n: Int, numHashTables: Int = 5): DataFrame =
    df.select(col(idCol).as("doc"),
      shingleStruct(col(textCol), n, numHashTables, md5_52 = true).as("__sh"))
      .select(col("doc"), col("__sh")("hashes").as("hs"),
        col("__sh")("sigs").as("sigs"))

  /** Banded signature rows (doc, band, sig) of a [[shingleIndexRows]]
    * frame — a narrow posexplode, no aggregation.
    */
  private[graft] def indexBandRows(idx: DataFrame): DataFrame =
    idx.select(col("doc"), posexplode(col("sigs")).as(Seq("band", "sig")))

  /** Exact-Jaccard verification of cross-side candidate pairs given both
    * sides' per-doc hash arrays (doc, hs); returns
    * (batch_id, corpus_id, jaccard_dist). One codegen'd array_intersect
    * per candidate pair (r16 phase 2) — set sizes ride the arrays, so
    * nothing aggregates over either side's full index.
    */
  private[graft] def verifyCrossPairs(cands: DataFrame, hsB: DataFrame,
      hsC: DataFrame, maxJaccardDist: Double): DataFrame =
    cands
      .join(hsB.select(col("doc").as("batch_id"), col("hs").as("__ha")),
        Seq("batch_id"))
      .join(hsC.select(col("doc").as("corpus_id"), col("hs").as("__hb")),
        Seq("corpus_id"))
      .withColumn("shared",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .filter(col("shared") > 0)
      .withColumn("jaccard_dist",
        lit(1.0) - col("shared") /
          (size(col("__ha")).cast("long") + size(col("__hb")).cast("long")
            - col("shared")))
      .filter(col("jaccard_dist") <= maxJaccardDist)
      .select(col("batch_id"), col("corpus_id"),
        round(col("jaccard_dist"), 6).as("jaccard_dist"))

  /** One greedy incremental-dedup step — the shared core of the daily
    * batch refresh and [[graft.streaming.EventStream.dedupStream]]:
    * deduplicate `batch` WITHIN itself (minhash pairs → components →
    * min-id survivor), then drop every within-batch survivor that
    * near-duplicates the standing corpus INDEX (`corpusIndex` /
    * `corpusBands`, the [[shingleIndexRows]] (doc, hs, …) and
    * (doc, band, sig) frames of all previously accepted documents).
    * Returns the accepted (doc, text) rows. Empty index frames degrade
    * to pure within-batch dedup — batch one of a fresh corpus.
    *
    * Greedy semantics (the production arrival-order contract): earlier
    * batches always win; within a batch the min id wins its cluster. A
    * document whose only near-dup was itself dropped by the cross probe
    * still loses — its cluster elected one survivor and only that
    * survivor got probed. That is the standard streaming-dedup
    * approximation; the alternative (re-electing after the probe) would
    * need an extra round trip per batch for a case that at dedup
    * thresholds means the batch carried 3+ mutual near-dups.
    *
    * Scale: within-batch work is minhash on the DELTA only; the cross
    * probe is one equi-join of the batch's bands against the index bands
    * (never a text rescan of the corpus), and the exact verify touches
    * only candidate ids' shingle rows. O(|batch|) + probe — yesterday's
    * corpus never re-pairs with itself.
    */
  def incrementalDedupStep(batch: DataFrame, idCol: String, textCol: String,
      corpusIndex: DataFrame, corpusBands: DataFrame,
      maxJaccardDist: Double = 0.3, numHashTables: Int = 5,
      n: Int = 3): DataFrame = {
    val b0 = batch.select(col(idCol).as("doc"), col(textCol).as("text"))
    // r16: ONE compiled shingle pass for the whole batch, shared by the
    // within-batch pair generation AND the cross-corpus probe (the
    // survivors were previously re-shingled after the in-batch dedup —
    // one full tokenize+hash pass and one checkpoint saved per step).
    // `corpusIndex` is the [[shingleIndexRows]] (doc, hs, …) shape: the
    // cross verify intersects hash arrays, so the standing index is never
    // re-aggregated per batch (phase 2).
    val arr0 = b0.select(col("doc"),
      shingleStruct(col("text"), n, numHashTables, md5_52 = true).as("__sh"))
      .localCheckpoint(true)
    val hs0 = arr0.select(col("doc"), col("__sh")("hashes").as("hs"))
    val banded0 = arr0.select(col("doc"),
      posexplode(col("__sh")("sigs")).as(Seq("band", "sig")))
    val inPairs = pairsFromParts(hs0, banded0, maxJaccardDist,
      DefaultMaxBandFreq)
    val inFail = resolveClusters(inPairs, "id_a", "id_b")
      .filter(col("cluster") =!= col("v")).select(col("v").as("doc"))
    val b1 = b0.join(inFail, Seq("doc"), "left_anti")
    val arrB = arr0.join(inFail, Seq("doc"), "left_anti")
    val hsB = arrB.select(col("doc"), col("__sh")("hashes").as("hs"))
    val cands = arrB
      .select(col("doc").as("batch_id"),
        posexplode(col("__sh")("sigs")).as(Seq("band", "sig")))
      .join(corpusBands.select(col("doc").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("batch_id", "corpus_id").distinct()
    val crossFail = verifyCrossPairs(cands, hsB,
        corpusIndex.select(col("doc"), col("hs")), maxJaccardDist)
      .select(col("batch_id").as("doc")).distinct()
    b1.join(crossFail, Seq("doc"), "left_anti")
  }

  /** Decontamination through a Bloom-filter prefilter — the bounded-memory
    * variant for benchmark suites too big to broadcast raw.
    *
    * `decontaminate` broadcasts the distinct bench shingles (or shuffles
    * them with `broadcastBench = false`); both move O(|bench|) data. Here
    * the bench side is folded into a Bloom bitset of `mBits` bits stored as
    * ≤ `mBits/64` (word, bits) rows — **bounded by construction** (128 KiB
    * of longs at 2^20 bits) no matter how many eval sets pile up. Train
    * shingles probe `kProbes` positions (PortableHash permutation family,
    * pmod-safe for signed xxhash64) against the broadcast word table; a
    * shingle survives only if every probed bit is set. Bloom filters have
    * no false negatives, so survivors ⊇ true hits, and the exact semi-join
    * verify on the (ε·|train| + hits)-sized survivor set kills the false
    * positives — the final frame is row-for-row IDENTICAL to
    * `decontaminate` (same oracle), only the data movement changes.
    */
  private def bloomPos(h: Column, j: Int, mBits: Int): Column =
    pmod(lit(PortableHash.MinHashA(j)) * pmod(h, lit(PortableHash.P))
      + lit(PortableHash.MinHashB(j)), lit(PortableHash.P)) % mBits.toLong

  private def bloomWordMask(p: Column): Seq[Column] = Seq(
    (p / 64).cast("long").as("w"),
    call_function("shiftleft", lit(1L), (p % 64).cast("int")).as("m"))

  /** The bench side's Bloom bitset as ≤ mBits/64 (word, bits) rows from a
    * distinct shingle frame (column `s`). `bit_or`-mergeable: the word
    * table of bench A ∪ B is the merged word tables of A and B — which is
    * what makes the state incrementally maintainable
    * ([[graft.streaming.EventStream.decontaminationStream]]).
    */
  private[graft] def bloomWordTable(shingles: DataFrame, mBits: Int,
      kProbes: Int): DataFrame =
    shingles
      .select(explode(array((0 until kProbes).map(j => bloomPos(col("s"), j, mBits)): _*)).as("p"))
      .select(bloomWordMask(col("p")): _*)
      .groupBy("w").agg(bit_or(col("m")).as("bits"))

  /** [[decontaminateBloom]] against ALREADY-BUILT state: the bench
    * shingle frame (for the exact verify) and its Bloom word table. The
    * probe/verify/aggregate pipeline shared by the one-shot and the
    * streamed shapes.
    */
  private[graft] def decontaminateBloomWith(
      train: DataFrame, idCol: String, textCol: String,
      benchShingles: DataFrame, words: DataFrame,
      n: Int, mBits: Int, kProbes: Int): DataFrame = {
    require(kProbes >= 1 && kProbes <= PortableHash.MinHashA.length)
    require(mBits >= 64)
    val trainSh = hashedShingleRows(train, idCol, textCol, n, md5_52 = false)
    val probed = trainSh.select(col("s")).distinct()
      .select(col("s"),
        posexplode(array((0 until kProbes).map(j => bloomPos(col("s"), j, mBits)): _*)).as(Seq("j", "p")))
      .select(col("s") +: col("j") +: bloomWordMask(col("p")): _*)
      .join(broadcast(words), Seq("w"), "left")
      .groupBy("s")
      .agg(min(when(coalesce(col("bits").bitwiseAND(col("m")) =!= 0, lit(false)), 1)
        .otherwise(0)).as("_all_set"))
    val survivors = probed.filter(col("_all_set") === 1).select("s")
    // exact verify over the tiny survivor set — false positives die here.
    val verified = survivors.join(benchShingles, Seq("s"), "left_semi")
    val hits = trainSh.join(verified, Seq("s"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_hit"))
    train.select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  def decontaminateBloom(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int = 5, mBits: Int = 1 << 20, kProbes: Int = 4): DataFrame = {
    val benchSh = hashedShingleRows(bench, idCol, textCol, n, md5_52 = false)
      .select("s").distinct()
    decontaminateBloomWith(train, idCol, textCol, benchSh,
      bloomWordTable(benchSh, mBits, kProbes), n, mBits, kProbes)
  }

  /** Distinct xxhash64 shingle rows — the decontamination index unit
    * (the bloom family hashes with xxhash64, unlike the minhash family's
    * PortableHash).
    */
  private[graft] def xxShingleRows(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    hashedShingleRows(df, idCol, textCol, n, md5_52 = false)

  /** Exact-substring dedup (duplicated-span removal, the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" modality):
    * find maximal VERBATIM token spans of ≥ `minTokens` shared between two
    * distinct documents — the memorization driver that whole-document
    * MinHash/SimHash miss (a 300-token span shared by two otherwise
    * different pages).
    *
    * Shingle-seed + diagonal-extend, never all-pairs:
    *  1. positional width-`width` token shingles, fingerprinted with the
    *     oracle-portable 52-bit hash (positions KEPT — unlike the Jaccard
    *     path's distinct shingle sets, span recovery needs occurrences);
    *  2. seed matches = fingerprint equi-join across distinct docs
    *     (doc_a < doc_b) — the only join, and it is equi on the hash;
    *  3. a shared span of L tokens yields L−width+1 seeds consecutive
    *     along the diagonal pa−pb, so grouping by (a, b, diagonal) and
    *     splitting runs where pa jumps (gaps-and-islands: island =
    *     pa − row_number) merges seeds into MAXIMAL spans:
    *     span_tokens = max(pa) − min(pa) + width.
    *
    * Ubiquitous fingerprints (site boilerplate — license headers,
    * navigation strings) are dropped before the seed join when they occur
    * more than `maxFpFreq` times: a fingerprint occurring f times seeds
    * O(f²) pairs, the quadratic hot key at 100 TB. The cap is part of the
    * operator's SEMANTICS (mirrored verbatim by the DuckDB oracle), not a
    * silent truncation; spans whose every shingle is that common are
    * boilerplate, not memorization risk.
    *
    * Returns (doc_a, doc_b, a_start, b_start, span_tokens), starts
    * 0-based in token positions. Spans shorter than `width` are invisible
    * by construction (standard for shingle seeding).
    */
  /** Positional width-n shingle fingerprints as (doc, pos, fp) rows —
    * positions KEPT (unlike hashedShingleRows' distinct sets; span
    * recovery needs every occurrence).
    */
  private def positionalFps(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    // r16 phase 2: the window fingerprint is a PER-DOCUMENT fact — the
    // width-token grams come straight off the row's own token array
    // (posexplode of a transform, the weightedMinHashPairs gram shape),
    // so the per-doc lead() window — ONE exchange of the whole exploded
    // token stream per call, two per cross-corpus call — is gone
    // (guide §2.4). Same grams, same 0-based first-token positions, same
    // hash (hash52 applies on the exploded rows, inside codegen); docs
    // shorter than the window emit nothing, as the lead-null filter did.
    val toks = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol).as("doc"),
        posexplode(when(size(toks) >= width,
          transform(sequence(lit(1), size(toks) - (width - 1)),
            i => concat_ws(" ", slice(toks, i, lit(width)))))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "g")))
      .select(col("doc"), col("pos"), PortableHash.hash52(col("g")).as("fp"))
  }

  /** Merge cross-side seeds into maximal spans (gaps-and-islands along
    * the pa−pb diagonal; see [[sharedSpans]]'s scaladoc).
    */
  private def seedsToSpans(seeds: DataFrame, aId: String, bId: String,
      aStart: String, bStart: String, width: Int, minTokens: Int): DataFrame = {
    val wDiag = Window.partitionBy(aId, bId, "diag").orderBy("pa")
    seeds
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(wDiag))
      .groupBy(aId, bId, "diag", "isl")
      .agg(min("pa").as(aStart), min("pb").as(bStart),
        (max(col("pa")) - min(col("pa")) + width).as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col(aId), col(bId), col(aStart).cast("long").as(aStart),
        col(bStart).cast("long").as(bStart),
        col("span_tokens").cast("long").as("span_tokens"))
  }

  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minTokens: Int = 12, maxFpFreq: Int = 128): DataFrame = {
    require(width >= 2, "width must be at least 2")
    require(minTokens >= width, "minTokens below width is unobservable")
    require(maxFpFreq >= 2, "maxFpFreq < 2 would drop every matchable seed")
    val fps = positionalFps(df, idCol, textCol, width)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("_f"))
      .filter(col("_f") > maxFpFreq).select("fp")
    val cool = fps.join(hot, Seq("fp"), "left_anti")
    val seeds = cool.select(col("fp"), col("doc").as("doc_a"), col("pos").as("pa"))
      .join(cool.select(col("fp"), col("doc").as("doc_b"), col("pos").as("pb")),
        Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
    seedsToSpans(seeds, "doc_a", "doc_b", "a_start", "b_start", width, minTokens)
  }

  /** Cross-corpus [[sharedSpans]] — the incremental daily-ingest shape
    * (the span analog of [[minHashPairsAcross]]): find verbatim spans a
    * NEW batch shares with the standing CORPUS without ever pairing the
    * corpus (or the batch) against itself. Seeds join strictly across
    * the sides, so daily work is |batch fingerprints| probing the corpus
    * index — the corpus is never self-joined again. The ubiquity cap
    * counts occurrences over BOTH sides (boilerplate is boilerplate
    * wherever it lives). Ids must be disjoint across sides (caller
    * contract, same as minHashPairsAcross). Returns (batch_id,
    * corpus_id, batch_start, corpus_start, span_tokens), 0-based.
    */
  def sharedSpansAcross(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      width: Int = 8, minTokens: Int = 12, maxFpFreq: Int = 128): DataFrame = {
    require(width >= 2, "width must be at least 2")
    require(minTokens >= width, "minTokens below width is unobservable")
    require(maxFpFreq >= 2, "maxFpFreq < 2 would drop every matchable seed")
    val bf = positionalFps(batch, idCol, textCol, width)
    val cf = positionalFps(corpus, idCol, textCol, width)
    val hot = bf.unionAll(cf).groupBy("fp").agg(count(lit(1)).as("_f"))
      .filter(col("_f") > maxFpFreq).select("fp")
    val seeds = bf.join(hot, Seq("fp"), "left_anti")
      .select(col("fp"), col("doc").as("batch_id"), col("pos").as("pa"))
      .join(cf.join(hot, Seq("fp"), "left_anti")
        .select(col("fp"), col("doc").as("corpus_id"), col("pos").as("pb")),
        Seq("fp"))
    seedsToSpans(seeds, "batch_id", "corpus_id", "batch_start", "corpus_start",
      width, minTokens)
  }

  /** Duplicated-span REMOVAL — the second half of Lee et al.: drop the
    * shared spans found by [[sharedSpans]] from the HIGHER-id document of
    * each pair (the lowest-id occurrence survives, mirroring the min-id
    * survivor convention of the whole-document dedup paths; a document
    * chained as the b-side of several pairs loses the union of its
    * covered positions). Every document comes back — untouched ones with
    * zero removals — as (doc, n_kept, n_removed, clean_text).
    *
    * Shape: spans explode to covered positions (bounded by span length),
    * kept tokens are a left-anti equi-join on (doc, pos) — never a range
    * join — and the text reassembles with one keyed aggregation
    * (array_sort by position, then concat). Linear end to end on top of
    * the seed join already bounded by sharedSpans.
    */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minTokens: Int = 12, maxFpFreq: Int = 128): DataFrame = {
    val spans = sharedSpans(df, idCol, textCol, width, minTokens, maxFpFreq)
    val covered = spans
      .select(col("doc_b").as("doc"),
        explode(sequence(col("b_start"), col("b_start") + col("span_tokens") - 1))
          .as("pos"))
      .dropDuplicates("doc", "pos")
    exciseCovered(df, idCol, textCol, covered)
  }

  /** Span-level benchmark DECONTAMINATION — the surgical alternative to
    * [[decontaminate]]'s whole-document drop (the Lee et al. removal
    * machinery pointed at leakage instead of duplication): verbatim
    * token spans a training document shares with the benchmark suite are
    * EXCISED and the rest of the document ships. Dropping a whole
    * 50k-token page because one quiz question leaked into its footer
    * wastes the other 49k tokens; dropping only the leaked span removes
    * exactly the memorization hazard. The flag rule ([[decontaminate]])
    * stays the right tool when ANY overlap disqualifies (eval-adjacent
    * corpora); this is the yield-preserving rule for bulk pretraining
    * data — both are governance decisions, so the output keeps the
    * counts that audit them.
    *
    * Span definition and caps are [[sharedSpansAcross]]'s (width-window
    * positional fingerprints, diagonal merge, ubiquity cap counted over
    * BOTH sides; ids disjoint across sides — same caller contract);
    * excision always falls on the TRAIN side. Every training document
    * returns: (doc, n_kept, n_removed, clean_text) — `n_removed > 0` is
    * the contamination record.
    *
    * Scale: the bench fingerprint table is eval-suite-sized probing the
    * train fingerprints (one equi-join on the fp — the corpus is never
    * self-paired); excision is the bounded covered-position anti-join +
    * one keyed reassembly, linear end to end.
    */
  def decontaminateSpans(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      width: Int = 8, minTokens: Int = 12, maxFpFreq: Int = 128): DataFrame = {
    val spans = sharedSpansAcross(train, bench, idCol, textCol,
      width, minTokens, maxFpFreq)
    val covered = spans
      .select(col("batch_id").as("doc"),
        explode(sequence(col("batch_start"),
          col("batch_start") + col("span_tokens") - 1)).as("pos"))
      .dropDuplicates("doc", "pos")
    exciseCovered(train, idCol, textCol, covered)
  }

  /** Shared excision + reassembly: drop `covered` (doc, pos) tokens from
    * every document of `df`, rebuild the text in position order. One
    * anti-join + one keyed aggregation bounded by document length.
    */
  private def exciseCovered(df: DataFrame, idCol: String, textCol: String,
      covered: DataFrame): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("pos", col("pos").cast("long"))
    val kept = toks.join(covered, Seq("doc", "pos"), "left_anti")
    val rebuilt = kept.groupBy("doc")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok"))).as("clean_text"))
    df.select(col(idCol).as("doc"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_total"))
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Duplicated-LINE removal — the C4/CCNet boilerplate scrub (Raffel et
    * al. 2020 drop repeated lines; CCNet dedups at paragraph hashes):
    * lines whose hash occurs in at least `minDf` DISTINCT documents
    * (nav bars, cookie banners, footers — the line-level twin of the
    * span scrub above, catching short verbatim repeats that never reach
    * the span minimum) are deleted from every document; surviving lines
    * reassemble in original order. Emits (doc, clean_text, n_lines_kept,
    * n_lines_removed).
    *
    * Scale: one explode to (doc, pos, line); the df count runs over
    * DISTINCT (doc, line-hash) so a line repeated inside one document
    * counts once; the hot-line set is small by definition (boilerplate)
    * and anti-joins against the line stream; reassembly is one keyed
    * aggregation bounded by document length. `delim` is a regex
    * (default newline).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 3, delim: String = "\n"): DataFrame =
    dedupLinesGrouped(df, idCol, textCol, None, minDf, delim)

  /** [[dedupLines]] scoped PER GROUP (pass the host/site column) — the
    * RefinedWeb-style boilerplate rule: a nav bar on every page of ONE
    * site is boilerplate even when it is globally rare, and a line that
    * happens to recur across unrelated sites (a common quote) is NOT —
    * so the df count and the deletion both key on (group, line). Same
    * row shape out; the hot set is (group, h)-keyed and the anti-join
    * becomes a two-key equi-join — still never corpus-quadratic.
    */
  def dedupLinesBy(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, minDf: Long = 3, delim: String = "\n"): DataFrame =
    dedupLinesGrouped(df, idCol, textCol, Some(groupCol), minDf, delim)

  private def dedupLinesGrouped(df: DataFrame, idCol: String, textCol: String,
      groupCol: Option[String], minDf: Long, delim: String): DataFrame = {
    require(minDf >= 2)
    val gkey = groupCol.map(g => lower(coalesce(col(g).cast("string"), lit(""))))
      .getOrElse(lit(""))
    val lines = df.select(col(idCol).as("doc"), gkey.as("__g"),
        posexplode(split(col(textCol), delim)).as(Seq("pos", "line")))
      .withColumn("h", PortableHash.hash52(col("line")))
    val hot = lines.select("doc", "__g", "h").distinct()
      .groupBy("__g", "h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("__g", "h")
    val kept = lines.join(hot, Seq("__g", "h"), "left_anti")
    val rebuilt = kept.groupBy("doc")
      .agg(count(lit(1)).as("n_lines_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line"))).as("clean_text"))
    df.select(col(idCol).as("doc"),
        size(split(col(textCol), delim)).cast("long").as("__n"))
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("__n") - coalesce(col("n_lines_kept"), lit(0L))).as("n_lines_removed"))
  }

  /** Resolve near-dup pairs into clusters: the connected components of
    * the pair graph, by GraphX `connectedComponents` over the canonical
    * (least, greatest) distinct edge set
    * ([[graft.analytics.GraphAnalytics.simpleGraph]]). Returns one row
    * per endpoint of a non-null pair: (v, cluster) with cluster = the
    * minimum vertex id in its component, both columns of the id columns'
    * type. A self-pair is kept as a self-loop, so a self-paired id comes
    * back as its own cluster.
    *
    * Scale notes: a superstep is one Spark job and sends messages only
    * along edges whose endpoints still disagree; the run ends when none
    * does, after O(component diameter) supersteps. Near-dup components
    * are near-cliques (every member resembles the survivor), so 2–3
    * supersteps is typical regardless of corpus size; a long chain takes
    * more supersteps but still resolves.
    */
  def resolveClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val t = GraphAnalytics.idType(pairs, aCol, bCol)
    GraphAnalytics.simpleGraph(pairs, aCol, bCol, keepSelfLoops = true)
      .connectedComponents().vertices.toDF("v", "cluster")
      .select(col("v").cast(t), col("cluster").cast(t))
  }

  /** The dedup decision table: every document labeled with its cluster
    * representative (itself when it collided with nothing) and the keep
    * flag — the materialized form a pipeline joins against to drop
    * near-dups. One broadcast-or-shuffle left join; the cluster table is
    * |paired docs| rows, tiny next to the corpus.
    */
  def dedupSurvivors(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc"))
      .join(clusters.select(col("v").as("doc"), col("cluster")), Seq("doc"), "left")
      .select(col("doc"), coalesce(col("cluster"), col("doc")).as("cluster"),
        (coalesce(col("cluster"), col("doc")) === col("doc")).as("is_survivor"))

  /** Quality-aware survivor table: instead of "lowest id wins", the
    * cluster's survivor is the member with the best `scoreCol` (ties on
    * lowest id — deterministic, SQL-reproducible). This is the real-world
    * dedup policy: keep the longest / highest-quality copy, drop the rest.
    * One window over clusters only (cluster cardinality ≪ corpus), then a
    * broadcastable survivor map joined back to every document.
    */
  def dedupSurvivorsBy(docs: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val member = clusters.select(col("v").as("doc"), col("cluster"))
      .join(docs.select(col(idCol).as("doc"), col(scoreCol).as("_score")), Seq("doc"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("_score").desc, col("doc"))
    val winners = member.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("cluster"), col("doc").as("_winner"))
    docs.select(col(idCol).as("doc"))
      .join(clusters.select(col("v").as("doc"), col("cluster")), Seq("doc"), "left")
      .join(winners, Seq("cluster"), "left")
      .select(col("doc"),
        coalesce(col("cluster"), col("doc")).as("cluster"),
        coalesce(col("_winner"), col("doc")).as("survivor"),
        (coalesce(col("_winner"), col("doc")) === col("doc")).as("is_survivor"))
  }

  /** Soft dedup: instead of DROPPING a near-dup cluster's non-survivors
    * (the [[dedupSurvivors]] policy — which wastes whatever small signal
    * the copies' variation carries and hard-binarizes a soft judgment),
    * DOWNWEIGHT every member so the CLUSTER contributes one document's
    * worth of loss: `weight = 10^6 / cluster_size` on the micro grid
    * (floor — integer division, engine-exact), singletons at exactly
    * 10^6. This is the sampled-or-reweighted middle ground recent data
    * work prefers over hard dedup for mild duplication (train-time loss
    * scaling or sampling ∝ weight); the hard policy remains the right
    * call for egregious copy counts — both now exist, the caller picks.
    * Composes downstream of [[resolveClusters]] exactly like the
    * survivor tables: one cluster-size aggregation (cluster cardinality
    * ≪ corpus) + one broadcastable join back. Returns
    * (doc, cluster, cluster_size, weight_micro).
    */
  def softDedupWeights(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    docs.select(col(idCol).as("doc"))
      .join(clusters.select(col("v").as("doc"), col("cluster")), Seq("doc"), "left")
      .join(sizes, Seq("cluster"), "left")
      .select(col("doc"),
        coalesce(col("cluster"), col("doc")).as("cluster"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (lit(1000000L) / coalesce(col("cluster_size"), lit(1L)))
          .cast("long").as("weight_micro"))
  }

  /** SimHash signature bit width — 52 (not 64) so the per-token hash and
    * every bit of the signature are exactly reproducible in the DuckDB
    * oracle (PortableHash).
    */
  val SimHashBits = 52
  private val SimHashBands = 4
  private val SimHashBandBits = SimHashBits / SimHashBands // 13

  /** 52-bit SimHash signature per document from whitespace-token hashes —
    * built entirely from codegen'd expressions: explode tokens, per-bit
    * ±1 majority vote, reassemble the sign bits. Token multiplicity counts
    * (no distinct — repeated tokens vote repeatedly, standard SimHash).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Corpus.spreadScan(df).select(col(idCol).as("doc"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", PortableHash.hash52(col("tok")))
    val bitSums: Seq[org.apache.spark.sql.Column] = (0 until SimHashBits).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"b$i")
    }
    val voted = toks.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimHashBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    voted.select(col("doc"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 52-bit signature into four 13-bit
    * blocks (any exact block match → candidate — guarantees recall of all
    * pairs with Hamming distance ≤ 3), then filter by true Hamming
    * distance.
    */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      maxBandFreq: Option[Int] = Dedup.DefaultMaxBandFreq): DataFrame = {
    val sigs = simHash(df, idCol, textCol)
    val allBanded = sigs.select(col("doc"), col("simhash"),
      explode(array((0 until SimHashBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * SimHashBandBits)
            .bitwiseAND((1L << SimHashBandBits) - 1).as("bkey"))): _*))
        .as("bb"))
      .select(col("doc"), col("simhash"), col("bb.band"), col("bb.bkey"))
    val banded = maxBandFreq.fold(allBanded)(
      pruneFrequentBandKeys(allBanded, Seq("band", "bkey"), _))
    val cands = banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .dropDuplicates("id_a", "id_b")
    cands
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
