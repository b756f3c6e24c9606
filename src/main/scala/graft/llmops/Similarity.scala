package graft.llmops

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  *  - brute-force cosine top-k: the exact baseline — a broadcast cross
  *    join (|Q|×|C| work). Right answer for small query sets; the recall
  *    oracle for the approximate path.
  *  - LSH top-k: BucketedRandomProjectionLSH over L2-normalized vectors
  *    (cosine ≡ 1 − d²/2 on the unit sphere), seeded → deterministic.
  *    Sub-quadratic: at 100 TB the corpus is bucketed once (fit +
  *    transform, one pass) and each query probes its buckets only.
  *
  * Dot products run in DOUBLE via codegen'd higher-order functions —
  * no UDF, stays inside WholeStageCodegen.
  */
object Similarity {

  /** Dot product in double — the codegen'd FloatVectorDot expression
    * (graft.functions). The equivalent composable form
    * `aggregate(zip_with(a,b,_*_), 0d, _+_)` evaluates interpreted and
    * measured 6× slower on the brute-force pair queries.
    */
  def dot(a: Column, b: Column): Column = org.apache.spark.sql.graftfn.FloatVectorDot.fdot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k cosine neighbors for each query vector (self-matches by id
    * excluded). Queries are broadcast — the corpus never shuffles.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      l2norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      l2norm(col(vecCol)).as("qn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold)
    * — the exact quadratic baseline (broadcast self cross join). This is
    * the oracle for the LSH path; at corpus scale use `lshCosinePairs`.
    */
  def cosinePairs(
      df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms once per ROW (narrow), not three dots per PAIR.
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      l2norm(col(vecCol)).as("na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      l2norm(col(vecCol)).as("nb"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Sub-quadratic cosine near-dup pairs: LSH bucket candidates + exact
    * cosine verification. Recall vs `cosinePairs` asserted in LlmOpsSpec.
    */
  def lshCosinePairs(
      df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketLength: Double = 0.5, numHashTables: Int = 8): DataFrame = {
    // on the unit sphere cosine ≥ t ⇔ L2 ≤ sqrt(2 − 2t)
    val maxL2 = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0))
    // Materialize the norm as a bound attribute BEFORE the lambda: an inline
    // l2norm(...) referenced inside transform() re-evaluates the full dot
    // product per element — O(d²) per row, interpreted (SCALE.md).
    val prepared = df
      .select(col(idCol).as("pid"), col(vecCol).as("raw"),
        l2norm(col(vecCol)).as("_n"))
      .select(col("pid"),
        array_to_vector(transform(col("raw"), x => x.cast("double") / col("_n"))).as("nvec"),
        col("raw"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("nvec").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(prepared)
    model.approxSimilarityJoin(prepared, prepared, maxL2 + 1e-9, "l2")
      .select(col("datasetA.pid").as("id_a"), col("datasetB.pid").as("id_b"),
        col("datasetA.raw").as("ra"), col("datasetB.raw").as("rb"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", cosine(col("ra"), col("rb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic sign-LSH ANN top-k: `tables` hash tables of `bits`
    * random-hyperplane sign bits each; a corpus row is a candidate for a
    * query when their bit-buckets collide in ANY table; exact cosine
    * re-ranks the candidates. Hyperplane components derive from
    * PortableHash (md5) and are float32-exact, and FloatVectorDot
    * accumulates in double ascending-index — so signatures, candidates and
    * scores are reproducible value-for-value by a SQL oracle, unlike the
    * seeded-gaussian ML path (`lshTopK`).
    *
    * Scale: the corpus is scanned once to signature it (tables×bits dots,
    * all inside one codegen stage), the candidate join is an equi-join on
    * (table, bucket), and only candidates reach the exact re-rank — the
    * brute-force |Q|×|C| cross join never materializes. Tune `bits` up
    * (sparser buckets) as the corpus grows; `tables` up for recall.
    *
    * Positioning (AnnBench, BASELINE.md r5): sign buckets discriminate
    * NEAR-IDENTICAL vectors well but recall mid-similarity neighbors
    * poorly (recall@25 ≈ 0.45 at 10× sf0.1 with 8 tables, vs 0.99 for
    * IVF at the same cost) — use this path for high-cosine near-dup
    * candidate generation, and [[ivfTopK]] for top-k retrieval.
    */
  def annTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, tables: Int = 8, bits: Int = 8): DataFrame = {
    import graft.llmops.PortableHash
    def bucketCols(vec: Column): Seq[Column] = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val plane = typedLit((0 until dim).map(d =>
          PortableHash.unitUniformJvm(s"$t:$j:$d")))
        when(dot(vec, plane) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as(s"_bkt$t")
    }
    // norms materialize once per ROW before the candidate join — the
    // re-rank then costs ONE dot per pair, not three.
    def signatures(df: DataFrame, prefix: String) = df
      .select(col(idCol).as(s"${prefix}id") +: col(vecCol).as(s"${prefix}vec") +:
        l2norm(col(vecCol)).as(s"${prefix}n") +: bucketCols(col(vecCol)): _*)
      .select(col(s"${prefix}id"), col(s"${prefix}vec"), col(s"${prefix}n"),
        posexplode(array((0 until tables).map(t => col(s"_bkt$t")): _*))
          .as(Seq("t", "bkt")))
    val c = signatures(corpus, "c")
    val q = signatures(queries, "q")
    val cands = q.join(c, Seq("t", "bkt"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid", "qvec", "cvec", "qn", "cn")
      .dropDuplicates("qid", "cid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    cands.withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 6).as("cos"))
  }

  /** Johnson-Lindenstrauss random projection — dimensionality reduction
    * without training: project each embedding onto `outDim` fixed
    * pseudo-random hyperplanes (the [[annTopK]] plane machinery:
    * PortableHash-derived, float32-exact components, so every projected
    * value is reproducible in SQL). JL: pairwise inner products and
    * distances are approximately preserved at outDim = O(log n / ε²) —
    * the cheap pre-step before brute-force/IVF when 4× fewer dimensions
    * buys 4× the vectors per executor and 4× less shuffle, with the
    * exact re-rank running on the ORIGINAL vectors as usual (the
    * [[graft.llmops.Quantize]] two-stage discipline, trading dimensions
    * instead of precision). One narrow codegen pass — outDim dots per
    * row, no shuffle. Returns (id, proj: array<double> rounded to 6 dp —
    * the float-discipline that keeps it hash-matchable).
    */
  def randomProject(df: DataFrame, outDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(outDim >= 1)
    val comps = (0 until outDim).map { j =>
      val plane = typedLit((0 until dim).map(d =>
        PortableHash.unitUniformJvm(s"proj:$j:$d")))
      round(dot(col(vecCol), plane), 6)
    }
    df.select(col(idCol).as("id"), array(comps: _*).as("proj"))
  }

  /** Contrastive triplet mining — the training-data operator for
    * embedding models (retrieval/rerankers train on (anchor, positive,
    * negative) triples, and the NEGATIVE selection is what makes or
    * breaks them): per anchor, the top-`kPos` cosine neighbors are
    * positives, ranks kPos+1..kPos+mHard are HARD negatives (near the
    * anchor but not nearest — the informative ones), and `rRand` random
    * negatives come from the remainder by smallest
    * `hash52(anchor:cand)` — deterministic, partition-invariant, no RNG
    * (the [[Corpus.hashSample]] discipline), so the whole mining run is
    * reproducible and SQL-oracle-checkable.
    *
    * Emits (anchor, cand, role, rank, cos): rank is the cosine rank for
    * positives/hard negatives and kPos+mHard+hash-rank for random
    * negatives. Scale shape: anchors broadcast against the corpus — the
    * EXACT baseline, |A|×|C| scored rows plus per-anchor windows over
    * the whole corpus. That is the right plan for evaluation-sized
    * corpora only; at corpus scale use [[mineTripletsIvf]], which scores
    * only centroid-probed candidates and draws random negatives from
    * bounded per-cell pools (parity with this path at nprobe = nlist is
    * spec-pinned).
    */
  def mineTriplets(corpus: DataFrame, anchors: DataFrame,
      kPos: Int = 3, mHard: Int = 3, rRand: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kPos >= 1 && mHard >= 0 && rRand >= 0)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      l2norm(col(vecCol)).as("cn"))
    val q = anchors.select(col(idCol).as("anchor"), col(vecCol).as("qvec"),
      l2norm(col(vecCol)).as("qn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("anchor") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
    val wCos = Window.partitionBy("anchor").orderBy(col("cos").desc, col("cid"))
    val ranked = scored
      .withColumn("rn", row_number().over(wCos).cast("long"))
      .select("anchor", "cid", "rn", "cos")
    val near = ranked.filter(col("rn") <= kPos + mHard)
      .withColumn("role",
        when(col("rn") <= kPos, lit("positive")).otherwise(lit("hard_negative")))
    val wHash = Window.partitionBy("anchor")
      .orderBy(PortableHash.hash52(
        concat(col("anchor").cast("string"), lit(":"), col("cid").cast("string"))),
        col("cid"))
    val rand = ranked.filter(col("rn") > kPos + mHard)
      .withColumn("hrn", row_number().over(wHash).cast("long"))
      .filter(col("hrn") <= rRand)
      .select(col("anchor"), col("cid"),
        (lit(kPos + mHard.toLong) + col("hrn")).as("rn"), col("cos"))
      .withColumn("role", lit("random_negative"))
    near.unionByName(rand)
      .select(col("anchor"), col("cid").as("cand"), col("role"),
        col("rn").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** IVF-backed contrastive triplet mining — [[mineTriplets]]'s
    * semantics on the coarse-quantizer scale plan, so mining survives a
    * corpus the brute-force path cannot touch:
    *
    *   - positives / hard negatives: each anchor probes its `nprobe`
    *     nearest centroid cells (the [[ivfProbe]] probe stage), cosine
    *     ranks ONLY the candidates inside probed cells — per-anchor
    *     candidate work is ≈ (nprobe/nlist)·|C|, bounded by sizing the
    *     quantizer with the corpus (the [[semDedupPairs]] contract:
    *     nlist ≈ |C| / desired-cell-size), never |A|×|C|;
    *   - random negatives: hash-picked from the COMPLEMENT cells (the
    *     nlist − nprobe cells the anchor did not probe — far-from-anchor
    *     by construction, which is what "random" negative means), drawn
    *     from a bounded per-cell pool of `poolPerCell` rows (smallest
    *     `hash52("pool:" + cid)` within each cell — anchor-independent,
    *     so the pool is computed once, nlist × poolPerCell rows total)
    *     and ranked per anchor by `hash52(anchor + ":" + cid)` exactly
    *     like the brute-force path. Ranks continue at kPos + mHard + 1.
    *
    * Every stage is deterministic (assignment ties → lowest cent_id,
    * rank ties → lowest cid, hash picks are RNG-free), so the whole run
    * — assignment, probing, ranking, pooling, picking — replays in SQL
    * (q_x_mine_triplets_ivf). At `nprobe = nlist` the probed candidate
    * set is the entire corpus and positives/hard negatives equal
    * [[mineTriplets]] exactly (spec-pinned); the complement is then
    * empty, so request `rRand` only with nprobe < nlist.
    *
    * The per-cell pool window partitions by cell — bounded by cell size
    * under the quantizer-sizing contract, the same bound that makes
    * SemDeDup's Σ|cell|² sub-quadratic.
    */
  def mineTripletsIvf(corpus: DataFrame, anchors: DataFrame,
      kPos: Int = 3, mHard: Int = 3, rRand: Int = 2,
      nlist: Int = 16, nprobe: Int = 8, poolPerCell: Int = 8,
      centroids: Option[DataFrame] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kPos >= 1 && mHard >= 0 && rRand >= 0)
    require(nprobe >= 1 && nprobe <= nlist && poolPerCell >= 1)
    val cent0 = centroids.getOrElse(
      corpus.filter(col(idCol) < nlist)
        .select(col(idCol).as("cent_id"), col(vecCol).as("centvec")))
    val cent = cent0.select(col("cent_id"), col("centvec"),
      l2norm(col("centvec")).as("centn"))
    val cells = assignCells(corpus, cent0, idCol, vecCol)
    // anchors × centroids is |A|·nlist rows — tiny; rank once, slice twice.
    val wProbe = Window.partitionBy("anchor").orderBy(col("ccos").desc, col("cent_id"))
    val probeRank = anchors
      .select(col(idCol).as("anchor"), col(vecCol).as("qvec"),
        l2norm(col(vecCol)).as("qn"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        dot(col("qvec"), col("centvec")) / (col("qn") * col("centn")))
      .withColumn("prn", row_number().over(wProbe))
      .select(col("anchor"), col("qvec"), col("qn"),
        col("cent_id").as("cell"), col("prn"))
    val probed = probeRank.filter(col("prn") <= nprobe).drop("prn")
    val scored = probed.join(cells, Seq("cell"))
      .filter(col("anchor") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
    val wCos = Window.partitionBy("anchor").orderBy(col("cos").desc, col("cid"))
    val near = scored
      .withColumn("rn", row_number().over(wCos).cast("long"))
      .filter(col("rn") <= kPos + mHard)
      .withColumn("role",
        when(col("rn") <= kPos, lit("positive")).otherwise(lit("hard_negative")))
      .select("anchor", "cid", "role", "rn", "cos")
    // per-cell bounded pool, anchor-independent → computed once.
    val wPool = Window.partitionBy("cell").orderBy(
      PortableHash.hash52(concat(lit("pool:"), col("cid").cast("string"))),
      col("cid"))
    val pool = cells
      .withColumn("pn", row_number().over(wPool))
      .filter(col("pn") <= poolPerCell)
      .select("cell", "cid", "cvec", "cn")
    val unprobed = probeRank.filter(col("prn") > nprobe).drop("prn")
    val wHash = Window.partitionBy("anchor").orderBy(
      PortableHash.hash52(concat(col("anchor").cast("string"), lit(":"),
        col("cid").cast("string"))), col("cid"))
    val rand = unprobed.join(pool, Seq("cell"))
      .filter(col("anchor") =!= col("cid"))
      .withColumn("hrn", row_number().over(wHash).cast("long"))
      .filter(col("hrn") <= rRand)
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
      .select(col("anchor"), col("cid"), lit("random_negative").as("role"),
        (lit((kPos + mHard).toLong) + col("hrn")).as("rn"), col("cos"))
    near.unionByName(rand)
      .select(col("anchor"), col("cid").as("cand"), col("role"),
        col("rn").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Multi-probe sign-LSH ANN top-k — [[annTopK]] with the standard
    * recall fix for its documented weakness (AnnBench: recall@25 ≈ 0.45
    * at mid-similarity): each QUERY probes its own bucket plus every
    * bucket at Hamming distance 1 (the `bits` one-bit flips) in each
    * table — a near-miss on one hyperplane no longer loses the
    * candidate. Corpus signatures, storage and the exact re-rank are
    * UNCHANGED (the corpus is never re-bucketed — multi-probe is purely
    * query-side fan-out, (1 + bits)× probe rows on the tiny query side),
    * which is exactly why production systems prefer it over adding
    * tables: recall rises at zero index cost. Deterministic like the
    * base path, so the oracle replays the probe expansion verbatim.
    */
  def annTopKMultiProbe(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, tables: Int = 8, bits: Int = 8): DataFrame = {
    import graft.llmops.PortableHash
    def bucketCols(vec: Column): Seq[Column] = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val plane = typedLit((0 until dim).map(d =>
          PortableHash.unitUniformJvm(s"$t:$j:$d")))
        when(dot(vec, plane) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as(s"_bkt$t")
    }
    def signatures(df: DataFrame, prefix: String) = df
      .select(col(idCol).as(s"${prefix}id") +: col(vecCol).as(s"${prefix}vec") +:
        l2norm(col(vecCol)).as(s"${prefix}n") +: bucketCols(col(vecCol)): _*)
      .select(col(s"${prefix}id"), col(s"${prefix}vec"), col(s"${prefix}n"),
        posexplode(array((0 until tables).map(t => col(s"_bkt$t")): _*))
          .as(Seq("t", "bkt")))
    val c = signatures(corpus, "c")
    // query-side fan-out: the exact bucket plus its `bits` one-bit flips.
    val q = signatures(queries, "q")
      .select(col("qid"), col("qvec"), col("qn"), col("t"),
        explode(array(col("bkt") +: (0 until bits).map(j =>
          col("bkt").bitwiseXOR(lit(1L << j))): _*)).as("bkt"))
    val cands = q.join(c, Seq("t", "bkt"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid", "qvec", "cvec", "qn", "cn")
      .dropDuplicates("qid", "cid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    cands.withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 6).as("cos"))
  }

  /** IVF (inverted-file) ANN top-k — the coarse-quantizer scale path, the
    * classic alternative to LSH bucketing: partition the corpus into
    * `nlist` cells by nearest centroid, probe the `nprobe` cells nearest
    * each query, exact-cosine re-rank inside the probed cells only.
    *
    * Centroids: callers with a trained quantizer pass `(cent_id, centvec)`
    * via `centroids` (k-means via ML KMeans, product quantizer, whatever);
    * the default takes the corpus rows with `id < nlist` — deterministic
    * and exactly reproducible in SQL, which is what lets the WHOLE path be
    * DuckDB-oracled (q_x_ann_ivf) rather than recall-tested only.
    *
    * Scale shape: centroids broadcast (nlist ≪ |C|); assignment is one
    * broadcast nearest-centroid pass that aggregates with map-side combine
    * (`max_by` partial agg — no window shuffle over |C|×nlist rows); the
    * candidate join is an equi-join on cell id; only probed cells reach
    * the exact re-rank. Expected candidate work per query ≈ nprobe/nlist
    * of the corpus. Recall rises with `nprobe`; `nprobe = nlist` probes
    * everything and equals brute force exactly (pinned in LlmOpsSpec).
    * Ties (assignment and rank) break on lowest id — deterministic.
    *
    * `nprobe` defaults to 8 on the AnnBench evidence (BASELINE.md r5):
    * recall@25 = 0.99 at 10× the sf0.1 corpus for the same warm cost as
    * nprobe = 4 — probing is centroid-bounded, so the extra cells are
    * cheap next to the fixed join overhead.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, nprobe: Int = 8,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(
      corpus.filter(col(idCol) < nlist)
        .select(col(idCol).as("cent_id"), col(vecCol).as("centvec")))
    ivfProbe(assignCells(corpus, cent, idCol, vecCol), cent,
      queries, k, nprobe, idCol, vecCol)
  }

  /** Nearest-centroid cell assignment as (cell, cid, cvec, cn) rows — the
    * shared stage of [[ivfTopK]], [[semDedupPairs]], and the streaming
    * vector index ([[graft.streaming.EventStream.annIndexStream]]):
    * centroids broadcast, one pass, and the nearest cell comes from an
    * AGGREGATE (map-side-combining `max_by`, ties → lowest cent_id), not
    * a window — the |C|×nlist scored frame never shuffles. Per-vector and
    * deterministic, so assignment is BATCH-INVARIANT: assigning a corpus
    * in any number of slices and unioning equals assigning it at once —
    * what makes the cell table maintainable by pure append.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cent = centroids
      .select(col("cent_id"), col("centvec"), l2norm(col("centvec")).as("centn"))
    corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        l2norm(col(vecCol)).as("cn"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        dot(col("cvec"), col("centvec")) / (col("cn") * col("centn")))
      .groupBy("cid")
      .agg(max_by(col("cent_id"), struct(col("ccos"), -col("cent_id"))).as("cell"),
        first(col("cvec")).as("cvec"), first(col("cn")).as("cn"))
      .select("cell", "cid", "cvec", "cn")
  }

  /** Quantizer drift report over an (already-assigned or streamed) IVF
    * cell table — the operational gauge for the FROZEN-quantizer contract
    * of [[graft.streaming.EventStream.annIndexStream]]: the stream
    * assigns arriving vectors against centroids fixed at creation, which
    * is correct, but nothing else says WHEN the frozen quantizer has
    * drifted off the data. One row per CENTROID (empty cells included —
    * they are wasted probes):
    *
    *   - `n`: cell occupancy;
    *   - `occ_ratio`: n · nlist / total — 1.0 is perfectly balanced;
    *     the max over cells is the skew ratio;
    *   - `mean_cdist`: mean exact cosine distance (1 − cos) of the
    *     cell's vectors to their centroid (null for empty cells).
    *
    * REBUILD HEURISTIC, stated so operators don't have to invent one:
    * retrain the quantizer (and rebuild the cells table) when
    * max(occ_ratio) exceeds ~4 — a cell holding 4× its share makes
    * nprobe coverage effectively ¼ of nominal and its probe cost 4× —
    * or when the occupancy-weighted mean of `mean_cdist` has risen
    * materially (≳ 2×) over the value recorded at training time:
    * vectors far from every centroid mean the data moved and recall is
    * silently decaying. Cost: one broadcast join + two bounded
    * aggregations over the cells table — cheap enough for a daily cron.
    */
  def cellStats(cells: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col("cent_id").as("cell"), col("centvec"),
      l2norm(col("centvec")).as("centn"))
    val per = cells.join(broadcast(cent), Seq("cell"))
      .withColumn("cdist",
        lit(1.0) - dot(col("cvec"), col("centvec")) / (col("cn") * col("centn")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), avg("cdist").as("md"))
    val nlist = broadcast(cent.agg(count(lit(1)).as("nlist")))
    val total = broadcast(per.agg(sum("n").as("total")))
    cent.select("cell").join(per, Seq("cell"), "left")
      .crossJoin(nlist).crossJoin(total)
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)) * col("nlist") / col("total"), 6)
          .as("occ_ratio"),
        round(col("md"), 6).as("mean_cdist"))
  }

  /** Embedding-space health report — one row of corpus-level gauges for
    * the representation the similarity/dedup family depends on:
    *
    *   - `n`, `dim`;
    *   - `mean_norm`: average vector L2 norm (a collapsing or exploding
    *     norm distribution breaks cosine thresholds calibrated earlier);
    *   - `center_norm`: L2 norm of the MEAN vector;
    *   - `anisotropy` = center_norm / mean_norm ∈ [0, 1]: ≈ 0 for a
    *     centered, direction-diverse corpus; → 1 when every embedding
    *     points the same way — the classic embedding-collapse /
    *     common-direction pathology (Ethayarajh 2019) that silently
    *     inflates every cosine similarity and ruins threshold-based
    *     near-dup decisions. Track it per model version; a jump is the
    *     re-embed signal, the representation-level sibling of
    *     [[cellStats]]'s quantizer drift.
    *
    * Scale: one explode + a dim-keyed aggregate (dim rows) + one narrow
    * norm aggregate — no corpus-sized shuffle.
    */
  def embeddingStats(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val e = df.select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .select(col("i"), col("v").cast("double").as("v"))
    val center = e.groupBy("i").agg(avg("v").as("m"))
      .agg(sqrt(sum(col("m") * col("m"))).as("center_norm"),
        count(lit(1)).as("dim"))
    val norms = df.select(l2norm(col(vecCol)).as("nrm"))
      .agg(count(lit(1)).as("n"), avg("nrm").as("mn"))
    norms.crossJoin(broadcast(center))
      .select(col("n"), col("dim"),
        round(col("mn"), 6).as("mean_norm"),
        round(col("center_norm"), 6).as("center_norm"),
        round(col("center_norm") / col("mn"), 6).as("anisotropy"))
  }

  /** [[ivfTopK]]'s probe/re-rank stages over an ALREADY-ASSIGNED cell
    * table — a materialized (or streamed) index serves queries without
    * re-assigning the corpus: queries pick their `nprobe` nearest cells
    * (broadcast centroids + a queries-sized window), candidates come from
    * the equi-join on `cell`, exact cosine re-ranks inside probed cells
    * only.
    */
  def ivfProbe(cells: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cent = centroids
      .select(col("cent_id"), col("centvec"), l2norm(col("centvec")).as("centn"))
    // queries → their nprobe nearest cells (queries are few; window is fine).
    val wProbe = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cent_id"))
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        l2norm(col(vecCol)).as("qn"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        dot(col("qvec"), col("centvec")) / (col("qn") * col("centn")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qvec"), col("qn"), col("cent_id").as("cell"))
    // each corpus row lives in exactly one cell → at most one row per
    // (qid, cid), no dedup needed.
    val cands = probes.join(cells, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    cands.withColumn("cos", dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 6).as("cos"))
  }

  /** Approximate top-k via random-hyperplane-ish bucketing: normalize to the
    * unit sphere, bucket with BucketedRandomProjectionLSH, join on bucket
    * collisions, exact cosine re-rank inside the candidate set.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketLength: Double = 0.5, numHashTables: Int = 8,
      maxL2Dist: Double = 1.2): DataFrame = {
    def normalized(df: DataFrame, prefix: String) = {
      // norm as a bound attribute first — see lshCosinePairs.
      df.select(col(idCol).as(s"${prefix}id"), col(vecCol).as(s"${prefix}raw"),
          l2norm(col(vecCol)).as("_n"))
        .select(col(s"${prefix}id"),
          array_to_vector(transform(col(s"${prefix}raw"), x => x.cast("double") / col("_n")))
            .as(s"${prefix}vec"),
          col(s"${prefix}raw"))
    }
    val c = normalized(corpus, "c")
    val q = normalized(queries, "q")
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("cvec").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(c)
    val joined = model.approxSimilarityJoin(
        q.withColumnRenamed("qvec", "cvec"), c, maxL2Dist, "l2")
      .select(col("datasetA.qid").as("qid"), col("datasetB.cid").as("cid"),
        col("datasetA.qraw").as("qraw"), col("datasetB.craw").as("craw"))
      .filter(col("qid") =!= col("cid"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    joined.withColumn("cos", cosine(col("qraw"), col("craw")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn"), round(col("cos"), 6).as("cos"))
  }

  /** Per-label element-wise mean embedding (class prototypes) as
    * (label, i, c, n) rows — one explode + one keyed aggregation, linear;
    * the rows shape is what the SQL oracle states. `i` is 1-based.
    */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("i"))
      .agg(avg(col("v").cast("double")).as("c"), count(lit(1)).as("n"))

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its single nearest
    * centroid cell, then run exact cosine only WITHIN each cell and keep
    * pairs with `cos ≥ threshold`. Emits (id_a, id_b, cell, cos) with
    * id_a < id_b. The cell assignment reuses [[ivfTopK]]'s shape —
    * broadcast centroids, map-side `max_by` (ties → lowest cent_id), the
    * corpus never shuffles to get its cell — and the pair stage is an
    * equi-join on `cell`, so candidate work is Σ|cell|² (bounded by the
    * coarse quantizer), never the |C|² all-pairs of [[cosinePairs]].
    *
    * This is deliberately the recall/cost midpoint between the exact
    * quadratic baseline and banded LSH: within-cell recall is exact, and
    * cross-cell near-dups are the accepted loss (the paper's finding:
    * semantic duplicates co-locate in embedding space, so nearest-cell
    * partitioning keeps almost all of them). Recall vs [[cosinePairs]] is
    * spec-asserted; a 100 TB corpus pays one broadcast scan for
    * assignment plus one cell-keyed shuffle.
    *
    * SIZE THE QUANTIZER: `nlist` must grow with the corpus — Σ|cell|² is
    * only sub-quadratic while cells stay bounded, so pick nlist ≈
    * |C| / desired-cell-size (the paper uses ~100k clusters for
    * web-scale corpora; 16 here is oracle-scale). Pass trained centroids
    * for real data, exactly as [[ivfTopK]] does.
    */
  def semDedupPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(
      corpus.filter(col(idCol) < nlist)
        .select(col(idCol).as("cent_id"), col(vecCol).as("centvec")))
    val assign = assignCells(corpus, cent, idCol, vecCol)
    val a = assign.select(col("cell"), col("cid").as("id_a"),
      col("cvec").as("va"), col("cn").as("na"))
    val b = assign.select(col("cell"), col("cid").as("id_b"),
      col("cvec").as("vb"), col("cn").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cell"), round(col("cos"), 6).as("cos"))
  }

  /** Cross-corpus SemDeDup — the embedding analog of
    * [[Dedup.minHashPairsAcross]]'s shape: semantic near-dup pairs
    * between a NEW batch and a REFERENCE corpus (today's crawl against
    * the standing training set), found only within shared nearest-
    * centroid cells. Both sides assign against the SAME centroid table
    * ([[assignCells]] each — one broadcast pass per side, the reference
    * side reusable/materializable across batches), candidates come from
    * the equi-join on cell, exact cosine decides. Emits
    * (batch_id, corpus_id, cell, cos ≥ threshold). Candidate work is
    * Σ|batch cell|·|corpus cell| — never |B|×|C| — and cross-cell
    * near-dups are the same accepted SemDeDup loss as the self-join
    * variant. Size `nlist` with the corpus exactly as [[semDedupPairs]]
    * documents.
    */
  /** Integer-exact Lloyd k-means over QUANTIZED embeddings — the trained
    * coarse quantizer behind [[ivfTopK]] / [[semDedupPairs]] / the
    * streaming vector index, built so training itself is engine-portable
    * and value-reproducible (the existing centroid story trains nothing:
    * the default quantizer is "rows with id < nlist").
    *
    * Float Lloyd iterations are NOT reproducible across engines: cell
    * means are partition-order-dependent float sums, and a last-ulp
    * centroid wiggle flips assignments at the next iteration, cascading.
    * So every quantity here is an exact integer:
    *   - vectors quantize ONCE to longs, `floor(x·scale + 0.5)` — `scale`
    *     a power of two, so the multiply is a float-exponent shift, exact
    *     for every input float;
    *   - assignment minimizes squared Euclidean distance via the integer
    *     key `|c|² − 2·(q·c)` (the `|q|²` term is constant per row), a
    *     codegen'd [[org.apache.spark.sql.graftfn.LongVectorDot]] per
    *     (row, centroid), ties → lowest cent_id;
    *   - the update is an element-wise truncating integer mean
    *     (`sum div n` — JVM long division ≡ DuckDB `//`, both toward
    *     zero); empty cells keep their previous centroid.
    *
    * Scale shape: centroids broadcast every pass (nlist·dim longs); the
    * corpus is SCANNED once per iteration but never shuffled for
    * assignment (map-side `min_by` partial agg); the mean's
    * groupBy(cell, dim) combines map-side, so the shuffle carries
    * ≤ partitions × nlist × dim partial rows, not the corpus. Only the
    * nlist-row centroid table localCheckpoints between iterations, which
    * truncates the iterated lineage. Seeds: the `nlist` lowest-id rows
    * (TakeOrderedAndProject — never a global sort).
    *
    * Returns (cent_id, c: Array[Long]) — feed [[centroidsToFloat]] to
    * probe with the standard float-vector operators.
    */
  def kmeansQuantized(corpus: DataFrame, nlist: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Long = 1L << 16): DataFrame = {
    require(nlist >= 1 && iters >= 0 && scale >= 1)
    require((scale & (scale - 1)) == 0, "scale must be a power of two (exact float multiply)")
    val qv = kmeansQuantize(corpus, idCol, vecCol, scale)
    var cent = qv.orderBy("cid").limit(nlist)
      .select(col("cid").as("cent_id"), col("q").as("c"))
      .localCheckpoint()
    for (_ <- 1 to iters)
      cent = kmeansRound(qv, cent).localCheckpoint()
    cent
  }

  /** The quantization pass shared by [[kmeansQuantized]]'s seed and
    * iteration stages: (cid, q: Array[Long]).
    */
  def kmeansQuantize(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", scale: Long = 1L << 16): DataFrame =
    corpus.select(col(idCol).as("cid"),
      transform(col(vecCol),
        x => floor(x.cast("double") * scale + lit(0.5)).cast("long")).as("q"))

  /** ONE Lloyd round over quantized vectors `qv` (cid, q) and the current
    * centroid table (cent_id, c) → the updated centroid table. Exposed
    * un-checkpointed so PlanSpec can pin the round's physical plan;
    * [[kmeansQuantized]] loops it with lineage truncation between rounds.
    */
  def kmeansRound(qv: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.LongVectorDot.ldot
    // |c|² on the tiny centroid table — the interpreted HOF is fine here;
    // the per-(row, centroid) hot path below stays codegen'd.
    val cm = cent.withColumn("m",
      aggregate(transform(col("c"), x => x * x), lit(0L), (a, x) => a + x))
    val assigned = qv.crossJoin(broadcast(cm))
      .withColumn("key", col("m") - lit(2L) * ldot(col("q"), col("c")))
      .groupBy("cid")
      .agg(min_by(col("cent_id"), struct(col("key"), col("cent_id"))).as("cell"),
        first(col("q")).as("q"))
    val means = assigned
      .select(col("cell"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("cval", expr("s div n"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        s => s("cval")).as("cnew"))
    cent.join(means, cent("cent_id") === means("cell"), "left")
      .select(col("cent_id"), coalesce(col("cnew"), col("c")).as("c"))
  }

  /** [[kmeansQuantized]] centroids as (cent_id, centvec: Array[Float]) for
    * the float-vector probe operators. Exact: components stay < 2^24 and
    * `scale` is a power of two, so the dequantizing divide and the
    * double→float cast both round nothing.
    */
  def centroidsToFloat(cent: DataFrame, scale: Long = 1L << 16): DataFrame =
    cent.select(col("cent_id"),
      transform(col("c"), x => (x.cast("double") / scale).cast("float")).as("centvec"))

  /** Quantizer REBUILD — the remediation [[cellStats]]' drift heuristic
    * calls for (max occ_ratio ≳ 4, or occupancy-weighted mean_cdist ≳ 2×
    * its training-time value): re-train the coarse quantizer on the
    * CURRENT accumulated vectors and re-assign every one of them. Input
    * is an (already-assigned or streamed) cell table — the old cell
    * labels are discarded; only (cid, cvec) feed the rebuild. Returns
    * (newCentroids (cent_id, centvec), newCells (cell, cid, cvec, cn)) —
    * by construction, [[ivfProbe]] over them ≡ a one-shot [[ivfTopK]]
    * with the new quantizer over the same vectors (the parity
    * q_x_ann_ivf_rebuild states cross-engine). The corpus snapshot is
    * eagerly checkpointed ONCE: it feeds both the Lloyd iterations and
    * the re-assignment, and — in [[graft.streaming.EventStream
    * .rebuildQuantizer]] — must be pinned before the live state tables
    * it came from are swapped out underneath it.
    *
    * Scale: exactly [[kmeansQuantized]] (broadcast centroids, map-side
    * partial aggs, no corpus shuffle per round) plus one
    * [[assignCells]] pass.
    */
  def rebuildQuantizer(cells: DataFrame, nlist: Int, iters: Int,
      scale: Long = 1L << 16): (DataFrame, DataFrame) = {
    val corpus = cells.select(col("cid"), col("cvec")).localCheckpoint(true)
    val cent = centroidsToFloat(
      kmeansQuantized(corpus, nlist, iters, idCol = "cid", vecCol = "cvec",
        scale), scale)
    (cent, assignCells(corpus, cent, idCol = "cid", vecCol = "cvec"))
  }

  def semDedupAcross(batch: DataFrame, corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: DataFrame): DataFrame = {
    val b = assignCells(batch, centroids, idCol, vecCol)
      .select(col("cell"), col("cid").as("batch_id"),
        col("cvec").as("vb"), col("cn").as("nb"))
    val c = assignCells(corpus, centroids, idCol, vecCol)
      .select(col("cell"), col("cid").as("corpus_id"),
        col("cvec").as("vc"), col("cn").as("nc"))
    b.join(c, Seq("cell"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .withColumn("cos", dot(col("vb"), col("vc")) / (col("nb") * col("nc")))
      .filter(col("cos") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("cell"),
        round(col("cos"), 6).as("cos"))
  }

  /** SEMANTIC benchmark decontamination — the paraphrase-leakage class
    * the n-gram rule ([[graft.llmops.Dedup.decontaminate]]) cannot see:
    * a benchmark item rephrased into training data shares no 5-gram but
    * sits next to the original in embedding space (the known hole in
    * GPT-3-style decontamination). Every training vector scores its MAX
    * cosine against the whole benchmark suite; `contaminated` fires at
    * `threshold`, and the best-matching bench item ships for audit.
    *
    * EXACT by choice, stated: the bench side is eval-suite-sized and
    * broadcasts, so the scan is |train| · |bench| scored rows — linear
    * in the corpus with a suite-sized constant (the [[mineTriplets]]
    * exact-baseline stance; for integrity screening a missed leak costs
    * more than the flops, and cell-scoped candidates
    * ([[semDedupAcross]]) would miss cross-cell paraphrases by
    * construction). Returns every train doc:
    * (doc, bench_id, max_cos, contaminated) — ties break to the
    * smallest bench id.
    */
  def decontaminateSemantic(trainVecs: DataFrame, benchVecs: DataFrame,
      threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = broadcast(benchVecs.select(col(idCol).as("bench_id"),
      col(vecCol).as("vb"), l2norm(col(vecCol)).as("nb")))
    trainVecs.select(col(idCol).as("doc"), col(vecCol).as("vt"),
        l2norm(col(vecCol)).as("nt"))
      .crossJoin(b)
      .withColumn("cos", dot(col("vt"), col("vb")) / (col("nt") * col("nb")))
      .groupBy("doc")
      .agg(max_by(col("bench_id"), struct(col("cos"), -col("bench_id")))
          .as("bench_id"),
        round(max(col("cos")), 6).as("max_cos"))
      .withColumn("contaminated", col("max_cos") >= threshold)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 — the CCMatrix/LASER parallel-corpus recipe): two
    * embedding sides (language A documents, language B documents) pair
    * where the RATIO margin
    * `cos(x,y) / ((avgK_B(x) + avgK_A(y)) / 2)` — cosine normalized by
    * each endpoint's mean similarity to its k nearest cross-side
    * neighbours — exceeds `marginThreshold` AND the pair is each side's
    * MUTUAL best by margin. Raw cosine alone over-pairs hub vectors
    * (points close to everything); the margin divides that hubness out,
    * which is why it, not cosine, is the published mining criterion.
    *
    * This is the exact quadratic definition (broadcast right side, the
    * [[bruteForceTopK]] discipline) — the oracle and the correct answer
    * for evaluation slices. At 100 TB-side scale, generate candidates
    * with [[ivfProbe]]/[[annTopK]] first and feed the survivors here as
    * the (then small) sides — margin + mutuality only ever need each
    * candidate's k-neighbourhood, which the probe already bounds.
    */
  def mineBitext(left: DataFrame, right: DataFrame, k: Int,
      marginThreshold: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1)
    val a = left.select(col(idCol).as("aid"), col(vecCol).as("av"),
      l2norm(col(vecCol)).as("an"))
    val b = right.select(col(idCol).as("bid"), col(vecCol).as("bv"),
      l2norm(col(vecCol)).as("bn"))
    val scored = a.crossJoin(broadcast(b))
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .select("aid", "bid", "cos")
    marginMutual(scored, k, marginThreshold)
  }

  /** The margin + mutual-best core shared by [[mineBitext]] (exact pair
    * universe) and [[mineBitextIvf]] (IVF candidate universe): kNN
    * averages per side, ratio margin, each side's argmax, keep mutual
    * pairs over threshold. Every window is side-partitioned.
    */
  private def marginMutual(scored: DataFrame, k: Int,
      marginThreshold: Double): DataFrame = {
    val ranked = scored
      .withColumn("ra", row_number().over(
        Window.partitionBy("aid").orderBy(col("cos").desc, col("bid"))))
      .withColumn("rb", row_number().over(
        Window.partitionBy("bid").orderBy(col("cos").desc, col("aid"))))
    val avgA = ranked.filter(col("ra") <= k)
      .groupBy("aid").agg(avg("cos").as("avg_a"))
    val avgB = ranked.filter(col("rb") <= k)
      .groupBy("bid").agg(avg("cos").as("avg_b"))
    ranked.filter(col("ra") <= k || col("rb") <= k)
      .join(avgA, Seq("aid")).join(avgB, Seq("bid"))
      .withColumn("margin",
        col("cos") / ((col("avg_a") + col("avg_b")) / 2))
      .withColumn("ba", row_number().over(
        Window.partitionBy("aid").orderBy(col("margin").desc, col("bid"))))
      .withColumn("bb", row_number().over(
        Window.partitionBy("bid").orderBy(col("margin").desc, col("aid"))))
      .filter(col("ba") === 1 && col("bb") === 1 &&
        col("margin") >= marginThreshold)
      .select(col("aid"), col("bid"), round(col("cos"), 6).as("cos"),
        round(col("margin"), 6).as("margin"))
  }

  /** [[mineBitext]]'s 100 TB form — the quadratic pair universe replaced
    * by IVF candidates (the [[mineTripletsIvf]] discipline): both sides
    * assign to the SAME coarse centroids; a pair is a candidate when
    * either endpoint's `nprobe` nearest cells contain the other's cell
    * (probing BOTH directions keeps the backward kNN average honest).
    * The margin/mutual machinery then runs identically on the candidate
    * set — kNN averages are over candidates, the stated approximation
    * (spec measures pair recall vs the exact miner). Candidate volume is
    * nprobe × cell occupancy per query — which is only sub-quadratic if
    * `nlist` GROWS with the corpus: size it for constant occupancy
    * (`nlist ≈ |left| / 16`) and the volume is LINEAR; a fixed nlist
    * merely divides the quadratic constant by nlist/nprobe (measured:
    * 63.5× → 14× at 10× data before the occupancy rule, ~linear after).
    * The stress lane rides this variant, the exact one is the oracle.
    */
  def mineBitextIvf(left: DataFrame, right: DataFrame, k: Int,
      marginThreshold: Double = 1.0, nlist: Int = 16, nprobe: Int = 4,
      centroids: Option[DataFrame] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val cent0 = centroids.getOrElse(
      left.filter(col(idCol) < nlist)
        .select(col(idCol).as("cent_id"), col(vecCol).as("centvec")))
    val aCells = assignCells(left, cent0, idCol, vecCol)
      .select(col("cell"), col("cid").as("aid"), col("cvec").as("av"),
        col("cn").as("an"))
    val bCells = assignCells(right, cent0, idCol, vecCol)
      .select(col("cell"), col("cid").as("bid"), col("cvec").as("bv"),
        col("cn").as("bn"))
    val cent = cent0.select(col("cent_id"), col("centvec"),
      l2norm(col("centvec")).as("centn"))
    def probeCells(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId), col(vecCol).as("__v"),
        l2norm(col(vecCol)).as("__n"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        dot(col("__v"), col("centvec")) / (col("__n") * col("centn")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(outId).orderBy(col("ccos").desc, col("cent_id"))))
      .filter(col("prn") <= nprobe)
      .select(col(outId), col("cent_id").as("cell"))
    val cands = probeCells(left, "aid").join(bCells, Seq("cell"))
      .select("aid", "bid")
      .unionAll(probeCells(right, "bid").join(aCells, Seq("cell"))
        .select("aid", "bid"))
      .distinct()
    val scored = cands
      .join(aCells.select("aid", "av", "an"), Seq("aid"))
      .join(bCells.select("bid", "bv", "bn"), Seq("bid"))
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .select("aid", "bid", "cos")
    marginMutual(scored, k, marginThreshold)
  }
}
