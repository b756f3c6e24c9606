package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor stress harness (VERDICT r3 item 5): replicate the sf0.1
  * tables `factor`× with key-space offsets (each replica is a disjoint
  * key range, so joins/graphs grow with the data instead of collapsing
  * into the original key domain), then time the iteration/join-heaviest
  * queries at 1× and `factor`× and report the growth ratio. A
  * sub-quadratic operator should grow ≈ linearly (ratio ≈ factor, modulo
  * fixed overhead); a superlinear ratio flags a plan that would not
  * survive the 100 TB scale-up.
  *
  * Text/embedding payloads replicate unchanged — replicas are exact
  * near-dups, which is the dedup-heavy corpus shape the dedup operators
  * exist for (and the worst realistic case for their candidate joins).
  *
  * Run: sbt 'runMain graft.tools.StressBench
  *   /root/testdata/sf0.1 /tmp/graft_stress 10'
  */
object StressBench {

  private val OffsetCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val StressQueries: Seq[String] = Seq(
    "q_x_dedup_ngram_jaccard", "q_x_dedup_minhash", "q_x_dedup_simhash",
    "q_x_dedup_clusters",
    "q_x_ann_lsh", "q_x_ann_ivf",
    "q_g_blast_radius", "q_g_triangles",
    "q_t_asof_join", "q_x_tfidf_top_terms",
    // r4 additions: the gram-explode aggregations, the bounded-state bloom
    // path, the compressed-ANN cross join, the salted quota window, and
    // the survivor resolution stack.
    "q_x_repetition_ngram", "q_x_quality_gate", "q_x_decon_bloom",
    "q_x_ann_int8", "q_x_source_quota", "q_x_dedup_survivors_quality",
    // r5 additions: the positional-shingle seed join + islands merge (and
    // its scrub), the K-round BPE training loop (vocab-bounded — should be
    // near-flat in corpus size), and the sketch-state fold.
    "q_x_dedup_substring", "q_x_dedup_substring_scrub", "q_x_bpe_tokens",
    "q_a12_sketch_state",
    // r5 batch 2: the packing prefix-sum spine, the sketch-pruned
    // heavy-hitter shuffle, cell-bounded SemDeDup (worst case: replicas
    // are exact semantic dups, so cells fill with true pairs), and the
    // upsampling fan-out.
    "q_x_pack_sequences", "q_x_heavy_hitters", "q_x_semdedup",
    "q_x_source_mix_upsample",
    // r5 batch 3: the two-pass global rank, the cell-bounded dedup
    // end-to-end (pairs + CC + survivors), and the graded
    // decontamination pass.
    "q_x_shuffle_order", "q_x_semdedup_survivors", "q_x_contamination_frac",
    // r6: the inverted-index build (posting lists grow with df — the
    // replicated corpus is its worst case), the broadcast-probe search,
    // the full curation cascade, the two-day incremental dedup replay
    // (same-rotation replicas straddle the odd/even day split: real
    // cross-probe pressure), and the importance-scoring pass.
    "q_x_inverted_index", "q_x_search_topk", "q_x_curation_ledger",
    "q_x_dedup_stream", "q_x_importance_scores", "q_x_search_bm25",
    "q_x_phrase_search", "q_x_selection_topshare", "q_x_data_card",
    "q_x_multimodal_dedup", "q_x_rag_chunk_search",
    // r8: the two-day streaming-curation replay (the heaviest composed
    // pipeline — replicas straddle the %40 day split), RRF fusion (tiny
    // by construction — its inputs are top-k lists), the streamed-IVF
    // assignment-union replay, and the cross-corpus embedding probe
    // (replicas are exact semantic dups of their originals: worst case).
    "q_x_curation_stream", "q_x_search_hybrid", "q_x_ann_ivf_stream",
    "q_x_semdedup_across",
    // r8 batch 2: all three are single-aggregation / pure-map passes and
    // should scale ~linearly — included so a regression can't hide.
    "q_x_shard_manifest", "q_x_dedup_lines", "q_x_text_strip_html",
    // r8 batch 3: the iterative integer Lloyd rounds (per-iteration work
    // is a broadcast scan + a cells×dim-bounded shuffle — should be
    // ~linear), the trained quantizer serving IVF end to end, the binned
    // interval×interval join (explode factor fixed by binWidth), sentence
    // chunking (per-doc windows), and the per-source histogram fold
    // (state bounded at sources×B).
    "q_x_kmeans_centroids", "q_x_ann_ivf_trained", "q_t_interval_join",
    "q_x_sentence_chunks", "q_x_occurrence_quantiles",
    // CDC is the deliberate O(n·w) hasher — its stress row is the
    // regression tripwire for the per-byte explode; the gear form should
    // hold a visible edge over it at every factor.
    "q_x_multimodal_cdc", "q_x_multimodal_cdc_gear",
    // multi-probe fans out (1+bits)x on the query side ONLY — its ratio
    // should track q_x_ann_lsh's, not blow past it.
    "q_x_ann_multiprobe",
    // r8 batch 4: LPA's per-round joins grow with |E| (the co-supply
    // projection densifies — its sparsifiers bound it), triplet mining is
    // the anchored brute-force shape (linear in corpus at fixed anchors),
    // URL canonicalization and the weighted-histogram fold are pure
    // map / bounded-state passes.
    "q_g_communities", "q_x_mine_triplets", "q_x_url_canonical",
    "q_x_weighted_quantiles", "q_x_search_snippets",
    "q_x_search_expanded", "q_x_fuzzy_sorted_neighborhood", "q_g_kcore",
    // the capped-multiset expansion multiplies element rows by <= cap —
    // its ratio should track q_x_dedup_minhash's (times the same
    // true-pair output explosion: identical replicas all pair).
    "q_x_dedup_minhash_weighted", "q_x_rag_sentence_search",
    // trigram matching carries the df cap (prefix-convention quadratic
    // otherwise); projection and mode are narrow/two-stage passes.
    "q_x_fuzzy_trigram", "q_x_random_projection", "q_a14_group_mode",
    // r8 additions: IVF-probed triplet mining (candidate work must track
    // nprobe/nlist of the corpus), planted-signature aHash banding, the
    // cellStats/psi drift reports (bounded aggregates — should be ~flat),
    // Luhn audit + unigram NLL (narrow passes + one broadcast join), and
    // the topic-quota composition (assignment + windowed rank).
    "q_x_mine_triplets_ivf", "q_x_multimodal_ahash_pairs",
    "q_x_ivf_cell_stats", "q_x_pii_luhn", "q_x_quality_unigram_nll",
    "q_x_corpus_drift_psi", "q_x_topic_balanced_quota",
    "q_x_gate_thresholds", "q_x_card_drift_psi", "q_x_embedding_stats",
    "q_x_zipf_fit",
    // r9: TFRecord framing is a pure codegen'd map pass (one CRC32C per
    // payload byte) — must scale linearly with corpus bytes; the rebuild
    // is kmeans training + one assignment pass — linear per round.
    "q_x_tfrecord_frame", "q_x_ann_ivf_rebuild",
    // the composed drift→re-fit loop: two gate-metric passes + bounded
    // per-source histogram folds — must track 2× the gate_thresholds line.
    "q_x_gate_refit",
    // proto encoding is a pure codegen'd map pass — linear in corpus bytes.
    "q_x_tfexample",
    // structural rules are one codegen'd projection; vocab is one agg +
    // a TakeOrderedAndProject cut.
    "q_x_gopher_rules", "q_x_vocab_export",
    // the bigram table grows with the corpus — the shuffle-join path is
    // exactly what the stress row watches.
    "q_x_quality_bigram_nll",
    // one codegen'd regexp chain — scan-speed like strip_html.
    "q_x_text_strip_markdown",
    // ledger join + bounded roll-up — must track the ledger line.
    "q_x_curation_attrition",
    // r10 script-aware text stack: script tokens + script langid are pure
    // codegen'd regexp projections (scan speed); the ngram langid explodes
    // a BOUNDED 1000-char prefix per doc and broadcast-joins a fixed
    // profile — all three must scale linearly with docs.
    "q_x_text_script_tokens", "q_x_text_langid_script", "q_x_text_langid_ngram",
    // WARC write+read round trips: one codegen'd record-assembly pass, a
    // shards-shuffle, distributed member-per-record gzip out and one
    // whole-shard parse per task back — must scale linearly in corpus
    // bytes like the tfrecord line.
    "q_x_warc_interop", "q_x_warc_front_door",
    // audio envelope banding rides the shared hashBandedPairs machinery —
    // the stress row watches the same banded-join scaling as the image lane.
    "q_x_multimodal_audio_pairs",
    // fitted-gate application: one gate-metric pass + a sources-sized
    // broadcast threshold join — must track the gate_thresholds line.
    "q_x_gate_fitted_apply",
    // langid→mixture composition: the langid projection + a strata-sized
    // plan + one hash-bucket sampling pass — linear like source_mix.
    "q_x_mixture_by_langid",
    // domain blocklist: ≤8-suffix explode + broadcast equi-join — linear.
    "q_x_url_host_blocklist",
    // per-site boilerplate: (group, line-hash) df count + two-key
    // anti-join — tracks the global dedup_lines line.
    "q_x_dedup_lines_host",
    // token-weighted mixture + script-mix card: one keyed agg each.
    "q_x_source_mix_tokens", "q_x_card_script_mix",
    // perceptron classifier: K bounded rounds over the labeled quarter
    // (two linear shuffles each, dim-capped broadcast weights) + one
    // corpus-wide scoring pass.
    "q_x_quality_classifier",
    // CJK sentence chunking: per-doc regexp split + bounded window.
    "q_x_sentence_chunks_cjk",
    // distillation: gate cascade ×2 halves + 2 training rounds.
    "q_x_classifier_distill",
    // curriculum: NLL pass + bounded-histogram split + broadcast join.
    "q_x_curriculum_phases",
    // pHash banding: the shared banded-pairs machinery, planted sigs.
    "q_x_multimodal_phash_pairs",
    // ledger diff: one full-outer equi-join + codegen'd CASE.
    "q_x_ledger_diff",
    // packed loss mask: PII chain + prefix-sum spine + posexplode.
    "q_x_packed_loss_mask",
    // chat SFT: conv-partitioned windows + template explode.
    "q_x_chat_sft_tokens",
    // FIM: pure per-row projection — the no-shuffle control lane.
    "q_x_fim_transform",
    // link graph: regexp explode + low-cardinality host-edge agg.
    "q_x_link_host_graph",
    // code quality: per-row line-geometry gauges, no shuffle.
    "q_x_code_quality",
    // epochs plan: corpus-touching count + plan-table arithmetic.
    "q_x_epochs_plan",
    // bitext mining rides its IVF form here: the exact miner is the
    // quadratic oracle baseline BY DESIGN (measured 63.5x at 10x — the
    // cross product does what cross products do; same class as
    // cosinePairs/bruteForceTopK, which are likewise not stressed).
    "q_x_bitext_mining_ivf",
    // bloom seen-set: explode + bounded word-table agg + broadcast probe.
    "q_x_bloom_seen_set",
    // repetition gauges: per-row folds + one doc-keyed token count.
    "q_x_repetition_gauges",
    // unicode normalize: codegen'd expression + regexp, no shuffle.
    "q_x_unicode_normalize",
    // SFT packing: chat render + count + prefix-sum spine + keyed join.
    "q_x_sft_packed",
    // length batching: composite-key prefix sum + bounded offsets join.
    "q_x_length_batches",
    // script segments: explode + doc-partitioned islands windows.
    "q_x_script_segments",
    // host prior: gate pass + one host-keyed map-side roll-up.
    "q_x_host_quality_prior",
    // card markdown: dataCard + one bounded collect_list render.
    "q_x_card_markdown",
    // prior->blocklist loop: gate + roll-up + broadcast suffix join.
    "q_x_host_prior_blocklist",
    // interpolated NLL: gram explode + one shuffle bigram join.
    "q_x_quality_interp_nll",
    // preference pairs: prompt-partitioned rank windows + one (prompt,
    // rank) equi-join + per-pair codegen'd Jaccard; the composed split /
    // audit / decon stages ride their own previously-stressed shapes.
    "q_x_preference_pairs",
    // token .bin/.idx round trip: a fixed-width encode pass + one
    // shard-partitioned write and a whole-shard parse per task back —
    // linear in corpus tokens like the tfrecord/warc lines.
    "q_x_token_bin_interop",
    // unigram trainer: everything runs on the DISTINCT-WORD table (the
    // bpe_tokens precedent) — corpus size enters through one token
    // count; should be near-flat at 10x replicated text.
    "q_x_unigram_vocab",
    // host authority: link explode is output-sized, the graph/pagerank
    // runs on the HOST-cardinality distinct pairs (bounded), the bloom
    // probe broadcasts — should scale with extracted links only.
    "q_x_host_authority",
    // pdf round trip: per-partition build out, one whole-file scan per
    // task back — linear in corpus bytes like the warc/tfrecord lines.
    "q_x_pdf_interop",
    // robots: rule table is hosts x a-few-rules (broadcast), decision is
    // one max-struct agg keyed by url — linear in frontier size.
    "q_x_robots_filter",
    // best-of-n: two prompt-partitioned windows + a filter — linear.
    "q_x_best_of_n",
    // tokenize+export: training is distinct-word-bounded (the
    // unigram_vocab lane); corpus-linear parts are the segment join and
    // the binary round trip — should track token volume.
    "q_x_tokenize_export",
    // unpaired prefs: one keyed agg + broadcast-back join — linear.
    "q_x_unpaired_prefs",
    // crawl waves: range-bucketed per-host rank + broadcast slice
    // offsets — linear in frontier, hot-host-proof by construction.
    "q_x_crawl_waves",
    // CJK unigram trainer: same distinct-word-bounded lanes as
    // unigram_vocab with the scriptTokens pre-tokenizer (per-char CJK
    // explode is corpus-linear, training is vocab-bounded).
    "q_x_unigram_vocab_cjk",
    // crawl-delay budgets: robots parse is hosts-sized, budgets
    // broadcast, the rank is the bucketed crawl_waves spine.
    "q_x_crawl_waves_delay",
    // fragment-geometry shards: one extra per-fragment explode over the
    // token_bin_interop lanes — still linear in corpus tokens.
    "q_x_token_bin_docs",
    // artifact table: training is the unigram_vocab lane; the rank +
    // format projection is vocab-bounded.
    "q_x_vocab_artifact",
    // detokenize: segment join (corpus-linear) + one keyed reassembly
    // agg — tracks token volume.
    "q_x_detokenize",
    // packed export: the two-pass prefix-sum spine + per-doc bounded
    // windows + the token_bin lanes — linear in corpus tokens.
    "q_x_packed_export",
    // bpe artifact: the K-round training lanes (driver round per merge,
    // each a word-vocab-bounded window) + an alphabet-sized projection.
    "q_x_bpe_artifact",
    // sitemap discovery: robots-sized line explode + regexp projection.
    "q_x_robots_sitemaps",
    // sitemap XML parse: one codegen'd regexp pass per body, no shuffle.
    "q_x_sitemap_parse",
    // control-token artifact: the unigram training lane + a shifted
    // vocab-bounded rank projection.
    "q_x_vocab_controls",
    // eod export: append + the packed-export spine + binary round trip.
    "q_x_eod_export",
    // DSIR: two hashed-ngram explode+count passes (corpus-linear, dense
    // bucket tables broadcast) + one keyed weight sum + Gumbel TakeOrdered.
    "q_x_dsir",
    // ARPA table: unigram/context aggs vocab-bounded; the bigram count
    // is one shuffle agg over adjacent pairs — corpus-linear.
    "q_x_arpa_lm",
    // ARPA scoring: pair explode + one shuffle bigram join + broadcast
    // unigram/bow joins + keyed sum — the bigram_nll lane shape.
    "q_x_arpa_score",
    // byte fallback: fixed planted input — expect flat; the lane guards
    // the DP/expansion plan shape, not volume scaling.
    "q_x_byte_fallback",
    // span decon: cross-side fp probe (bench-sized) + covered-position
    // anti-join + keyed reassembly — the substring_across lane shape.
    "q_x_decon_spans",
    // group advantages: one map-side groupBy + one equi-join back.
    "q_x_group_advantages",
    // term blocklist: one shingle pass per distinct phrase length,
    // broadcast terms — corpus-linear with a small constant.
    "q_x_term_blocklist",
    // coherent order: broadcast centroid assignment + range-bucketed
    // rank — linear in vector count, offsets table bucket-bounded.
    "q_x_coherent_order",
    // crawl frontier step x2: canonical projection + keyed collapse +
    // broadcast robots + bloom probe/merge — batch-linear; the bloom
    // state is mBits-bounded at any arrival volume.
    "q_x_crawl_frontier",
    // main-content extraction: one codegen'd projection (block split +
    // per-block array lambdas), zero shuffles — the stripHtml lane.
    "q_x_main_content",
    // composed web pipeline: blocklist suffix join (broadcast) + the
    // main-content projection + the gate's two keyed shuffles — the sum
    // of three previously-stressed shapes.
    "q_x_web_pipeline",
    // byte-level encode: one codegen'd projection (hex walk + map
    // lookups inside array lambdas), zero shuffles.
    "q_x_byte_level",
    // content opt-outs: meta-tag extract + per-tag lambdas — the
    // stripHtml lane, zero shuffles.
    "q_x_content_optouts",
    // semantic decon: bench broadcast, one pass over train vectors —
    // linear in train with a suite-sized constant.
    "q_x_decon_semantic",
    // agent-specific robots groups: robots-sized line explode + the
    // bounded per-host grouping windows + one selection join.
    "q_x_robots_agent",
    // contamination report: bench shingles broadcast, pair fan-out
    // bounded by the observable df cap, two keyed aggs.
    "q_x_contamination_report",
    // BPE serving: K merge rounds over the serving corpus's DISTINCT
    // words + one join back — the training lane's shape at serve time.
    "q_x_bpe_segment",
    // WordPiece trainer: the BPE training lanes (pair groupBy + symbol
    // groupBy + two vocab-bounded joins per round) on the distinct-word
    // table — near-flat at replicated text, like unigram_vocab.
    "q_x_wordpiece_merges",
    // WordPiece serving: training lanes + the greedy fold over distinct
    // words + one corpus join back — tracks token volume.
    "q_x_wordpiece_segment",
    // WordPiece artifact: training lanes + an alphabet-bounded collect.
    "q_x_wordpiece_artifact",
    // safetensors round trip: fixed-width encode + shard-partitioned
    // write, whole-shard parse back — linear in vector bytes (the
    // token_bin lane for embeddings).
    "q_x_safetensors_interop",
    // Bradley-Terry: pair-stream groupBys + 3 rounds of two keyed
    // adjacency joins + a keyed sum — linear in judgments (items fixed).
    "q_x_reward_fit",
    // Naive Bayes: feature explode+count (corpus-linear), the fit one
    // groupBy with a dim x classes-bounded model, scoring one
    // classes-expansion keyed sum + per-doc bounded window.
    "q_x_naive_bayes_langid",
    // MMR: candidate stage is queries x corpus (fixed query set), the
    // greedy fold per-query bounded by top-N — tracks the brute-force
    // candidate cost, never the fold.
    "q_x_mmr_rerank",
    // trigram ARPA: the bigram lanes + one more gram-explode groupBy and
    // the (w1,w2)-keyed context aggs — corpus-linear like arpa_lm.
    "q_x_arpa3_lm",
    // trigram scoring: triple explode + two shuffle gram joins +
    // broadcast uni/bow joins — the arpa_score lane one order up.
    "q_x_arpa3_score",
    // containment: prefix x inverted-index candidates + exact shared
    // counts — replicas are exact dups (every doc pairs with its
    // replicas, the dedup_minhash worst case), output grows with true
    // pairs; the df cap bounds the hot-shingle fan-out.
    "q_x_dedup_containment",
    // composed preference pipeline: the preference_pairs lanes (two
    // prompt-partitioned windows + pair Jaccard) + the BT rounds over
    // the judgment-collapsed items x items adjacency.
    "q_x_reward_pipeline",
    // FS linkage: one adjacency self-join (pair build), one labeled
    // agg, then the PURE-projection scoring — linear in pairs.
    "q_x_record_linkage",
    // soft dedup: the dedup_clusters lanes + one cluster-size agg and
    // a join back — tracks the clusters line.
    "q_x_soft_dedup",
    // MMR over IVF candidates: the production lane — cell assignment is
    // vectors x 16 centroids (linear), candidates cell-bounded; must
    // hold far under the exact q_x_mmr_rerank lane's slope-1 cost.
    "q_x_mmr_ivf",
    // r13: magic-byte kind detection — a pure codegen CASE over binary
    // prefixes riding the scan; must be strictly linear.
    "q_x_detect_kind",
    // r13: SentencePiece .model export→import — the unigram training
    // lanes (distinct-word-bounded) + a vocab-bounded proto write/read.
    "q_x_sp_model",
    // r13: two-generation frontier replay — two adjudication passes +
    // a queue-sized bloom reseed; batch-linear like q_x_crawl_frontier.
    "q_x_crawl_regen",
    // r13: the KN trigram trainer — the arpa3 lanes plus two
    // distinct-pair aggregations (ckn/ucont); corpus-linear.
    "q_x_arpa3_kn",
    // r13: the decode-coverage gauge — per-payload real decodes
    // (PNG/VP8L/WAV) inside mapPartitions + one kinds-bounded agg.
    "q_x_decode_coverage",
    // r13: scan-side header dims — pure hex/conv codegen, strictly
    // linear like q_x_detect_kind (r14 adds the TIFF IFD lanes: one
    // dynamic substring + an interpreted lambda walk per row — still
    // per-row-constant work).
    "q_x_image_dims",
    // r14: scan-side audio headers — FLAC/WAV fixed-offset arithmetic,
    // strictly linear like q_x_image_dims.
    "q_x_audio_dims",
    // r14: per-URL revisit scheduling — two history folds (full-outer
    // joins on the URL-count-bounded state) + one lastmod join;
    // corpus-linear like q_x_crawl_frontier.
    "q_x_crawl_revisit",
    // r14: WebDataset tar write+read round trip — per-row member
    // assembly out, one whole-shard parse per task back; linear in
    // corpus bytes like the warc/tfrecord lanes.
    "q_x_webdataset_interop",
    // r14: scan-side video headers — canonical-AVI fixed-offset
    // arithmetic, strictly linear like the image/audio dims lanes.
    "q_x_video_dims",
    // r14: the composed size gate — all three dims columns + the rule
    // CASE in one codegen span; must track the dims lanes.
    "q_x_media_size_gate",
    // r15: the JVM-walk video front door (WebM EBML + mp4 sample
    // tables) — per-payload header walks inside mapPartitions, strictly
    // linear like q_x_decode_coverage.
    "q_x_video_meta",
    // r15: FLAC encode+decode+envelope per payload inside
    // mapPartitions — pure per-row CPU, linear like the decode lanes.
    "q_x_flac_envelope",
    // r15: the media data card — one decode pass + one
    // (sources x kinds)-bounded agg; linear like q_x_decode_coverage.
    "q_x_media_data_card",
    // r15: CID-PDF parse per payload inside mapPartitions — per-row
    // byte work, linear like the interop lanes.
    "q_x_pdf_cid",
    // r15: the JVM audio walks (ogg/opus, vorbis, the mp3 frame hop,
    // the m4a moov walk, the ADTS hop, the AIFF COMM walk) —
    // per-payload header reads, linear like q_x_video_meta.
    "q_x_audio_meta",
    // r15: document-format extraction — zip+StAX (docx/epub) and the
    // line-walk cue parser per payload inside mapPartitions; per-row
    // byte work, linear like q_x_pdf_cid.
    "q_x_docx_text", "q_x_epub_text", "q_x_subtitle_cues",
    // r15: the composed document router — one dispatch + the routed
    // extractor per payload; must track the max of its member lanes.
    "q_x_doc_router",
    // r15: HLS playlist parses — line walks per payload, scan-linear.
    "q_x_hls_media", "q_x_hls_master",
    // r15: the TS packet-grid walk — per-payload byte hop, scan-linear.
    "q_x_ts_probe",
    // r15: manifest/feed XML parses — per-payload StAX walks, linear.
    "q_x_dash_mpd", "q_x_rss_enclosures",
    // r15: sidx/EXIF walks — per-payload bounded byte reads, linear.
    "q_x_mp4seg_duration", "q_x_exif_orientation")

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outBase = args.lift(1).getOrElse("/tmp/graft_stress")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated name substrings — stress only the
    // matching queries (the Verify local-iteration aid).
    val selected = args.lift(3).map(_.split(",").toSeq) match {
      case Some(pats) => StressQueries.filter(n => pats.exists(n.contains))
      case None => StressQueries
    }
    val spark = GraftSession.builder()
      // scaleTable reads events.parquet (TIMESTAMP(NANOS)) raw, before any
      // query's Tables.events has set this on the session.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def scaleTable(name: String, f: Int, outDir: String): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val scaled = OffsetCols.get(name).filter(_ => f > 1).map { ids =>
        val rep = scaled0(df, ids, f)
        // Documents get a per-replica vowel rotation: without it every
        // replica is a near-dup of every other replica of the same doc,
        // and the TRUE near-dup pair count grows quadratically in the
        // factor — a genuine output explosion that would masquerade as a
        // superlinear plan. Rotated replicas share almost no shingles, so
        // pair growth stays ~linear and ratios stay interpretable.
        val out =
          if (name == "documents") {
            val rots = (0 until 5).map(r => "aeiou".drop(r) + "aeiou".take(r))
            rep.withColumn("text",
              (1 until 5).foldLeft(when(col("_rep") % 5 === 0, col("text"))) {
                (acc, r) =>
                  acc.when(col("_rep") % 5 === r,
                    translate(col("text"), "aeiou", rots(r)))
              })
          } else rep
        out.drop("_rep")
      }.getOrElse(df)
      scaled.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    // offset = (max+1) per id column → disjoint key ranges per replica;
    // keeps `_rep` for payload perturbation, dropped by the caller.
    def scaled0(df: DataFrame, ids: Seq[String], f: Int): DataFrame = {
      val aggs = ids.map(c => max(col(c)).as(c))
      val maxRow = df.agg(aggs.head, aggs.tail: _*).head()
      val offsets = ids.zipWithIndex.map { case (c, i) => c -> (maxRow.getLong(i) + 1L) }.toMap
      val rep = df.crossJoin(spark.range(f).select(col("id").as("_rep")))
      ids.foldLeft(rep) { (acc, c) =>
        acc.withColumn(c, col(c) + col("_rep") * offsets(c))
      }
    }

    def buildDir(f: Int): String = {
      val outDir = s"$outBase/f$f"
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        scaleTable(t, f, outDir)
      }
      outDir
    }

    def timeAll(dir: String): Map[String, Double] =
      selected.map { name =>
        val t0 = System.nanoTime()
        val n = try { SparkEntry.queries(name)(spark, dir).count() } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[stress] $name FAILED: ${e.getMessage}"); -1L
        }
        val sec = if (n < 0) -1.0 else (System.nanoTime() - t0) / 1e9
        System.err.println(f"[stress] $dir $name%-28s $sec%8.2f s ($n rows)")
        name -> sec
      }.toMap

    val d1 = buildDir(1)
    val dF = buildDir(factor)
    val t1 = timeAll(d1)
    val tF = timeAll(dF)
    def fmt(m: Map[String, Double]) = selected
      .map(q => s"\"$q\":${m(q)}").mkString("{", ",", "}")
    val ratios = selected.map { q =>
      val r = if (t1(q) > 0 && tF(q) > 0) tF(q) / t1(q) else -1.0
      s"\"$q\":${math.round(r * 100) / 100.0}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stress","factor":$factor,"t1":${fmt(t1)},""" +
      s""""tf":${fmt(tF)},"ratio":$ratios}""")
    spark.stop()
  }
}
