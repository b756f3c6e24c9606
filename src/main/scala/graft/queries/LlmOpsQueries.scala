package graft.queries

import graft.{OracleQuery, QueryModule, Tables}
import graft.llmops.{Bpe, Classify, Corpus, Dedup, FuzzyMatch, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (SURVEY §2.11 north-star extensions)
  * over the `documents` / `embeddings` tables. EVERY query carries a DuckDB
  * oracle — including the approximate paths (minhash / simhash / sign-LSH
  * ANN / the multimodal float32 codec), whose decisions are made portable
  * by PortableHash; the approximate paths are additionally recall-tested
  * against exact ground truth in LlmOpsSpec.
  */
object LlmOpsQueries extends QueryModule {

  private def q(name: String, sql: String)(run: (SparkSession, String) => DataFrame) =
    OracleQuery(name, run, Some(sql))

  private val stopwordSqlList =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB mirror of TextAnalysis.qualityGate at the thresholds the
    * oracled queries use (minTokens 20, avgTokenLen ≤ 5.0, TTR ≥ 0.35,
    * dupGramFrac ≤ 0.2), parameterized over the input relation so the
    * same fragment serves the standalone gate and the curation cascade.
    */
  private def qualityGateSqlOver(rel: String): String = {
    val reasonCase =
      "CASE WHEN n_tokens < 20 THEN 'too_short' WHEN n_tokens > 100000 THEN 'too_long' " +
        "WHEN avg_token_len < 2.0 THEN 'short_tokens' WHEN avg_token_len > 5.0 THEN 'long_tokens' " +
        "WHEN type_token_ratio < 0.35 THEN 'low_diversity' WHEN dup_gram_char_frac > 0.2 THEN 'repetitive' " +
        "ELSE 'keep' END"
    s"WITH t AS (SELECT doc_id, text, CAST(length(trim(text)) AS BIGINT) AS n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM $rel), " +
      "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t WHERE len(toks) >= 2), " +
      "pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2), " +
      "agg AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_chars FROM pg GROUP BY 1), " +
      "m AS (SELECT t.doc_id AS doc, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len, " +
      "round(CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE) / len(toks), 6) AS type_token_ratio, " +
      "coalesce(round(CAST(a.dup_chars AS DOUBLE) / t.n_chars, 6), 0) AS dup_gram_char_frac " +
      "FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id) " +
      "SELECT doc, n_tokens, avg_token_len, type_token_ratio, dup_gram_char_frac, " +
      s"$reasonCase AS reason, $reasonCase = 'keep' AS keep FROM m"
  }

  /** Shared CTE chain for the exact-substring queries: tokenized docs (t),
    * width-8 positional shingle fingerprints with the ≤128 ubiquity cap
    * (cool), cross-doc seed matches, diagonal islands, and the final
    * maximal `spans` (da, db, a_start, b_start 0-based, span_tokens ≥ 12) —
    * the verbatim DuckDB replay of Dedup.sharedSpans.
    */
  private val substringCoolSql: String = {
    val fp = graft.llmops.PortableHash.duckHash52(
      "array_to_string(list_slice(t.toks, s.p, s.p + 7), ' ')")
    "t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
      "sh AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS p FROM t WHERE len(toks) >= 8), " +
      s"f0 AS (SELECT s.doc_id, s.p, $fp AS fp FROM sh s JOIN t ON t.doc_id = s.doc_id), " +
      "cool AS (SELECT * FROM f0 WHERE fp IN (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 128))"
  }

  private val substringSpansSql: String =
    substringCoolSql + ", " +
      "seeds AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc_id < b.doc_id), " +
      "runs AS (SELECT da, db, pa - pb AS diag, pa, pb, pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS isl FROM seeds), " +
      "spans AS (SELECT da, db, min(pa) - 1 AS a_start, min(pb) - 1 AS b_start, max(pa) - min(pa) + 8 AS span_tokens FROM runs GROUP BY da, db, diag, isl HAVING max(pa) - min(pa) + 8 >= 12)"

  /** Merge count for the trained-BPE queries — small enough that the
    * unrolled oracle stays tractable, large enough that merged symbols
    * themselves re-merge (multi-character subwords appear).
    */
  private val BpeK = 8

  /** Planted common text for q_x_curation_stream's exact-dup/cross-dup
    * docs (doc_id % 100 = 13): 24 distinct words, avg token length
    * 98/24 ≈ 4.1 — passes every quality-gate rule, so the dedup stages
    * (not the gate) decide its fate.
    */
  private val PlantedDupText =
    "the quick brown fox jumps over a lazy dog while seven wise cats " +
      "watch four tiny birds sing under warm amber light at dawn"

  /** Planted benchmark-question text for q_x_preference_pairs: prompts of
    * the contaminated class carry it verbatim AND it is injected into the
    * bench slice, so 5-gram decontamination provably fires on prompts.
    */
  private val PlantedContamText =
    "which ancient city stood beside the wide green river when the old " +
      "empire fell and trade routes moved north toward the cold sea"

  /** Unrolled K-round BPE training as a DuckDB WITH-chain — replays
    * [[graft.llmops.Bpe.learnMerges]] value-for-value (see Bpe's scaladoc
    * for the island-parity greedy rewrite shared by both engines). Each
    * round j: p=pairs, b=argmax pair (deterministic ties), c=candidates,
    * d=islands of consecutive candidates, e=parity keep, f=consumed-drop,
    * s(j+1)=rewritten positions. Callers append a final SELECT over s$k
    * (positions) and/or b0..b{k−1} (the merge table).
    */
  private def bpeRoundsSql(k: Int): String = {
    val base =
      "v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents) GROUP BY 1), " +
        "s0p AS (SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM v), " +
        "s0 AS (SELECT word, freq, CAST(i AS BIGINT) AS i, substr(word, i, 1) AS s FROM s0p), "
    val rounds = (0 until k).map { j =>
      s"p$j AS (SELECT word, freq, i, s, lead(s) OVER (PARTITION BY word ORDER BY i) AS s2 FROM s$j), " +
        s"b$j AS (SELECT s AS lhs, s2 AS rhs, CAST(sum(freq) AS BIGINT) AS pf FROM p$j WHERE s2 IS NOT NULL GROUP BY 1, 2 ORDER BY pf DESC, lhs, rhs LIMIT 1), " +
        s"c$j AS (SELECT p.word, p.freq, p.i, p.s, (p.s2 IS NOT NULL AND p.s = b.lhs AND p.s2 = b.rhs) AS cand, b.lhs AS ml, b.rhs AS mr FROM p$j p CROSS JOIN b$j b), " +
        s"d$j AS (SELECT *, CASE WHEN cand THEN i - sum(CASE WHEN cand THEN 1 ELSE 0 END) OVER (PARTITION BY word ORDER BY i ROWS UNBOUNDED PRECEDING) END AS isl FROM c$j), " +
        s"e$j AS (SELECT *, cand AND ((i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0) AS keep FROM d$j), " +
        s"f$j AS (SELECT *, coalesce(lag(keep) OVER (PARTITION BY word ORDER BY i), false) AS dropped FROM e$j), " +
        s"s${j + 1} AS (SELECT word, freq, CAST(row_number() OVER (PARTITION BY word ORDER BY i) AS BIGINT) AS i, CASE WHEN keep THEN ml || mr ELSE s END AS s FROM f$j WHERE NOT dropped)"
    }.mkString(", ")
    "WITH " + base + rounds
  }

  /** DuckDB mirror of Dedup.minHashPairs (H = 5 tables, n = 3, dist ≤ 0.3),
    * built from the SAME PortableHash constants as the Spark side — the
    * signatures, candidates and exact-Jaccard verification are replicated
    * value-for-value, so this is a full hash-match oracle.
    */
  private def minHashSqlOver(rel: String): String = {
    import graft.llmops.PortableHash
    val h = 5
    val sigCols = (0 until h)
      .map(i => s"min(${PortableHash.duckMinhashPerm("h", i)}) AS m$i").mkString(", ")
    val sigList = (0 until h).map(i => s"m$i").mkString("[", ", ", "]")
    s"WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $rel) WHERE len(t) >= 3), " +
      s"ex AS (SELECT DISTINCT doc_id, ${PortableHash.duckHash52("s")} AS h FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)), " +
      s"sigs AS (SELECT doc_id, $sigCols FROM ex GROUP BY doc_id), " +
      s"banded AS (SELECT doc_id, b.band AS band, $sigList[b.band + 1] AS sig FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${h - 1})) AS band) b), " +
      "cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM banded x JOIN banded y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1), " +
      "shared AS (SELECT c.id_a, c.id_b, count(*) AS sh FROM cands c JOIN ex a ON a.doc_id = c.id_a JOIN ex b ON b.doc_id = c.id_b AND b.h = a.h GROUP BY 1, 2) " +
      "SELECT s.id_a, s.id_b, round(1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh), 6) AS jaccard_dist " +
      "FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id JOIN sizes sb ON s.id_b = sb.doc_id " +
      "WHERE 1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh) <= 0.3 ORDER BY 1, 2"
  }

  private val minHashOracleSql: String = minHashSqlOver("documents")

  /** DuckDB mirror of Dedup.weightedMinHashPairs (cap 3, H = 5, n = 3,
    * dist ≤ 0.3): NON-distinct shingles with counts, capped-multiset
    * expansion hashed with the copy index, then the identical
    * signature/band/verify chain as the unweighted oracle.
    */
  private val weightedMinHashOracleSql: String = {
    import graft.llmops.PortableHash
    val h = 5
    val sigCols = (0 until h)
      .map(i => s"min(${PortableHash.duckMinhashPerm("h", i)}) AS m$i").mkString(", ")
    val sigList = (0 until h).map(i => s"m$i").mkString("[", ", ", "]")
    val eh = PortableHash.duckHash52("g || '#' || CAST(i AS VARCHAR)")
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents), " +
      "g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM t WHERE len(t) >= 3), " +
      "wtf AS (SELECT doc_id, g, count(*) AS tf FROM g0 GROUP BY 1, 2), " +
      s"ex AS (SELECT doc_id, $eh AS h FROM (SELECT doc_id, g, unnest(generate_series(1, least(tf, 3))) AS i FROM wtf)), " +
      s"sigs AS (SELECT doc_id, $sigCols FROM ex GROUP BY doc_id), " +
      s"banded AS (SELECT doc_id, b.band AS band, $sigList[b.band + 1] AS sig FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${h - 1})) AS band) b), " +
      "cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM banded x JOIN banded y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1), " +
      "shared AS (SELECT c.id_a, c.id_b, count(*) AS sh FROM cands c JOIN ex a ON a.doc_id = c.id_a JOIN ex b ON b.doc_id = c.id_b AND b.h = a.h GROUP BY 1, 2) " +
      "SELECT s.id_a, s.id_b, round(1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh), 6) AS jaccard_dist " +
      "FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id JOIN sizes sb ON s.id_b = sb.doc_id " +
      "WHERE 1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh) <= 0.3 ORDER BY 1, 2"
  }

  /** Cross-corpus variant of the minhash oracle: corpus = even doc_ids,
    * batch = odd; candidates pair strictly across the sides.
    */
  private val minHashAcrossOracleSql: String = {
    import graft.llmops.PortableHash
    val h = 5
    val sigCols = (0 until h)
      .map(i => s"min(${PortableHash.duckMinhashPerm("h", i)}) AS m$i").mkString(", ")
    val sigList = (0 until h).map(i => s"m$i").mkString("[", ", ", "]")
    "WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) WHERE len(t) >= 3), " +
      s"ex AS (SELECT DISTINCT doc_id, ${PortableHash.duckHash52("s")} AS h FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)), " +
      s"sigs AS (SELECT doc_id, $sigCols FROM ex GROUP BY doc_id), " +
      s"banded AS (SELECT doc_id, b.band AS band, $sigList[b.band + 1] AS sig FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${h - 1})) AS band) b), " +
      "cands AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id FROM banded x JOIN banded y ON x.band = y.band AND x.sig = y.sig AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1), " +
      "shared AS (SELECT c.batch_id, c.corpus_id, count(*) AS sh FROM cands c JOIN ex a ON a.doc_id = c.batch_id JOIN ex b ON b.doc_id = c.corpus_id AND b.h = a.h GROUP BY 1, 2) " +
      "SELECT s.batch_id, s.corpus_id, round(1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh), 6) AS jaccard_dist " +
      "FROM shared s JOIN sizes sa ON s.batch_id = sa.doc_id JOIN sizes sb ON s.corpus_id = sb.doc_id " +
      "WHERE 1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh) <= 0.3 ORDER BY 1, 2"
  }

  /** DuckDB mirror of the Selection.importanceWeights/importanceScores
    * pipeline (target = src1, 2-grams, 8192 buckets, scale 10⁶) — shared
    * by the scoring query and the top-share selection replay.
    */
  private val importanceScoresSql: String = {
    val h = graft.llmops.PortableHash.duckHash52("s")
    val twoGram = "list_distinct(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))"
    s"WITH rsh AS (SELECT DISTINCT doc_id, $h AS hh FROM (SELECT doc_id, unnest(sh) AS s FROM " +
      s"(SELECT doc_id, $twoGram AS sh FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) rt WHERE len(t) >= 2) r0) r1), " +
      "rb AS (SELECT doc_id, hh % 8192 AS bucket FROM rsh), " +
      s"tsh AS (SELECT DISTINCT doc_id, $h AS hh FROM (SELECT doc_id, unnest(sh) AS s FROM " +
      s"(SELECT doc_id, $twoGram AS sh FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents WHERE source = 'src1') tt WHERE len(t) >= 2) t0) t1), " +
      "tb AS (SELECT doc_id, hh % 8192 AS bucket FROM tsh), " +
      "cr AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_r FROM rb GROUP BY 1), " +
      "ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_t FROM tb GROUP BY 1), " +
      "tot AS (SELECT (SELECT CAST(sum(c_r) AS BIGINT) FROM cr) AS nr, (SELECT CAST(coalesce(sum(c_t), 0) AS BIGINT) FROM ct) AS nt), " +
      "w AS (SELECT coalesce(cr.bucket, ct.bucket) AS bucket, " +
      "CAST((1000000 * (coalesce(ct.c_t, 0) + 1) * (tot.nr + 8192)) // ((coalesce(cr.c_r, 0) + 1) * (tot.nt + 8192)) AS BIGINT) AS w " +
      "FROM cr FULL OUTER JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tot), " +
      "sc AS (SELECT rb.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(w.w) AS BIGINT) AS w_sum FROM rb JOIN w ON w.bucket = rb.bucket GROUP BY 1) " +
      "SELECT d.doc_id AS doc, coalesce(sc.n_grams, 0) AS n_grams, coalesce(sc.w_sum, 0) AS w_sum, " +
      "CAST(coalesce(sc.w_sum // sc.n_grams, 0) AS BIGINT) AS score " +
      "FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id"
  }

  /** Cross-side minhash pairs parameterized over both relations (each must
    * expose doc_id + text): the incremental-step fragment — batch bands
    * probe corpus bands, exact-Jaccard verify, dist ≤ 0.3.
    */
  private def minHashAcrossSqlOver(corpusRel: String, batchRel: String): String = {
    import graft.llmops.PortableHash
    val h = 5
    val sigCols = (0 until h)
      .map(i => s"min(${PortableHash.duckMinhashPerm("h", i)}) AS m$i").mkString(", ")
    val sigList = (0 until h).map(i => s"m$i").mkString("[", ", ", "]")
    def side(tag: String, rel: String) =
      s"sh$tag AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $rel) s$tag WHERE len(t) >= 3), " +
        s"ex$tag AS (SELECT DISTINCT doc_id, ${PortableHash.duckHash52("s")} AS h FROM (SELECT doc_id, unnest(shingles) AS s FROM sh$tag) u$tag), " +
        s"sig$tag AS (SELECT doc_id, $sigCols FROM ex$tag GROUP BY doc_id), " +
        s"band$tag AS (SELECT doc_id, b.band AS band, $sigList[b.band + 1] AS sig FROM sig$tag CROSS JOIN (SELECT unnest(generate_series(0, ${h - 1})) AS band) b)"
    "WITH " + side("c", corpusRel) + ", " + side("b", batchRel) + ", " +
      "cands AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id FROM bandb x JOIN bandc y ON x.band = y.band AND x.sig = y.sig), " +
      "sizec AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY 1), " +
      "sizeb AS (SELECT doc_id, count(*) AS n FROM exb GROUP BY 1), " +
      "shared AS (SELECT c.batch_id, c.corpus_id, count(*) AS sh FROM cands c JOIN exb a ON a.doc_id = c.batch_id JOIN exc b ON b.doc_id = c.corpus_id AND b.h = a.h GROUP BY 1, 2) " +
      "SELECT s.batch_id, s.corpus_id FROM shared s JOIN sizeb sa ON s.batch_id = sa.doc_id JOIN sizec sb ON s.corpus_id = sb.doc_id " +
      "WHERE 1 - CAST(s.sh AS DOUBLE) / (sa.n + sb.n - s.sh) <= 0.3"
  }

  /** DuckDB mirror of Dedup.simHashPairs (52-bit portable signature, 4×13-bit
    * bands, Hamming ≤ 10) — bit-for-bit identical votes and signatures.
    */
  private val simHashOracleSql: String = {
    import graft.llmops.PortableHash
    "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents), " +
      s"th AS (SELECT doc_id, ${PortableHash.duckHash52("t")} AS h FROM tok), " +
      "votes AS (SELECT doc_id, b.b AS b, sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS v FROM th CROSS JOIN (SELECT unnest(generate_series(0, 51)) AS b) b GROUP BY 1, 2), " +
      "sigs AS (SELECT doc_id, (sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sig FROM votes GROUP BY 1), " +
      "banded AS (SELECT doc_id, sig, k.k AS band, (sig >> (13 * k.k)) & 8191 AS bkey FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k), " +
      "cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sig AS sa, y.sig AS sb FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id) " +
      "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM cands WHERE bit_count(xor(sa, sb)) <= 10 ORDER BY 1, 2"
  }

  /** DuckDB mirror of Similarity.annTopK (8 tables × 8 sign bits, dim 64,
    * k = 5, queries = vec_id < 5): hyperplanes re-derived from md5, bucket
    * signatures bit-for-bit, exact cosine re-rank.
    */
  private val annOracleSql: String = {
    import graft.llmops.PortableHash
    val r = PortableHash.duckUnitUniform("t.t || ':' || j.j || ':' || k.k")
    "WITH planes AS (SELECT t.t AS t, j.j AS j, k.k AS k, " + r + " AS r " +
      "FROM (SELECT unnest(generate_series(0, 7)) AS t) t, (SELECT unnest(generate_series(0, 7)) AS j) j, (SELECT unnest(generate_series(0, 63)) AS k) k), " +
      "e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
      "proj AS (SELECT e.vec_id, p.t, p.j, sum(e.v * p.r) AS s FROM e JOIN planes p ON p.k = e.i - 1 GROUP BY 1, 2, 3), " +
      "buckets AS (SELECT vec_id, t, (sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS bkt FROM proj GROUP BY 1, 2), " +
      "cands AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid FROM buckets q JOIN buckets c ON q.t = c.t AND q.bkt = c.bkt WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id), " +
      "dots AS (SELECT cd.qid, cd.cid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM cands cd JOIN e a ON a.vec_id = cd.qid JOIN e b ON b.vec_id = cd.cid AND b.i = a.i GROUP BY 1, 2), " +
      "sims AS (SELECT qid, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM dots) " +
      "SELECT qid, cid, CAST(rn AS BIGINT) AS rn, round(cos, 6) AS cos FROM sims WHERE rn <= 5 ORDER BY qid, rn"
  }

  /** Multi-probe variant of annOracleSql: each query additionally probes
    * the `bits` one-bit-flipped buckets per table (xor with 0 = the exact
    * bucket); corpus bucketing and re-rank identical.
    */
  private val annMultiProbeOracleSql: String = {
    import graft.llmops.PortableHash
    val r = PortableHash.duckUnitUniform("t.t || ':' || j.j || ':' || k.k")
    val flips = (Seq(0L) ++ (0 until 8).map(j => 1L << j)).mkString("[", ", ", "]")
    "WITH planes AS (SELECT t.t AS t, j.j AS j, k.k AS k, " + r + " AS r " +
      "FROM (SELECT unnest(generate_series(0, 7)) AS t) t, (SELECT unnest(generate_series(0, 7)) AS j) j, (SELECT unnest(generate_series(0, 63)) AS k) k), " +
      "e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
      "proj AS (SELECT e.vec_id, p.t, p.j, sum(e.v * p.r) AS s FROM e JOIN planes p ON p.k = e.i - 1 GROUP BY 1, 2, 3), " +
      "buckets AS (SELECT vec_id, t, (sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS bkt FROM proj GROUP BY 1, 2), " +
      s"qprobes AS (SELECT vec_id, t, xor(bkt, f.f) AS bkt FROM buckets CROSS JOIN (SELECT unnest($flips) AS f) f WHERE vec_id < 5), " +
      "cands AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid FROM qprobes q JOIN buckets c ON q.t = c.t AND q.bkt = c.bkt WHERE c.vec_id <> q.vec_id), " +
      "dots AS (SELECT cd.qid, cd.cid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM cands cd JOIN e a ON a.vec_id = cd.qid JOIN e b ON b.vec_id = cd.cid AND b.i = a.i GROUP BY 1, 2), " +
      "sims AS (SELECT qid, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM dots) " +
      "SELECT qid, cid, CAST(rn AS BIGINT) AS rn, round(cos, 6) AS cos FROM sims WHERE rn <= 5 ORDER BY qid, rn"
  }

  /** DuckDB mirror of Similarity.ivfTopK (nlist = 16, nprobe = 4, k = 5,
    * queries = vec_id < 5, default centroid rule vec_id < 16): nearest-cell
    * assignment and probe ranking tie-break on lowest centroid id, exact
    * cosine re-rank inside the probed cells.
    */
  private val ivfOracleSql: String =
    "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
      "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
      "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 16 GROUP BY 1, 2), " +
      "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
      "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
      "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
      "probes AS (SELECT vec_id AS qid, cent_id AS cell FROM ranked WHERE rn <= 4 AND vec_id < 5), " +
      "cands AS (SELECT p.qid, a.cid FROM probes p JOIN assign a USING (cell) WHERE a.cid <> p.qid), " +
      "dots AS (SELECT cd.qid, cd.cid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM cands cd JOIN e a ON a.vec_id = cd.qid JOIN e b ON b.vec_id = cd.cid AND b.i = a.i GROUP BY 1, 2), " +
      "sims AS (SELECT qid, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM dots) " +
      "SELECT qid, cid, CAST(rn AS BIGINT) AS rn, round(cos, 6) AS cos FROM sims WHERE rn <= 5 ORDER BY qid, rn"

  /** DuckDB mirror of Similarity.semDedupPairs (nlist = 16, τ = 0.4,
    * default centroid rule vec_id < 16): nearest-cell assignment exactly
    * as ivfOracleSql, then exact cosine restricted to within-cell pairs.
    */
  private val semDedupOracleSql: String =
    "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
      "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
      "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 16 GROUP BY 1, 2), " +
      "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
      "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
      "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
      "cpairs AS (SELECT x.cid AS id_a, y.cid AS id_b, x.cell AS cell FROM assign x JOIN assign y ON x.cell = y.cell AND x.cid < y.cid), " +
      "cdots2 AS (SELECT p.id_a, p.id_b, p.cell, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS na, sqrt(sum(b.v * b.v)) AS nb FROM cpairs p JOIN e a ON a.vec_id = p.id_a JOIN e b ON b.vec_id = p.id_b AND b.i = a.i GROUP BY 1, 2, 3) " +
      "SELECT id_a, id_b, CAST(cell AS BIGINT) AS cell, round(dot / (na * nb), 6) AS cos " +
      "FROM cdots2 WHERE dot / (na * nb) >= 0.4"

  /** DuckDB replay of Similarity.kmeansQuantized — the `iters` Lloyd
    * rounds unrolled as a WITH-chain (the bpeRoundsSql precedent). Every
    * quantity is an exact integer on both engines: quantization multiplies
    * by a power of two (a float-exponent shift — exact), assignment
    * minimizes the integer key |c|² − 2·(q·c) with ties to the lowest
    * cent_id, and the centroid update is the truncating integer mean
    * (DuckDB `//` ≡ Spark `div` ≡ JVM long division, toward zero).
    * Empty cells keep their previous centroid via the left join.
    */
  private def kmeansRoundsSql(nlist: Int, iters: Int, scale: Long, dim: Int): String = {
    val base =
      s"qv AS (SELECT vec_id AS cid, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale.0 + 0.5) AS BIGINT)) AS q FROM embeddings), " +
        s"c0 AS (SELECT cid AS cent_id, q AS c FROM qv ORDER BY cid LIMIT $nlist)"
    val rounds = (0 until iters).map { j =>
      s"m$j AS (SELECT cent_id, c, list_sum(list_transform(c, x -> x * x)) AS m FROM c$j), " +
        s"s$j AS (SELECT v.cid, v.q, m.cent_id, m.m - 2 * list_sum(list_transform(generate_series(1, len(v.q)), i -> v.q[i] * m.c[i])) AS key FROM qv v CROSS JOIN m$j m), " +
        s"a$j AS (SELECT cid, q, cent_id AS cell FROM (SELECT *, row_number() OVER (PARTITION BY cid ORDER BY key, cent_id) AS rn FROM s$j) WHERE rn = 1), " +
        s"u$j AS (SELECT cell, i.i AS i, CAST(sum(q[i.i]) // count(*) AS BIGINT) AS cval FROM a$j CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) i GROUP BY 1, 2), " +
        s"n$j AS (SELECT cell, list(cval ORDER BY i) AS c FROM u$j GROUP BY 1), " +
        s"c${j + 1} AS (SELECT o.cent_id, coalesce(n.c, o.c) AS c FROM c$j o LEFT JOIN n$j n ON n.cell = o.cent_id)"
    }.mkString(", ")
    s"$base, $rounds"
  }

  private def kmeansSql(nlist: Int, iters: Int, scale: Long, dim: Int): String =
    s"WITH ${kmeansRoundsSql(nlist, iters, scale, dim)} " +
      s"SELECT cent_id, CAST(i.i AS BIGINT) AS i, CAST(c[i.i] AS BIGINT) AS c " +
      s"FROM c$iters CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) i ORDER BY cent_id, i"

  /** End-to-end trained-quantizer retrieval: the kmeansRoundsSql chain
    * trains the centroids, they dequantize exactly (c / 2^16 — a
    * float-exponent shift), and the standard IVF probe replay
    * (ivfOracleSql's shape) serves the top-k over them. nlist = 8,
    * nprobe = 4, k = 5, queries = vec_id < 5.
    */
  private def trainedIvfSql(nlist: Int, iters: Int, scale: Long, dim: Int,
      nprobe: Int, k: Int): String =
    s"WITH ${kmeansRoundsSql(nlist, iters, scale, dim)}, " +
      s"ce AS (SELECT cent_id, i.i AS i, CAST(c[i.i] AS DOUBLE) / $scale.0 AS v FROM c$iters CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) i), " +
      "cen AS (SELECT cent_id, sqrt(sum(v * v)) AS n FROM ce GROUP BY 1), " +
      "e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
      "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
      "cdots AS (SELECT e.vec_id, ce.cent_id, sum(e.v * ce.v) AS dot FROM e JOIN ce ON ce.i = e.i GROUP BY 1, 2), " +
      "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN cen b ON b.cent_id = d.cent_id), " +
      "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
      "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
      s"probes AS (SELECT vec_id AS qid, cent_id AS cell FROM ranked WHERE rn <= $nprobe AND vec_id < 5), " +
      "cands AS (SELECT p.qid, a.cid FROM probes p JOIN assign a USING (cell) WHERE a.cid <> p.qid), " +
      "dots AS (SELECT cd.qid, cd.cid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM cands cd JOIN e a ON a.vec_id = cd.qid JOIN e b ON b.vec_id = cd.cid AND b.i = a.i GROUP BY 1, 2), " +
      "sims AS (SELECT qid, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM dots) " +
      s"SELECT qid, cid, CAST(rn AS BIGINT) AS rn, round(cos, 6) AS cos FROM sims WHERE rn <= $k ORDER BY qid, rn"

  /** DuckDB mirror of TextAnalysis.withLangId — same profiles, same
    * score-then-lang (descending) argmax tie-break.
    */
  private val langIdOracleSql: String = {
    val scored = TextAnalysis.LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"SELECT doc_id, '$lang' AS lang, CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS DOUBLE) / len(toks) AS score FROM t"
    }.mkString(" UNION ALL ")
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
      s"scores AS ($scored), " +
      "best AS (SELECT doc_id, lang, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM scores) " +
      "SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred, round(score, 6) AS lang_score FROM best WHERE rn = 1 ORDER BY doc_id"
  }

  private def gateBySourceSql(rel: String, p: String): String = {
    def hist(tag: String, c: String, g: Long) =
      s"b$tag$p AS (SELECT source, least(greatest($c, 0) // $g, 255) AS idx, count(*) AS cnt FROM s$p GROUP BY 1, 2), " +
        s"c$tag$p AS (SELECT source, idx, sum(cnt) OVER (PARTITION BY source ORDER BY idx) AS cum FROM b$tag$p)"
    def qcte(tag: String, name: String, pct: Int, g: Long) =
      s"q$name$p AS (SELECT c.source, min(CASE WHEN cum >= (n_docs - 1) * $pct // 100 + 1 THEN idx * $g END) AS v " +
        s"FROM c$tag$p c JOIN n$p USING (source) GROUP BY 1)"
    s"t$p AS (SELECT doc_id, text, source, CAST(length(trim(text)) AS BIGINT) AS n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM $rel), " +
      s"g$p AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t$p WHERE len(toks) >= 2), " +
      s"pg$p AS (SELECT doc_id, gram, count(*) AS cnt FROM g$p GROUP BY 1, 2), " +
      s"agg$p AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_chars FROM pg$p GROUP BY 1), " +
      s"m$p AS (SELECT t.source, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len, " +
      "round(CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE) / len(toks), 6) AS type_token_ratio, " +
      s"coalesce(round(CAST(a.dup_chars AS DOUBLE) / t.n_chars, 6), 0) AS dup_gram_char_frac FROM t$p t LEFT JOIN agg$p a ON a.doc_id = t.doc_id), " +
      s"s$p AS (SELECT source, n_tokens, CAST(floor(avg_token_len * 1000000 + 0.5) AS BIGINT) AS atl, " +
      "CAST(floor(type_token_ratio * 1000000 + 0.5) AS BIGINT) AS ttr, " +
      s"CAST(floor(dup_gram_char_frac * 1000000 + 0.5) AS BIGINT) AS dgf FROM m$p), " +
      s"n$p AS (SELECT source, count(*) AS n_docs FROM s$p GROUP BY 1), " +
      hist("nt", "n_tokens", 16) + ", " + hist("atl", "atl", 65536L) + ", " +
      hist("ttr", "ttr", 4096L) + ", " + hist("dgf", "dgf", 4096L) + ", " +
      qcte("nt", "nt5", 5, 16) + ", " + qcte("nt", "nt99", 99, 16) + ", " +
      qcte("atl", "atl95", 95, 65536L) + ", " + qcte("ttr", "ttr5", 5, 4096L) + ", " +
      qcte("dgf", "dgf95", 95, 4096L) + ", " +
      s"thr$p AS (SELECT n$p.source, CAST(n_docs AS BIGINT) AS n_docs, " +
      s"CAST(qnt5$p.v AS BIGINT) AS min_tokens, CAST(qnt99$p.v AS BIGINT) AS max_tokens, " +
      s"round(qatl95$p.v / 1000000.0, 6) AS max_avg_token_len, " +
      s"round(qttr5$p.v / 1000000.0, 6) AS min_type_token, " +
      s"round(qdgf95$p.v / 1000000.0, 6) AS max_dup_gram_frac " +
      s"FROM n$p JOIN qnt5$p USING (source) JOIN qnt99$p USING (source) " +
      s"JOIN qatl95$p USING (source) JOIN qttr5$p USING (source) JOIN qdgf95$p USING (source))"
  }

  /** Planted multi-script sentences (no apostrophes — they ride inside
    * single-quoted SQL literals verbatim) keyed by `doc_id % 28` bucket:
    * the CJK/Thai/Cyrillic/… fixtures the script-aware operators are
    * oracled over. Buckets 0–8 are script-identified languages, 9–12
    * exercise the Latin function-word fallback (fr/de/pt/nl).
    */
  private val scriptAug: Seq[(Int, String)] = Seq(
    0 -> "机器学习模型需要大量高质量的训练数据才能表现良好",
    1 -> "これはテストです機械学習のデータ",
    2 -> "การเรียนรู้ของเครื่องต้องการข้อมูลจำนวนมาก",
    3 -> "기계 학습 모델은 데이터 품질이 중요합니다",
    4 -> "машинное обучение требует большого количества данных",
    5 -> "التعلم الآلي يتطلب بيانات عالية الجودة",
    6 -> "η μηχανικη μαθηση απαιτει δεδομενα",
    7 -> "למידת מכונה דורשת נתונים רבים",
    8 -> "मशीन लर्निंग को बहुत डेटा चाहिए",
    9 -> "le renard brun saute par dessus le chien et court vers la maison dans le jardin",
    10 -> "der schnelle fuchs springt über den faulen hund und läuft zu dem haus mit der katze",
    11 -> "o modelo de dados que temos para um projeto não responde do jeito que era",
    12 -> "de man heeft een huis en hij gaat met de fiets van het werk naar huis niet met de auto")

  private def scriptAugSql: String =
    "CASE " + scriptAug.map { case (k, s) =>
      s"WHEN doc_id % 28 = $k THEN '$s'"
    }.mkString(" ") + " ELSE text END"

  private def scriptAugCol: org.apache.spark.sql.Column =
    scriptAug.foldRight(col("text")) { case ((k, s), acc) =>
      when(col("doc_id") % 28 === k, lit(s)).otherwise(acc)
    }

  /** DuckDB replay of TextAnalysis.withLangIdScript — per-script letter
    * counts from the SAME `\x{...}` character classes (the one script
    * syntax both regex engines share), the identical decision ladder,
    * and the function-word argmax over LangProfilesExt.
    */
  private val langIdScriptCtes: String = {
    val ranges = TextAnalysis.ScriptRanges
    def cnt(r: String) = s"length(t) - length(regexp_replace(t, '[$r]', '', 'g'))"
    val cntCols = ranges.map { case (n2, r) => s"${cnt(r)} AS c_$n2" }.mkString(", ")
    val nLetters = ranges.map { case (n2, _) => s"c_$n2" }.mkString(" + ")
    def frac(n2: String) = s"(c_$n2 / CAST(n_letters AS DOUBLE))"
    val scored = TextAnalysis.LangProfilesExt.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"SELECT doc_id, '$lang' AS lang, CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS DOUBLE) / len(toks) AS score FROM tok"
    }.mkString(" UNION ALL ")
    val scriptLangs = Seq("han" -> "zh", "hangul" -> "ko", "thai" -> "th",
      "cyrillic" -> "ru", "arabic" -> "ar", "greek" -> "el",
      "hebrew" -> "he", "devanagari" -> "hi")
    val jaCond = s"${frac("kana")} >= 0.05 AND (${frac("kana")} + ${frac("han")}) >= 0.5"
    val predCase = s"CASE WHEN n_letters = 0 THEN 'und' WHEN $jaCond THEN 'ja' " +
      scriptLangs.map { case (sc, lg) => s"WHEN ${frac(sc)} >= 0.5 THEN '$lg'" }.mkString(" ") +
      " WHEN b.score > 0 THEN b.lang ELSE 'und' END"
    val scoreCase = s"CASE WHEN n_letters = 0 THEN 0.0 WHEN $jaCond THEN ${frac("kana")} + ${frac("han")} " +
      scriptLangs.map { case (sc, _) => s"WHEN ${frac(sc)} >= 0.5 THEN ${frac(sc)}" }.mkString(" ") +
      " WHEN b.score > 0 THEN b.score ELSE 0.0 END"
    s"a AS (SELECT doc_id, $scriptAugSql AS t FROM documents), " +
      s"m AS (SELECT doc_id, t, $cntCols FROM a), " +
      s"f AS (SELECT *, $nLetters AS n_letters FROM m), " +
      "tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(t)), '\\s+') AS toks FROM a), " +
      s"scores AS ($scored), " +
      "best AS (SELECT doc_id, lang, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM scores), " +
      s"lpred AS (SELECT f.doc_id AS doc, $predCase AS lang_pred, round($scoreCase, 6) AS lang_score " +
      "FROM f JOIN best b ON b.doc_id = f.doc_id AND b.rn = 1)"
  }

  private val langIdScriptOracleSql: String =
    s"WITH $langIdScriptCtes SELECT doc, lang_pred, lang_score FROM lpred ORDER BY doc"

  /** Labeled training sentences for the char-n-gram language-ID fit
    * (Cavnar–Trenkle profiles) and the held-out test sentences planted
    * into `documents` (`doc_id % 12` buckets 1–5) — DIFFERENT sentences
    * from the training ones, so the oracle exercises generalization, not
    * memorization. No apostrophes (SQL literals).
    */
  private val ngramTrain: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog and the dog runs to the house with the cat in the garden while the sun shines over the trees",
    "de" -> "der schnelle braune fuchs springt über den faulen hund und der hund läuft zu dem haus mit der katze im garten während die sonne über den bäumen scheint",
    "fr" -> "le renard brun rapide saute par dessus le chien paresseux et le chien court vers la maison avec le chat dans le jardin pendant que le soleil brille",
    "es" -> "el rápido zorro marrón salta sobre el perro perezoso y el perro corre hacia la casa con el gato en el jardín mientras el sol brilla sobre los árboles",
    "ru" -> "быстрая коричневая лиса прыгает через ленивую собаку и собака бежит к дому с кошкой в саду пока солнце светит над деревьями",
    "zh" -> "敏捷的棕色狐狸跳过懒惰的狗然后狗跑到房子里和猫一起在花园里玩耍太阳照在树上机器学习模型需要数据")

  private val ngramAug: Seq[(Int, String)] = Seq(
    1 -> "собака бежит через сад к дому и лиса прыгает над деревом",
    2 -> "der hund läuft zu dem haus und der fuchs springt über den garten",
    3 -> "le chien court vers la maison et le renard saute dans le jardin",
    4 -> "el perro corre hacia la casa y el zorro salta en el jardín",
    5 -> "狐狸跳过懒狗然后跑到花园的房子里学习数据模型")

  /** The full curation-cascade CTE chain (… → `led`), shared by the
    * ledger oracle and its per-source attrition roll-up. Callers prefix
    * `WITH RECURSIVE ` and select from `led`.
    */
  private def curationLedgerCtes: String = {
    val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
    val fiveGram = "list_distinct(list_transform(generate_series(1, len(t) - 4), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))"
    "corpus AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0), " +
      "bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0), " +
      "c1 AS (SELECT *, source IS NULL OR source IN ('src3', 'src7') AS blocked FROM corpus), " +
      "alive1 AS (SELECT doc_id, text, source FROM c1 WHERE NOT blocked), " +
      s"qg AS (SELECT doc, reason FROM (${qualityGateSqlOver("alive1")}) qgq), " +
      "alive2 AS (SELECT a.* FROM alive1 a JOIN qg ON qg.doc = a.doc_id AND qg.reason = 'keep'), " +
      "exf AS (SELECT doc_id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM alive2) x WHERE doc_id <> keep_id), " +
      "alive3 AS (SELECT a.* FROM alive2 a WHERE a.doc_id NOT IN (SELECT doc_id FROM exf)), " +
      s"mh AS (SELECT id_a, id_b FROM (${minHashSqlOver("alive3")}) mhq), " +
      "und AS (SELECT id_a AS u, id_b AS v FROM mh UNION ALL SELECT id_b, id_a FROM mh), " +
      "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
      "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v), " +
      "ndf AS (SELECT v AS doc_id FROM comp WHERE cluster <> v), " +
      "alive4 AS (SELECT a.* FROM alive3 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ndf)), " +
      s"bsh AS (SELECT DISTINCT unnest(sh) AS s FROM (SELECT $fiveGram AS sh FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM bench) bt WHERE len(t) >= 5) bs), " +
      s"csh AS (SELECT doc_id, unnest(sh) AS s FROM (SELECT doc_id, $fiveGram AS sh FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM alive4) ct WHERE len(t) >= 5) cs), " +
      "ctf AS (SELECT DISTINCT doc_id FROM csh WHERE s IN (SELECT s FROM bsh)), " +
      "alive5 AS (SELECT a.* FROM alive4 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ctf)), " +
      s"qk AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY source ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn FROM alive5) qr WHERE rn <= 15), " +
      "led AS (SELECT c1.doc_id AS doc, c1.source, " +
      "CASE WHEN c1.blocked THEN 'blocked_source' " +
      "WHEN qg.reason IS NOT NULL AND qg.reason <> 'keep' THEN 'quality' " +
      "WHEN c1.doc_id IN (SELECT doc_id FROM exf) THEN 'exact_dup' " +
      "WHEN c1.doc_id IN (SELECT doc_id FROM ndf) THEN 'near_dup' " +
      "WHEN c1.doc_id IN (SELECT doc_id FROM ctf) THEN 'contaminated' " +
      "WHEN c1.doc_id NOT IN (SELECT doc_id FROM qk) THEN 'quota' " +
      "ELSE 'kept' END AS stage, " +
      "CASE WHEN NOT c1.blocked AND qg.reason <> 'keep' THEN qg.reason END AS quality_reason " +
      "FROM c1 LEFT JOIN qg ON qg.doc = c1.doc_id)"
  }

  /** Documents spread to session parallelism for the banded-signature
    * pipelines (minhash/weighted/simhash/substring shingling and the
    * stream variant) — they shuffle anyway, so the explicit-count
    * repartition (AQE never coalesces those) adds nothing at deployment
    * scale where the corpus arrives in thousands of splits, while
    * locally the one-file scan would otherwise run the whole signature
    * stage on a single core. MEASURED per query, not assumed: weighted
    * 5.1→2.2 s warm, substring 2.7→1.4, simhash 2.0→1.6, stream
    * 9.6→8.9 keep it; the curation cascade, component resolution and
    * the small-fan queries measured neutral-to-worse (the cascade's own
    * checkpoints already re-balance) and keep the bare table, as do the
    * narrow scan-speed queries whose no-Exchange plan pins are the real
    * scale property.
    */
  /** Shared chat-SFT fixture: docs fold into 4-turn conversations with
    * alternating roles; `f` = one row per rendered template token with
    * its turn offset (q_x_chat_sft_tokens + q_x_sft_packed).
    */
  private val chatSftCtes: String =
    "t AS (SELECT doc_id // 4 AS conv, doc_id % 4 AS turn_idx, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
      "substr(text, 1, 120) AS content FROM documents), " +
      "w AS (SELECT conv, turn_idx, role, " +
      "list_concat(list_concat(['<|' || role || '|>'], regexp_split_to_array(trim(content), '\\s+')), ['<|end|>']) AS toks, " +
      "CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS isa FROM t), " +
      "o AS (SELECT *, CAST(coalesce(sum(len(toks)) OVER (PARTITION BY conv ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS turn_off FROM w), " +
      "f AS (SELECT conv, turn_idx, role, turn_off, isa, unnest(toks) AS token, generate_subscripts(toks, 1) - 1 AS p FROM o)"

  private def chatTurns(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      expr("doc_id div 4").as("conv"),
      (col("doc_id") % 4).as("turn_idx"),
      when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
      substring(col("text"), 1, 120).as("content"))

  private def docsSpread(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).repartition(
      s.sparkContext.defaultParallelism, col("doc_id"))

  val queries: Seq[OracleQuery] = Seq(
    // exact dedup on raw content hash
    q("q_x_dedup_exact",
      "SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1 ORDER BY 1") { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text").orderBy("content_hash")
    },

    // quality metrics — every count exact-integer, ratios rounded to 6dp
    q("q_x_text_quality",
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(length(text) - length(regexp_replace(text, '[.,;:!?''\"()\\-]', '', 'g')) AS BIGINT) AS n_punct, " +
        s"CAST(len(list_filter(toks, x -> list_contains($stopwordSqlList, lower(x)))) AS BIGINT) AS n_stopwords, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?''\"()\\-]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio, " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($stopwordSqlList, lower(x)))) AS DOUBLE) / len(toks), 6) AS stopword_ratio, " +
        "round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len " +
        "FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents) ORDER BY doc_id") { (s, d) =>
      TextAnalysis.withQuality(Tables.documents(s, d))
        .select("doc_id", "n_chars", "n_tokens", "n_punct", "n_stopwords",
          "punct_ratio", "stopword_ratio", "avg_token_len")
        .orderBy("doc_id")
    },

    // BPE-ish token histogram
    q("q_x_text_tokens",
      "SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM documents) GROUP BY 1 ORDER BY 1") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextAnalysis.bpeishTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy("tok")
    },

    // normalized fingerprint dedup
    q("q_x_text_fingerprint",
      "SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1 ORDER BY 1") { (s, d) =>
      Tables.documents(s, d)
        .select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
        .orderBy("fp")
    },

    // winnowing local fingerprints (MOSS, k=3-gram hashes, w=4 windows,
    // leftmost-min tie-break): any shared token run >= w+k-1 yields an
    // identical selected fingerprint. The oracle states the same
    // window-min definition via a start/gram join.
    q("q_x_winnow_fingerprints", {
      val h = graft.llmops.PortableHash.duckHash52(
        "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 2)) AS i, toks FROM t WHERE len(toks) >= 3), " +
        s"gh AS (SELECT doc_id, i - 1 AS pos, $h AS h FROM g), " +
        "m AS (SELECT doc_id, count(*) AS m FROM gh GROUP BY 1), " +
        "starts AS (SELECT gh.doc_id, gh.pos AS s FROM gh JOIN m USING (doc_id) WHERE gh.pos <= m.m - 4 OR (gh.pos = 0 AND m.m < 4)), " +
        "j AS (SELECT st.doc_id, st.s, gh.pos, gh.h FROM starts st JOIN gh ON gh.doc_id = st.doc_id AND gh.pos BETWEEN st.s AND st.s + 3), " +
        "mn AS (SELECT doc_id, s, min(h) AS mh FROM j GROUP BY 1, 2), " +
        "sel AS (SELECT j.doc_id, j.s, mn.mh, min(j.pos) AS pos FROM j JOIN mn ON mn.doc_id = j.doc_id AND mn.s = j.s AND j.h = mn.mh GROUP BY 1, 2, 3) " +
        "SELECT DISTINCT doc_id AS doc, CAST(pos AS BIGINT) AS pos, mh AS fp FROM sel ORDER BY doc, pos"
    }) { (s, d) =>
      TextAnalysis.winnowing(Tables.documents(s, d), "doc_id", "text",
          k = 3, w = 4)
        .orderBy("doc", "pos")
    },
    // Gopher-style within-document repetition: char fraction of the top
    // word 2-gram and of all duplicated 2-grams (explode → two keyed
    // aggregations — linear, never the per-doc quadratic array compare)
    q("q_x_repetition_ngram",
      "WITH t AS (SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t WHERE len(toks) >= 2), " +
        "pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2), " +
        "ranked AS (SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM pg), " +
        "agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams, sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_chars FROM pg GROUP BY 1) " +
        "SELECT t.doc_id AS doc, t.n_chars, coalesce(a.n_grams, 0) AS n_grams, r.gram AS top_gram, CAST(r.cnt AS BIGINT) AS top_count, " +
        "coalesce(round(CAST(r.cnt * length(r.gram) AS DOUBLE) / t.n_chars, 6), 0) AS top_gram_char_frac, " +
        "coalesce(round(CAST(a.dup_chars AS DOUBLE) / t.n_chars, 6), 0) AS dup_gram_char_frac " +
        "FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id LEFT JOIN ranked r ON r.doc_id = t.doc_id AND r.rn = 1 ORDER BY doc") { (s, d) =>
      TextAnalysis.ngramRepetition(Tables.documents(s, d), "doc_id", "text", n = 2)
        .orderBy("doc")
    },

    // trained BPE: the K-round learning loop REPLAYED in DuckDB (unrolled
    // CTE chain, bpeRoundsSql) — merge table and tokenization both
    // value-exact, not rows-only.
    q("q_x_bpe_merges", {
      val k = BpeK
      bpeRoundsSql(k) + " " +
        (0 until k).map(j =>
          s"SELECT CAST(${j + 1} AS BIGINT) AS mrank, lhs, rhs, pf AS pair_freq FROM b$j")
          .mkString(" UNION ALL ") +
        " ORDER BY mrank"
    }) { (s, d) =>
      val vocab = Bpe.wordVocab(Tables.documents(s, d), "text")
      val (merges, _) = Bpe.learnMerges(vocab, BpeK)
      Bpe.mergeTable(s, merges).orderBy("mrank")
    },
    // the BPE artifact table — exactly the (piece, id) mapping
    // vocab.json serializes: training alphabet (distinct singles,
    // sorted) at ids 0.., then merge products in rank order with
    // first-occurrence dedup. The oracle replays the K training rounds
    // AND the id assignment — a drifted alphabet sort, rank order or
    // dedup rule breaks the hash, so the byte-pinned file spec and this
    // oracle together pin vocab.json end to end.
    q("q_x_bpe_artifact", {
      val k = BpeK
      bpeRoundsSql(k) + ", " +
        "alpha AS (SELECT s AS piece, CAST(row_number() OVER (ORDER BY s) - 1 AS BIGINT) AS id FROM (SELECT DISTINCT s FROM s0)), " +
        "mrg AS (" + (0 until k).map(j =>
          s"SELECT $j AS r, lhs || rhs AS piece FROM b$j").mkString(" UNION ALL ") + "), " +
        "mrg2 AS (SELECT piece, min(r) AS r FROM mrg GROUP BY piece), " +
        "mids AS (SELECT piece, (SELECT count(*) FROM alpha) + CAST(row_number() OVER (ORDER BY r) - 1 AS BIGINT) AS id FROM mrg2) " +
        "SELECT piece, CAST(id AS BIGINT) AS id FROM (SELECT piece, id FROM alpha UNION ALL SELECT piece, id FROM mids) ORDER BY id"
    }) { (s, d) =>
      import graft.llmops.VocabArtifact
      val vocab = Bpe.wordVocab(Tables.documents(s, d), "text")
        .localCheckpoint(true) // feeds training AND the alphabet scan
      val (merges, _) = Bpe.learnMerges(vocab, BpeK)
      VocabArtifact.bpeArtifactTable(vocab, merges).orderBy("id")
    },
    // the learned segmentation itself, word by word — subwords in order.
    q("q_x_bpe_subwords", {
      val k = BpeK
      bpeRoundsSql(k) + " " +
        s"SELECT word, CAST(count(*) AS BIGINT) AS n_syms, string_agg(s, '|' ORDER BY i) AS subwords FROM s$k GROUP BY 1 ORDER BY 1"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, syms) = Bpe.learnMerges(Bpe.wordVocab(docs, "text"), BpeK)
      syms.groupBy("word")
        .agg(count(lit(1)).as("n_syms"),
          concat_ws("|", transform(
            array_sort(collect_list(struct(col("i"), col("s")))),
            e => e("s"))).as("subwords"))
        .orderBy("word")
    },
    q("q_x_bpe_tokens", {
      val k = BpeK
      bpeRoundsSql(k) +
        s", n AS (SELECT word, CAST(count(*) AS BIGINT) AS n_syms FROM s$k GROUP BY 1), " +
        "dw AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents) " +
        "SELECT dw.doc_id AS doc, CAST(sum(n.n_syms) AS BIGINT) AS n_bpe_tokens, " +
        "CAST(count(*) AS BIGINT) AS n_words FROM dw JOIN n USING (word) GROUP BY 1 ORDER BY doc"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, syms) = Bpe.learnMerges(Bpe.wordVocab(docs, "text"), BpeK)
      Bpe.tokenCounts(docs, "doc_id", "text", syms).orderBy("doc")
    },
    // tokenizer-fairness audit: per-language subword fertility (BPE
    // tokens per word) + whole-word coverage rate from the same learned
    // merge table — the oracle replays the K training rounds and
    // aggregates the corpus word stream by lang.
    q("q_x_bpe_fertility", {
      val k = BpeK
      bpeRoundsSql(k) +
        s", n AS (SELECT word, CAST(count(*) AS BIGINT) AS n_syms FROM s$k GROUP BY 1), " +
        "dw AS (SELECT lang AS grp, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_subwords, " +
        "round(CAST(sum(n_syms) AS DOUBLE) / count(*), 6) AS fertility, " +
        "round(CAST(sum(CASE WHEN n_syms = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS single_rate " +
        "FROM dw JOIN n USING (word) GROUP BY 1 ORDER BY grp"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, syms) = Bpe.learnMerges(Bpe.wordVocab(docs, "text"), BpeK)
      Bpe.fertility(docs, "text", "lang", syms).orderBy("grp")
    },

    // inverted index: per-term document frequency, corpus tf, and the
    // doc-ordered posting list serialized "doc:tf,..." (flat string —
    // engine-portable). The synthetic corpus' vocabulary is small and
    // every term is corpus-wide, so the df cap stays wide open here; the
    // cap semantics are pinned by RetrievalSpec on planted data.
    q("q_x_inverted_index",
      "WITH tf AS (SELECT t AS term, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents) GROUP BY 1, 2) " +
        "SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf, " +
        "string_agg(doc || ':' || tf, ',' ORDER BY doc) AS postings " +
        "FROM tf GROUP BY term ORDER BY term") { (s, d) =>
      graft.llmops.Retrieval.invertedIndex(Tables.documents(s, d), "doc_id", "text")
        .orderBy("term")
    },
    // tf-scored conjunctive top-k retrieval: queries are 3-token prefixes
    // of every 50th document, score = sum of tf over matched query terms,
    // require >= 2 distinct terms matched, rank (score DESC, doc ASC).
    q("q_x_search_topk",
      "WITH tf AS (SELECT t AS term, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents) GROUP BY 1, 2), " +
        "q AS (SELECT doc_id AS qid, list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3) AS qt FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "qt AS (SELECT DISTINCT qid, unnest(qt) AS term FROM q), " +
        "sc AS (SELECT qid, doc, CAST(sum(tf) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_matched " +
        "FROM qt JOIN tf USING (term) GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc) " +
        "SELECT qid, CAST(rank AS BIGINT) AS rank, doc, score, n_matched FROM r WHERE rank <= 5 ORDER BY qid, rank") { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000) // fixed query workload: corpus scales, benchmark queries do not (see StressBench)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      graft.llmops.Retrieval.searchTopK(docs, "doc_id", "text",
          queries, "qid", "qtext", k = 5, minMatch = 2)
        .orderBy("qid", "rank")
    },

    // RAG retrieval at SENTENCE-chunk granularity: sentenceChunks
    // (budget 30, keepText) feeds searchTopK — the never-cut-mid-sentence
    // serving unit; chunk key = doc·1000+chunk (the rag_chunk precedent).
    q("q_x_rag_sentence_search",
      "WITH t AS (SELECT doc_id, str_split(regexp_replace(trim(text), '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)) AS sents FROM documents), " +
        "s AS (SELECT doc_id, generate_subscripts(sents, 1) AS pos, unnest(sents) AS sent FROM t), " +
        "n AS (SELECT doc_id, pos, sent, CAST(len(regexp_split_to_array(trim(sent), '\\s+')) AS BIGINT) AS ntok FROM s), " +
        "c AS (SELECT doc_id, pos, sent, CAST(coalesce(sum(ntok) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 30 AS BIGINT) AS chunk FROM n), " +
        "ct AS (SELECT doc_id * 1000 + chunk AS ckey, string_agg(sent, ' ' ORDER BY pos) AS ctext FROM c GROUP BY 1), " +
        "tf AS (SELECT term, ckey AS doc, CAST(count(*) AS BIGINT) AS tf FROM (SELECT ckey, unnest(regexp_split_to_array(trim(lower(ctext)), '\\s+')) AS term FROM ct) e GROUP BY 1, 2), " +
        "q AS (SELECT doc_id AS qid, list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3) AS qt FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "qt AS (SELECT DISTINCT qid, unnest(qt) AS term FROM q), " +
        "sc AS (SELECT qid, doc, CAST(sum(tf) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_matched FROM qt JOIN tf USING (term) GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT qid, CAST(rank AS BIGINT) AS rank, doc, score, n_matched FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc) r WHERE rank <= 5 ORDER BY qid, rank") { (s, d) =>
      val docs = Tables.documents(s, d)
      val chunks = Corpus.sentenceChunks(docs, "doc_id", "text",
          budget = 30, keepText = true)
        .withColumn("chunk_key", col("doc") * 1000 + col("chunk"))
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      graft.llmops.Retrieval.searchTopK(chunks, "chunk_key", "chunk_text",
          queries, "qid", "qtext", k = 5, minMatch = 2)
        .orderBy("qid", "rank")
    },
    // pseudo-relevance-feedback expansion (fbDocs 3, fbTerms 2): top
    // feedback docs donate their 2 heaviest non-query terms, the
    // augmented query rescored — both passes + the harvest replayed.
    q("q_x_search_expanded",
      "WITH tf AS (SELECT t AS term, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents) GROUP BY 1, 2), " +
        "q AS (SELECT doc_id AS qid, list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3) AS qt FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "qt AS (SELECT DISTINCT qid, unnest(qt) AS term FROM q), " +
        "sc1 AS (SELECT qid, doc, CAST(sum(tf) AS BIGINT) AS score FROM qt JOIN tf USING (term) GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "fb AS (SELECT qid, doc FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc1) f WHERE rank <= 3), " +
        "harv AS (SELECT f.qid, tf.term, CAST(sum(tf.tf) AS BIGINT) AS htf FROM fb f JOIN tf ON tf.doc = f.doc " +
        "WHERE NOT EXISTS (SELECT 1 FROM qt WHERE qt.qid = f.qid AND qt.term = tf.term) GROUP BY 1, 2), " +
        "ex AS (SELECT qid, term FROM (SELECT qid, term, row_number() OVER (PARTITION BY qid ORDER BY htf DESC, term) AS hr FROM harv) h WHERE hr <= 2), " +
        "qt2 AS (SELECT qid, term FROM qt UNION SELECT qid, term FROM ex), " +
        "sc2 AS (SELECT qid, doc, CAST(sum(tf) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_matched FROM qt2 JOIN tf USING (term) GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT qid, CAST(rank AS BIGINT) AS rank, doc, score, n_matched FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc2) r WHERE rank <= 5 ORDER BY qid, rank") { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      graft.llmops.Retrieval.expandedSearch(docs, "doc_id", "text",
          queries, "qid", "qtext", k = 5, minMatch = 2, fbDocs = 3, fbTerms = 2)
        .orderBy("qid", "rank")
    },
    // snippet extraction over the top-3 keyword results (window 8): the
    // best query-term window per (query, doc), earliest on ties — the
    // oracle replays the search chain then the anchored-window argmax.
    q("q_x_search_snippets",
      "WITH tf AS (SELECT t AS term, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents) GROUP BY 1, 2), " +
        "q AS (SELECT doc_id AS qid, list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3) AS qt FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "qt AS (SELECT DISTINCT qid, unnest(qt) AS term FROM q), " +
        "sc AS (SELECT qid, doc, CAST(sum(tf) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_matched " +
        "FROM qt JOIN tf USING (term) GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "pairs AS (SELECT qid, doc FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc) rr WHERE rank <= 3), " +
        "toks AS (SELECT doc_id AS doc, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS tok FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM documents) tt), " +
        "hits AS (SELECT p.qid, p.doc, t.pos FROM pairs p JOIN qt ON qt.qid = p.qid JOIN toks t ON t.doc = p.doc AND t.tok = qt.term), " +
        "cnts AS (SELECT a.qid, a.doc, a.pos, CAST(count(*) AS BIGINT) AS n_hits FROM hits a JOIN hits b ON b.qid = a.qid AND b.doc = a.doc AND b.pos >= a.pos AND b.pos < a.pos + 8 GROUP BY 1, 2, 3), " +
        "best AS (SELECT qid, doc, pos, n_hits FROM (SELECT *, row_number() OVER (PARTITION BY qid, doc ORDER BY n_hits DESC, pos) AS rn FROM cnts) bb WHERE rn = 1), " +
        "orig AS (SELECT doc_id AS doc, regexp_split_to_array(trim(text), '\\s+') AS ot FROM documents) " +
        "SELECT qid, best.doc, CAST(pos + 1 AS BIGINT) AS start_tok, n_hits, " +
        "array_to_string(list_slice(ot, CAST(pos + 1 AS INT), CAST(pos + 8 AS INT)), ' ') AS snippet " +
        "FROM best JOIN orig ON orig.doc = best.doc ORDER BY qid, best.doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      val pairs = graft.llmops.Retrieval.searchTopK(docs, "doc_id", "text",
          queries, "qid", "qtext", k = 3, minMatch = 2)
        .select("qid", "doc")
      graft.llmops.Retrieval.snippets(docs, "doc_id", "text",
          pairs, queries, "qid", "qtext", window = 8)
        .orderBy("qid", "doc")
    },
    // composite Gopher-style quality gate — every rule an explicit column,
    // `reason` names the first failing rule, thresholds chosen to split
    // the synthetic corpus non-trivially (each reason fires on some docs)
    q("q_x_quality_gate",
      qualityGateSqlOver("documents") + " ORDER BY doc") { (s, d) =>
      TextAnalysis.qualityGate(Tables.documents(s, d), "doc_id", "text",
        minTokens = 20, maxAvgTokenLen = 5.0,
        minTypeToken = 0.35, maxDupGramFrac = 0.2)
        .orderBy("doc")
    },

    // PII scrub audit: the synthetic corpus carries no PII, so both engines
    // append the SAME deterministic PII decorations (emails / IPv4 / digit
    // runs keyed off doc_id) and must then agree on every hit count and on
    // the md5 of the scrubbed text. Patterns are Java-regex/RE2 common
    // syntax; digit runs are counted after the email+IP scrub on both
    // sides (emails contain digits).
    q("q_x_pii_redact", {
      val aug = "text || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' " +
        "WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 addr' " +
        "WHEN doc_id % 11 = 0 THEN ' id 12345678901' ELSE '' END"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
      val num = "\\b\\d{7,}\\b"
      s"WITH a AS (SELECT doc_id, $aug AS t FROM documents), " +
        s"s AS (SELECT doc_id, t, regexp_replace(regexp_replace(t, '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g') AS noip FROM a) " +
        s"SELECT doc_id, CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips, " +
        s"CAST(len(regexp_extract_all(noip, '$num')) AS BIGINT) AS n_digit_runs, " +
        s"md5(regexp_replace(noip, '$num', '[NUM]', 'g')) AS redacted_md5 FROM s ORDER BY doc_id"
    }) { (s, d) =>
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now")))
          .when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".1 addr")))
          .when(col("doc_id") % 11 === 0, lit(" id 12345678901"))
          .otherwise(lit("")))
      TextAnalysis.withPiiCounts(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text")))
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          col("n_digit_runs"), md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // embedding-space health: norm distribution + anisotropy (the
    // embedding-collapse gauge) — per-dim means, the mean-vector norm and
    // the ratio all replay.
    q("q_x_embedding_stats",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "dims AS (SELECT i, avg(v) AS m FROM e GROUP BY 1), " +
        "c AS (SELECT sqrt(sum(m * m)) AS center_norm, count(*) AS dim FROM dims), " +
        "nn AS (SELECT count(*) AS n, avg(nrm) AS mn FROM (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1) t) " +
        "SELECT CAST(nn.n AS BIGINT) AS n, CAST(c.dim AS BIGINT) AS dim, round(nn.mn, 6) AS mean_norm, " +
        "round(c.center_norm, 6) AS center_norm, round(c.center_norm / nn.mn, 6) AS anisotropy " +
        "FROM nn CROSS JOIN c") { (s, d) =>
      Similarity.embeddingStats(Tables.embeddings(s, d))
    },
    // Zipf head fit (corpus-naturalness gauge): top-k rank-frequency
    // least squares — term counts, the deterministic top-k cut, both ln
    // transforms and every fit sum replay.
    q("q_x_zipf_fit",
      "WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1), " +
        "top AS (SELECT term, f FROM tf ORDER BY f DESC, term LIMIT 1000), " +
        "xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, term) AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y FROM top), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS v, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM xy) " +
        "SELECT v AS n_terms, round((sxy - sx * sy / v) / (sxx - sx * sx / v), 6) AS slope, " +
        "round((sy - (sxy - sx * sy / v) / (sxx - sx * sx / v) * sx) / v, 6) AS intercept, " +
        "round(pow(sxy - sx * sy / v, 2) / ((sxx - sx * sx / v) * (syy - sy * sy / v)), 6) AS r2 FROM s") { (s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), "doc_id", "text", k = 1000)
    },
    // data-derived gate thresholds (the psiDrift "act" re-fit): quantiles
    // of the gate's own metrics from exact occurrence histograms — the
    // metric chain is the quality-gate fragment, the histogram/cum/rank
    // replay is the occurrence-quantiles oracle shape, per metric.
    q("q_x_gate_thresholds", {
      def hist(tag: String, c: String, g: Long) =
        s"b$tag AS (SELECT least(greatest($c, 0) // $g, 255) AS idx, count(*) AS cnt FROM s GROUP BY 1), " +
          s"c$tag AS (SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum FROM b$tag)"
      def qOf(tag: String, p: Int, g: Long) =
        s"(SELECT min(CASE WHEN cum >= (n_docs - 1) * $p // 100 + 1 THEN idx * $g END) FROM c$tag CROSS JOIN n)"
      "WITH t AS (SELECT doc_id, text, CAST(length(trim(text)) AS BIGINT) AS n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t WHERE len(toks) >= 2), " +
        "pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_chars FROM pg GROUP BY 1), " +
        "m AS (SELECT t.doc_id AS doc, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len, " +
        "round(CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE) / len(toks), 6) AS type_token_ratio, " +
        "coalesce(round(CAST(a.dup_chars AS DOUBLE) / t.n_chars, 6), 0) AS dup_gram_char_frac " +
        "FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id), " +
        "s AS (SELECT n_tokens, CAST(floor(avg_token_len * 1000000 + 0.5) AS BIGINT) AS atl, " +
        "CAST(floor(type_token_ratio * 1000000 + 0.5) AS BIGINT) AS ttr, " +
        "CAST(floor(dup_gram_char_frac * 1000000 + 0.5) AS BIGINT) AS dgf FROM m), " +
        "n AS (SELECT count(*) AS n_docs FROM s), " +
        hist("nt", "n_tokens", 16) + ", " + hist("atl", "atl", 65536L) + ", " +
        hist("ttr", "ttr", 4096L) + ", " + hist("dgf", "dgf", 4096L) + " " +
        s"SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(${qOf("nt", 5, 16)} AS BIGINT) AS min_tokens, " +
        s"CAST(${qOf("nt", 99, 16)} AS BIGINT) AS max_tokens, " +
        s"round(${qOf("atl", 95, 65536L)} / 1000000.0, 6) AS max_avg_token_len, " +
        s"round(${qOf("ttr", 5, 4096L)} / 1000000.0, 6) AS min_type_token, " +
        s"round(${qOf("dgf", 95, 4096L)} / 1000000.0, 6) AS max_dup_gram_frac FROM n"
    }) { (s, d) =>
      TextAnalysis.gateThresholds(Tables.documents(s, d), "doc_id", "text")
    },
    // drift→re-fit COMPOSED: the operator psiDrift/dataCardDrift have
    // been pointing at ("PSI crossed → re-fit the gate") executed end to
    // end. Two corpus halves (the div-20 split that keeps every source on
    // both sides); the current half's text is TRUNCATED for three sources
    // (planted drift) — their per-source PSI over the n_tokens histograms
    // crosses the act threshold (0.1 here: sf0.01 has ~12 docs/source/
    // half, so the +256 Laplace smoothing compresses PSI well below the
    // industry 0.25; separation planted ≥ 0.13 vs background ≤ 0.04) and
    // ONLY those sources' gate thresholds re-fit from the current
    // corpus; the rest keep their calibration-time numbers verbatim. The
    // oracle replays the whole loop: histograms, smoothed PSI, BOTH
    // per-source threshold fits, and the selection.
    q("q_x_gate_refit", {
      "WITH refd AS (SELECT doc_id, text, source FROM documents WHERE (doc_id // 20) % 2 = 0), " +
        "curd AS (SELECT doc_id, CASE WHEN source IN ('src0', 'src1', 'src2') THEN substr(text, 1, 12) ELSE text END AS text, source FROM documents WHERE (doc_id // 20) % 2 = 1), " +
        "ba AS (SELECT source, least(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 0) // 16, 255) AS bin FROM refd), " +
        "ga AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM ba GROUP BY 1, 2), " +
        "bb AS (SELECT source, least(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 0) // 16, 255) AS bin FROM curd), " +
        "gb AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM bb GROUP BY 1, 2), " +
        "keys AS (SELECT DISTINCT source FROM ba INTERSECT SELECT DISTINCT source FROM bb), " +
        "grid AS (SELECT k.source, b.bin FROM keys k CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bin) b), " +
        "r AS (SELECT g.source, g.bin, coalesce(ga.c, 0) AS na, coalesce(gb.c, 0) AS nb FROM grid g LEFT JOIN ga ON ga.source = g.source AND ga.bin = g.bin LEFT JOIN gb ON gb.source = g.source AND gb.bin = g.bin), " +
        "tt AS (SELECT source, sum(na) AS ta, sum(nb) AS tb FROM r GROUP BY 1), " +
        "psi AS (SELECT r.source, round(sum(((r.na + 1) / CAST(tt.ta + 256 AS DOUBLE) - (r.nb + 1) / CAST(tt.tb + 256 AS DOUBLE)) * " +
        "ln(((r.na + 1) / CAST(tt.ta + 256 AS DOUBLE)) / ((r.nb + 1) / CAST(tt.tb + 256 AS DOUBLE)))), 6) AS psi " +
        "FROM r JOIN tt USING (source) GROUP BY r.source), " +
        gateBySourceSql("refd", "R") + ", " + gateBySourceSql("curd", "C") + " " +
        "SELECT p.source, p.psi, (p.psi >= 0.1 AND c.source IS NOT NULL) AS refit, " +
        "CASE WHEN p.psi >= 0.1 AND c.source IS NOT NULL THEN c.n_docs ELSE r.n_docs END AS n_docs, " +
        "CASE WHEN p.psi >= 0.1 AND c.source IS NOT NULL THEN c.min_tokens ELSE r.min_tokens END AS min_tokens, " +
        "CASE WHEN p.psi >= 0.1 AND c.source IS NOT NULL THEN c.max_tokens ELSE r.max_tokens END AS max_tokens, " +
        "CASE WHEN p.psi >= 0.1 AND c.source IS NOT NULL THEN c.max_avg_token_len ELSE r.max_avg_token_len END AS max_avg_token_len, " +
        "CASE WHEN p.psi >= 0.1 AND c.source IS NOT NULL THEN c.min_type_token ELSE r.min_type_token END AS min_type_token, " +
        "CASE WHEN p.psi >= 0.1 AND c.source IS NOT NULL THEN c.max_dup_gram_frac ELSE r.max_dup_gram_frac END AS max_dup_gram_frac " +
        "FROM psi p LEFT JOIN thrR r USING (source) LEFT JOIN thrC c USING (source) ORDER BY p.source"
    }) { (s, d) =>
      import graft.functions.LongHistogram
      val docs = Tables.documents(s, d)
      val refDocs = docs.filter(expr("(doc_id div 20) % 2 = 0"))
      val curDocs = docs.filter(expr("(doc_id div 20) % 2 = 1"))
        .withColumn("text",
          when(col("source").isin("src0", "src1", "src2"),
            expr("substring(text, 1, 12)")).otherwise(col("text")))
      def hist(f: DataFrame) = f.groupBy("source")
        .agg(LongHistogram.sketch(
          size(split(trim(col("text")), "\\s+")).cast("long"), 256, 16).as("hist"))
      val drift = Corpus.psiFromHistograms(hist(refDocs), hist(curDocs), "source")
        .withColumnRenamed("key", "source")
      val ref = TextAnalysis.gateThresholdsBySource(refDocs, "doc_id", "text", "source")
      TextAnalysis.refitGateOnDrift(curDocs, "doc_id", "text", "source",
          drift, ref, psiAct = 0.1)
        .orderBy("source")
    },
    // markdown → text extraction: the identical regexp chain replayed in
    // DuckDB (capture-group replacements \1 vs Spark $1, flags 'g') over
    // a planted-markdown augmentation — fences vanish WITH content,
    // links/emphasis keep text, snake_case survives.
    q("q_x_text_strip_markdown", {
      val steps = Seq(
        "'(?s)```.*?```'" -> "' '",
        "'`([^`]*)`'" -> "'\\1'",
        "'!\\[([^\\]]*)\\]\\([^)]*\\)'" -> "'\\1'",
        "'\\[([^\\]]*)\\]\\([^)]*\\)'" -> "'\\1'",
        "'(?m)^#{1,6}[ \\t]*'" -> "''",
        "'\\*{1,3}([^*\\n]+)\\*{1,3}'" -> "'\\1'",
        "'__([^_\\n]+)__'" -> "'\\1'",
        "'(?m)^>[ \\t]?'" -> "''",
        "'(?m)^[ \\t]*([-*+]|[0-9]+\\.)[ \\t]+'" -> "''",
        "'(?m)^[-*_][-*_ \\t]{2,}$'" -> "''")
      val inner = steps.foldLeft("aug") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      }
      // both engines' default trim strips SPACES only — matching Spark.
      val cleaned = s"trim(regexp_replace($inner, '[ \\t]+', ' ', 'g'))"
      "WITH a0 AS (SELECT doc_id, '# Title' || chr(10) || " +
        "'**bold** and snake_case and [link text](https://x.y/z) plus `code span`' || chr(10) || " +
        "'```' || chr(10) || 'hidden fence code' || chr(10) || '```' || chr(10) || " +
        "'> quoted line' || chr(10) || '- item one' || chr(10) || '1. item two' || chr(10) || '---' || chr(10) || text AS aug " +
        "FROM documents) " +
        s"SELECT doc_id AS doc, $cleaned AS clean_text FROM a0 ORDER BY doc"
    }) { (s, d) =>
      val aug = concat(lit("# Title\n" +
        "**bold** and snake_case and [link text](https://x.y/z) plus `code span`\n" +
        "```\nhidden fence code\n```\n" +
        "> quoted line\n- item one\n1. item two\n---\n"), col("text"))
      Tables.documents(s, d).select(col("doc_id").as("doc"),
          TextAnalysis.stripMarkdown(aug).as("clean_text"))
        .orderBy("doc")
    },
    // bigram-LM quality (word-order-sensitive rung above the unigram
    // NLL): Laplace-smoothed P(w2|w1) with all-token context counts,
    // self-reference — counts, smoothing and the per-doc mean replayed.
    q("q_x_quality_bigram_nll",
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "gr AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS gram " +
        "FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 2), " +
        "cb AS (SELECT gram, count(*) AS cb FROM gr GROUP BY 1), " +
        "cu AS (SELECT w1, count(*) AS cu FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1), " +
        "v AS (SELECT count(*) AS vd FROM cu) " +
        "SELECT gr.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(avg(-ln((coalesce(cb.cb, 0) + 1) / CAST(coalesce(cu.cu, 0) + v.vd AS DOUBLE))), 6) AS avg_nll " +
        "FROM gr LEFT JOIN cb USING (gram) LEFT JOIN cu USING (w1) CROSS JOIN v " +
        "GROUP BY gr.doc_id ORDER BY doc") { (s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc")
    },

    // Interpolated (Jelinek-Mercer) NLL: lambda*P_bi + (1-lambda)*P_uni
    // with lambda = 0.75 (exact double) — an unseen pair still earns
    // credit for a plausible second word; both Laplace components and
    // the mix replay arithmetic-identically.
    q("q_x_quality_interp_nll",
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "gr AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i] || ' ' || toks[i+1] AS gram " +
        "FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 2), " +
        "cb AS (SELECT gram, count(*) AS cb FROM gr GROUP BY 1), " +
        "cu AS (SELECT w1, count(*) AS cu FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1), " +
        "v AS (SELECT CAST(sum(cu) AS BIGINT) AS tt, count(*) AS vd FROM cu), " +
        "cu2 AS (SELECT w1 AS w2, cu AS cu2 FROM cu) " +
        "SELECT gr.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(avg(-ln(0.75 * ((coalesce(cb.cb, 0) + 1) / CAST(coalesce(cu.cu, 0) + v.vd AS DOUBLE)) + " +
        "0.25 * ((coalesce(cu2.cu2, 0) + 1) / CAST(v.tt + v.vd AS DOUBLE)))), 6) AS avg_nll " +
        "FROM gr LEFT JOIN cb USING (gram) LEFT JOIN cu USING (w1) LEFT JOIN cu2 USING (w2) CROSS JOIN v " +
        "GROUP BY gr.doc_id ORDER BY doc") { (s, d) =>
      TextAnalysis.interpolatedLogProb(Tables.documents(s, d), "doc_id",
          "text", lambda = 0.75)
        .orderBy("doc")
    },
    // Gopher structural rules over an augmented corpus: planted bullet
    // listings, ellipsis-spam tails and symbol soup (the CASE augmentation
    // is identical on both engines, the pii_luhn pattern), every gauge
    // and the precedence verdict replayed per document.
    q("q_x_gopher_rules", {
      val sw = graft.llmops.TextAnalysis.Stopwords
        .map(w => s"'$w'").mkString("[", ", ", "]")
      "WITH a AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 23 = 0 THEN '- the apple of banana' || chr(10) || '- the cherry of date' || chr(10) || '- the fig of grape' " +
        "WHEN doc_id % 11 = 0 THEN '- item one' || chr(10) || '- item two' || chr(10) || text " +
        "WHEN doc_id % 13 = 0 THEN text || chr(10) || 'read more...' || chr(10) || 'click here...' " +
        "WHEN doc_id % 17 = 0 THEN text || ' ### ## #' ELSE text END AS t FROM documents), " +
        "m AS (SELECT doc_id AS doc, regexp_split_to_array(trim(t), '\\s+') AS toks, " +
        "list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)), l -> l <> '') AS lines, t FROM a), " +
        "g AS (SELECT doc, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS mean_word_len, " +
        "round((length(t) - length(replace(t, '#', '')) + len(regexp_extract_all(t, '\\.\\.\\.|…'))) / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio, " +
        "round(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) / CAST(len(lines) AS DOUBLE), 6) AS bullet_line_frac, " +
        "round(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) / CAST(len(lines) AS DOUBLE), 6) AS ellipsis_line_frac, " +
        "round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) / CAST(len(toks) AS DOUBLE), 6) AS alpha_word_frac, " +
        s"CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), $sw)) AS BIGINT) AS n_stop_hits FROM m) " +
        "SELECT *, CASE WHEN n_tokens < 5 THEN 'too_short' WHEN n_tokens > 100000 THEN 'too_long' " +
        "WHEN mean_word_len < 3.0 THEN 'short_words' WHEN mean_word_len > 10.0 THEN 'long_words' " +
        "WHEN symbol_ratio > 0.1 THEN 'symbol_soup' WHEN bullet_line_frac > 0.9 THEN 'bullet_listing' " +
        "WHEN ellipsis_line_frac > 0.3 THEN 'ellipsis_spam' WHEN alpha_word_frac < 0.8 THEN 'non_alpha' " +
        "WHEN n_stop_hits < 2 THEN 'no_stopwords' ELSE 'keep' END AS reason, " +
        "CASE WHEN n_tokens < 5 THEN 'too_short' WHEN n_tokens > 100000 THEN 'too_long' " +
        "WHEN mean_word_len < 3.0 THEN 'short_words' WHEN mean_word_len > 10.0 THEN 'long_words' " +
        "WHEN symbol_ratio > 0.1 THEN 'symbol_soup' WHEN bullet_line_frac > 0.9 THEN 'bullet_listing' " +
        "WHEN ellipsis_line_frac > 0.3 THEN 'ellipsis_spam' WHEN alpha_word_frac < 0.8 THEN 'non_alpha' " +
        "WHEN n_stop_hits < 2 THEN 'no_stopwords' ELSE 'keep' END = 'keep' AS keep " +
        "FROM g ORDER BY doc"
    }) { (s, d) =>
      val aug = when(col("doc_id") % 23 === 0,
          lit("- the apple of banana\n- the cherry of date\n- the fig of grape"))
        .when(col("doc_id") % 11 === 0,
          concat(lit("- item one\n- item two\n"), col("text")))
        .when(col("doc_id") % 13 === 0,
          concat(col("text"), lit("\nread more...\nclick here...")))
        .when(col("doc_id") % 17 === 0, concat(col("text"), lit(" ### ## #")))
        .otherwise(col("text"))
      TextAnalysis.gopherRules(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text")),
          "doc_id", "text", minTokens = 5)
        .orderBy("doc")
    },
    // vocabulary export: top-200 terms by collection frequency with
    // stable rank ids, df >= 2 — the tokenizer/embedding artifact.
    q("q_x_vocab_export",
      "WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf, CAST(count(DISTINCT doc) AS BIGINT) AS df " +
        "FROM (SELECT doc_id AS doc, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents) " +
        "GROUP BY term HAVING count(DISTINCT doc) >= 2), " +
        "cut AS (SELECT * FROM tf ORDER BY tf DESC, term LIMIT 200) " +
        "SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) - 1 AS BIGINT) AS id, term, tf, df " +
        "FROM cut ORDER BY id") { (s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "doc_id", "text",
          size = 200, minDf = 2)
        .orderBy("id")
    },
    // Luhn card-number audit: planted candidates (one Luhn-valid test
    // number, one with a broken check digit) — the regex finds both, the
    // integer checksum separates them, and the oracle replays every digit
    // weight. The redaction FOLD is spec-pinned (LlmOpsSpec) — the
    // decision logic is what the oracle owns.
    q("q_x_pii_luhn", {
      val aug = "text || CASE WHEN doc_id % 5 = 0 THEN ' card 4111 1111 1111 1111 ok' " +
        "WHEN doc_id % 7 = 0 THEN ' pay 4111-1111-1111-1112 no' ELSE '' END"
      val re = "\\b(?:\\d[ -]?){12,18}\\d\\b"
      s"WITH a AS (SELECT doc_id AS doc, $aug AS t FROM documents), " +
        s"c AS (SELECT doc, unnest(regexp_extract_all(t, '$re')) AS cand FROM a), " +
        "ds AS (SELECT doc, cand, regexp_replace(cand, '[^0-9]', '', 'g') AS d FROM c), " +
        "dig AS (SELECT doc, cand, length(d) AS n, unnest(generate_series(1, length(d))) AS i, d FROM ds), " +
        "w AS (SELECT doc, cand, n, CAST(substr(d, CAST(i AS INT), 1) AS BIGINT) AS dv, (n - i) % 2 AS odd FROM dig), " +
        "sums AS (SELECT doc, cand, n, sum(CASE WHEN odd = 1 THEN dv * 2 - CASE WHEN dv >= 5 THEN 9 ELSE 0 END ELSE dv END) AS s FROM w GROUP BY 1, 2, 3) " +
        "SELECT doc, cand, CAST(n AS BIGINT) AS n_digits, (s % 10 = 0 AND n BETWEEN 13 AND 19) AS luhn_valid " +
        "FROM sums ORDER BY doc, cand"
    }) { (s, d) =>
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" card 4111 1111 1111 1111 ok"))
          .when(col("doc_id") % 7 === 0, lit(" pay 4111-1111-1111-1112 no"))
          .otherwise(lit("")))
      TextAnalysis.luhnCards(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text")),
          "doc_id", "text")
        .orderBy("doc", "cand")
    },
    // unigram-LM quality (the CCNet perplexity-proxy gradient): mean
    // negative log probability under Laplace-smoothed corpus unigram
    // stats — self-scored, so every count and both totals replay.
    q("q_x_quality_unigram_nll",
      "WITH toks AS (SELECT doc_id AS doc, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "fr AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1), " +
        "tot AS (SELECT sum(cnt) AS t, count(*) AS v FROM fr) " +
        "SELECT doc, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(avg(-ln((coalesce(fr.cnt, 0) + 1) / CAST(tot.t + tot.v AS DOUBLE))), 6) AS avg_nll " +
        "FROM toks LEFT JOIN fr USING (term) CROSS JOIN tot GROUP BY doc ORDER BY doc") { (s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc")
    },
    // PSI corpus-drift report: snapshot A = even docs' token counts,
    // snapshot B = odd docs' counts HALVED (a planted length-collapse
    // drift) — binning, Laplace shares and every per-bin contribution
    // replay exactly; Σ psi_contrib is the drift verdict.
    q("q_x_corpus_drift_psi",
      "WITH ta AS (SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS v FROM documents WHERE doc_id % 2 = 0), " +
        "tb AS (SELECT len(regexp_split_to_array(trim(text), '\\s+')) // 2 AS v FROM documents WHERE doc_id % 2 = 1), " +
        "ga AS (SELECT least(greatest(CAST(v AS BIGINT), 0) // 16, 31) AS bin, count(*) AS na FROM ta GROUP BY 1), " +
        "gb AS (SELECT least(greatest(CAST(v AS BIGINT), 0) // 16, 31) AS bin, count(*) AS nb FROM tb GROUP BY 1), " +
        "tot AS (SELECT (SELECT sum(na) FROM ga) AS tan, (SELECT sum(nb) FROM gb) AS tbn), " +
        "bins AS (SELECT unnest(generate_series(0, 31)) AS bin) " +
        "SELECT CAST(b.bin AS BIGINT) AS bin, CAST(coalesce(ga.na, 0) AS BIGINT) AS na, CAST(coalesce(gb.nb, 0) AS BIGINT) AS nb, " +
        "round((coalesce(ga.na, 0) + 1) / CAST(t.tan + 32 AS DOUBLE), 6) AS p, " +
        "round((coalesce(gb.nb, 0) + 1) / CAST(t.tbn + 32 AS DOUBLE), 6) AS q, " +
        "round(((coalesce(ga.na, 0) + 1) / CAST(t.tan + 32 AS DOUBLE) - (coalesce(gb.nb, 0) + 1) / CAST(t.tbn + 32 AS DOUBLE)) * " +
        "ln(((coalesce(ga.na, 0) + 1) / CAST(t.tan + 32 AS DOUBLE)) / ((coalesce(gb.nb, 0) + 1) / CAST(t.tbn + 32 AS DOUBLE))), 6) AS psi_contrib " +
        "FROM bins b LEFT JOIN ga ON ga.bin = b.bin LEFT JOIN gb ON gb.bin = b.bin CROSS JOIN tot t ORDER BY bin") { (s, d) =>
      val docs = Tables.documents(s, d)
      val nt = size(split(trim(col("text")), "\\s+")).cast("long")
      Corpus.psiDrift(
          docs.filter(col("doc_id") % 2 === 0).select(nt.as("v")),
          docs.filter(col("doc_id") % 2 === 1).select(nt.as("v0"))
            .select(expr("v0 div 2").as("v")),
          "v")
        .orderBy("bin")
    },

    // histogram-state PSI (the dataCardDrift batch replay): per-source
    // drift between two bounded LongHistogram cards — snapshot B's
    // lengths halved (planted drift); binning, Laplace shares and the
    // per-source Σ contribution all replay. The split alternates BLOCKS
    // of 20 ids (source = doc_id % 20, so a plain parity split would
    // give the two snapshots DISJOINT sources and a degenerate empty
    // comparison — every source must live on both sides).
    q("q_x_card_drift_psi",
      "WITH ba AS (SELECT source, least(greatest(n_chars, 0) // 16, 255) AS bin FROM documents WHERE (doc_id // 20) % 2 = 0), " +
        "ga AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM ba GROUP BY 1, 2), " +
        "bb AS (SELECT source, least(greatest(n_chars // 2, 0) // 16, 255) AS bin FROM documents WHERE (doc_id // 20) % 2 = 1), " +
        "gb AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM bb GROUP BY 1, 2), " +
        "keys AS (SELECT DISTINCT source FROM ba INTERSECT SELECT DISTINCT source FROM bb), " +
        "grid AS (SELECT k.source, b.bin FROM keys k CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bin) b), " +
        "r AS (SELECT g.source, g.bin, coalesce(ga.c, 0) AS na, coalesce(gb.c, 0) AS nb FROM grid g LEFT JOIN ga ON ga.source = g.source AND ga.bin = g.bin LEFT JOIN gb ON gb.source = g.source AND gb.bin = g.bin), " +
        "t AS (SELECT source, sum(na) AS ta, sum(nb) AS tb FROM r GROUP BY 1) " +
        "SELECT r.source, CAST(t.ta AS BIGINT) AS n_a, CAST(t.tb AS BIGINT) AS n_b, " +
        "round(sum(((r.na + 1) / CAST(t.ta + 256 AS DOUBLE) - (r.nb + 1) / CAST(t.tb + 256 AS DOUBLE)) * " +
        "ln(((r.na + 1) / CAST(t.ta + 256 AS DOUBLE)) / ((r.nb + 1) / CAST(t.tb + 256 AS DOUBLE)))), 6) AS psi " +
        "FROM r JOIN t USING (source) GROUP BY r.source, t.ta, t.tb ORDER BY source") { (s, d) =>
      import graft.functions.LongHistogram
      val docs = Tables.documents(s, d)
      def card(f: DataFrame, v: org.apache.spark.sql.Column) = f.groupBy("source")
        .agg(LongHistogram.sketch(v, 256, 16).as("hist"))
      Corpus.psiFromHistograms(
          card(docs.filter(expr("(doc_id div 20) % 2 = 0")), col("n_chars")),
          card(docs.filter(expr("(doc_id div 20) % 2 = 1")), expr("n_chars div 2")),
          "source")
        .withColumnRenamed("key", "source")
        .orderBy("source")
    },

    // multimodal: binary payload metadata (bytes stand in for media blobs)
    q("q_x_multimodal_meta",
      "SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, sha256(text) AS sha256 FROM documents ORDER BY media_id") { (s, d) =>
      Multimodal.withMetadata(Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"))
        .select("media_id", "byte_len", "sha256")
        .orderBy("media_id")
    },

    // exact n-gram Jaccard near-dup pairs (threshold catches the planted dups)
    q("q_x_dedup_ngram_jaccard",
      "WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) WHERE len(t) >= 3), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh), pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh) SELECT id_a, id_b, round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.8 ORDER BY 1, 2") { (s, d) =>
      // the oracle states the quadratic definition; the engine runs the
      // prefix-filtered exact algorithm — results must be identical.
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    },

    // exact-substring dedup (Lee et al. duplicated-span removal): maximal
    // verbatim token spans >= 12 shared across distinct docs, from width-8
    // shingle-fingerprint seeds merged along diagonals. The oracle states
    // the same seed/diagonal/islands definition with the portable hash;
    // DuckDB positions are 1-based, hence the -1 on the starts.
    q("q_x_dedup_substring",
      "WITH " + substringSpansSql + " " +
        "SELECT da AS doc_a, db AS doc_b, CAST(a_start AS BIGINT) AS a_start, " +
        "CAST(b_start AS BIGINT) AS b_start, CAST(span_tokens AS BIGINT) AS span_tokens " +
        "FROM spans ORDER BY doc_a, doc_b, a_start, b_start") { (s, d) =>
      Dedup.sharedSpans(docsSpread(s, d), "doc_id", "text",
        width = 8, minTokens = 12, maxFpFreq = 128)
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    },
    // cross-corpus substring dedup (the incremental daily-ingest shape):
    // spans a NEW batch (even doc_ids) shares with the standing corpus
    // (odd), seeds strictly across the sides — no self re-pairing. The
    // ubiquity cap counts both sides jointly, same as the engine.
    q("q_x_dedup_substring_across",
      "WITH " + substringCoolSql + ", " +
        "seeds2 AS (SELECT b.doc_id AS ba, c.doc_id AS ca, b.p AS pa, c.p AS pb FROM cool b JOIN cool c ON b.fp = c.fp AND b.doc_id % 2 = 0 AND c.doc_id % 2 = 1), " +
        "runs2 AS (SELECT ba, ca, pa - pb AS diag, pa, pb, pa - row_number() OVER (PARTITION BY ba, ca, pa - pb ORDER BY pa) AS isl FROM seeds2) " +
        "SELECT ba AS batch_id, ca AS corpus_id, CAST(min(pa) - 1 AS BIGINT) AS batch_start, " +
        "CAST(min(pb) - 1 AS BIGINT) AS corpus_start, CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens " +
        "FROM runs2 GROUP BY ba, ca, diag, isl HAVING max(pa) - min(pa) + 8 >= 12 " +
        "ORDER BY batch_id, corpus_id, batch_start") { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.sharedSpansAcross(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", width = 8, minTokens = 12, maxFpFreq = 128)
        .orderBy("batch_id", "corpus_id", "batch_start")
    },
    // duplicated-span REMOVAL (the second half of Lee et al.): the b-side
    // of each span loses its covered token positions (lowest-id occurrence
    // survives); every doc returns with kept/removed counts + the md5 of
    // the reassembled clean text.
    q("q_x_dedup_substring_scrub",
      "WITH " + substringSpansSql + ", " +
        "cov AS (SELECT DISTINCT doc, pos FROM (SELECT db AS doc, b_start + unnest(generate_series(0, span_tokens - 1)) AS pos FROM spans)), " +
        "pos2 AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i FROM t), " +
        "tk AS (SELECT p.doc_id AS doc, CAST(p.i - 1 AS BIGINT) AS pos, t.toks[p.i] AS tok FROM pos2 p JOIN t ON t.doc_id = p.doc_id), " +
        "kp AS (SELECT tk.doc, tk.pos, tk.tok FROM tk WHERE NOT EXISTS (SELECT 1 FROM cov WHERE cov.doc = tk.doc AND cov.pos = tk.pos)), " +
        "rb AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_kept, md5(string_agg(tok, ' ' ORDER BY pos)) AS cmd5 FROM kp GROUP BY 1) " +
        "SELECT t.doc_id AS doc, coalesce(rb.n_kept, 0) AS n_kept, " +
        "CAST(len(t.toks) AS BIGINT) - coalesce(rb.n_kept, 0) AS n_removed, " +
        "coalesce(rb.cmd5, md5('')) AS clean_md5 " +
        "FROM t LEFT JOIN rb ON rb.doc = t.doc_id ORDER BY doc") { (s, d) =>
      Dedup.removeSharedSpans(docsSpread(s, d), "doc_id", "text",
          width = 8, minTokens = 12, maxFpFreq = 128)
        .select(col("doc"), col("n_kept"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc")
    },

    // brute-force cosine top-k (queries = vec_id < 5, k = 5)
    q("q_x_embed_cosine_topk",
      "WITH q AS (SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS qv FROM embeddings WHERE vec_id < 5), c AS (SELECT vec_id AS cid, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS cv FROM embeddings), dots AS (SELECT qid, cid, sum(qv * cv) AS dot, sqrt(sum(qv * qv)) AS qn, sqrt(sum(cv * cv)) AS cn FROM q JOIN c USING (i) GROUP BY qid, cid), sims AS (SELECT qid, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM dots WHERE qid <> cid) SELECT qid, cid, CAST(rn AS BIGINT) AS rn, round(cos, 6) AS cos FROM sims WHERE rn <= 5 ORDER BY qid, rn") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("qid", "rn")
    },

    // embedding-cosine near-dup pairs (exact baseline, LSH path rows-only)
    q("q_x_dedup_embed_cosine",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS na, sqrt(sum(b.v * b.v)) AS nb FROM e a JOIN e b USING (i) WHERE a.vec_id < b.vec_id GROUP BY 1, 2) SELECT id_a, id_b, round(dot / (na * nb), 6) AS cos FROM dots WHERE dot / (na * nb) >= 0.4 ORDER BY 1, 2") { (s, d) =>
      Similarity.cosinePairs(Tables.embeddings(s, d), threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // same decontamination decision through the Bloom-prefilter path: the
    // bench side folds into a bounded 2^16-bit bitset (1 KiB of words
    // broadcast, however large the suite), survivors get the exact verify
    // — so the oracle is the SAME exact definition as q_x_decontaminate.
    q("q_x_decon_bloom",
      "WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 4), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) WHERE len(t) >= 5), " +
        "bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 2 = 1), " +
        "hits AS (SELECT doc_id, count(*) AS n_hit FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 2 = 0) t WHERE s IN (SELECT s FROM bench) GROUP BY 1) " +
        "SELECT d.doc_id AS doc, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit, coalesce(h.n_hit, 0) > 0 AS contaminated " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d LEFT JOIN hits h USING (doc_id) ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      // 2^16 bits on purpose: real false-positive pressure at sf0.01+, so
      // the verify stage is exercised, not vacuous.
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 5, mBits = 1 << 16, kProbes = 4)
        .orderBy("doc")
    },

    // approximate dedup paths — PortableHash makes the full pipelines
    // SQL-expressible, so these carry exact DuckDB oracles; recall vs the
    // exact paths is additionally asserted in LlmOpsSpec.
    q("q_x_dedup_minhash", minHashOracleSql) { (s, d) =>
      Dedup.minHashPairs(docsSpread(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },
    // weighted-Jaccard near-dup (tf capped at 3): repetition counts —
    // Σ min(tf)/Σ max(tf) via the exact capped-multiset expansion, same
    // minhash machinery over the expanded elements.
    q("q_x_dedup_minhash_weighted", weightedMinHashOracleSql) { (s, d) =>
      Dedup.weightedMinHashPairs(docsSpread(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },
    q("q_x_dedup_simhash", simHashOracleSql) { (s, d) =>
      Dedup.simHashPairs(docsSpread(s, d), "doc_id", "text", maxHamming = 10)
        .orderBy("id_a", "id_b")
    },
    // incremental dedup: a NEW batch (odd ids) probes the EXISTING corpus
    // (even ids) — candidates pair strictly across, neither side
    // self-joins. The production daily-refresh shape.
    q("q_x_dedup_minhash_across", minHashAcrossOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.minHashPairsAcross(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    },
    // DSIR-inspired importance scoring: hashed 2-gram bucket models for
    // target (source = src1) vs raw, per-bucket scaled-integer add-one
    // probability ratio, per-doc mean bucket weight — all integer
    // arithmetic (DIV, never float), so the oracle is value-exact.
    q("q_x_importance_scores",
      importanceScoresSql + " ORDER BY doc") { (s, d) =>
      import graft.llmops.Selection
      val docs = Tables.documents(s, d)
      val w = Selection.importanceWeights(docs,
        docs.filter(col("source") === "src1"), "doc_id", "text",
        n = 2, nBuckets = 8192)
      Selection.importanceScores(docs, "doc_id", "text", w,
          n = 2, nBuckets = 8192)
        .orderBy("doc")
    },

    // DECIMAL(38,0) importance-weight form: per-bucket counts scaled past
    // 2^40 total grams (the 100 TB corpus range, synthesized by shifting
    // real per-bucket aggregates) take the decimal arithmetic branch —
    // DuckDB replays it in HUGEINT, both exact, so w is value-identical.
    q("q_x_importance_weights_decimal",
      "WITH c AS (SELECT doc_id % 64 AS bucket, CAST(sum(n_chars) * 268435456 AS BIGINT) AS c_r, " +
        "CAST(count(*) * 8589934592 AS BIGINT) AS c_t FROM documents GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS nr, CAST(sum(c_t) AS BIGINT) AS nt FROM c) " +
        "SELECT bucket, c_r, c_t, CAST(CAST(1000000 AS HUGEINT) * (CAST(c_t AS HUGEINT) + 1) * (CAST(tot.nr AS HUGEINT) + 64) " +
        "// ((CAST(c_r AS HUGEINT) + 1) * (CAST(tot.nt AS HUGEINT) + 64)) AS BIGINT) AS w " +
        "FROM c CROSS JOIN tot ORDER BY bucket") { (s, d) =>
      import graft.llmops.Selection
      val counts = Tables.documents(s, d)
        .groupBy((col("doc_id") % 64).as("bucket"))
        .agg((sum("n_chars") * lit(1L << 28)).as("c_r"),
          (count(lit(1)) * lit(1L << 33)).as("c_t"))
      val nr = counts.agg(sum("c_r")).first().getLong(0)
      val nt = counts.agg(sum("c_t")).first().getLong(0)
      Selection.importanceWeightsFromCounts(counts, nr, nt, nBuckets = 64)
        .orderBy("bucket")
    },

    // exact top-share selection over the importance scores: keep exactly
    // floor(n·25%) docs by (score DESC, doc ASC). The oracle is the naive
    // global rank; the engine runs the two-phase bucketed-cumsum +
    // boundary-tie-rank plan (equality is the point).
    q("q_x_selection_topshare",
      s"WITH scores AS ($importanceScoresSql), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc) AS rn, count(*) OVER () AS n FROM scores) " +
        "SELECT doc, n_grams, w_sum, score FROM r WHERE rn <= n * 2500 // 10000 ORDER BY doc") { (s, d) =>
      import graft.llmops.Selection
      val docs = Tables.documents(s, d)
      val w = Selection.importanceWeights(docs,
        docs.filter(col("source") === "src1"), "doc_id", "text",
        n = 2, nBuckets = 8192)
      val scored = Selection.importanceScores(docs, "doc_id", "text", w,
        n = 2, nBuckets = 8192)
      Selection.topShare(scored, keepBps = 2500).orderBy("doc")
    },

    // CCNet-style normalization: lowercase, strip punctuation, digits→0,
    // collapse whitespace. The synthetic corpus is already clean, so both
    // engines append the SAME deterministic decorations (the PII-oracle
    // pattern) and must agree on the normalized text and its md5.
    q("q_x_text_normalize", {
      val aug = "text || CASE WHEN doc_id % 3 = 0 THEN '  Call 555-1234, NOW!' " +
        "WHEN doc_id % 3 = 1 THEN ' (Room 42); ok' ELSE '' END"
      val punct = "[.,;:!?''\"()\\-]"
      s"SELECT doc_id AS doc, regexp_replace(regexp_replace(regexp_replace(lower(trim($aug)), '$punct', '', 'g'), '[0-9]', '0', 'g'), '\\s+', ' ', 'g') AS norm, " +
        s"md5(regexp_replace(regexp_replace(regexp_replace(lower(trim($aug)), '$punct', '', 'g'), '[0-9]', '0', 'g'), '\\s+', ' ', 'g')) AS norm_md5 " +
        "FROM documents ORDER BY doc"
    }) { (s, d) =>
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0, "  Call 555-1234, NOW!")
          .when(col("doc_id") % 3 === 1, " (Room 42); ok")
          .otherwise(""))
      val norm = TextAnalysis.normalize(aug)
      Tables.documents(s, d)
        .select(col("doc_id").as("doc"), norm.as("norm"), md5(norm).as("norm_md5"))
        .orderBy("doc")
    },

    // per-source data card: doc/token counts, integer mean, exact
    // p50/p90/p99 lengths (rank rule), within-source exact-dup counts.
    q("q_x_data_card",
      "WITH b AS (SELECT doc_id AS doc, source, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens, md5(text) AS h FROM documents), " +
        "k AS (SELECT *, min(doc) OVER (PARTITION BY source, h) AS keep FROM b), " +
        "st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_tokens) // count(*) AS BIGINT) AS avg_tokens, " +
        "CAST(sum(CASE WHEN doc <> keep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups, " +
        "CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM k GROUP BY 1), " +
        "r AS (SELECT source, n_tokens, row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn, count(*) OVER (PARTITION BY source) AS cnt FROM b), " +
        "qs AS (SELECT source, CAST(max(CASE WHEN rn = (cnt - 1) * 50 // 100 + 1 THEN n_tokens END) AS BIGINT) AS p50, " +
        "CAST(max(CASE WHEN rn = (cnt - 1) * 90 // 100 + 1 THEN n_tokens END) AS BIGINT) AS p90, " +
        "CAST(max(CASE WHEN rn = (cnt - 1) * 99 // 100 + 1 THEN n_tokens END) AS BIGINT) AS p99 FROM r GROUP BY 1) " +
        "SELECT st.*, qs.p50, qs.p90, qs.p99 FROM st JOIN qs USING (source) ORDER BY source") { (s, d) =>
      Corpus.dataCard(Tables.documents(s, d), "doc_id", "text", "source")
        .orderBy("source")
    },

    // Rendered data card: the whole markdown README compared as a VALUE
    // (plus md5/length) — both engines build the identical document from
    // the identical card chain.
    q("q_x_card_markdown",
      "WITH b AS (SELECT doc_id AS doc, source, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens, md5(text) AS h FROM documents), " +
        "k AS (SELECT *, min(doc) OVER (PARTITION BY source, h) AS keep FROM b), " +
        "st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_tokens) // count(*) AS BIGINT) AS avg_tokens, " +
        "CAST(sum(CASE WHEN doc <> keep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups, " +
        "CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM k GROUP BY 1), " +
        "r AS (SELECT source, n_tokens, row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn, count(*) OVER (PARTITION BY source) AS cnt FROM b), " +
        "qs AS (SELECT source, CAST(max(CASE WHEN rn = (cnt - 1) * 50 // 100 + 1 THEN n_tokens END) AS BIGINT) AS p50, " +
        "CAST(max(CASE WHEN rn = (cnt - 1) * 90 // 100 + 1 THEN n_tokens END) AS BIGINT) AS p90, " +
        "CAST(max(CASE WHEN rn = (cnt - 1) * 99 // 100 + 1 THEN n_tokens END) AS BIGINT) AS p99 FROM r GROUP BY 1), " +
        "j AS (SELECT st.*, qs.p50, qs.p90, qs.p99 FROM st JOIN qs USING (source)), " +
        "line AS (SELECT source, n_docs, n_tokens, '| ' || source || ' | ' || n_docs || ' | ' || n_tokens || ' | ' || avg_tokens || ' | ' || n_exact_dups || ' | ' || n_distinct || ' | ' || p50 || ' | ' || p90 || ' | ' || p99 || ' |' AS l FROM j), " +
        "md AS (SELECT '# Corpus data card' || chr(10) || chr(10) || " +
        "'| source | docs | tokens | avg_tokens | exact_dups | distinct | p50 | p90 | p99 |' || chr(10) || " +
        "'|---|---|---|---|---|---|---|---|---|' || chr(10) || " +
        "string_agg(l, chr(10) ORDER BY source) || " +
        "chr(10) || chr(10) || 'Totals: ' || sum(n_docs) || ' docs, ' || sum(n_tokens) || ' tokens across ' || count(*) || ' sources.' AS markdown FROM line) " +
        "SELECT md5(markdown) AS card_md5, CAST(length(markdown) AS BIGINT) AS n_chars, markdown FROM md") { (s, d) =>
      graft.llmops.Release.cardMarkdown(
        Corpus.dataCard(Tables.documents(s, d), "doc_id", "text", "source"))
    },

    // mergeable occurrence-quantile state: per-source n_chars histograms
    // (g = 16, B = 256) built from the two doc-id parities SEPARATELY and
    // merged — the incremental path — then exact g-granular p50/p90/p99
    // extracted; the oracle computes the same granulated rank rule from
    // scratch, so the merge law is hash-checked, not just spec-asserted.
    q("q_x_occurrence_quantiles",
      "WITH b AS (SELECT source, least(greatest(n_chars, 0) // 16, 255) AS idx FROM documents), " +
        "g AS (SELECT source, idx, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2), " +
        "c AS (SELECT source, idx, cnt, sum(cnt) OVER (PARTITION BY source ORDER BY idx) AS cum, sum(cnt) OVER (PARTITION BY source) AS n FROM g) " +
        "SELECT source, CAST(any_value(n) AS BIGINT) AS n, " +
        "CAST(min(CASE WHEN cum >= (n - 1) * 50 // 100 + 1 THEN idx * 16 END) AS BIGINT) AS p50, " +
        "CAST(min(CASE WHEN cum >= (n - 1) * 90 // 100 + 1 THEN idx * 16 END) AS BIGINT) AS p90, " +
        "CAST(min(CASE WHEN cum >= (n - 1) * 99 // 100 + 1 THEN idx * 16 END) AS BIGINT) AS p99 " +
        "FROM c GROUP BY source ORDER BY source") { (s, d) =>
      import graft.functions.LongHistogram
      val docs = Tables.documents(s, d)
      def part(f: DataFrame) = f.groupBy("source")
        .agg(LongHistogram.sketch(col("n_chars")).as("hist"))
      val merged = part(docs.filter(col("doc_id") % 2 === 0))
        .unionByName(part(docs.filter(col("doc_id") % 2 === 1)))
        .groupBy("source")
        .agg(LongHistogram.mergeSketch(col("hist")).as("hist"))
      LongHistogram.quantiles(merged, Seq("source"), "hist", Seq(50, 90, 99))
        .orderBy("source")
    },

    // JSONL interop round trip: Spark WRITES the corpus as gzip JSONL
    // parts, reads them back through the quarantine-capable reader, and
    // the ORACLE reads the very same parts with DuckDB's JSON reader —
    // a genuine cross-engine format check (per-source counts + an
    // order-invariant xor checksum of id:text must hash-match).
    q("q_x_jsonl_interop", {
      val h = graft.llmops.PortableHash.duckHash52(
        "CAST(doc_id AS VARCHAR) || ':' || text")
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        s"CAST(bit_xor($h) AS BIGINT) AS checksum " +
        "FROM read_json_auto('/tmp/graft_jsonl_interop/*.json.gz') " +
        "GROUP BY source ORDER BY source"
    }) { (s, d) =>
      import graft.ingest.Jsonl
      import graft.llmops.PortableHash
      // FIXED path, not a per-run tempdir: the DuckDB oracle reads these
      // very files back (read_json_auto over the literal path above), so
      // both engines must agree on where they live. Jsonl.write is
      // mode("overwrite") — reruns replace, never accumulate.
      val path = "/tmp/graft_jsonl_interop"
      Jsonl.write(Tables.documents(s, d)
        .select("doc_id", "text", "source").coalesce(4), path)
      val (good, quarantine) = Jsonl.read(s, path)
      require(quarantine.isEmpty, "self-written JSONL must parse cleanly")
      good.select(col("source"),
          PortableHash.hash52(concat(col("doc_id").cast("string"), lit(":"),
            col("text"))).as("__h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(__h)").as("checksum"))
        .orderBy("source")
    },
    // token-WEIGHTED occurrence quantiles: each doc's n_chars bucket
    // accumulates its token count — "half the corpus VOLUME sits in docs
    // shorter than p50", the compute-budgeting form; state again built
    // from the two parities and merged.
    q("q_x_weighted_quantiles",
      "WITH b AS (SELECT source, least(greatest(n_chars, 0) // 16, 255) AS idx, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS w FROM documents), " +
        "g AS (SELECT source, idx, CAST(sum(w) AS BIGINT) AS cnt FROM b GROUP BY 1, 2), " +
        "c AS (SELECT source, idx, cnt, sum(cnt) OVER (PARTITION BY source ORDER BY idx) AS cum, sum(cnt) OVER (PARTITION BY source) AS n FROM g) " +
        "SELECT source, CAST(any_value(n) AS BIGINT) AS n, " +
        "CAST(min(CASE WHEN cum >= (n - 1) * 50 // 100 + 1 THEN idx * 16 END) AS BIGINT) AS p50, " +
        "CAST(min(CASE WHEN cum >= (n - 1) * 90 // 100 + 1 THEN idx * 16 END) AS BIGINT) AS p90 " +
        "FROM c GROUP BY source ORDER BY source") { (s, d) =>
      import graft.functions.LongHistogram
      val docs = Tables.documents(s, d)
        .withColumn("__w", size(split(trim(col("text")), "\\s+")).cast("long"))
      def part(f: DataFrame) = f.groupBy("source")
        .agg(LongHistogram.sketchWeighted(col("n_chars"), col("__w")).as("hist"))
      val merged = part(docs.filter(col("doc_id") % 2 === 0))
        .unionByName(part(docs.filter(col("doc_id") % 2 === 1)))
        .groupBy("source")
        .agg(LongHistogram.mergeSketch(col("hist")).as("hist"))
      LongHistogram.quantiles(merged, Seq("source"), "hist", Seq(50, 90))
        .orderBy("source")
    },

    // two-day incremental dedup replay (the batch twin of
    // EventStream.dedupStream, greedy arrival order): day 1 = odd ids
    // dedups within itself, day 2 = even ids dedups within itself then
    // probes day 1's accepted index. The oracle replays both days'
    // component elections and the cross probe.
    q("q_x_dedup_stream", {
      def comp(tag: String, pairsRel: String) =
        s"u$tag AS (SELECT id_a AS u, id_b AS v FROM $pairsRel UNION ALL SELECT id_b, id_a FROM $pairsRel), " +
          s"r$tag AS (SELECT u AS v, u AS r FROM u$tag UNION SELECT u$tag.v, r$tag.r FROM r$tag JOIN u$tag ON u$tag.u = r$tag.v), " +
          s"c$tag AS (SELECT v, min(r) AS cluster FROM r$tag GROUP BY v)"
      "WITH RECURSIVE odd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1), " +
        "even AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0), " +
        s"p1 AS (SELECT id_a, id_b FROM (${minHashSqlOver("odd")}) q1), " +
        comp("1", "p1") + ", " +
        "s1 AS (SELECT o.doc_id, o.text FROM odd o LEFT JOIN c1 ON c1.v = o.doc_id WHERE coalesce(c1.cluster, o.doc_id) = o.doc_id), " +
        s"p2 AS (SELECT id_a, id_b FROM (${minHashSqlOver("even")}) q2), " +
        comp("2", "p2") + ", " +
        "w2 AS (SELECT e.doc_id, e.text FROM even e LEFT JOIN c2 ON c2.v = e.doc_id WHERE coalesce(c2.cluster, e.doc_id) = e.doc_id), " +
        s"x AS (SELECT DISTINCT batch_id FROM (${minHashAcrossSqlOver("s1", "w2")}) qx), " +
        "s2 AS (SELECT * FROM w2 WHERE doc_id NOT IN (SELECT batch_id FROM x)) " +
        "SELECT doc_id AS doc, CAST(1 AS BIGINT) AS day, md5(text) AS content_md5 FROM s1 " +
        "UNION ALL SELECT doc_id, 2, md5(text) FROM s2 ORDER BY doc"
    }) { (s, d) =>
      val docs = docsSpread(s, d)
      val emptyIdx = Dedup.shingleIndexRows(docs.limit(0), "doc_id", "text", 3)
      val day1 = Dedup.incrementalDedupStep(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        emptyIdx, Dedup.indexBandRows(emptyIdx))
      val ex1 = Dedup.shingleIndexRows(day1, "doc", "text", 3).localCheckpoint(true)
      val day2 = Dedup.incrementalDedupStep(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        ex1, Dedup.indexBandRows(ex1))
      day1.select(col("doc"), lit(1L).as("day"), md5(col("text")).as("content_md5"))
        .unionAll(day2.select(col("doc"), lit(2L).as("day"), md5(col("text")).as("content_md5")))
        .orderBy("doc")
    },

    // end-to-end dedup decision table: minhash pairs → connected-component
    // clusters (GraphX connected components) → per-document survivor
    // flag. The oracle re-derives the SAME pairs (the minhash oracle as a
    // derived table) and resolves components with a recursive reachability
    // CTE — min reachable id ≡ the component's minimum id.
    q("q_x_dedup_clusters",
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($minHashOracleSql) mh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v) " +
        "SELECT d.doc_id AS doc, coalesce(c.cluster, d.doc_id) AS cluster, " +
        "coalesce(c.cluster, d.doc_id) = d.doc_id AS is_survivor " +
        "FROM documents d LEFT JOIN comp c ON c.v = d.doc_id ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text")
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      Dedup.dedupSurvivors(docs, "doc_id", clusters).orderBy("doc")
    },
    // Soft dedup: downweight a near-dup cluster's members so the CLUSTER
    // contributes one document's loss (weight = 1e6 // size, integer
    // floor — singletons exactly 1e6), instead of hard-dropping the
    // copies — the reweight-not-drop policy over the same cluster
    // machinery.
    q("q_x_soft_dedup",
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($minHashOracleSql) mh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v), " +
        "sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY 1) " +
        "SELECT d.doc_id AS doc, coalesce(c.cluster, d.doc_id) AS cluster, " +
        "coalesce(sz.cluster_size, 1) AS cluster_size, " +
        "1000000 // coalesce(sz.cluster_size, 1) AS weight_micro " +
        "FROM documents d LEFT JOIN comp c ON c.v = d.doc_id " +
        "LEFT JOIN sz ON sz.cluster = c.cluster ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text")
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      Dedup.softDedupWeights(docs, "doc_id", clusters).orderBy("doc")
    },
    // The same decision table as q_x_dedup_clusters: the body calls the
    // one connected-components routine, Dedup.resolveClusters, and the
    // oracle is identical.
    q("q_x_dedup_clusters_stars",
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($minHashOracleSql) mh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v) " +
        "SELECT d.doc_id AS doc, coalesce(c.cluster, d.doc_id) AS cluster, " +
        "coalesce(c.cluster, d.doc_id) = d.doc_id AS is_survivor " +
        "FROM documents d LEFT JOIN comp c ON c.v = d.doc_id ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text")
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      Dedup.dedupSurvivors(docs, "doc_id", clusters).orderBy("doc")
    },
    // sliding token-window chunking (window 40, stride 30 — 10-token
    // overlap): the long-context / RAG-indexing shape, arithmetic chunk
    // boundaries, every token covered
    q("q_x_token_chunks",
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 1) // 30)) AS chunk FROM t) " +
        "SELECT doc_id AS doc, chunk, CAST(chunk * 30 + 1 AS BIGINT) AS start_tok, " +
        "CAST(len(list_slice(toks, chunk * 30 + 1, chunk * 30 + 40)) AS BIGINT) AS n_chunk_tokens, " +
        "md5(array_to_string(list_slice(toks, chunk * 30 + 1, chunk * 30 + 40), ' ')) AS chunk_md5 " +
        "FROM c ORDER BY doc, chunk") { (s, d) =>
      Corpus.tokenChunks(Tables.documents(s, d), "doc_id", "text",
          window = 40, stride = 30)
        .orderBy("doc", "chunk")
    },
    // sentence-boundary chunking (budget 40): whole sentences group
    // greedily by the tokenShards rule at doc scope — a sentence joins
    // chunk floor(tokens_before/budget); never cuts mid-sentence.
    q("q_x_sentence_chunks",
      "WITH t AS (SELECT doc_id, str_split(regexp_replace(trim(text), '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)) AS sents FROM documents), " +
        "s AS (SELECT doc_id, generate_subscripts(sents, 1) AS pos, unnest(sents) AS sent FROM t), " +
        "n AS (SELECT doc_id, pos, sent, CAST(len(regexp_split_to_array(trim(sent), '\\s+')) AS BIGINT) AS ntok FROM s), " +
        "c AS (SELECT doc_id, pos, sent, ntok, CAST(coalesce(sum(ntok) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 40 AS BIGINT) AS chunk FROM n) " +
        "SELECT doc_id AS doc, chunk, CAST(min(pos) AS BIGINT) AS start_sent, " +
        "CAST(count(*) AS BIGINT) AS n_sentences, CAST(sum(ntok) AS BIGINT) AS n_chunk_tokens, " +
        "md5(string_agg(sent, ' ' ORDER BY pos)) AS chunk_md5 " +
        "FROM c GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      Corpus.sentenceChunks(Tables.documents(s, d), "doc_id", "text", budget = 40)
        .orderBy("doc", "chunk")
    },
    // quality-aware survivor table: the cluster survivor is the LONGEST
    // member (ties → lowest id), not the lowest id — the real dedup
    // retention policy. Clusters come from the same minhash pair oracle.
    q("q_x_dedup_survivors_quality",
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($minHashOracleSql) mh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v), " +
        "win AS (SELECT c.cluster, c.v AS w, row_number() OVER (PARTITION BY c.cluster ORDER BY d.n_chars DESC, c.v) AS rn FROM comp c JOIN documents d ON d.doc_id = c.v) " +
        "SELECT d.doc_id AS doc, coalesce(c.cluster, d.doc_id) AS cluster, " +
        "coalesce(w.w, d.doc_id) AS survivor, coalesce(w.w, d.doc_id) = d.doc_id AS is_survivor " +
        "FROM documents d LEFT JOIN comp c ON c.v = d.doc_id " +
        "LEFT JOIN (SELECT cluster, w FROM win WHERE rn = 1) w ON w.cluster = c.cluster ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text")
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      Dedup.dedupSurvivorsBy(docs, "doc_id", "n_chars", clusters).orderBy("doc")
    },

    // blocked fuzzy matching (entity resolution): candidates share a
    // 16-char prefix block, exact Levenshtein ≤ 1 decides — both engines
    // implement the classic Levenshtein, so the oracle is exact.
    q("q_x_fuzzy_match",
      "SELECT a.s_suppkey AS l_id, b.s_suppkey AS r_id, a.s_name AS l_name, b.s_name AS r_name, " +
        "CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist " +
        "FROM supplier a JOIN supplier b ON substring(a.s_name, 1, 16) = substring(b.s_name, 1, 16) AND a.s_suppkey < b.s_suppkey " +
        "WHERE levenshtein(a.s_name, b.s_name) <= 1 ORDER BY 1, 2") { (s, d) =>
      val sup = Tables.supplier(s, d)
      FuzzyMatch.blockedLevenshtein(
          sup.select(col("s_suppkey").as("l_id"), col("s_name").as("l_name")),
          "l_id", "l_name",
          sup.select(col("s_suppkey").as("r_id"), col("s_name").as("r_name")),
          "r_id", "r_name",
          name => substring(name, 1, 16), maxDist = 1)
        .filter(col("l_id") < col("r_id"))
        .orderBy("l_id", "r_id")
    },
    // character-trigram similarity (pg_trgm padding, τ = 0.5) over a
    // FIXED-id-range slice of part names (TPC-H draws them from ~92 color
    // words — the unrestricted match set is quadratically self-similar at
    // any threshold, measured 4.1M pairs at sf0.1; the fixed range is the
    // fixed-workload discipline the search queries use, so corpus growth
    // does not grow the match set). Default df cap is a documented no-op
    // here, so the oracle is the plain inverted-join + exact-Jaccard chain.
    q("q_x_fuzzy_trigram",
      "WITH p AS (SELECT p_partkey AS id, '__' || lower(p_name) || '_' AS pd FROM part WHERE p_partkey < 2000), " +
        "ex AS (SELECT DISTINCT id, substr(pd, CAST(i AS INT), 3) AS g FROM (SELECT id, pd, unnest(generate_series(1, length(pd) - 2)) AS i FROM p) e0), " +
        "sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY 1), " +
        "sh AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS s FROM ex x JOIN ex y ON x.g = y.g AND x.id < y.id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(CAST(s AS DOUBLE) / (sa.n + sb.n - s), 6) AS jaccard " +
        "FROM sh JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b " +
        "WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.5 ORDER BY 1, 2") { (s, d) =>
      FuzzyMatch.charTrigramPairs(
          Tables.part(s, d).filter(col("p_partkey") < 2000), "p_partkey", "p_name",
          threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    // sorted-neighborhood ER blocking (window 4, lev ≤ 2) over supplier
    // names: the sliding window catches near-keys that never agree on an
    // exact block key; the oracle ranks globally and takes the plain
    // inequality window join.
    q("q_x_fuzzy_sorted_neighborhood",
      "WITH s AS (SELECT s_suppkey AS id, s_name AS name, row_number() OVER (ORDER BY s_name, s_suppkey) - 1 AS r FROM supplier), " +
        "p AS (SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b, b.r - a.r AS rank_gap FROM s a JOIN s b ON b.r > a.r AND b.r <= a.r + 4) " +
        "SELECT id_a, id_b, name_a, name_b, CAST(rank_gap AS BIGINT) AS rank_gap, " +
        "CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist FROM p " +
        "WHERE levenshtein(name_a, name_b) <= 2 ORDER BY 1, 2") { (s, d) =>
      FuzzyMatch.sortedNeighborhood(Tables.supplier(s, d), "s_suppkey", "s_name",
          identity, window = 4, maxDist = 2)
        .orderBy("id_a", "id_b")
    },
    // deterministic sign-LSH ANN (the portable scale path; the ML-seeded
    // lshTopK variant stays API-available and recall-tested in LlmOpsSpec)
    q("q_x_ann_lsh", annOracleSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("qid", "rn")
    },
    // contrastive triplet mining (anchors = vec_id < 4, 3 positives, 3
    // hard negatives, 2 hash-picked random negatives) — the embedding-
    // model training-data operator; roles, ranks and the deterministic
    // random pick all replayed by the oracle.
    q("q_x_mine_triplets", {
      val h = graft.llmops.PortableHash.duckHash52(
        "CAST(anchor AS VARCHAR) || ':' || CAST(cid AS VARCHAR)")
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "d AS (SELECT a.vec_id AS anchor, b.vec_id AS cid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 4 AND b.vec_id <> a.vec_id GROUP BY 1, 2), " +
        "r AS (SELECT anchor, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY anchor ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM d), " +
        "near AS (SELECT anchor, cid, rn, cos, CASE WHEN rn <= 3 THEN 'positive' ELSE 'hard_negative' END AS role FROM r WHERE rn <= 6), " +
        s"rest AS (SELECT anchor, cid, cos, row_number() OVER (PARTITION BY anchor ORDER BY $h, cid) AS hrn FROM r WHERE rn > 6), " +
        "rand AS (SELECT anchor, cid, 6 + hrn AS rn, cos, 'random_negative' AS role FROM rest WHERE hrn <= 2) " +
        "SELECT anchor, cid AS cand, role, CAST(rn AS BIGINT) AS rank, round(cos, 6) AS cos " +
        "FROM (SELECT * FROM near UNION ALL SELECT anchor, cid, rn, cos, role FROM rand) ORDER BY anchor, rank"
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.mineTriplets(emb, emb.filter(col("vec_id") < 4),
          kPos = 3, mHard = 3, rRand = 2)
        .orderBy("anchor", "rank")
    },
    // IVF-backed triplet mining (the scale plan: nlist = 16, nprobe = 4,
    // per-cell pool 8): positives/hard negatives rank only probed-cell
    // candidates, random negatives hash-pick from bounded pools in the
    // 12 complement cells — assignment, probing, pooling and both hash
    // picks all replayed by the oracle.
    q("q_x_mine_triplets_ivf", {
      val hPool = graft.llmops.PortableHash.duckHash52("'pool:' || CAST(cid AS VARCHAR)")
      val hPick = graft.llmops.PortableHash.duckHash52(
        "CAST(anchor AS VARCHAR) || ':' || CAST(cid AS VARCHAR)")
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 16 GROUP BY 1, 2), " +
        "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
        "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
        "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
        "probes AS (SELECT vec_id AS anchor, cent_id AS cell FROM ranked WHERE rn <= 4 AND vec_id < 4), " +
        "unprobed AS (SELECT vec_id AS anchor, cent_id AS cell FROM ranked WHERE rn > 4 AND vec_id < 4), " +
        "cands AS (SELECT p.anchor, a.cid FROM probes p JOIN assign a USING (cell) WHERE a.cid <> p.anchor), " +
        "dots AS (SELECT cd.anchor, cd.cid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM cands cd JOIN e a ON a.vec_id = cd.anchor JOIN e b ON b.vec_id = cd.cid AND b.i = a.i GROUP BY 1, 2), " +
        "r AS (SELECT anchor, cid, dot / (qn * cn) AS cos, row_number() OVER (PARTITION BY anchor ORDER BY dot / (qn * cn) DESC, cid) AS rn FROM dots), " +
        "near AS (SELECT anchor, cid, rn, cos, CASE WHEN rn <= 3 THEN 'positive' ELSE 'hard_negative' END AS role FROM r WHERE rn <= 6), " +
        s"pool AS (SELECT cell, cid FROM (SELECT cell, cid, row_number() OVER (PARTITION BY cell ORDER BY $hPool, cid) AS pn FROM assign) p0 WHERE pn <= 8), " +
        "rp AS (SELECT u.anchor, p.cid FROM unprobed u JOIN pool p USING (cell) WHERE p.cid <> u.anchor), " +
        s"rh AS (SELECT anchor, cid, row_number() OVER (PARTITION BY anchor ORDER BY $hPick, cid) AS hrn FROM rp), " +
        "rpick AS (SELECT anchor, cid, hrn FROM rh WHERE hrn <= 2), " +
        "rdots AS (SELECT rp.anchor, rp.cid, rp.hrn, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS qn, sqrt(sum(b.v * b.v)) AS cn FROM rpick rp JOIN e a ON a.vec_id = rp.anchor JOIN e b ON b.vec_id = rp.cid AND b.i = a.i GROUP BY 1, 2, 3), " +
        "rand AS (SELECT anchor, cid, 6 + hrn AS rn, dot / (qn * cn) AS cos, 'random_negative' AS role FROM rdots) " +
        "SELECT anchor, cid AS cand, role, CAST(rn AS BIGINT) AS rank, round(cos, 6) AS cos " +
        "FROM (SELECT anchor, cid, rn, cos, role FROM near UNION ALL SELECT anchor, cid, rn, cos, role FROM rand) ORDER BY anchor, rank, cand"
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.mineTripletsIvf(emb, emb.filter(col("vec_id") < 4),
          kPos = 3, mHard = 3, rRand = 2, nlist = 16, nprobe = 4, poolPerCell = 8)
        .orderBy("anchor", "rank", "cand")
    },
    // multi-probe sign-LSH: query-side 1-bit-flip fan-out, corpus index
    // unchanged — the zero-index-cost recall lift (recall gain vs the
    // single-probe path is additionally spec-asserted)
    q("q_x_ann_multiprobe", annMultiProbeOracleSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.annTopKMultiProbe(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("qid", "rn")
    },
    // IVF coarse-quantizer ANN (the other classic scale path; deterministic
    // default centroids keep it exactly SQL-reproducible)
    q("q_x_ann_ivf", ivfOracleSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
          nlist = 16, nprobe = 4)
        .orderBy("qid", "rn")
    },
    // streaming IVF index replay (the batch twin of
    // EventStream.annIndexStream): cell assignment is per-vector and
    // deterministic, so appending two half-corpus assignment slices IS
    // the streamed cells table after two micro-batches — and the probe
    // over that union must equal the one-shot ivfTopK, which is exactly
    // what the (unchanged) IVF oracle states.
    q("q_x_ann_ivf_stream", ivfOracleSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      val cells = Similarity.assignCells(emb.filter(col("vec_id") % 2 === 0), cent)
        .unionByName(Similarity.assignCells(emb.filter(col("vec_id") % 2 === 1), cent))
      Similarity.ivfProbe(cells, cent, emb.filter(col("vec_id") < 5),
          k = 5, nprobe = 4)
        .orderBy("qid", "rn")
    },
    // quantizer REBUILD parity: vectors accumulate under a DRIFTED/naive
    // initial quantizer (the two-slice streamed-cells union, initial
    // centroids = vec_id < 16), then Similarity.rebuildQuantizer
    // re-trains (2 integer-exact Lloyd rounds, nlist = 8) on the
    // accumulated vectors and re-assigns — and the probe over the rebuilt
    // state must equal a one-shot trained-quantizer ivfTopK, which is
    // exactly the (unchanged) trained-IVF oracle. The initial quantizer
    // drops out of the replay entirely — the point of a rebuild.
    q("q_x_ann_ivf_rebuild",
      trainedIvfSql(nlist = 8, iters = 2, scale = 65536L, dim = 64,
        nprobe = 4, k = 5)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent0 = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      val streamed = Similarity.assignCells(emb.filter(col("vec_id") % 2 === 0), cent0)
        .unionByName(Similarity.assignCells(emb.filter(col("vec_id") % 2 === 1), cent0))
      val (newCent, newCells) =
        Similarity.rebuildQuantizer(streamed, nlist = 8, iters = 2)
      Similarity.ivfProbe(newCells, newCent, emb.filter(col("vec_id") < 5),
          k = 5, nprobe = 4)
        .orderBy("qid", "rn")
    },
    // IVF quantizer drift report over the assigned cells (nlist = 16,
    // default centroid rule): occupancy, skew ratio and mean
    // cosine-distance-to-centroid per centroid, empty cells included —
    // the rebuild gauge for the frozen streaming quantizer. Assignment
    // replays exactly as in the IVF oracle; the stats are one grouped
    // aggregate over it.
    q("q_x_ivf_cell_stats",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 16 GROUP BY 1, 2), " +
        "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
        "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
        "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
        "dist AS (SELECT a.cid, a.cell, 1 - s.ccos AS cdist FROM assign a JOIN cscore s ON s.vec_id = a.cid AND s.cent_id = a.cell), " +
        "per AS (SELECT cell, count(*) AS n, avg(cdist) AS md FROM dist GROUP BY 1), " +
        "tot AS (SELECT sum(n) AS total FROM per), " +
        "cents AS (SELECT vec_id AS cell FROM embeddings WHERE vec_id < 16) " +
        "SELECT c.cell, CAST(coalesce(p.n, 0) AS BIGINT) AS n, " +
        "round(coalesce(p.n, 0) * 16 / t.total, 6) AS occ_ratio, " +
        "round(p.md, 6) AS mean_cdist " +
        "FROM cents c LEFT JOIN per p USING (cell) CROSS JOIN tot t ORDER BY c.cell") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      Similarity.cellStats(Similarity.assignCells(emb, cent), cent)
        .orderBy("cell")
    },
    // JL random projection (64 → 16 dims): PortableHash-derived float32-
    // exact planes, double dots rounded 6 dp — every component replayed.
    q("q_x_random_projection", {
      val r = graft.llmops.PortableHash.duckUnitUniform("'proj:' || j.j || ':' || k.k")
      "WITH planes AS (SELECT j.j AS j, k.k AS k, " + r + " AS r " +
        "FROM (SELECT unnest(generate_series(0, 15)) AS j) j, (SELECT unnest(generate_series(0, 63)) AS k) k), " +
        "e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings) " +
        "SELECT e.vec_id AS id, CAST(p.j AS BIGINT) AS j, round(sum(e.v * p.r), 6) AS c " +
        "FROM e JOIN planes p ON p.k = e.i - 1 GROUP BY 1, 2 ORDER BY 1, 2"
    }) { (s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), outDim = 16)
        .select(col("id"), posexplode(col("proj")).as(Seq("j", "c")))
        .select(col("id"), col("j").cast("long").as("j"), col("c"))
        .orderBy("id", "j")
    },
    // trained coarse quantizer: 2 integer-exact Lloyd rounds (nlist = 8)
    // over 2^16-quantized embeddings — centroids hash-match the unrolled
    // DuckDB replay component for component (see kmeansSql).
    q("q_x_kmeans_centroids", kmeansSql(nlist = 8, iters = 2, scale = 65536L, dim = 64)) { (s, d) =>
      Similarity.kmeansQuantized(Tables.embeddings(s, d), nlist = 8, iters = 2)
        .select(col("cent_id"), posexplode(col("c")).as(Seq("pos", "cv")))
        .select(col("cent_id"), (col("pos") + 1).cast("long").as("i"),
          col("cv").as("c"))
        .orderBy("cent_id", "i")
    },
    // trained-quantizer IVF end to end: the kmeans chain trains the
    // centroids, exact dequantization hands them to the standard probe —
    // training, assignment, probing and re-rank all replayed by one oracle.
    q("q_x_ann_ivf_trained",
      trainedIvfSql(nlist = 8, iters = 2, scale = 65536L, dim = 64,
        nprobe = 4, k = 5)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = Similarity.centroidsToFloat(
        Similarity.kmeansQuantized(emb, nlist = 8, iters = 2))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
          nlist = 8, nprobe = 4, centroids = Some(cent))
        .orderBy("qid", "rn")
    },
    // int8 quantization audit: per-vector quantized checksum, scale, max
    // reconstruction error — floor(x+0.5) on both engines, so the byte
    // values are replicated exactly (DuckDB mirrors them as BIGINT).
    q("q_x_quantize_int8",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, CASE WHEN max(abs(v)) = 0 THEN 1.0 ELSE 127.0 / max(abs(v)) END AS scale FROM e GROUP BY 1), " +
        "q AS (SELECT e.vec_id, i, v, scale, CAST(floor(v * scale + 0.5) AS BIGINT) AS qv FROM e JOIN s USING (vec_id)) " +
        "SELECT vec_id, CAST(sum(qv * i) AS BIGINT) AS qsum, round(any_value(scale), 6) AS scale, round(max(abs(v - qv / scale)), 6) AS max_err FROM q GROUP BY 1 ORDER BY vec_id") { (s, d) =>
      import graft.llmops.Quantize
      Quantize.quantized(Tables.embeddings(s, d))
        .select(col("id"), col("scale"),
          posexplode(arrays_zip(col("vec"), col("qvec"))))
        .select(col("id"), col("scale"), (col("pos") + 1).as("i"),
          col("col")("vec").cast("double").as("v"),
          col("col")("qvec").cast("long").as("qv"))
        .groupBy(col("id").as("vec_id"))
        .agg(sum(col("qv") * col("i")).as("qsum"),
          round(first("scale"), 6).as("scale"),
          round(max(abs(col("v") - col("qv") / col("scale"))), 6).as("max_err"))
        .orderBy("vec_id")
    },
    // int8 two-stage ANN: integer-dot candidate ranking over the
    // 4x-compressed byte vectors (codegen'd ByteVectorDot), exact float
    // re-rank of the top candFactor*k — the full two-stage decision is
    // deterministic, so the oracle replicates the exact candidate cut.
    q("q_x_ann_int8",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, CASE WHEN max(abs(v)) = 0 THEN 1.0 ELSE 127.0 / max(abs(v)) END AS scale FROM e GROUP BY 1), " +
        "q AS (SELECT e.vec_id, i, v, CAST(floor(v * scale + 0.5) AS BIGINT) AS qv FROM e JOIN s USING (vec_id)), " +
        "n AS (SELECT vec_id, sqrt(sum(qv * qv)) AS qnorm, sqrt(sum(v * v)) AS fnorm FROM q GROUP BY 1), " +
        "d AS (SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.qv * b.qv) AS qdot, sum(a.v * b.v) AS fdot FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 5 AND b.vec_id <> a.vec_id GROUP BY 1, 2), " +
        "sc AS (SELECT qid, cid, qdot / (na.qnorm * nb.qnorm) AS qcos, fdot / (na.fnorm * nb.fnorm) AS cos FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid), " +
        "cand AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, cid) AS crn FROM sc), " +
        "fin AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM cand WHERE crn <= 20) " +
        "SELECT qid, cid, CAST(rn AS BIGINT) AS rn, round(cos, 6) AS cos FROM fin WHERE rn <= 5 ORDER BY qid, rn") { (s, d) =>
      import graft.llmops.Quantize
      val emb = Tables.embeddings(s, d)
      Quantize.int8TopK(emb, emb.filter(col("vec_id") < 5), k = 5, candFactor = 4)
        .orderBy("qid", "rn")
    },
    q("q_x_text_langid", langIdOracleSql) { (s, d) =>
      TextAnalysis.withLangId(Tables.documents(s, d))
        .select("doc_id", "lang_pred", "lang_score")
        .orderBy("doc_id")
    },
    // benchmark decontamination: train = even doc_ids, bench = odd; a train
    // doc is contaminated if ANY of its 5-gram shingles appears in any
    // bench doc (the GPT-3/Pile rule). n_hit counts its colliding shingles.
    q("q_x_decontaminate",
      "WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 4), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) WHERE len(t) >= 5), " +
        "bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 2 = 1), " +
        "hits AS (SELECT doc_id, count(*) AS n_hit FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 2 = 0) t WHERE s IN (SELECT s FROM bench) GROUP BY 1) " +
        "SELECT d.doc_id AS doc, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit, coalesce(h.n_hit, 0) > 0 AS contaminated " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d LEFT JOIN hits h USING (doc_id) ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 5)
        .orderBy("doc")
    },

    // per-doc top-3 TF-IDF terms (smoothed idf; ties break on the term —
    // identical (tf, df) pairs yield bit-identical doubles on both engines)
    q("q_x_tfidf_top_terms",
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2), " +
        "dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT t.doc_id, t.term, t.tf, d.df, t.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)) + 1) AS score FROM tf t JOIN dfc d USING (term), n), " +
        "ranked AS (SELECT doc_id, term, tf, df, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM scored) " +
        "SELECT doc_id AS doc, CAST(rn AS BIGINT) AS rn, term, tf, df, round(score, 6) AS score FROM ranked WHERE rn <= 3 ORDER BY doc, rn") { (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc", "rn")
    },

    // corpus assembly: deterministic hash sampling — partition-invariant,
    // reproducible, and exactly mirrored by the oracle (PortableHash).
    q("q_x_sample_hash",
      s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents WHERE ${graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")} % 100 < 10 ORDER BY doc_id") { (s, d) =>
      val docs = Tables.documents(s, d)
      docs.filter(Corpus.hashSample(col("doc_id"), pct = 10))
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
    // leakage-safe split: the split key is the near-dup CLUSTER label
    // (minhash pairs → connected components), so near-duplicate documents
    // can never straddle train/test — the eval-contamination guard a
    // per-document hash split lacks. The oracle re-derives the same
    // clusters (recursive reachability CTE, as in q_x_dedup_clusters) and
    // applies the same hash-bucket CASE over the cluster key.
    q("q_x_split_leakage_safe",
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($minHashOracleSql) mh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v), " +
        "eff AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS split_key FROM documents d LEFT JOIN comp c ON c.v = d.doc_id) " +
        "SELECT doc_id, split_key, CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split " +
        s"FROM (SELECT doc_id, split_key, ${graft.llmops.PortableHash.duckHash52("CAST(split_key AS VARCHAR)")} % 10000 AS b FROM eff) ORDER BY doc_id") { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text")
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      Corpus.leakageSafeSplit(docs.select("doc_id"), "doc_id", clusters,
          Seq("train" -> 8000, "valid" -> 1000, "test" -> 1000))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    },
    // split-leakage audit over BOTH split modes: the naive per-doc hash
    // split leaks near-dup pairs across the boundary, the cluster-keyed
    // split must audit to ZERO straddling — both counted exactly.
    q("q_x_split_leakage_audit", {
      val hDoc = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      val hKey = graft.llmops.PortableHash.duckHash52("CAST(split_key AS VARCHAR)")
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($minHashOracleSql) mh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v), " +
        "eff AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS split_key FROM documents d LEFT JOIN comp c ON c.v = d.doc_id), " +
        s"safe AS (SELECT doc_id, CASE WHEN $hKey % 10000 < 8000 THEN 'train' WHEN $hKey % 10000 < 9000 THEN 'valid' ELSE 'test' END AS split FROM eff), " +
        s"naive AS (SELECT doc_id, CASE WHEN $hDoc % 10000 < 8000 THEN 'train' WHEN $hDoc % 10000 < 9000 THEN 'valid' ELSE 'test' END AS split FROM documents), " +
        "aud AS (SELECT 'leakage_safe' AS mode, CAST(count(*) AS BIGINT) AS n_pairs, CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_straddling " +
        "FROM pairs p JOIN safe a ON a.doc_id = p.id_a JOIN safe b ON b.doc_id = p.id_b " +
        "UNION ALL SELECT 'naive', CAST(count(*) AS BIGINT), CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) " +
        "FROM pairs p JOIN naive a ON a.doc_id = p.id_a JOIN naive b ON b.doc_id = p.id_b) " +
        "SELECT mode, n_pairs, n_straddling FROM aud ORDER BY mode"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text").localCheckpoint(true)
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      val splits3 = Seq("train" -> 8000, "valid" -> 1000, "test" -> 1000)
      val naive = Corpus.withSplit(docs.select("doc_id"), col("doc_id"), splits3)
      val safe = Corpus.leakageSafeSplit(docs.select("doc_id"), "doc_id",
        clusters, splits3)
      Corpus.splitLeakageAudit(safe, "doc_id", "split", pairs)
        .withColumn("mode", lit("leakage_safe"))
        .unionByName(Corpus.splitLeakageAudit(naive, "doc_id", "split", pairs)
          .withColumn("mode", lit("naive")))
        .select(col("mode"), col("n_pairs"), col("n_straddling"))
        .orderBy("mode")
    },
    // exact phrase search: every 50th doc's tokens 2..4 as the phrase (so
    // the source doc matches at start 1, and repeated phrases elsewhere
    // count too); one term-join emits candidate starts, a full occurrence
    // is a start whose match count equals the phrase length.
    q("q_x_phrase_search",
      "WITH dt AS (SELECT doc_id AS doc, i - 1 AS pos, t[i] AS term FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents) d0 CROSS JOIN unnest(generate_series(1, len(t))) u(i)), " +
        "q AS (SELECT doc_id AS qid, list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 2, 4) AS qt FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "qt AS (SELECT qid, i - 1 AS i, qt[i] AS term FROM q CROSS JOIN unnest(generate_series(1, len(qt))) u(i)), " +
        "m AS (SELECT qid, CAST(count(*) AS BIGINT) AS m FROM qt GROUP BY 1), " +
        "st AS (SELECT qt.qid, dt.doc, dt.pos - qt.i AS start, count(*) AS hit FROM dt JOIN qt ON dt.term = qt.term GROUP BY 1, 2, 3), " +
        "f AS (SELECT st.qid, st.doc, st.start FROM st JOIN m ON m.qid = st.qid AND st.hit = m.m WHERE st.start >= 0) " +
        "SELECT qid, doc, CAST(count(*) AS BIGINT) AS n_occurrences, CAST(min(start) AS BIGINT) AS first_pos " +
        "FROM f GROUP BY 1, 2 ORDER BY qid, doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000) // fixed query workload: corpus scales, benchmark queries do not (see StressBench)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 2, 3)).as("qtext"))
      graft.llmops.Retrieval.phraseSearch(docs, "doc_id", "text",
          queries, "qid", "qtext")
        .orderBy("qid", "doc")
    },
    // BM25 top-k re-rank (k1=1.2, b=0.75) over the same query set as
    // q_x_search_topk — integer inputs into ln, ≤3-term float sums,
    // 6 dp rounding (the tfidf float-discipline argument).
    q("q_x_search_bm25",
      "WITH tf AS (SELECT t AS term, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents) GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id AS doc, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl FROM documents), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM lens), " +
        "dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "q AS (SELECT DISTINCT doc_id AS qid, unnest(list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3)) AS term FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "wt AS (SELECT q.qid, tf.doc, ln((st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1) * " +
        "(tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dl * st.n_docs / st.total_dl))) AS w " +
        "FROM tf JOIN q ON q.term = tf.term JOIN dfc ON dfc.term = tf.term JOIN lens ON lens.doc = tf.doc CROSS JOIN st), " +
        "sc AS (SELECT qid, doc, sum(w) AS score, CAST(count(*) AS BIGINT) AS n_matched FROM wt GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc) " +
        "SELECT qid, CAST(rank AS BIGINT) AS rank, doc, round(score, 6) AS score, n_matched FROM r WHERE rank <= 5 ORDER BY qid, rank") { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000) // fixed query workload: corpus scales, benchmark queries do not (see StressBench)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      graft.llmops.Retrieval.bm25TopK(docs, "doc_id", "text",
          queries, "qid", "qtext", k = 5)
        .orderBy("qid", "rank")
    },
    // hybrid retrieval: RRF fusion of the BM25 top-5 (lexical, over
    // documents text) and the sign-LSH ANN top-5 (vector, over the
    // embeddings table — vec_id shares the doc_id space) for queries
    // 0..4. Integer-exact RRF: score = Σ L // (60 + rank) with
    // L = Π_{r=1..10}(60+r) — order-identical to float 1/(60+rank) and
    // value-exact in both engines.
    q("q_x_search_hybrid", {
      val l = (1 to 10).map(r => BigInt(60 + r)).product.toLong
      "WITH htf AS (SELECT t AS term, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents) GROUP BY 1, 2), " +
        "hlens AS (SELECT doc_id AS doc, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl FROM documents), " +
        "hst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM hlens), " +
        "hdfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM htf GROUP BY 1), " +
        "hq AS (SELECT DISTINCT doc_id AS qid, unnest(list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3)) AS term FROM documents WHERE doc_id < 5), " +
        "hwt AS (SELECT hq.qid, htf.doc, ln((hst.n_docs - hdfc.df + 0.5) / (hdfc.df + 0.5) + 1) * " +
        "(htf.tf * 2.2 / (htf.tf + 1.2 * (1 - 0.75 + 0.75 * hlens.dl * hst.n_docs / hst.total_dl))) AS w " +
        "FROM htf JOIN hq ON hq.term = htf.term JOIN hdfc ON hdfc.term = htf.term JOIN hlens ON hlens.doc = htf.doc CROSS JOIN hst), " +
        "hsc AS (SELECT qid, doc, sum(w) AS score FROM hwt GROUP BY 1, 2), " +
        "hr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM hsc), " +
        "bm AS (SELECT qid, doc, CAST(rank AS BIGINT) AS rank FROM hr WHERE rank <= 5), " +
        s"ann AS (SELECT qid, cid AS doc, rn AS rank FROM ($annOracleSql) a0), " +
        "u AS (SELECT coalesce(bm.qid, ann.qid) AS qid, coalesce(bm.doc, ann.doc) AS doc, " +
        "bm.rank AS rank_a, ann.rank AS rank_b FROM bm FULL OUTER JOIN ann ON ann.qid = bm.qid AND ann.doc = bm.doc), " +
        s"fsc AS (SELECT qid, doc, coalesce($l // (60 + rank_a), 0) + coalesce($l // (60 + rank_b), 0) AS score, rank_a, rank_b FROM u), " +
        "fr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM fsc) " +
        "SELECT qid, CAST(rank AS BIGINT) AS rank, doc, CAST(score AS BIGINT) AS score, rank_a, rank_b " +
        "FROM fr WHERE rank <= 5 ORDER BY qid, rank"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      val bm = graft.llmops.Retrieval.bm25TopK(docs, "doc_id", "text",
          queries, "qid", "qtext", k = 5)
        .select("qid", "doc", "rank")
      val ann = Similarity.annTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .select(col("qid"), col("cid").as("doc"), col("rn").as("rank"))
      graft.llmops.Retrieval.fuseTopK(bm, ann, k = 5)
        .orderBy("qid", "rank")
    },

    // binary near-dup: payloads whose sampled-frame fingerprint sets
    // overlap ≥ 0.8 Jaccard (the re-encoded-copy detector; at this
    // threshold on this corpus the pairs are the exact-duplicate
    // payloads at J = 1.0, which is the point — byte-identical content
    // pairs regardless of container framing).
    q("q_x_multimodal_dedup",
      "WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), " +
        "f AS (SELECT DISTINCT media_id, md5(substr(hx, frame_no * 24 + 1, 32)) AS fp FROM " +
        "(SELECT media_id, hx, unnest(generate_series(0, (n - 1) // 12)) AS frame_no FROM h WHERE n >= 1) fr), " +
        "sz AS (SELECT media_id, count(*) AS n FROM f GROUP BY 1), " +
        "sh AS (SELECT x.media_id AS id_a, y.media_id AS id_b, count(*) AS shared FROM f x JOIN f y ON x.fp = y.fp AND x.media_id < y.media_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard " +
        "FROM sh JOIN sz sa ON sa.media_id = id_a JOIN sz sb ON sb.media_id = id_b " +
        "WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.8 ORDER BY 1, 2") { (s, d) =>
      Multimodal.frameJaccardPairs(
          Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"),
          frameLen = 16, stride = 12, threshold = 0.8)
        .orderBy("id_a", "id_b")
    },

    // RAG chunk retrieval: the search surface at chunk granularity —
    // tokenChunks(keepText) feeds searchTopK, chunk key = doc·1000+chunk.
    // The top hit for each query is a CHUNK, the retrieval unit a RAG
    // pipeline actually feeds the model.
    q("q_x_rag_chunk_search",
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "c AS (SELECT doc_id, i AS chunk, list_slice(toks, i * 24 + 1, i * 24 + 32) AS ct FROM t CROSS JOIN unnest(generate_series(0, (len(toks) - 1) // 24)) u(i)), " +
        "tf AS (SELECT doc_id * 1000 + chunk AS ckey, term, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, chunk, unnest(ct) AS term FROM c) e GROUP BY 1, 2), " +
        "q AS (SELECT doc_id AS qid, list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 3) AS qt FROM documents WHERE doc_id % 50 = 0 AND doc_id < 10000), " +
        "qt AS (SELECT DISTINCT qid, unnest(qt) AS term FROM q), " +
        "sc AS (SELECT qid, ckey AS doc, CAST(sum(tf) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_matched FROM qt JOIN tf USING (term) GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM sc) " +
        "SELECT qid, CAST(rank AS BIGINT) AS rank, doc, score, n_matched FROM r WHERE rank <= 5 ORDER BY qid, rank") { (s, d) =>
      val docs = Tables.documents(s, d)
      val chunks = Corpus.tokenChunks(docs, "doc_id", "text",
          window = 32, stride = 24, keepText = true)
        .withColumn("chunk_key", col("doc") * 1000 + col("chunk"))
      val queries = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(lower(col("text"))), 1, 3)).as("qtext"))
      graft.llmops.Retrieval.searchTopK(chunks, "chunk_key", "chunk_text",
          queries, "qid", "qtext", k = 5, minMatch = 2)
        .orderBy("qid", "rank")
    },

    // end-to-end curation ledger: the full blocklist → quality → exact-dup
    // → near-dup → decontamination → quota cascade with first-failing-stage
    // attribution per document. Corpus = doc_id % 7 <> 0, benchmark suite =
    // the rest, blocklist = {src3, src7}, quota 15/source. The oracle
    // replays every stage over the shrinking survivor set: the quality CASE,
    // md5 min-id dedup, the full minhash pipeline + recursive-reachability
    // components over stage-3 survivors, the 5-gram collision rule, and the
    // smallest-hash quota rank.
    q("q_x_curation_ledger",
      "WITH RECURSIVE " + curationLedgerCtes +
        " SELECT doc, source, stage, quality_reason, stage = 'kept' AS kept FROM led ORDER BY doc") { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      graft.llmops.Curation.ledger(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", "source",
          docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text"),
          Seq("src3", "src7").toDF("source"), quota = 15,
          minTokens = 20, maxAvgTokenLen = 5.0,
          minTypeToken = 0.35, maxDupGramFrac = 0.2)
        .orderBy("doc")
    },
    // per-source attrition roll-up of the SAME ledger chain: where the
    // documents and the TOKENS went, by source and stage — the one-look
    // governance answer to "why is src5 under-represented".
    q("q_x_curation_attrition",
      "WITH RECURSIVE " + curationLedgerCtes + ", " +
        "toks AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nt FROM documents WHERE doc_id % 7 <> 0) " +
        "SELECT led.source, led.stage, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(toks.nt) AS BIGINT) AS n_tokens " +
        "FROM led JOIN toks ON toks.doc_id = led.doc GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0)
      val led = graft.llmops.Curation.ledger(
        docs, "doc_id", "text", "source",
        Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
          .select("doc_id", "text"),
        Seq("src3", "src7").toDF("source"), quota = 15,
        minTokens = 20, maxAvgTokenLen = 5.0,
        minTypeToken = 0.35, maxDupGramFrac = 0.2)
      graft.llmops.Curation.attrition(led, docs, "doc_id", "text")
        .orderBy("source", "stage")
    },

    // two-day replay of the STREAMING curation cascade (the batch twin of
    // EventStream.curationStream — Curation.curationStep is the literal
    // shared code path): day 1 = doc_id % 40 < 20 through the 7-stage
    // cascade against empty state, day 2 = the rest against day 1's
    // accepted index + lifetime source counts. The %40 split puts every
    // source in BOTH days, so day-1 winners consume quota slots that DENY
    // day-2 arrivals (quota 8; src=doc_id%20 means a parity split would
    // never cross). Docs with doc_id % 100 = 13 get a planted common
    // text (both engines, the q_x_text_normalize pattern): 13/213/413
    // land in day 1 (13 survives, 213/413 exact_dup), 113/313 in day 2
    // (313 exact_dup; 113 survives within-batch then dies as a
    // CROSS-BATCH near-dup of accepted 13) — so every one of the seven
    // stage labels fires, on both sides of the stream boundary. The
    // oracle replays both days' gate/dedup/component elections, day 2's
    // cross probe, exact 5-gram decontamination (≡ the bloom path after
    // its exact verify), and the carried-over arrival-order quota.
    q("q_x_curation_stream", {
      val fiveGram = "list_distinct(list_transform(generate_series(1, len(t) - 4), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))"
      // every non-recursive CTE is MATERIALIZED: the survivor chain is
      // referenced from multiple downstream stages AND the ledger's
      // membership subqueries — inlined, DuckDB re-evaluates the whole
      // upstream cascade (gate + minhash) per reference, which turns a
      // seconds-long oracle into a runaway.
      def dayChain(tag: String, batchRel: String): String = {
        val (c, a1, qg, a2, exf, a3) =
          (s"c$tag", s"a${tag}1", s"qg$tag", s"a${tag}2", s"exf$tag", s"a${tag}3")
        s"$c AS MATERIALIZED (SELECT *, source IS NULL OR source IN ('src3', 'src7') AS blocked FROM $batchRel), " +
          s"$a1 AS MATERIALIZED (SELECT doc_id, text, source FROM $c WHERE NOT blocked), " +
          s"$qg AS MATERIALIZED (SELECT doc, reason FROM (${qualityGateSqlOver(a1)}) qq$tag), " +
          s"$a2 AS MATERIALIZED (SELECT a.* FROM $a1 a JOIN $qg ON $qg.doc = a.doc_id AND $qg.reason = 'keep'), " +
          s"$exf AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM $a2) x$tag WHERE doc_id <> keep_id), " +
          s"$a3 AS MATERIALIZED (SELECT a.* FROM $a2 a WHERE a.doc_id NOT IN (SELECT doc_id FROM $exf))"
      }
      def comp(tag: String, pairsRel: String): String =
        s"u$tag AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM $pairsRel UNION ALL SELECT id_b, id_a FROM $pairsRel), " +
          s"r$tag AS (SELECT u AS v, u AS r FROM u$tag UNION SELECT u$tag.v, r$tag.r FROM r$tag JOIN u$tag ON u$tag.u = r$tag.v), " +
          s"cc$tag AS MATERIALIZED (SELECT v, min(r) AS cluster FROM r$tag GROUP BY v)"
      def decon(tag: String, aliveRel: String): String =
        s"csh$tag AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM (SELECT doc_id, $fiveGram AS sh FROM " +
          s"(SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $aliveRel) ct$tag WHERE len(t) >= 5) cs$tag), " +
          s"ctf$tag AS MATERIALIZED (SELECT DISTINCT doc_id FROM csh$tag WHERE s IN (SELECT s FROM bsh))"
      def led(tag: String): String =
        s"led$tag AS (SELECT c$tag.doc_id AS doc, c$tag.source, " +
          s"CASE WHEN c$tag.blocked THEN 'blocked_source' " +
          s"WHEN qg$tag.reason IS NOT NULL AND qg$tag.reason <> 'keep' THEN 'quality' " +
          s"WHEN c$tag.doc_id IN (SELECT doc_id FROM exf$tag) THEN 'exact_dup' " +
          s"WHEN c$tag.doc_id IN (SELECT doc_id FROM ndf$tag) THEN 'near_dup' " +
          s"WHEN c$tag.doc_id IN (SELECT doc_id FROM ctf$tag) THEN 'contaminated' " +
          s"WHEN c$tag.doc_id NOT IN (SELECT doc_id FROM qk$tag) THEN 'quota' " +
          s"ELSE 'kept' END AS stage, " +
          s"CASE WHEN NOT c$tag.blocked AND qg$tag.reason <> 'keep' THEN qg$tag.reason END AS quality_reason " +
          s"FROM c$tag LEFT JOIN qg$tag ON qg$tag.doc = c$tag.doc_id)"
      "WITH RECURSIVE corpus AS MATERIALIZED (SELECT doc_id, " +
        s"CASE WHEN doc_id % 100 = 13 THEN '$PlantedDupText' ELSE text END AS text, " +
        "CAST(source AS VARCHAR) AS source FROM documents WHERE doc_id % 7 <> 0), " +
        "bench AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0), " +
        s"bsh AS MATERIALIZED (SELECT DISTINCT unnest(sh) AS s FROM (SELECT $fiveGram AS sh FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM bench) bt WHERE len(t) >= 5) bs), " +
        "bat1 AS MATERIALIZED (SELECT * FROM corpus WHERE doc_id % 40 < 20), " +
        "bat2 AS MATERIALIZED (SELECT * FROM corpus WHERE doc_id % 40 >= 20), " +
        // day 1: blocklist → gate → exact → within-batch near-dup →
        // decon → quota (empty prior state).
        dayChain("1", "bat1") + ", " +
        s"mh1 AS MATERIALIZED (SELECT id_a, id_b FROM (${minHashSqlOver("a13")}) m1), " +
        comp("1", "mh1") + ", " +
        "ndf1 AS MATERIALIZED (SELECT v AS doc_id FROM cc1 WHERE cluster <> v), " +
        "a14 AS MATERIALIZED (SELECT a.* FROM a13 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ndf1)), " +
        decon("1", "a14") + ", " +
        "a15 AS MATERIALIZED (SELECT a.* FROM a14 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ctf1)), " +
        "qk1 AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM a15) qr1 WHERE rn <= 8), " +
        "s1 AS MATERIALIZED (SELECT a.* FROM a15 a WHERE a.doc_id IN (SELECT doc_id FROM qk1)), " +
        led("1") + ", " +
        // day 2: same chain, near-dup = within-batch losers ∪ the cross
        // probe of within-survivors against day 1's ACCEPTED docs, quota
        // offset by day 1's per-source accepted counts.
        dayChain("2", "bat2") + ", " +
        s"mh2 AS MATERIALIZED (SELECT id_a, id_b FROM (${minHashSqlOver("a23")}) m2), " +
        comp("2", "mh2") + ", " +
        "ndw2 AS MATERIALIZED (SELECT v AS doc_id FROM cc2 WHERE cluster <> v), " +
        "w2 AS MATERIALIZED (SELECT a.* FROM a23 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ndw2)), " +
        s"x2 AS MATERIALIZED (SELECT DISTINCT batch_id AS doc_id FROM (${minHashAcrossSqlOver("s1", "w2")}) qx2), " +
        "ndf2 AS MATERIALIZED (SELECT doc_id FROM ndw2 UNION SELECT doc_id FROM x2), " +
        "a24 AS MATERIALIZED (SELECT a.* FROM a23 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ndf2)), " +
        decon("2", "a24") + ", " +
        "a25 AS MATERIALIZED (SELECT a.* FROM a24 a WHERE a.doc_id NOT IN (SELECT doc_id FROM ctf2)), " +
        "sofar AS MATERIALIZED (SELECT source, count(*) AS n FROM s1 GROUP BY 1), " +
        "qk2 AS MATERIALIZED (SELECT doc_id FROM (SELECT a.doc_id, a.source, row_number() OVER (PARTITION BY a.source ORDER BY a.doc_id) AS rn FROM a25 a) qr2 " +
        "LEFT JOIN sofar ON sofar.source = qr2.source WHERE coalesce(sofar.n, 0) + qr2.rn <= 8), " +
        led("2") + " " +
        "SELECT doc, CAST(1 AS BIGINT) AS day, source, stage, quality_reason, stage = 'kept' AS kept FROM led1 " +
        "UNION ALL SELECT doc, 2, source, stage, quality_reason, stage = 'kept' FROM led2 ORDER BY doc"
    }) { (s, d) =>
      import s.implicits._
      import graft.llmops.Curation
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("doc"),
          when(col("doc_id") % 100 === 13, PlantedDupText)
            .otherwise(col("text")).as("text"),
          col("source").cast("string").as("source"))
      val bench = docs.filter(col("doc_id") % 7 === 0)
      val benchSh = Dedup.xxShingleRows(bench, "doc_id", "text", 5)
        .select("s").distinct().localCheckpoint(true)
      val words = Dedup.bloomWordTable(benchSh, 1 << 20, 4).localCheckpoint(true)
      def day(batch: org.apache.spark.sql.DataFrame,
          idx: org.apache.spark.sql.DataFrame,
          counts: org.apache.spark.sql.DataFrame) =
        Curation.curationStep(batch, idx, Dedup.indexBandRows(idx), counts,
          benchSh, words, Seq("src3", "src7"), quota = 8,
          minTokens = 20, maxAvgTokenLen = 5.0,
          minTypeToken = 0.35, maxDupGramFrac = 0.2)
      val emptySh = Dedup.shingleIndexRows(corpus.limit(0), "doc", "text", 3)
      val (acc1, led1) = day(corpus.filter(col("doc") % 40 < 20),
        emptySh, Seq.empty[(String, Long)].toDF("source", "n"))
      val ex1 = Dedup.shingleIndexRows(acc1, "doc", "text", 3).localCheckpoint(true)
      val (_, led2) = day(corpus.filter(col("doc") % 40 >= 20),
        ex1, acc1.groupBy("source").agg(count(lit(1)).as("n")))
      led1.withColumn("day", lit(1L))
        .unionByName(led2.withColumn("day", lit(2L)))
        .orderBy("doc")
    },

    // train/valid/test split assignment by hash bucket (80/10/10)
    q("q_x_split_assign",
      s"SELECT split, CAST(count(*) AS BIGINT) AS n FROM (SELECT CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split FROM (SELECT ${graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")} % 10000 AS b FROM documents)) GROUP BY 1 ORDER BY 1") { (s, d) =>
      Corpus.withSplit(Tables.documents(s, d), col("doc_id"),
        Seq("train" -> 8000, "valid" -> 1000, "test" -> 1000))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")
    },
    // per-stratum rebalancing: keep 100% of 'de', 25% of 'en', 5% of
    // everything else — the corpus-mix move; nested hash buckets mean
    // raising a rate only adds docs.
    q("q_x_sample_stratified", {
      val b = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)") + " % 10000"
      "SELECT lang, CAST(count(*) AS BIGINT) AS n_kept FROM documents " +
        s"WHERE $b < (CASE WHEN lang = 'de' THEN 10000 WHEN lang = 'en' THEN 2500 ELSE 500 END) " +
        "GROUP BY lang ORDER BY lang"
    }) { (s, d) =>
      Tables.documents(s, d)
        .filter(Corpus.stratifiedSample(col("doc_id"), col("lang"),
          Map("de" -> 10000, "en" -> 2500), defaultBps = 500))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    },
    // quality-weighted sampling: per-row keep probability from the doc's
    // own length (30 bps per char, clamped) — deterministic, nested in
    // the weight, decided by the same hash-bucket mechanism
    q("q_x_sample_weighted", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      s"SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents WHERE $h % 10000 < least(10000, greatest(0, n_chars * 30)) ORDER BY doc_id"
    }) { (s, d) =>
      Tables.documents(s, d)
        .filter(Corpus.weightedSample(col("doc_id"), col("n_chars") * 30))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },

    // per-source quota cap (C4-style per-domain cap): at most 20 docs per
    // source, the 20 smallest doc-hashes — a stable uniform sample of each
    // source. The engine runs the two-phase salted ranking (hot domains
    // bounded to salts×quota rows per partition); the oracle states the
    // single-window definition the salting provably equals.
    // topic-balanced quota — semantic diversity sampling by composition:
    // assign embeddings to nearest-centroid topic cells (the SemDeDup
    // quantizer shape), then cap each TOPIC at a quota with the standard
    // smallest-hash rule — "at most q documents per semantic cluster",
    // the embedding-space analog of the per-source quota (a corpus
    // balanced by domain can still be lopsided by topic). Assignment and
    // rank both replay.
    q("q_x_topic_balanced_quota", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(cid AS VARCHAR)")
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 8 GROUP BY 1, 2), " +
        "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
        "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
        "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
        s"qr AS (SELECT cell, cid, row_number() OVER (PARTITION BY cell ORDER BY $h, CAST(cid AS VARCHAR)) AS qn FROM assign) " +
        "SELECT CAST(cell AS BIGINT) AS cell, cid FROM qr WHERE qn <= 10 ORDER BY cell, cid"
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      Corpus.sourceQuota(
          Similarity.assignCells(emb, cent).select(col("cell"), col("cid")),
          col("cid"), col("cell"), quota = 10, salts = 4)
        .select(col("cell"), col("cid"))
        .orderBy("cell", "cid")
    },
    q("q_x_source_quota", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      s"SELECT doc_id, source FROM (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn FROM documents) WHERE rn <= 20 ORDER BY doc_id"
    }) { (s, d) =>
      Corpus.sourceQuota(Tables.documents(s, d), col("doc_id"), col("source"),
          quota = 20, salts = 4)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    // source blocklist: broadcast anti-join against a curated domain list
    q("q_x_source_blocklist",
      "SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents WHERE source NOT IN ('src1', 'src4', 'src7') GROUP BY 1 ORDER BY 1") { (s, d) =>
      import s.implicits._
      val blocked = Seq("src1", "src4", "src7").toDF("source")
      Corpus.withoutSources(Tables.documents(s, d), col("source"), blocked)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    },
    // KMV distinct-count sketch (custom bounded-memory Aggregator): the
    // k-min-of-distinct-hashes state is order-invariant, so the sketch —
    // and hence the ESTIMATE — is deterministic and exactly mirrored by
    // ORDER BY hash LIMIT k in DuckDB. Exact branch below k distinct
    // (sf0.001 exercises it), estimator branch above (sf0.01+).
    // count-min frequency sketch: the (d × w) counter grid is built with
    // PortableHash permutations, so every counter and every min-probe
    // estimate is replicated value-for-value in the oracle. Probes = the 20
    // lexicographically-first distinct tokens (deterministic probe set).
    q("q_x_cms_freq", {
      import graft.llmops.PortableHash
      val (dRows, w, p) = (4, 512, PortableHash.P)
      val perms = (0 until dRows)
        .map(j => s"($j, ${PortableHash.MinHashA(j)}, ${PortableHash.MinHashB(j)})")
        .mkString(", ")
      s"WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents), " +
        s"th AS (SELECT t, ${PortableHash.duckHash52("t")} AS h FROM tok), " +
        s"perm(j, a, b) AS (SELECT * FROM (VALUES $perms)), " +
        s"sk AS (SELECT j, (a * (h % $p) + b) % $p % $w AS bucket, CAST(count(*) AS BIGINT) AS cnt FROM th CROSS JOIN perm GROUP BY 1, 2), " +
        s"probes AS (SELECT t, h FROM (SELECT DISTINCT t, h FROM th) ORDER BY t LIMIT 20), " +
        s"pc AS (SELECT pr.t, perm.j, (perm.a * (pr.h % $p) + perm.b) % $p % $w AS bucket FROM probes pr CROSS JOIN perm) " +
        "SELECT pc.t AS token, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est " +
        "FROM pc LEFT JOIN sk ON sk.j = pc.j AND sk.bucket = pc.bucket GROUP BY 1 ORDER BY 1"
    }) { (s, d) =>
      import graft.functions.CountMin
      val toks = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " ")).as("token"))
      val sk = CountMin.sketch(toks, "token", d = 4, w = 512)
      val probes = toks.distinct().orderBy("token").limit(20)
      CountMin.estimate(sk, probes, "token", d = 4, w = 512).orderBy("token")
    },
    // CMS join-size estimation (the planner move: decide broadcast vs
    // salt BEFORE running a join): min over rows of the sketch-pair inner
    // product never undercounts |A join B|. Self-join on events.user_id =
    // the quadratic-blowup detector. Constant d*w work at any data size.
    q("q_x_cms_join_size", {
      import graft.llmops.PortableHash
      val (dRows, w, p) = (4, 512, PortableHash.P)
      val perms = (0 until dRows)
        .map(j => s"($j, ${PortableHash.MinHashA(j)}, ${PortableHash.MinHashB(j)})")
        .mkString(", ")
      s"WITH h AS (SELECT ${PortableHash.duckHash52("CAST(user_id AS VARCHAR)")} AS h FROM events), " +
        s"perm(j, a, b) AS (SELECT * FROM (VALUES $perms)), " +
        s"sk AS (SELECT j, (a * (h % $p) + b) % $p % $w AS bucket, count(*) AS cnt FROM h CROSS JOIN perm GROUP BY 1, 2), " +
        // per-j inner product over the j universe, missing j → 0 (a row
        // whose sketches share no occupied bucket estimates 0, the
        // tightest bound — it must reach the min, mirroring
        // CountMin.joinSizeEstimate).
        "ip AS (SELECT js.j, coalesce(sum(a.cnt * b.cnt), 0) AS ip FROM (SELECT DISTINCT j FROM sk) js LEFT JOIN sk a ON a.j = js.j LEFT JOIN sk b ON b.j = a.j AND b.bucket = a.bucket GROUP BY 1), " +
        "ex AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_join_size FROM (SELECT count(*) AS n FROM events GROUP BY user_id)) " +
        "SELECT CAST(coalesce((SELECT min(ip) FROM ip), 0) AS BIGINT) AS est_join_size, ex.exact_join_size FROM ex"
    }) { (s, d) =>
      import graft.functions.CountMin
      val users = Tables.events(s, d).select(col("user_id"))
      val sk = CountMin.sketch(users, "user_id", d = 4, w = 512)
      val exact = users.groupBy("user_id").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).cast("long").as("exact_join_size"))
      CountMin.joinSizeEstimate(sk, sk).crossJoin(exact)
    },
    q("q_x_distinct_sketch", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(l_partkey AS VARCHAR)")
      s"WITH hs AS (SELECT DISTINCT $h AS h FROM lineitem), " +
        "k AS (SELECT h FROM hs ORDER BY h LIMIT 256), " +
        "est AS (SELECT CASE WHEN (SELECT count(*) FROM k) < 256 THEN (SELECT CAST(count(*) AS DOUBLE) FROM k) " +
        "ELSE CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / (SELECT max(h) FROM k) END AS e) " +
        "SELECT round(e, 4) AS est_distinct, (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS exact_distinct FROM est"
    }) { (s, d) =>
      import graft.functions.KMinValues
      Tables.lineitem(s, d)
        .agg(KMinValues.sketch(col("l_partkey"), 256).as("kmv"),
          countDistinct(col("l_partkey")).as("exact_distinct"))
        .select(round(KMinValues.estimate(col("kmv"), 256), 4).as("est_distinct"),
          col("exact_distinct"))
    },
    // per-label embedding centroids (class prototypes): element-wise mean
    // per (label, dim) — one explode + one keyed aggregation; nearest-
    // centroid classification over these is spec-tested (37% vs 10%
    // random on the synthetic labels)
    q("q_x_embed_centroid",
      "SELECT label, CAST(i AS BIGINT) AS i, round(avg(v), 6) AS c, CAST(count(*) AS BIGINT) AS n " +
        "FROM (SELECT label, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings) " +
        "GROUP BY label, i ORDER BY label, i") { (s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))
        .select(col("label"), col("i").cast("long").as("i"),
          round(col("c"), 6).as("c"), col("n"))
        .orderBy("label", "i")
    },

    // KMV per GROUP: the bounded sketch as a grouping aggregate — one row
    // of ≤ k hashes per group, mergeable map-side; exact below k (k=64
    // forces the estimator branch on the bigger groups at sf0.01+).
    q("q_x_distinct_sketch_grouped", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(l_orderkey AS VARCHAR)")
      s"WITH hs AS (SELECT DISTINCT l_returnflag AS flag, $h AS h FROM lineitem), " +
        "r AS (SELECT flag, h, row_number() OVER (PARTITION BY flag ORDER BY h) AS rn FROM hs), " +
        "agg AS (SELECT flag, count(CASE WHEN rn <= 64 THEN 1 END) AS nk, max(CASE WHEN rn = 64 THEN h END) AS kth FROM r GROUP BY 1), " +
        "ex AS (SELECT l_returnflag AS flag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct FROM lineitem GROUP BY 1) " +
        "SELECT agg.flag AS flag, round(CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE) ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / kth END, 4) AS est_distinct, ex.exact_distinct " +
        "FROM agg JOIN ex ON ex.flag = agg.flag ORDER BY flag"
    }) { (s, d) =>
      import graft.functions.KMinValues
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(KMinValues.sketch(col("l_orderkey"), 64).as("kmv"),
          countDistinct(col("l_orderkey")).as("exact_distinct"))
        .select(col("flag"),
          round(KMinValues.estimate(col("kmv"), 64), 4).as("est_distinct"),
          col("exact_distinct"))
        .orderBy("flag")
    },
    // contiguous token-budget sharding (10k-token shards in doc_id order)
    // GPT-style sequence packing (concat-then-split, 128-token sequences
    // in doc_id order): documents SPAN sequence boundaries, one row per
    // (doc × overlapped sequence) with the fragment geometry. The oracle
    // replays the exclusive prefix sum + span arithmetic directly.
    q("q_x_pack_sequences",
      "WITH d AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n FROM documents), " +
        "c AS (SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM d), " +
        "f AS (SELECT doc_id, n, off, unnest(generate_series(off // 128, (off + n - 1) // 128)) AS seq FROM c WHERE n >= 1) " +
        "SELECT doc_id, CAST(seq AS BIGINT) AS seq, " +
        "CAST(greatest(off, seq * 128) - seq * 128 AS BIGINT) AS start_in_seq, " +
        "CAST(least(off + n, (seq + 1) * 128) - greatest(off, seq * 128) AS BIGINT) AS n_seq_tokens " +
        "FROM f ORDER BY doc_id, seq") { (s, d) =>
      val withTok = Tables.documents(s, d)
        .withColumn("n_tokens", size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      Corpus.packSequences(withTok, col("doc_id"), col("n_tokens"),
          seqLen = 128L, groupSize = 100L)
        .select("doc_id", "seq", "start_in_seq", "n_seq_tokens")
        .orderBy("doc_id", "seq")
    },
    // per-sequence packing stats: how many documents and tokens each
    // training sequence holds (the last sequence's shortfall = padding
    // waste). Derived from the same packing output — groupBy seq.
    q("q_x_pack_stats",
      "WITH d AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n FROM documents), " +
        "c AS (SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM d), " +
        "f AS (SELECT doc_id, n, off, unnest(generate_series(off // 128, (off + n - 1) // 128)) AS seq FROM c WHERE n >= 1), " +
        "g AS (SELECT seq, least(off + n, (seq + 1) * 128) - greatest(off, seq * 128) AS nt FROM f) " +
        "SELECT CAST(seq AS BIGINT) AS seq, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(nt) AS BIGINT) AS n_seq_tokens FROM g GROUP BY seq ORDER BY seq") { (s, d) =>
      val withTok = Tables.documents(s, d)
        .withColumn("n_tokens", size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      Corpus.packSequences(withTok, col("doc_id"), col("n_tokens"),
          seqLen = 128L, groupSize = 100L)
        .groupBy("seq")
        .agg(count(lit(1)).as("n_docs"), sum("n_seq_tokens").as("n_seq_tokens"))
        .orderBy("seq")
    },
    // temperature-smoothed mixture resampling (α = 1/2 exponent smoothing
    // over the skewed lang distribution, budget 300): the tiny plan table
    // (counts → √-weights → integer targets → keep_bps) joins back
    // broadcast and the same hash-bucket rule decides each row. All
    // arithmetic is integer or exactly-rounded IEEE double (sqrt, ×, ÷,
    // floor) — bit-identical across engines, full hash-match oracle.
    q("q_x_source_mix", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      "WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1), " +
        "w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT lang, c, CAST(floor(300.0 * (CAST(w AS DOUBLE) / CAST((SELECT CAST(sum(w) AS BIGINT) FROM w) AS DOUBLE))) AS BIGINT) AS target FROM w), " +
        "p AS (SELECT lang, c, target, least(10000, CAST(floor(10000.0 * CAST(target AS DOUBLE) / CAST(c AS DOUBLE)) AS BIGINT)) AS keep_bps FROM t), " +
        s"kept AS (SELECT d.lang FROM documents d JOIN p ON p.lang = d.lang WHERE $h % 10000 < p.keep_bps) " +
        "SELECT p.lang AS lang, p.c AS c, p.target AS target, p.keep_bps AS keep_bps, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM kept k WHERE k.lang = p.lang) AS n_kept " +
        "FROM p ORDER BY lang"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val plan = Corpus.temperatureMixPlan(docs, col("lang"), budget = 300L)
      val kept = Corpus.mixSample(docs, col("doc_id"), col("lang"), plan)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      plan.join(kept, plan("stratum") === kept("lang"), "left")
        .select(plan("stratum").as("lang"), col("c"), col("target"),
          col("keep_bps"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    },
    // temperature mixture WITH REPLACEMENT (budget 600 > several strata
    // counts, so tail langs genuinely upsample — copy_checksum > 0 proves
    // multi-copy rows): per-row copies = cb/10000 guaranteed + one more by
    // the hash rule. Same all-integer/exact-double arithmetic as
    // q_x_source_mix → full hash-match oracle.
    q("q_x_source_mix_upsample", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      "WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1), " +
        "w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT lang, c, CAST(floor(600.0 * (CAST(w AS DOUBLE) / CAST((SELECT CAST(sum(w) AS BIGINT) FROM w) AS DOUBLE))) AS BIGINT) AS target FROM w), " +
        "r AS (SELECT d.doc_id, d.lang, t.c, t.target, CAST(floor(10000.0 * CAST(t.target AS DOUBLE) / CAST(t.c AS DOUBLE)) AS BIGINT) AS cb FROM documents d JOIN t ON t.lang = d.lang), " +
        s"n AS (SELECT doc_id, lang, c, target, cb // 10000 + CASE WHEN $h % 10000 < cb % 10000 THEN 1 ELSE 0 END AS nc FROM r) " +
        "SELECT lang, any_value(c) AS c, any_value(target) AS target, " +
        "CAST(sum(nc) AS BIGINT) AS n_emitted, CAST(sum(nc * (nc - 1) // 2) AS BIGINT) AS copy_checksum " +
        "FROM n GROUP BY lang ORDER BY lang"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val plan = Corpus.temperatureMixPlan(docs, col("lang"), budget = 600L)
      Corpus.mixResample(docs, col("doc_id"), col("lang"), plan)
        .join(plan.select(col("stratum"), col("c"), col("target")),
          col("lang") === col("stratum"))
        .groupBy("lang")
        .agg(first("c").as("c"), first("target").as("target"),
          count(lit(1)).as("n_emitted"), sum("copy").as("copy_checksum"))
        .orderBy("lang")
    },
    // SemDeDup (Abbas et al. 2023): semantic near-dup pairs found only
    // WITHIN nearest-centroid cells — the equi-join-on-cell scale shape.
    // Same deterministic centroid rule (vec_id < 16) and tie-breaks as
    // q_x_ann_ivf, so the oracle replays assignment + within-cell cosine.
    q("q_x_semdedup",
      s"SELECT id_a, id_b, cell, cos FROM ($semDedupOracleSql) sd ORDER BY 1, 2") { (s, d) =>
      Similarity.semDedupPairs(Tables.embeddings(s, d), threshold = 0.4,
          nlist = 16)
        .orderBy("id_a", "id_b")
    },
    // cross-corpus SemDeDup: today's batch (odd vec_ids) against the
    // standing corpus (even vec_ids), both assigned against the SAME
    // frozen centroids — the embedding analog of the cross-corpus
    // minhash probe. The oracle assigns everything at once (assignment
    // is per-vector, so one-shot ≡ per-side) and takes the cross-parity
    // within-cell pairs.
    q("q_x_semdedup_across",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 16 GROUP BY 1, 2), " +
        "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
        "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
        "assign AS (SELECT vec_id AS cid, cent_id AS cell FROM ranked WHERE rn = 1), " +
        "xp AS (SELECT b.cid AS batch_id, c.cid AS corpus_id, b.cell FROM assign b JOIN assign c ON c.cell = b.cell AND b.cid % 2 = 1 AND c.cid % 2 = 0), " +
        "d2 AS (SELECT p.batch_id, p.corpus_id, p.cell, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS na, sqrt(sum(b.v * b.v)) AS nb " +
        "FROM xp p JOIN e a ON a.vec_id = p.batch_id JOIN e b ON b.vec_id = p.corpus_id AND b.i = a.i GROUP BY 1, 2, 3) " +
        "SELECT batch_id, corpus_id, CAST(cell AS BIGINT) AS cell, round(dot / (na * nb), 6) AS cos " +
        "FROM d2 WHERE dot / (na * nb) >= 0.4 ORDER BY 1, 2") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      Similarity.semDedupAcross(
          emb.filter(col("vec_id") % 2 === 1), emb.filter(col("vec_id") % 2 === 0),
          threshold = 0.4, centroids = cent)
        .orderBy("batch_id", "corpus_id")
    },
    // end-to-end semantic dedup: SemDeDup pairs → connected components →
    // per-vector survivor flag, the same decision-table shape as
    // q_x_dedup_clusters but over the embedding space. The oracle feeds
    // the pair oracle above into the same recursive reachability CTE.
    q("q_x_semdedup_survivors",
      s"WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($semDedupOracleSql) sd), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v) " +
        "SELECT e.vec_id AS doc, coalesce(c.cluster, e.vec_id) AS cluster, " +
        "coalesce(c.cluster, e.vec_id) = e.vec_id AS is_survivor " +
        "FROM embeddings e LEFT JOIN comp c ON c.v = e.vec_id ORDER BY doc") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = Similarity.semDedupPairs(emb, threshold = 0.4, nlist = 16)
      val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
      Dedup.dedupSurvivors(emb.withColumnRenamed("vec_id", "doc_id"),
          "doc_id", clusters)
        .orderBy("doc")
    },
    // exact 1/k heavy hitters with a sketch-pruned shuffle (k = 64 over
    // the token stream): the CMS j=0 row prunes the long tail BEFORE the
    // exchange; CMS never undercounts, so the exact threshold filter on
    // the survivors provably equals the plain two-agg oracle below.
    q("q_x_heavy_hitters",
      "WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents), " +
        "n AS (SELECT count(*) AS n FROM tok), " +
        "c AS (SELECT token, count(*) AS c FROM tok GROUP BY 1) " +
        "SELECT token, CAST(c AS BIGINT) AS cnt FROM c, n WHERE c * 64 > n ORDER BY cnt DESC, token") { (s, d) =>
      import graft.functions.CountMin
      val toks = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " ")).as("token"))
      CountMin.heavyHitters(toks, "token", k = 64)
        .orderBy(col("cnt").desc, col("token"))
    },
    // graded decontamination: overlap FRACTION of each training doc's
    // distinct 5-gram shingles against the benchmark set, contaminated
    // iff frac > 0.1 — the FLAN/PaLM-style rule that separates verbatim
    // leakage from incidental shared phrases. Same even/odd split and
    // shingle definition as q_x_decontaminate.
    q("q_x_contamination_frac",
      "WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 4), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingles FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) WHERE len(t) >= 5), " +
        "bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 2 = 1), " +
        "tr AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 2 = 0), " +
        "agg AS (SELECT doc_id, count(*) AS n_sh, count(CASE WHEN s IN (SELECT s FROM bench) THEN 1 END) AS n_hit FROM tr GROUP BY 1) " +
        "SELECT d.doc_id AS doc, CAST(coalesce(a.n_sh, 0) AS BIGINT) AS n_shingles, " +
        "CAST(coalesce(a.n_hit, 0) AS BIGINT) AS n_hit, " +
        "round(coalesce(CAST(a.n_hit AS DOUBLE) / a.n_sh, 0), 6) AS overlap_frac, " +
        "coalesce(CAST(a.n_hit AS DOUBLE) / a.n_sh > 0.1, false) AS contaminated " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d " +
        "LEFT JOIN agg a ON a.doc_id = d.doc_id ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationScore(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 5, maxOverlap = 0.1)
        .orderBy("doc")
    },
    // deterministic global shuffle order (the pre-sharding corpus
    // shuffle): rank by (hash52(doc_id), doc_id) via the two-pass
    // partitioned-window + broadcast-offsets global rank — the oracle is
    // the single global window DuckDB can afford at oracle scale.
    q("q_x_shuffle_order", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      s"SELECT doc_id, CAST(row_number() OVER (ORDER BY $h, doc_id) - 1 AS BIGINT) AS ord " +
        "FROM documents ORDER BY doc_id"
    }) { (s, d) =>
      Corpus.trainingOrder(Tables.documents(s, d), col("doc_id"))
        .select("doc_id", "ord")
        .orderBy("doc_id")
    },
    q("q_x_token_shards",
      "WITH d AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens FROM documents), c AS (SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d) SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(floor((cum - n_tokens) / 10000) AS BIGINT) AS shard FROM c ORDER BY doc_id") { (s, d) =>
      val withTok = Tables.documents(s, d)
        .withColumn("n_tokens", size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      Corpus.tokenShards(withTok, col("doc_id"), col("n_tokens"), budget = 10000L,
          groupSize = 100L)
        .select("doc_id", "n_tokens", "shard")
        .orderBy("doc_id")
    },
    // HTML → text extraction + URL/host harvesting: the crawl-ingest
    // front door. Both engines wrap the flat corpus in the SAME planted
    // markup (script/style payloads, a comment, entities incl. the
    // decode-order trap &lt;tasty&gt;, a tag-attribute URL and a bare
    // URL), strip it with the identical regexp chain, and extract URLs
    // from the RAW markup (the href lives in a tag the stripper deletes).
    q("q_x_text_strip_html", {
      val deco1 = "'<div class=\"x\"><script>var a=1;</script><style>.c{}</style><!--note--><p>'"
      val deco2 = "'</p><p>Fish &amp; Chips &lt;tasty&gt;</p> <a href=\"https://example.com/p?q=1&amp;r=2\">link</a> visit https://sub.test.org/page now</div>'"
      val urlRe = "https?://[A-Za-z0-9._~:/?#\\[\\]@!$&''*+,;=%()-]+"
      // the identical replace chain as TextAnalysis.stripHtml, folded
      // programmatically (hand-nesting 11 calls invites paren bugs).
      val steps = Seq(
        "'(?is)<script\\b[^>]*>.*?</script>'" -> "' '",
        "'(?is)<style\\b[^>]*>.*?</style>'" -> "' '",
        "'(?s)<!--.*?-->'" -> "' '",
        "'<[^>]+>'" -> "' '",
        "'&lt;'" -> "'<'", "'&gt;'" -> "'>'", "'&quot;'" -> "'\"'",
        "'&#39;'" -> "''''", "'&nbsp;'" -> "' '", "'&amp;'" -> "'&'",
        "'\\s+'" -> "' '")
      val chain = "trim(" + steps.foldLeft("aug") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      } + ")"
      s"WITH a0 AS (SELECT doc_id, $deco1 || text || $deco2 AS aug FROM documents), " +
        s"u AS (SELECT doc_id, aug, regexp_extract_all(aug, '$urlRe') AS urls FROM a0) " +
        s"SELECT doc_id AS doc, $chain AS clean_text, CAST(len(urls) AS BIGINT) AS n_urls, " +
        "array_to_string(urls, ',') AS urls, " +
        "array_to_string(list_transform(urls, x -> lower(regexp_extract(x, '^[a-zA-Z]+://([^/?#:]+)', 1))), ',') AS hosts " +
        "FROM u ORDER BY doc"
    }) { (s, d) =>
      val aug = concat(
        lit("<div class=\"x\"><script>var a=1;</script><style>.c{}</style><!--note--><p>"),
        col("text"),
        lit("</p><p>Fish &amp; Chips &lt;tasty&gt;</p> <a href=\"https://example.com/p?q=1&amp;r=2\">link</a> visit https://sub.test.org/page now</div>"))
      val urls = TextAnalysis.extractUrls(aug)
      Tables.documents(s, d).select(col("doc_id").as("doc"),
          TextAnalysis.stripHtml(aug).as("clean_text"),
          size(urls).cast("long").as("n_urls"),
          concat_ws(",", urls).as("urls"),
          concat_ws(",", transform(urls, u => TextAnalysis.urlHost(u))).as("hosts"))
        .orderBy("doc")
    },
    // encoding quality (mojibake detection): both engines decorate every
    // 3rd doc with U+FFFD replacements or a control byte (tab excluded by
    // the C0-minus-whitespace class) and count identically.
    q("q_x_text_encoding",
      "WITH a AS (SELECT doc_id, text || CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 0 THEN '�ab�' WHEN 1 THEN chr(1) || chr(9) ELSE '' END AS t FROM documents), " +
        "m AS (SELECT doc_id, t, CAST(length(t) - length(replace(t, '�', '')) AS BIGINT) AS n_replacement, " +
        "CAST(length(t) - length(regexp_replace(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS BIGINT) AS n_control FROM a) " +
        "SELECT doc_id AS doc, n_replacement, n_control, " +
        "round(CAST(n_replacement + n_control AS DOUBLE) / length(t), 6) AS bad_char_ratio " +
        "FROM m ORDER BY doc") { (s, d) =>
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("�ab�"))
          .when(col("doc_id") % 3 === 1, lit("\u0001\t"))
          .otherwise(lit("")))
      TextAnalysis.withEncodingQuality(
          Tables.documents(s, d).select(col("doc_id").as("doc"), aug.as("text")))
        .select("doc", "n_replacement", "n_control", "bad_char_ratio")
        .orderBy("doc")
    },
    // URL canonicalization — the crawl-dedup key: both engines build the
    // SAME planted URL per doc (cycling through uppercase scheme/host,
    // default ports, tracking params in first and middle position,
    // fragments, trailing slashes) and canonicalize with the identical
    // regexp chain.
    q("q_x_url_canonical", {
      val url = "CASE doc_id % 4 " +
        "WHEN 0 THEN 'HTTPS://Ex' || (doc_id % 3) || '.COM:443/Path' || (doc_id % 7) || '/?utm_source=tr&q=' || doc_id || '&utm_campaign=x#frag' " +
        "WHEN 1 THEN 'http://EX' || (doc_id % 3) || '.com:80/a?utm_x=' || doc_id " +
        "WHEN 2 THEN 'https://site' || (doc_id % 3) || '.org/p/' " +
        "ELSE 'http://Host' || (doc_id % 3) || '.net?fbclid=xyz&keep=' || doc_id || '#top' END"
      val steps = Seq(
        "'#.*$'" -> "''",
        "'[?&](utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&]*'" -> "''",
        "'^([^?&]*)&'" -> "'\\1?'",
        "'[?&]+$'" -> "''")
      val cleaned = steps.foldLeft("url") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      }
      val lowered = s"lower(regexp_extract($cleaned, '^([^/?#]*://[^/?#]*)', 1)) || " +
        s"regexp_replace($cleaned, '^[^/?#]*://[^/?#]*', '')"
      val ports = s"regexp_replace(regexp_replace($lowered, '^(http://[^/:?#]*):80(/|$$)', '\\1\\2'), '^(https://[^/:?#]*):443(/|$$)', '\\1\\2')"
      s"WITH u AS (SELECT doc_id, $url AS url FROM documents) " +
        s"SELECT doc_id AS doc, url, regexp_replace($ports, '/$$', '') AS canon FROM u ORDER BY doc"
    }) { (s, d) =>
      val url = expr("CASE CAST(doc_id % 4 AS INT) " +
        "WHEN 0 THEN concat('HTTPS://Ex', CAST(doc_id % 3 AS STRING), '.COM:443/Path', CAST(doc_id % 7 AS STRING), '/?utm_source=tr&q=', CAST(doc_id AS STRING), '&utm_campaign=x#frag') " +
        "WHEN 1 THEN concat('http://EX', CAST(doc_id % 3 AS STRING), '.com:80/a?utm_x=', CAST(doc_id AS STRING)) " +
        "WHEN 2 THEN concat('https://site', CAST(doc_id % 3 AS STRING), '.org/p/') " +
        "ELSE concat('http://Host', CAST(doc_id % 3 AS STRING), '.net?fbclid=xyz&keep=', CAST(doc_id AS STRING), '#top') END")
      Tables.documents(s, d)
        .select(col("doc_id").as("doc"), url.as("url"),
          TextAnalysis.canonicalUrl(url).as("canon"))
        .orderBy("doc")
    },
    // duplicated-line removal (the C4/CCNet boilerplate scrub): the flat
    // synthetic corpus has no newlines, so both engines plant the SAME
    // deterministic line structure (the q_x_text_normalize decoration
    // pattern) — a nav line + footer on every doc (df = N → removed), a
    // subscribe line on every 5th (df = N/5 → removed), a rare line on 2
    // docs (df = 2 < minDf 3 → KEPT), unique bodies kept.
    q("q_x_dedup_lines", {
      val h = graft.llmops.PortableHash.duckHash52("line")
      "WITH aug AS (SELECT doc_id, 'nav menu home about' || chr(10) || text || " +
        "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'subscribe newsletter now' ELSE '' END || " +
        "CASE WHEN doc_id % 250 = 1 THEN chr(10) || 'rare promo line' ELSE '' END || " +
        "chr(10) || 'footer contact terms' AS text FROM documents), " +
        "l AS (SELECT doc_id, generate_subscripts(ln, 1) AS pos, unnest(ln) AS line FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM aug) s0), " +
        s"hot AS (SELECT h FROM (SELECT DISTINCT doc_id, $h AS h FROM l) dl GROUP BY h HAVING count(*) >= 3), " +
        s"k AS (SELECT doc_id, pos, line FROM l WHERE $h NOT IN (SELECT h FROM hot)), " +
        "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY 1) " +
        "SELECT a.doc_id AS doc, coalesce(r.clean_text, '') AS clean_text, coalesce(r.n_lines_kept, 0) AS n_lines_kept, " +
        "CAST(len(string_split(a.text, chr(10))) - coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_removed " +
        "FROM aug a LEFT JOIN r ON r.doc_id = a.doc_id ORDER BY doc"
    }) { (s, d) =>
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("nav menu home about\n"), col("text"),
          when(col("doc_id") % 5 === 0, "\nsubscribe newsletter now").otherwise(""),
          when(col("doc_id") % 250 === 1, "\nrare promo line").otherwise(""),
          lit("\nfooter contact terms")).as("text"))
      Dedup.dedupLines(aug, "doc_id", "text", minDf = 3)
        .orderBy("doc")
    },
    // per-source SCRIPT-MIX data card over the multi-script corpus:
    // integer per-doc script counts summed per source, one division at
    // the end (the DECIMAL discipline — never an avg of rounded per-doc
    // fractions) — every \x{...} class and the share arithmetic replay.
    q("q_x_card_script_mix", {
      def cnt(r: String) = s"length(t) - length(regexp_replace(t, '[$r]', '', 'g'))"
      val sums = TextAnalysis.ScriptRanges.map { case (n2, r) =>
        s"CAST(sum(${cnt(r)}) AS BIGINT) AS c_$n2" }.mkString(", ")
      val nl = TextAnalysis.ScriptRanges.map { case (n2, _) => s"c_$n2" }.mkString(" + ")
      val shares = TextAnalysis.ScriptRanges.map { case (n2, _) =>
        s"CASE WHEN n_letters > 0 THEN round(c_$n2 / CAST(n_letters AS DOUBLE), 6) ELSE 0.0 END AS script_$n2"
      }.mkString(", ")
      s"WITH a AS (SELECT doc_id, source, $scriptAugSql AS t FROM documents), " +
        s"g AS (SELECT source, $sums FROM a GROUP BY 1), " +
        s"n AS (SELECT *, $nl AS n_letters FROM g) " +
        s"SELECT source, CAST(n_letters AS BIGINT) AS n_letters, $shares FROM n ORDER BY source"
    }) { (s, d) =>
      TextAnalysis.scriptMixBySource(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), scriptAugCol.as("text")),
          "text", "source")
        .orderBy("source")
    },
    // TOKEN-weighted temperature mixture: the budget a training run
    // actually allocates is tokens — a doc-count plan over-samples the
    // short stratum. c/target become token masses, keep stays per-doc
    // (hash-bucket), and the kept TOKEN mass is reported against the
    // target; every weight/target/bps step replays integer-exactly.
    q("q_x_source_mix_tokens", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR)")
      "WITH d AS (SELECT doc_id, lang, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nt FROM documents), " +
        "c AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS c FROM d GROUP BY 1), " +
        "w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT lang, c, CAST(floor(30000.0 * (CAST(w AS DOUBLE) / CAST((SELECT CAST(sum(w) AS BIGINT) FROM w) AS DOUBLE))) AS BIGINT) AS target FROM w), " +
        "p AS (SELECT lang, c, target, least(10000, CAST(floor(10000.0 * CAST(target AS DOUBLE) / CAST(c AS DOUBLE)) AS BIGINT)) AS keep_bps FROM t), " +
        s"kept AS (SELECT d.lang, d.nt FROM d JOIN p ON p.lang = d.lang WHERE $h % 10000 < p.keep_bps) " +
        "SELECT p.lang AS lang, p.c AS c, p.target AS target, p.keep_bps AS keep_bps, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM kept k WHERE k.lang = p.lang) AS n_kept, " +
        "(SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM kept k WHERE k.lang = p.lang) AS tokens_kept " +
        "FROM p ORDER BY lang"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("nt", size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      val plan = Corpus.temperatureMixPlanWeighted(docs, col("lang"), col("nt"),
        budget = 30000L)
      val kept = Corpus.mixSample(docs, col("doc_id"), col("lang"), plan)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          sum("nt").as("tokens_kept"))
      plan.join(kept, plan("stratum") === kept("lang"), "left")
        .select(plan("stratum").as("lang"), col("c"), col("target"),
          col("keep_bps"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
        .orderBy("lang")
    },
    // PER-SITE boilerplate removal (the RefinedWeb rule): each source's
    // banner (df=25 within its source) is deleted, while the planted
    // cross-source quote (~2 docs per source, 40 globally) SURVIVES —
    // global dedup_lines at the same minDf would delete it; the fixture
    // proves the grouping is load-bearing, and the oracle replays the
    // (source, line-hash) df count and two-key anti-join.
    q("q_x_dedup_lines_host", {
      val h = graft.llmops.PortableHash.duckHash52("line")
      "WITH aug AS (SELECT doc_id, source, 'banner of ' || source || chr(10) || text || " +
        "CASE WHEN (doc_id // 20) % 13 = 0 THEN chr(10) || 'globally common quote' ELSE '' END AS text FROM documents), " +
        "l AS (SELECT doc_id, source, generate_subscripts(ln, 1) AS pos, unnest(ln) AS line FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ln FROM aug) s0), " +
        s"lh AS (SELECT doc_id, source, pos, line, $h AS h FROM l), " +
        "hot AS (SELECT source, h FROM (SELECT DISTINCT doc_id, source, h FROM lh) dl GROUP BY source, h HAVING count(*) >= 3), " +
        "k AS (SELECT lh.doc_id, lh.pos, lh.line FROM lh LEFT JOIN hot ON hot.source = lh.source AND hot.h = lh.h WHERE hot.h IS NULL), " +
        "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY 1) " +
        "SELECT a.doc_id AS doc, coalesce(r.clean_text, '') AS clean_text, coalesce(r.n_lines_kept, 0) AS n_lines_kept, " +
        "CAST(len(string_split(a.text, chr(10))) - coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_removed " +
        "FROM aug a LEFT JOIN r ON r.doc_id = a.doc_id ORDER BY doc"
    }) { (s, d) =>
      val aug = Tables.documents(s, d).select(col("doc_id"), col("source"),
        concat(lit("banner of "), col("source"), lit("\n"), col("text"),
          when(expr("(doc_id div 20) % 13 = 0"), "\nglobally common quote")
            .otherwise("")).as("text"))
      Dedup.dedupLinesBy(aug, "doc_id", "text", "source", minDf = 3)
        .orderBy("doc")
    },
    // shard release manifest over the token-budget shards: exact per-shard
    // doc/token counts + the order-invariant xor-of-hash52("id:text")
    // content checksum — the audit table a corpus release ships with.
    q("q_x_shard_manifest", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR) || ':' || text")
      "WITH t AS (SELECT doc_id, text, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nt FROM documents), " +
        "c AS (SELECT doc_id, text, nt, sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t), " +
        "sh AS (SELECT doc_id, text, nt, CAST(floor((cum - nt) / 10000) AS BIGINT) AS shard FROM c) " +
        "SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens, " +
        s"CAST(bit_xor($h) AS BIGINT) AS content_xor FROM sh GROUP BY 1 ORDER BY 1"
    }) { (s, d) =>
      val withTok = Tables.documents(s, d)
        .withColumn("n_tokens", size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      val sharded = Corpus.tokenShards(withTok, col("doc_id"), col("n_tokens"),
        budget = 10000L, groupSize = 100L)
      Corpus.shardManifest(sharded, col("shard"), "doc_id", "text")
        .orderBy("shard")
    },
    // multimodal frame sampling: 16-byte frames every 12 bytes over the
    // raw payload (overlapping) — the video/audio sampler shape, pure
    // codegen'd binary slices, md5-fingerprinted per frame. The oracle
    // walks the SAME bytes through the hex form (2 chars/byte).
    q("q_x_multimodal_frames",
      "WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), " +
        "f AS (SELECT media_id, hx, unnest(generate_series(0, (n - 1) // 12)) AS frame_no FROM h WHERE n >= 1) " +
        "SELECT media_id, frame_no, CAST(length(substr(hx, frame_no * 24 + 1, 32)) // 2 AS BIGINT) AS frame_bytes, " +
        "md5(substr(hx, frame_no * 24 + 1, 32)) AS frame_md5 FROM f ORDER BY media_id, frame_no") { (s, d) =>
      Multimodal.sampleFrames(
          Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"),
          frameLen = 16, stride = 12)
        .orderBy("media_id", "frame_no")
    },
    // perceptual-hash banding end to end over PLANTED 64-bit signatures
    // (the decode half is JVM-only; the banding half is pure integer
    // arithmetic): sig = hash52(lang)·2^11 xor (doc_id mod 4) — full
    // 63-bit spread (no degenerate always-zero band), same-lang docs sit
    // at Hamming ≤ 2, cross-lang effectively far. The oracle replays
    // band split → collision → exact bit_count verify. Fixed id slice =
    // the fixed-workload discipline (q_x_fuzzy_trigram).
    q("q_x_multimodal_ahash_pairs", {
      val h = graft.llmops.PortableHash.duckHash52("lang")
      s"WITH sigs AS (SELECT doc_id AS doc, xor($h * 2048, doc_id % 4) AS ahash FROM documents WHERE doc_id < 200), " +
        "b AS (SELECT doc, ahash, band, (ahash >> (band * 8)) & 255 AS bkey FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) bands), " +
        "cand AS (SELECT DISTINCT x.doc AS id_a, y.doc AS id_b, x.ahash AS ha, y.ahash AS hb FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey AND x.doc < y.doc) " +
        "SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM cand WHERE bit_count(xor(ha, hb)) <= 6 ORDER BY 1, 2"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val sigs = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id").as("media_id"),
          (PortableHash.hash52(col("lang")) * lit(2048L))
            .bitwiseXOR(col("doc_id") % 4).as("ahash"))
      Multimodal.hashBandedPairs(sigs, maxHamming = 6)
        .orderBy("id_a", "id_b")
    },
    // content-defined chunking (window 8, mask 2^6): every boundary
    // decision is a PortableHash of the window's hex — the oracle replays
    // positions, hits, lag ranges and chunk hashes verbatim on the same
    // hex walk as the frames oracle.
    q("q_x_multimodal_cdc", {
      val hit = graft.llmops.PortableHash.duckHash52("substr(hx, (p - 8) * 2 + 1, 16)")
      "WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "pos AS (SELECT media_id, hx, n, unnest(generate_series(8, n)) AS p FROM h WHERE n >= 8), " +
        s"hits AS (SELECT media_id, p FROM pos WHERE $hit % 64 = 0), " +
        "ends AS (SELECT DISTINCT media_id, p FROM (SELECT media_id, p FROM hits UNION ALL SELECT media_id, n AS p FROM h WHERE n >= 1)), " +
        "ch AS (SELECT e.media_id, e.p, coalesce(lag(e.p) OVER (PARTITION BY e.media_id ORDER BY e.p), 0) AS s0, row_number() OVER (PARTITION BY e.media_id ORDER BY e.p) - 1 AS chunk_no FROM ends e) " +
        "SELECT ch.media_id, CAST(chunk_no AS BIGINT) AS chunk_no, CAST(s0 + 1 AS BIGINT) AS start_byte, " +
        "CAST(ch.p - s0 AS BIGINT) AS chunk_bytes, md5(substr(h.hx, CAST(s0 * 2 + 1 AS INT), CAST((ch.p - s0) * 2 AS INT))) AS chunk_md5 " +
        "FROM ch JOIN h ON h.media_id = ch.media_id ORDER BY 1, 2"
    }) { (s, d) =>
      Multimodal.cdcChunks(
          Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"),
          window = 8, maskBits = 6)
        .orderBy("media_id", "chunk_no")
    },
    // gear-hash CDC (mask 2^6): the O(n) rolling recurrence telescopes to
    // a 6-term windowed sum mod 64 (bytes older than maskBits shift out
    // of the mask), so the oracle states every boundary as exact integer
    // arithmetic over the hex byte walk — no rolling state needed.
    q("q_x_multimodal_cdc_gear", {
      val bval = "('0x' || substr(hx, (p - k.k - 1) * 2 + 1, 2))::BIGINT"
      val g = graft.llmops.PortableHash.duckHash52(s"'gear:' || CAST($bval AS VARCHAR)")
      "WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "pos AS (SELECT media_id, hx, n, unnest(generate_series(1, n)) AS p FROM h WHERE n >= 1), " +
        s"terms AS (SELECT media_id, p, ($g % ((1::BIGINT) << (6 - k.k))) * ((1::BIGINT) << k.k) AS t " +
        "FROM pos CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k) k WHERE k.k < least(6, p)), " +
        "hits AS (SELECT media_id, p FROM terms GROUP BY 1, 2 HAVING sum(t) % 64 = 0), " +
        "ends AS (SELECT DISTINCT media_id, p FROM (SELECT media_id, p FROM hits UNION ALL SELECT media_id, n AS p FROM h WHERE n >= 1)), " +
        "ch AS (SELECT e.media_id, e.p, coalesce(lag(e.p) OVER (PARTITION BY e.media_id ORDER BY e.p), 0) AS s0, row_number() OVER (PARTITION BY e.media_id ORDER BY e.p) - 1 AS chunk_no FROM ends e) " +
        "SELECT ch.media_id, CAST(chunk_no AS BIGINT) AS chunk_no, CAST(s0 + 1 AS BIGINT) AS start_byte, " +
        "CAST(ch.p - s0 AS BIGINT) AS chunk_bytes, md5(substr(h.hx, CAST(s0 * 2 + 1 AS INT), CAST((ch.p - s0) * 2 AS INT))) AS chunk_md5 " +
        "FROM ch JOIN h ON h.media_id = ch.media_id ORDER BY 1, 2"
    }) { (s, d) =>
      Multimodal.cdcChunksGear(
          Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"),
          maskBits = 6)
        .orderBy("media_id", "chunk_no")
    },
    // block-dedup KPI: chunk-level storage saving over the md5-CDC chunk
    // table — total vs distinct chunks/bytes, saving in integer bps.
    q("q_x_cdc_dedup_ratio", {
      val hit = graft.llmops.PortableHash.duckHash52("substr(hx, (p - 8) * 2 + 1, 16)")
      "WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "pos AS (SELECT media_id, hx, n, unnest(generate_series(8, n)) AS p FROM h WHERE n >= 8), " +
        s"hits AS (SELECT media_id, p FROM pos WHERE $hit % 64 = 0), " +
        "ends AS (SELECT DISTINCT media_id, p FROM (SELECT media_id, p FROM hits UNION ALL SELECT media_id, n AS p FROM h WHERE n >= 1)), " +
        "ch AS (SELECT e.media_id, e.p, coalesce(lag(e.p) OVER (PARTITION BY e.media_id ORDER BY e.p), 0) AS s0 FROM ends e), " +
        "chunks AS (SELECT ch.media_id, CAST(ch.p - s0 AS BIGINT) AS chunk_bytes, md5(substr(h.hx, CAST(s0 * 2 + 1 AS INT), CAST((ch.p - s0) * 2 AS INT))) AS chunk_md5 FROM ch JOIN h ON h.media_id = ch.media_id), " +
        "per AS (SELECT chunk_md5, CAST(count(*) AS BIGINT) AS cn, CAST(min(chunk_bytes) AS BIGINT) AS cb FROM chunks GROUP BY 1) " +
        "SELECT CAST(sum(cn) AS BIGINT) AS n_chunks, CAST(count(*) AS BIGINT) AS n_unique_chunks, " +
        "CAST(sum(cn * cb) AS BIGINT) AS total_bytes, CAST(sum(cb) AS BIGINT) AS unique_bytes, " +
        "CAST((sum(cn * cb) - sum(cb)) * 10000 // sum(cn * cb) AS BIGINT) AS saved_bps FROM per"
    }) { (s, d) =>
      Multimodal.cdcDedupStats(Multimodal.cdcChunks(
        Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"),
        window = 8, maskBits = 6))
    },
    // multimodal feature extraction through the real mapPartitions codec
    // path. The stub codec's float32 accumulation is replicated bit-exactly
    // in DuckDB (byte-wise hex walk + list_reduce float32 fold — verified
    // identical over every doc, incl. the byte/255 double-rounding cases),
    // so even this carries a full oracle. f0 rounds in DOUBLE on both sides.
    q("q_x_multimodal_features",
      "WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), " +
        "b AS (SELECT doc_id, n, list_transform(generate_series(0, CAST((n + 7) // 8 AS BIGINT) - 1), i -> ('0x' || substr(hx, 16 * i + 1, 2))::BIGINT) AS bytes FROM h) " +
        "SELECT doc_id AS media_id, CAST(n AS BIGINT) AS byte_len, round(CAST(list_reduce(list_prepend(CAST(0.0 AS FLOAT), bytes), (a, x) -> CAST(a + CAST(x / 255.0 AS FLOAT) AS FLOAT)) AS DOUBLE), 4) AS f0 FROM b ORDER BY media_id") { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.payloadFrom(Tables.documents(s, d), "doc_id", "text"))
        .toDF()
        .select(col("media_id"), col("byte_len"),
          round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
        .orderBy("media_id")
    },

    // TFRecord framing, oracled CROSS-ENGINE: Spark emits real frame
    // BYTES through the codegen'd TfRecordFrame expression and re-reads
    // the length field and both masked CRC32C guards out of those bytes
    // (LE byte-swap via hex + conv); DuckDB recomputes CRC32C from first
    // principles — a bit-serial list_reduce fold of the reflected
    // Castagnoli polynomial (0x82F63B78 = 2197175160) over the payload's
    // bits, then the TFRecord mask ((c >>> 15 | c << 17) + 0xa282ead8)
    // in pure integer arithmetic. Payload lengths vary 1..32 via a
    // doc_id-dependent md5 prefix, so the length framing is exercised
    // across values, not one constant. The canonical check value
    // crc32c("123456789") = 0xE3069283 is additionally spec-pinned.
    q("q_x_tfrecord_frame", {
      def crcBits(bytesList: String) =
        "xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), " +
          s"flatten(list_transform($bytesList, " +
          "y -> [(y>>0)&1, (y>>1)&1, (y>>2)&1, (y>>3)&1, (y>>4)&1, (y>>5)&1, (y>>6)&1, (y>>7)&1]))), " +
          "(acc, b) -> xor(acc >> 1, xor(acc & 1, b) * 2197175160)), 4294967295)"
      def mask(c: String) =
        s"CAST((((($c >> 15) | (($c * 131072) & 4294967295)) + 2726488792) & 4294967295) AS BIGINT)"
      "WITH p AS (SELECT doc_id, substr(md5(text), 1, CAST(1 + doc_id % 32 AS INT)) AS payload FROM documents), " +
        "c AS (SELECT doc_id, CAST(length(payload) AS BIGINT) AS plen, " +
        crcBits("list_transform(string_split(payload, ''), ch -> CAST(ascii(ch) AS BIGINT))") + " AS pcrc, " +
        crcBits("[CAST(length(payload) AS BIGINT), 0, 0, 0, 0, 0, 0, 0]") + " AS lcrc FROM p) " +
        "SELECT doc_id, plen, 16 + plen AS frame_len, plen AS len_field, " +
        s"${mask("lcrc")} AS len_crc_masked, ${mask("pcrc")} AS payload_crc_masked " +
        "FROM c ORDER BY doc_id"
    }) { (s, d) =>
      import org.apache.spark.sql.graftfn.TfRecordFrame
      // LE uint from n bytes of a binary slice: hex, byte-swap, conv.
      // (q_x_tfexample below replays the proto layer over these frames'
      // sibling payloads.)
      def le(hexExpr: String, nBytes: Int) = {
        val parts = (nBytes - 1 to 0 by -1)
          .map(i => s"substr($hexExpr, ${2 * i + 1}, 2)")
        s"CAST(conv(concat(${parts.mkString(", ")}), 16, 10) AS BIGINT)"
      }
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("substring(md5(text), 1, CAST(1 + doc_id % 32 AS INT))").as("payload"))
        .withColumn("frame",
          TfRecordFrame.tfRecordFrame(expr("encode(payload, 'UTF-8')")))
        .withColumn("plen", length(col("payload")).cast("long"))
        .select(col("doc_id"), col("plen"),
          length(col("frame")).cast("long").as("frame_len"),
          expr(le("hex(substring(frame, 1, 8))", 8)).as("len_field"),
          expr(le("hex(substring(frame, 9, 4))", 4)).as("len_crc_masked"),
          expr(le("hex(substring(frame, CAST(13 + plen AS INT), 4))", 4))
            .as("payload_crc_masked"))
        .orderBy("doc_id")
    },

    // tf.train.Example proto encoding, oracled CROSS-ENGINE: Spark emits
    // the real Example bytes through the TfExampleEncode expression
    // (features: "id" int64 = doc_id — a 1- or 2-byte varint — and "t"
    // bytes = an md5 prefix of doc_id-dependent length 1..16); DuckDB
    // ASSEMBLES the exact proto hex from first principles — varint
    // arithmetic, nested length-delimited framing (BytesList/Int64List →
    // Feature → MapEntry → Features → Example), sorted feature order.
    // Every submessage length here stays < 128 (single-byte varints) by
    // construction; the multi-byte length/negative/packed-float cases
    // are byte-pinned in TfExampleSpec against an independent parser.
    q("q_x_tfexample",
      "WITH p AS (SELECT doc_id, substr(md5(text), 1, CAST(1 + doc_id % 16 AS INT)) AS payload FROM documents), " +
        "c AS (SELECT doc_id, lower(hex(encode(payload))) AS ph, length(payload) AS pl, " +
        "CASE WHEN doc_id < 128 THEN lpad(lower(to_hex(doc_id)), 2, '0') " +
        "ELSE lpad(lower(to_hex((doc_id % 128) + 128)), 2, '0') || lpad(lower(to_hex(doc_id // 128)), 2, '0') END AS vid FROM p), " +
        "f AS (SELECT doc_id, pl, ph, vid, length(vid) // 2 AS pli FROM c), " +
        "asm AS (SELECT doc_id, " +
        // entry for "id": 0a 02 "id" 12 len(feat) feat, feat = 1a len 0a len vid
        "'0a' || lpad(lower(to_hex(10 + pli)), 2, '0') || '0a' || '02' || '6964' || '12' || lpad(lower(to_hex(4 + pli)), 2, '0') || " +
        "'1a' || lpad(lower(to_hex(2 + pli)), 2, '0') || '0a' || lpad(lower(to_hex(pli)), 2, '0') || vid AS entry_id, " +
        // entry for "t": 0a 01 "t" 12 len(feat) feat, feat = 0a len 0a len payload
        "'0a' || lpad(lower(to_hex(9 + pl)), 2, '0') || '0a' || '01' || '74' || '12' || lpad(lower(to_hex(4 + pl)), 2, '0') || " +
        "'0a' || lpad(lower(to_hex(2 + pl)), 2, '0') || '0a' || lpad(lower(to_hex(pl)), 2, '0') || ph AS entry_t, " +
        "pli, pl FROM f) " +
        "SELECT doc_id, '0a' || lpad(lower(to_hex(23 + pli + pl)), 2, '0') || entry_id || entry_t AS ex_hex, " +
        "CAST(25 + pli + pl AS BIGINT) AS ex_len FROM asm ORDER BY doc_id") { (s, d) =>
      import org.apache.spark.sql.graftfn.TfExampleEncode
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("substring(md5(text), 1, CAST(1 + doc_id % 16 AS INT))").as("payload"))
        .withColumn("ex", TfExampleEncode.tfExample(
          struct(col("doc_id").as("id"), col("payload").as("t"))))
        .select(col("doc_id"), lower(hex(col("ex"))).as("ex_hex"),
          length(col("ex")).cast("long").as("ex_len"))
        .orderBy("doc_id")
    },
    // script-aware tokenization: the identical [per-CJK-char | ws-run]
    // regexp replayed in DuckDB over planted multi-script text — a
    // Chinese paragraph that is ONE whitespace token becomes per-char
    // units, and avg_token_len (threaded through withQuality) is gauged
    // in the same units on both engines.
    q("q_x_text_script_tokens", {
      val ns = TextAnalysis.NoSpaceScriptRanges
      s"WITH a AS (SELECT doc_id, $scriptAugSql AS t FROM documents), " +
        "s AS (SELECT doc_id AS doc, len(regexp_split_to_array(trim(t), '\\s+')) AS n_ws, " +
        s"regexp_extract_all(t, '[$ns]|[^\\s$ns]+') AS st FROM a) " +
        "SELECT doc, CAST(n_ws AS BIGINT) AS n_tokens_ws, CAST(len(st) AS BIGINT) AS n_tokens, " +
        "round(CAST(list_sum(list_transform(st, x -> length(x))) AS DOUBLE) / len(st), 6) AS avg_token_len " +
        "FROM s ORDER BY doc"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), scriptAugCol.as("text"))
      TextAnalysis.withQuality(docs, "text", TextAnalysis.scriptTokens)
        .select(col("doc_id").as("doc"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens_ws"),
          col("n_tokens"), col("avg_token_len"))
        .orderBy("doc")
    },
    // script-gated language ID: per-script letter fractions from the
    // shared \x{...} classes, the ja/zh kana disambiguation, the ≥0.5
    // dominant-script ladder and the LangProfilesExt function-word
    // fallback — the whole decision replayed branch for branch.
    q("q_x_text_langid_script", langIdScriptOracleSql) { (s, d) =>
      TextAnalysis.withLangIdScript(
          Tables.documents(s, d).select(col("doc_id"), scriptAugCol.as("text")))
        .select(col("doc_id").as("doc"), col("lang_pred"), col("lang_score"))
        .orderBy("doc")
    },
    // trainable char-trigram language ID (Cavnar–Trenkle profiles): fit
    // top-50 trigrams per language on the labeled training sentences,
    // score HELD-OUT planted sentences by profile coverage — fit, join,
    // argmax and the und-degrade all replayed.
    q("q_x_text_langid_ngram", {
      val values = ngramTrain.map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
      val aug = "CASE " + ngramAug.map { case (k, s) =>
        s"WHEN doc_id % 12 = $k THEN '$s'"
      }.mkString(" ") + " ELSE text END"
      def grams(src: String, keyAs: String) =
        s"SELECT $keyAs, unnest(list_transform(generate_series(1, length(t) - 2), i -> substr(t, CAST(i AS INT), 3))) AS gram " +
          s"FROM $src WHERE length(t) >= 3"
      s"WITH lab AS (SELECT * FROM (VALUES $values) AS v(lang, txt)), " +
        "lt AS (SELECT lang, regexp_replace(lower(txt), '\\s+', ' ', 'g') AS t FROM lab), " +
        s"lg AS (${grams("lt", "lang")}), " +
        "pc AS (SELECT lang, gram, count(*) AS cnt FROM lg GROUP BY 1, 2), " +
        "prof AS (SELECT lang, gram FROM (SELECT lang, gram, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS r FROM pc) pr WHERE r <= 50), " +
        s"docs AS (SELECT doc_id AS doc, substr($aug, 1, 1000) AS txt FROM documents), " +
        "dt AS (SELECT doc, regexp_replace(lower(txt), '\\s+', ' ', 'g') AS t FROM docs), " +
        s"dg AS (${grams("dt", "doc")}), " +
        "ng AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_grams FROM dg GROUP BY 1), " +
        "hits AS (SELECT doc, lang, count(*) AS hits FROM dg JOIN prof USING (gram) GROUP BY 1, 2), " +
        "best AS (SELECT doc, lang, hits, row_number() OVER (PARTITION BY doc ORDER BY hits DESC, lang) AS rn FROM hits) " +
        "SELECT d.doc, CASE WHEN b.hits / CAST(n.n_grams AS DOUBLE) >= 0.2 THEN b.lang ELSE 'und' END AS lang_pred, " +
        "coalesce(round(b.hits / CAST(n.n_grams AS DOUBLE), 6), 0.0) AS lang_score, " +
        "coalesce(n.n_grams, 0) AS n_grams " +
        "FROM (SELECT doc FROM docs) d LEFT JOIN ng n USING (doc) " +
        "LEFT JOIN best b ON b.doc = d.doc AND b.rn = 1 ORDER BY d.doc"
    }) { (s, d) =>
      import s.implicits._
      val labeled = ngramTrain.toDF("lang", "txt")
      val profiles = TextAnalysis.charNgramProfiles(labeled, "lang", "txt",
        n = 3, topK = 50)
      val aug = ngramAug.foldRight(col("text")) { case ((k, t), acc) =>
        when(col("doc_id") % 12 === k, lit(t)).otherwise(acc)
      }
      // explicit-count repartition: the per-char gram explode otherwise
      // inherits the scan's one-file partitioning and builds the whole
      // gram stream on a single core (the mixture_by_langid lesson).
      TextAnalysis.langIdByNgram(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text"))
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          "doc_id", "text", profiles, n = 3, maxChars = 1000)
        .orderBy("doc")
    },
    // WARC interop round trip: Spark WRITES the corpus as member-per-
    // record warc.gz crawl shards, reads them back through the
    // quarantine-capable parser, re-derives each record's source from its
    // WARC-Target-URI and aggregates; the ORACLE computes the identical
    // per-source counts + order-invariant uri:text checksum + payload
    // byte sum STRAIGHT from the table — any record the format layer
    // loses, tears or mutates breaks the hash (the q_x_jsonl_interop
    // precedent, for the format DuckDB cannot read itself).
    q("q_x_warc_interop", {
      val h = graft.llmops.PortableHash.duckHash52(
        "'https://ex.test/' || source || '/' || CAST(doc_id AS VARCHAR) || ':' || text")
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        s"CAST(bit_xor($h) AS BIGINT) AS checksum, " +
        "CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes " +
        "FROM documents GROUP BY source ORDER BY source"
    }) { (s, d) =>
      import graft.ingest.Warc
      import graft.llmops.PortableHash
      val path = java.nio.file.Files
        .createTempDirectory("graft_warc_interop").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      val docs = Tables.documents(s, d).select(
        concat(lit("https://ex.test/"), col("source"), lit("/"),
          col("doc_id").cast("string")).as("uri"),
        col("text"))
      Warc.write(docs, col("uri"), col("text"), path, shards = 4)
      val back = Warc.read(s, path)
      require(back.where(!col("ok")).isEmpty, "self-written WARC must parse cleanly")
      back.select(
          regexp_extract(col("target_uri"), "ex\\.test/([^/]+)/", 1).as("source"),
          length(col("payload")).cast("long").as("__n"),
          PortableHash.hash52(concat(col("target_uri"), lit(":"),
            col("payload").cast("string"))).as("__h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(__h)").as("checksum"),
          sum("__n").as("n_bytes"))
        .orderBy("source")
    },
    // the crawl FRONT DOOR composed end to end: documents wrapped as
    // HTTP responses inside WARC response records (the Common Crawl
    // shape), written as member-per-record warc.gz, read back, HTTP body
    // extracted, HTML stripped, host derived from WARC-Target-URI. The
    // oracle computes clean_text/host STRAIGHT from the table with the
    // identical stripHtml regexp chain — the whole WARC+HTTP layer must
    // be lossless for every row to match.
    q("q_x_warc_front_door", {
      val steps = Seq(
        "'(?is)<script\\b[^>]*>.*?</script>'" -> "' '",
        "'(?is)<style\\b[^>]*>.*?</style>'" -> "' '",
        "'(?s)<!--.*?-->'" -> "' '",
        "'<[^>]+>'" -> "' '",
        "'&lt;'" -> "'<'", "'&gt;'" -> "'>'", "'&quot;'" -> "'\"'",
        "'&#39;'" -> "''''", "'&nbsp;'" -> "' '", "'&amp;'" -> "'&'",
        "'\\s+'" -> "' '")
      val chain = "trim(" + steps.foldLeft("html") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      } + ")"
      "WITH a AS (SELECT doc_id, source, '<html><body><p>' || text || '</p></body></html>' AS html FROM documents) " +
        "SELECT doc_id AS doc, " +
        "lower(regexp_extract('https://ex.test/' || source || '/' || CAST(doc_id AS VARCHAR), '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host, " +
        s"$chain AS clean_text FROM a ORDER BY doc"
    }) { (s, d) =>
      import graft.ingest.Warc
      val path = java.nio.file.Files
        .createTempDirectory("graft_warc_front").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      val docs = Tables.documents(s, d).select(
        concat(lit("https://ex.test/"), col("source"), lit("/"),
          col("doc_id").cast("string")).as("uri"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><body><p>"),
          col("text"), lit("</p></body></html>")).as("payload"))
      Warc.write(docs, col("uri"), col("payload"), path, shards = 4,
        warcType = lit("response"),
        contentType = lit("application/http;msgtype=response"))
      val back = Warc.read(s, path)
      require(back.where(!col("ok")).isEmpty, "self-written WARC must parse cleanly")
      back.select(
          regexp_extract(col("target_uri"), "/([0-9]+)$", 1).cast("long").as("doc"),
          TextAnalysis.urlHost(col("target_uri")).as("host"),
          TextAnalysis.stripHtml(Warc.httpBodyText(col("payload"))).as("clean_text"))
        .orderBy("doc")
    },
    // acoustic near-dup banding end to end over PLANTED envelope
    // signatures (the decode half — square-wave envelopes, re-encode
    // invariance — is spec-pinned in LlmOpsSpec; this is the
    // q_x_multimodal_ahash_pairs discipline for the audio lane): sig =
    // hash52('aud:' || lang)·2^11 xor (doc_id mod 8), same-recording
    // re-encodes sit at Hamming ≤ 3, cross-recording effectively far;
    // band split → collision → exact bit_count verify at maxHamming 5.
    q("q_x_multimodal_audio_pairs", {
      val h = graft.llmops.PortableHash.duckHash52("'aud:' || lang")
      s"WITH sigs AS (SELECT doc_id AS doc, xor($h * 2048, doc_id % 8) AS ahash FROM documents WHERE doc_id < 160), " +
        "b AS (SELECT doc, ahash, band, (ahash >> (band * 8)) & 255 AS bkey FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) bands), " +
        "cand AS (SELECT DISTINCT x.doc AS id_a, y.doc AS id_b, x.ahash AS ha, y.ahash AS hb FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey AND x.doc < y.doc) " +
        "SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM cand WHERE bit_count(xor(ha, hb)) <= 5 ORDER BY 1, 2"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val sigs = Tables.documents(s, d).filter(col("doc_id") < 160)
        .select(col("doc_id").as("media_id"),
          (PortableHash.hash52(concat(lit("aud:"), col("lang"))) * lit(2048L))
            .bitwiseXOR(col("doc_id") % 8).as("ahash"))
      Multimodal.hashBandedPairs(sigs, maxHamming = 5)
        .orderBy("id_a", "id_b")
    },
    // the fitted gate APPLIED (the other half of q_x_gate_refit, which
    // only fits): per-source thresholds fitted on the even half are run
    // against the odd half (src0-2 docs truncated so too_short fires);
    // every metric, the per-source threshold join and the fitted CASE —
    // including the no-thresholds-row → keep opt-in contract — replay.
    q("q_x_gate_fitted_apply", {
      "WITH refd AS (SELECT doc_id, text, source FROM documents WHERE (doc_id // 20) % 2 = 0), " +
        "curd AS (SELECT doc_id, CASE WHEN source IN ('src0', 'src1', 'src2') THEN substr(text, 1, 12) ELSE text END AS text, source FROM documents WHERE (doc_id // 20) % 2 = 1), " +
        gateBySourceSql("refd", "R") + ", " +
        "tX AS (SELECT doc_id, text, source, CAST(length(trim(text)) AS BIGINT) AS n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM curd), " +
        "gX AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS gram FROM tX WHERE len(toks) >= 2), " +
        "pgX AS (SELECT doc_id, gram, count(*) AS cnt FROM gX GROUP BY 1, 2), " +
        "aggX AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_chars FROM pgX GROUP BY 1), " +
        "mX AS (SELECT t.doc_id AS doc, t.source, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len, " +
        "round(CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE) / len(toks), 6) AS type_token_ratio, " +
        "coalesce(round(CAST(a.dup_chars AS DOUBLE) / t.n_chars, 6), 0) AS dup_gram_char_frac " +
        "FROM tX t LEFT JOIN aggX a ON a.doc_id = t.doc_id), " +
        "v AS (SELECT m.doc, m.source, m.n_tokens, m.avg_token_len, m.type_token_ratio, m.dup_gram_char_frac, " +
        "CASE WHEN m.n_tokens < t.min_tokens THEN 'too_short' WHEN m.n_tokens > t.max_tokens THEN 'too_long' " +
        "WHEN m.avg_token_len > t.max_avg_token_len THEN 'long_tokens' " +
        "WHEN m.type_token_ratio < t.min_type_token THEN 'low_diversity' " +
        "WHEN m.dup_gram_char_frac > t.max_dup_gram_frac THEN 'repetitive' ELSE 'keep' END AS reason " +
        "FROM mX m LEFT JOIN thrR t USING (source)) " +
        "SELECT *, reason = 'keep' AS keep FROM v ORDER BY doc"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val refDocs = docs.filter(expr("(doc_id div 20) % 2 = 0"))
      val curDocs = docs.filter(expr("(doc_id div 20) % 2 = 1"))
        .withColumn("text",
          when(col("source").isin("src0", "src1", "src2"),
            expr("substring(text, 1, 12)")).otherwise(col("text")))
      val thr = TextAnalysis.gateThresholdsBySource(refDocs, "doc_id", "text", "source")
      TextAnalysis.qualityGateFitted(curDocs, "doc_id", "text", "source", thr)
        .orderBy("doc")
    },
    // language ID feeding the temperature mixture — the loop r9's verdict
    // said couldn't close ("langid returns und, so the mixture can't see
    // the languages it exists to rebalance"), now composed end to end:
    // script-gated langid over the multi-script corpus, √-temperature
    // targets per PREDICTED language, deterministic hash-bucket sampling.
    // The oracle replays the langid ladder AND the full mix-plan
    // arithmetic (the q_x_source_mix chain keyed on lang_pred).
    q("q_x_mixture_by_langid", {
      val h = graft.llmops.PortableHash.duckHash52("CAST(doc AS VARCHAR)")
      s"WITH $langIdScriptCtes, " +
        "c AS (SELECT lang_pred AS lang, CAST(count(*) AS BIGINT) AS c FROM lpred GROUP BY 1), " +
        "w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT lang, c, CAST(floor(300.0 * (CAST(w AS DOUBLE) / CAST((SELECT CAST(sum(w) AS BIGINT) FROM w) AS DOUBLE))) AS BIGINT) AS target FROM w), " +
        "p AS (SELECT lang, c, target, least(10000, CAST(floor(10000.0 * CAST(target AS DOUBLE) / CAST(c AS DOUBLE)) AS BIGINT)) AS keep_bps FROM t), " +
        s"kept AS (SELECT l.lang_pred AS lang FROM lpred l JOIN p ON p.lang = l.lang_pred WHERE $h % 10000 < p.keep_bps) " +
        "SELECT p.lang AS lang, p.c AS c, p.target AS target, p.keep_bps AS keep_bps, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM kept k WHERE k.lang = p.lang) AS n_kept " +
        "FROM p ORDER BY lang"
    }) { (s, d) =>
      // The langid projection is a wide expression tree (script-count
      // regexps + the function-word argmax, ~1 ms/doc): repartition FIRST
      // with an EXPLICIT count — a narrow chain inherits the scan's
      // partitioning (one small parquet file = one partition locally) and
      // would run the whole projection on a single core, and a
      // count-less repartition gets AQE-coalesced right back to one
      // partition at this byte size — then checkpoint once, because three
      // consumers hang off it (plan agg, sample join, sample filter) and
      // each would re-inline the tree. Measured 4.3 s warm → ~1.5 s.
      val lp = TextAnalysis.withLangIdScript(
          Tables.documents(s, d).select(col("doc_id"), scriptAugCol.as("text"))
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
        .select(col("doc_id").as("doc"), col("lang_pred"))
        .localCheckpoint(true)
      // the strata-sized plan is consumed twice (sample + report join):
      // checkpoint the 15 rows or its agg chain re-runs per consumer.
      val plan = Corpus.temperatureMixPlan(lp, col("lang_pred"), budget = 300L)
        .localCheckpoint(true)
      val kept = Corpus.mixSample(lp, col("doc"), col("lang_pred"), plan)
        .groupBy("lang_pred").agg(count(lit(1)).as("n_kept"))
      plan.join(kept, plan("stratum") === kept("lang_pred"), "left")
        .select(plan("stratum").as("lang"), col("c"), col("target"),
          col("keep_bps"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    },
    // domain blocklist (the C4/RefinedWeb bad-domains step): host-suffix
    // EQUI-join over planted URLs — a listed parent domain catches its
    // subdomain farm (sub.ads.example.net), a lookalike host
    // (spamtest.org) does NOT match (label-suffix, never substring), the
    // longest matched suffix reports as blocked_by. The oracle replays
    // host extraction, the tail-capped suffix explode and the argmax.
    q("q_x_url_host_blocklist", {
      val urlCase = "CASE WHEN doc_id % 5 = 0 THEN 'https://cdn.' || source || '.spam.test/page/' || CAST(doc_id AS VARCHAR) " +
        "WHEN doc_id % 5 = 1 THEN 'https://ads.example.net/x' " +
        "WHEN doc_id % 5 = 2 THEN 'https://sub.ads.example.net/y?q=1' " +
        "WHEN doc_id % 5 = 3 THEN 'https://good.example.org/' || source " +
        "ELSE 'https://spamtest.org/z' END"
      s"WITH u AS (SELECT doc_id AS doc, $urlCase AS url FROM documents), " +
        "h AS (SELECT doc, url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host FROM u), " +
        "bl AS (SELECT * FROM (VALUES ('spam.test'), ('ads.example.net')) v(b)), " +
        "sx AS (SELECT doc, unnest(list_transform(generate_series(greatest(1, len(labels) - 7), len(labels)), i -> array_to_string(list_slice(labels, i, len(labels)), '.'))) AS sfx " +
        "FROM (SELECT doc, string_split(host, '.') AS labels FROM h)), " +
        "hits AS (SELECT doc, arg_max(sfx, length(sfx)) AS blocked_by FROM sx JOIN bl ON sx.sfx = bl.b GROUP BY doc) " +
        "SELECT h.doc, h.host, (t.blocked_by IS NOT NULL) AS blocked, t.blocked_by " +
        "FROM h LEFT JOIN hits t USING (doc) ORDER BY doc"
    }) { (s, d) =>
      import s.implicits._
      val urls = when(col("doc_id") % 5 === 0,
          concat(lit("https://cdn."), col("source"), lit(".spam.test/page/"),
            col("doc_id").cast("string")))
        .when(col("doc_id") % 5 === 1, lit("https://ads.example.net/x"))
        .when(col("doc_id") % 5 === 2, lit("https://sub.ads.example.net/y?q=1"))
        .when(col("doc_id") % 5 === 3,
          concat(lit("https://good.example.org/"), col("source")))
        .otherwise(lit("https://spamtest.org/z"))
      val blocked = Seq("spam.test", "ads.example.net").toDF("domain")
      TextAnalysis.hostBlocklist(
          Tables.documents(s, d).select(col("doc_id").as("doc"), urls.as("url")),
          "doc", "url", blocked)
        .select("doc", "host", "blocked", "blocked_by")
        .orderBy("doc")
    },

    // Trainable quality classifier (the fastText-filter role): hashed
    // bag-of-words features, 3 batch-perceptron rounds on a labeled
    // quarter of the corpus ((doc_id // 20) % 4 = 0 — within-source
    // variation, so every source appears in training), then corpus-wide
    // margins. The synthetic corpus draws every doc from ONE shared
    // ~30-word vocabulary, so class-correlated vocabulary is PLANTED
    // (marker tails on the label split — without them no linear
    // bag-of-words model can separate anything here). All-integer
    // updates replay as an unrolled WITH chain: round 1 from w = 0 is
    // the class-difference vector; rounds 2-3 find ZERO misclassified
    // (the markers separate immediately) and exercise the fixed-point
    // path — margins split cleanly positive/negative by class.
    q("q_x_quality_classifier", perceptronSql(dim = 1024, rounds = 3)) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 20 < 10, lit(GoodMark))
          .otherwise(lit(BadMark))).as("text"))
      val feats = Classify.hashedFeatures(docs, "doc_id", "text", dim = 1024)
      val labels = docs.filter(expr("(doc_id div 20) % 4 = 0"))
        .select(col("doc_id"),
          when(col("doc_id") % 20 < 10, lit(1L)).otherwise(lit(-1L)).as("label"))
      val w = Classify.trainPerceptron(feats, labels, "doc_id", rounds = 3)
      Classify.scorePerceptron(docs, feats, w, "doc_id").orderBy("doc_id")
    },

    // CJK-aware sentence chunking: fullwidth terminators 。！？ split
    // with no whitespace requirement, end-of-string empties drop, and
    // the chunk budget is gauged in scriptTokens units (a per-char CJK
    // sentence weighs its characters). Two planted CJK paragraphs ride
    // the corpus; every Latin document replays the [.!?]\s+ path
    // identically through the same cjkAware operator.
    q("q_x_sentence_chunks_cjk", {
      val ns = TextAnalysis.NoSpaceScriptRanges
      "WITH a AS (SELECT doc_id, CASE WHEN doc_id % 28 = 0 THEN '" + CjkPara0 +
        "' WHEN doc_id % 28 = 1 THEN '" + CjkPara1 + "' ELSE text END AS t FROM documents), " +
        "t AS (SELECT doc_id, str_split(regexp_replace(regexp_replace(trim(t), '([.!?])\\s+', '\\1' || chr(1), 'g'), '([。！？])', '\\1' || chr(1), 'g'), chr(1)) AS sents FROM a), " +
        "s AS (SELECT doc_id, generate_subscripts(sents, 1) AS pos, unnest(sents) AS sent FROM t), " +
        "f AS (SELECT * FROM s WHERE trim(sent) <> ''), " +
        s"n AS (SELECT doc_id, pos, sent, CAST(len(regexp_extract_all(sent, '[$ns]|[^\\s$ns]+')) AS BIGINT) AS ntok FROM f), " +
        "c AS (SELECT doc_id, pos, sent, ntok, CAST(coalesce(sum(ntok) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 40 AS BIGINT) AS chunk FROM n) " +
        "SELECT doc_id AS doc, chunk, CAST(min(pos) AS BIGINT) AS start_sent, " +
        "CAST(count(*) AS BIGINT) AS n_sentences, CAST(sum(ntok) AS BIGINT) AS n_chunk_tokens, " +
        "md5(string_agg(sent, ' ' ORDER BY pos)) AS chunk_md5 " +
        "FROM c GROUP BY 1, 2 ORDER BY 1, 2"
    }) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 28 === 0, lit(CjkPara0))
          .when(col("doc_id") % 28 === 1, lit(CjkPara1))
          .otherwise(col("text")).as("text"))
      Corpus.sentenceChunks(docs, "doc_id", "text", budget = 40, cjkAware = true)
        .orderBy("doc", "chunk")
    },

    // Packed loss mask: redacted text -> per-token packed coordinates
    // + loss_mask 0 on [EMAIL]/[IP]/[NUM] placeholder tokens. The PII
    // chain is q_x_pii_redact's fragment, the offset spine is
    // q_x_pack_sequences' prefix sum, the mask is a find-anywhere
    // regexp — one row per corpus token, all integer positions.
    q("q_x_packed_loss_mask", {
      val aug = "text || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' " +
        "WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 addr' " +
        "WHEN doc_id % 11 = 0 THEN ' id 12345678901' ELSE '' END"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
      val num = "\\b\\d{7,}\\b"
      s"WITH a AS (SELECT doc_id, $aug AS t FROM documents), " +
        s"s AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t, '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'), '$num', '[NUM]', 'g') AS red FROM a), " +
        "d AS (SELECT doc_id, regexp_split_to_array(trim(red), '\\s+') AS toks FROM s), " +
        "c AS (SELECT doc_id, toks, len(toks) AS n, CAST(sum(len(toks)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len(toks) AS BIGINT) AS off FROM d), " +
        "f AS (SELECT doc_id, off, unnest(toks) AS token, generate_subscripts(toks, 1) - 1 AS tok_idx FROM c WHERE n >= 1) " +
        "SELECT doc_id AS doc, CAST(tok_idx AS BIGINT) AS tok_idx, " +
        "CAST((off + tok_idx) // 128 AS BIGINT) AS seq, CAST((off + tok_idx) % 128 AS BIGINT) AS pos_in_seq, " +
        "CAST(CASE WHEN regexp_matches(token, '\\[(EMAIL|IP|NUM)\\]') THEN 0 ELSE 1 END AS BIGINT) AS loss_mask " +
        "FROM f ORDER BY doc, tok_idx"
    }) { (s, d) =>
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now")))
          .when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".1 addr")))
          .when(col("doc_id") % 11 === 0, lit(" id 12345678901"))
          .otherwise(lit("")))
      val red = TextAnalysis.withPiiCounts(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text")))
        .select(col("doc_id"), col("redacted").as("text"))
      Corpus.packedLossMask(red, "doc_id", "text", seqLen = 128, groupSize = 100)
        .orderBy("doc", "tok_idx")
    },

    // Chat SFT tokens: documents fold into 4-turn conversations with
    // alternating user/assistant roles; the template renders each turn
    // as <|role|> tokens... <|end|> and the mask trains ONLY assistant
    // content + its terminator. All windows partitioned by conv.
    q("q_x_chat_sft_tokens",
      s"WITH $chatSftCtes " +
        "SELECT CAST(conv AS BIGINT) AS conv, CAST(turn_idx AS BIGINT) AS turn_idx, role, " +
        "CAST(turn_off + p AS BIGINT) AS pos, token, " +
        "CAST(CASE WHEN p = 0 THEN 0 ELSE isa END AS BIGINT) AS loss_mask " +
        "FROM f ORDER BY conv, pos") { (s, d) =>
      Corpus.chatSftTokens(chatTurns(s, d), "conv", "turn_idx", "role", "content")
        .orderBy("conv", "pos")
    },

    // SFT packing: the chat tokens land in packSequences coordinates —
    // the artifact the trainer consumes (seq, pos_in_seq, loss_mask per
    // token); the oracle threads the template render through the same
    // conv-count prefix sum.
    q("q_x_sft_packed",
      s"WITH $chatSftCtes, " +
        "pt AS (SELECT CAST(conv AS BIGINT) AS conv, CAST(turn_off + p AS BIGINT) AS pos, " +
        "CAST(CASE WHEN p = 0 THEN 0 ELSE isa END AS BIGINT) AS loss_mask FROM f), " +
        "cn AS (SELECT conv, count(*) AS n FROM pt GROUP BY 1), " +
        "co AS (SELECT conv, CAST(sum(n) OVER (ORDER BY conv ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM cn) " +
        "SELECT pt.conv, pt.pos, pt.loss_mask, " +
        "CAST((co.off + pt.pos) // 128 AS BIGINT) AS seq, " +
        "CAST((co.off + pt.pos) % 128 AS BIGINT) AS pos_in_seq " +
        "FROM pt JOIN co USING (conv) ORDER BY conv, pos") { (s, d) =>
      val perTok = Corpus.chatSftTokens(chatTurns(s, d),
        "conv", "turn_idx", "role", "content")
      Corpus.packTokens(perTok, "conv", "pos", seqLen = 128, groupSize = 100)
        .select("conv", "pos", "loss_mask", "seq", "pos_in_seq")
        .orderBy("conv", "pos")
    },

    // Length-bucketed dynamic batching + the padding audit it exists
    // for: per (bucket, batch) the pad bill is max·count − sum. The
    // oracle replays the composite-key two-pass prefix sum verbatim.
    q("q_x_length_batches",
      "WITH d AS (SELECT doc_id AS doc, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n FROM documents), " +
        "b AS (SELECT doc, n, least(n // 8, 16) AS bucket, doc // 100 AS g FROM d), " +
        "c AS (SELECT *, sum(n) OVER (PARTITION BY bucket, g ORDER BY doc ROWS UNBOUNDED PRECEDING) AS cum FROM b), " +
        "o AS (SELECT bucket, g, sum(n) AS tot FROM c GROUP BY 1, 2), " +
        "o2 AS (SELECT bucket, g, CAST(coalesce(sum(tot) OVER (PARTITION BY bucket ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM o), " +
        "f AS (SELECT c.doc, c.n, c.bucket, CAST((o2.off + c.cum - c.n) // 600 AS BIGINT) AS batch FROM c JOIN o2 ON o2.bucket = c.bucket AND o2.g = c.g) " +
        "SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens, " +
        "CAST(max(n) * count(*) - sum(n) AS BIGINT) AS pad_tokens " +
        "FROM f GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      val docs = Tables.documents(s, d)
      Corpus.lengthBucketBatches(docs, "doc_id",
          size(TextAnalysis.wsTokens(col("text"))), batchTokens = 600,
          granularity = 8, maxBucket = 16, groupSize = 100)
        .groupBy("bucket", "batch")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
          (max("n_tokens") * count(lit(1)) - sum("n_tokens")).as("pad_tokens"))
        .orderBy("bucket", "batch")
    },

    // Script segments: planted Han / Cyrillic / Kana insertions create
    // code-switch runs; the oracle replays CJK-aware tokenization, the
    // priority CASE over the shared ranges, and the islands windows.
    q("q_x_script_segments", {
      val ns = TextAnalysis.NoSpaceScriptRanges
      val caseSql = "CASE " + TextAnalysis.ScriptRanges.map { case (n2, r) =>
        s"WHEN regexp_matches(token, '[$r]') THEN '$n2'"
      }.mkString(" ") + " ELSE 'other' END"
      "WITH a AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 5 = 0 THEN ' ' || chr(27721) || chr(23383) || chr(25991) || ' more' " +
        "WHEN doc_id % 7 = 2 THEN ' ' || repeat(chr(1087), 6) || ' ' || repeat(chr(1084), 3) " +
        "WHEN doc_id % 9 = 4 THEN ' ' || repeat(chr(12371), 4) ELSE '' END AS t FROM documents), " +
        s"tok AS (SELECT doc_id AS doc, generate_subscripts(st, 1) - 1 AS pos, unnest(st) AS token FROM (SELECT doc_id, regexp_extract_all(t, '[$ns]|[^\\s$ns]+') AS st FROM a) s), " +
        s"sc AS (SELECT doc, pos, $caseSql AS script FROM tok), " +
        "ch AS (SELECT *, CASE WHEN lag(script) OVER (PARTITION BY doc ORDER BY pos) IS DISTINCT FROM script THEN 1 ELSE 0 END AS chg FROM sc), " +
        "sg AS (SELECT doc, pos, script, CAST(sum(chg) OVER (PARTITION BY doc ORDER BY pos ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS seg FROM ch) " +
        "SELECT doc, seg, script, CAST(count(*) AS BIGINT) AS n_tokens, CAST(min(pos) AS BIGINT) AS start_pos " +
        "FROM sg GROUP BY 1, 2, 3 ORDER BY doc, seg"
    }) { (s, d) =>
      val did = col("doc_id")
      val aug = concat(col("text"),
        when(did % 5 === 0, lit(" 汉字文 more"))
          .when(did % 7 === 2,
            lit(" " + "п" * 6 + " " + "м" * 3))
          .when(did % 9 === 4, lit(" " + "こ" * 4))
          .otherwise(lit("")))
      TextAnalysis.scriptSegments(
          Tables.documents(s, d).select(did, aug.as("text")),
          "doc_id", "text")
        .orderBy("doc", "seg")
    },

    // Host quality prior: sites 0-7 ship binary soup on 3 of 4 pages ->
    // keep rate 2500 bps, flagged whole; clean sites keep 10000. The
    // oracle replays the codeQuality gate then the per-host roll-up.
    q("q_x_host_quality_prior",
      "WITH a AS (SELECT doc_id, CASE WHEN doc_id % 40 < 8 AND (doc_id // 40) % 4 <> 0 " +
        "THEN substr(text, 1, 40) || chr(10) || repeat('{};=', 60) " +
        "ELSE 'ok line' || chr(10) || substr(text, 1, 200) END AS t FROM documents), " +
        "g AS (SELECT doc_id, CAST(list_max(list_transform(str_split(t, chr(10)), l -> length(l))) AS BIGINT) AS max_line, " +
        "CAST(list_sum(list_transform(str_split(t, chr(10)), l -> length(l))) AS BIGINT) // CAST(len(str_split(t, chr(10))) AS BIGINT) AS avg_line, " +
        "(CAST(length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) * 10000) // greatest(CAST(length(t) AS BIGINT), 1) AS alnum_bps, " +
        "CASE WHEN regexp_matches(t, '(?i)auto-?generated|generated by|do not edit') THEN 1 ELSE 0 END AS autogen FROM a), " +
        "k AS (SELECT doc_id, (autogen = 0 AND max_line <= 1000 AND avg_line <= 300 AND alnum_bps >= 2500) AS keep FROM g), " +
        "h AS (SELECT 'site' || (doc_id % 40) || '.example' AS host, CASE WHEN keep THEN 1 ELSE 0 END AS kk FROM k) " +
        "SELECT host, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(kk) AS BIGINT) AS n_keep, " +
        "(CAST(sum(kk) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT) AS keep_bps, " +
        "(count(*) >= 3 AND (CAST(sum(kk) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT) < 5000) AS flagged " +
        "FROM h GROUP BY 1 ORDER BY 1") { (s, d) =>
      val did = col("doc_id")
      val aug = when(did % 40 < 8 && expr("(doc_id div 40) % 4") =!= 0,
          concat(substring(col("text"), 1, 40), lit("\n"),
            expr("repeat('{};=', 60)")))
        .otherwise(concat(lit("ok line\n"), substring(col("text"), 1, 200)))
      val url = concat(lit("https://site"), (did % 40).cast("string"),
        lit(".example/p"), did.cast("string"))
      val gated = TextAnalysis.codeQuality(
          Tables.documents(s, d).select(did, aug.as("text")),
          "doc_id", "text", maxAvgLineLen = 300)
        .join(Tables.documents(s, d).select(did.as("doc"), url.as("url")),
          Seq("doc"))
      TextAnalysis.hostQualityPrior(gated, "url", "keep",
          minDocs = 3, minKeepBps = 5000)
        .orderBy("host")
    },

    // The detect->act loop for domains: hosts the quality prior flags
    // BECOME the URL blocklist, and the next crawl's pages from those
    // hosts (subdomains included — the suffix join) block before
    // download. Per-source counts close the loop observably.
    q("q_x_host_prior_blocklist",
      "WITH a AS (SELECT doc_id, CASE WHEN doc_id % 40 < 8 AND (doc_id // 40) % 4 <> 0 " +
        "THEN substr(text, 1, 40) || chr(10) || repeat('{};=', 60) " +
        "ELSE 'ok line' || chr(10) || substr(text, 1, 200) END AS t FROM documents), " +
        "g AS (SELECT doc_id, CAST(list_max(list_transform(str_split(t, chr(10)), l -> length(l))) AS BIGINT) AS max_line, " +
        "CAST(list_sum(list_transform(str_split(t, chr(10)), l -> length(l))) AS BIGINT) // CAST(len(str_split(t, chr(10))) AS BIGINT) AS avg_line, " +
        "(CAST(length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) * 10000) // greatest(CAST(length(t) AS BIGINT), 1) AS alnum_bps, " +
        "CASE WHEN regexp_matches(t, '(?i)auto-?generated|generated by|do not edit') THEN 1 ELSE 0 END AS autogen FROM a), " +
        "k AS (SELECT doc_id, (autogen = 0 AND max_line <= 1000 AND avg_line <= 300 AND alnum_bps >= 2500) AS keep FROM g), " +
        "h AS (SELECT 'site' || (doc_id % 40) || '.example' AS host, CASE WHEN keep THEN 1 ELSE 0 END AS kk FROM k), " +
        "fl AS (SELECT host FROM h GROUP BY host HAVING count(*) >= 3 AND (CAST(sum(kk) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT) < 5000), " +
        // next crawl: a www subdomain spelling of every site — suffix
        // matching must still catch the flagged parents
        "nxt AS (SELECT doc_id, 'www.site' || (doc_id % 40) || '.example' AS host2 FROM documents) " +
        "SELECT CAST(sum(CASE WHEN fl.host IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked, " +
        "CAST(sum(CASE WHEN fl.host IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_passed " +
        "FROM nxt LEFT JOIN fl ON nxt.host2 = 'www.' || fl.host") { (s, d) =>
      val did = col("doc_id")
      val aug = when(did % 40 < 8 && expr("(doc_id div 40) % 4") =!= 0,
          concat(substring(col("text"), 1, 40), lit("\n"),
            expr("repeat('{};=', 60)")))
        .otherwise(concat(lit("ok line\n"), substring(col("text"), 1, 200)))
      val url = concat(lit("https://site"), (did % 40).cast("string"),
        lit(".example/p"), did.cast("string"))
      val gated = TextAnalysis.codeQuality(
          Tables.documents(s, d).select(did, aug.as("text")),
          "doc_id", "text", maxAvgLineLen = 300)
        .join(Tables.documents(s, d).select(did.as("doc"), url.as("url")),
          Seq("doc"))
      val blockDomains = TextAnalysis.hostQualityPrior(gated, "url", "keep",
          minDocs = 3, minKeepBps = 5000)
        .filter(col("flagged")).select(col("host").as("domain"))
      val nextCrawl = Tables.documents(s, d).select(did.as("doc_id"),
        concat(lit("https://www.site"), (did % 40).cast("string"),
          lit(".example/q"), did.cast("string")).as("url"))
      TextAnalysis.hostBlocklist(nextCrawl, "doc_id", "url", blockDomains)
        .agg(sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(col("blocked"), 0L).otherwise(1L)).as("n_passed"))
    },

    // FIM transform: a deterministic half of the corpus re-renders in
    // PSM sentinel order from two hash-derived token cuts; the other
    // half passes through byte-identical. Pure projection, no shuffle.
    q("q_x_fim_transform", {
      val selH = graft.llmops.PortableHash.duckHash52(
        "CAST(doc_id AS VARCHAR) || ':fim'")
      val c1H = graft.llmops.PortableHash.duckHash52(
        "CAST(doc_id AS VARCHAR) || ':fimc1'")
      val c2H = graft.llmops.PortableHash.duckHash52(
        "CAST(doc_id AS VARCHAR) || ':fimc2'")
      "WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        s"c AS (SELECT doc_id, text, toks, len(toks) AS n, $selH % 10000 AS selv, " +
        s"$c1H % (len(toks) + 1) AS c1, $c2H % (len(toks) + 1) AS c2 FROM t), " +
        "s AS (SELECT doc_id, text, toks, n, CASE WHEN selv < 5000 THEN 1 ELSE 0 END AS fim, " +
        "least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc, CAST(fim AS BIGINT) AS fim, " +
        "CASE WHEN fim = 1 THEN array_to_string(['<|fim_prefix|>'] || toks[1:lo] || ['<|fim_suffix|>'] || toks[hi+1:n] || ['<|fim_middle|>'] || toks[lo+1:hi], ' ') " +
        "ELSE text END AS text FROM s ORDER BY doc"
    }) { (s, d) =>
      Corpus.fimTransform(Tables.documents(s, d), "doc_id", "text",
          fimBps = 5000)
        .orderBy("doc")
    },

    // Link extraction -> host graph: both engines build the same planted
    // HTML (absolute, root-relative, protocol-relative, mailto anchors;
    // double- and single-quoted, case-varied), extract with the identical
    // regex, resolve against the base URL, and aggregate to host edges.
    q("q_x_link_host_graph", {
      val html = "'<html><body><p>' || text || '</p>' || " +
        "CASE WHEN doc_id % 3 = 0 THEN '<a href=\"https://ext' || (doc_id % 5) || '.example/p' || (doc_id % 11) || '\">x</a>' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 1 THEN '<A HREF=''/local/page'' class=y>z</A>' ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 2 THEN '<a href=\"//cdn' || (doc_id % 3) || '.example/asset\">c</a>' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 3 THEN '<a href=\"mailto:a@b.example\">m</a>' ELSE '' END || " +
        "'</body></html>'"
      "WITH h AS (SELECT doc_id, " + html + " AS html, " +
        "'https://src' || (doc_id % 7) || '.example/index.html' AS base FROM documents), " +
        "l AS (SELECT doc_id, lower(regexp_extract(base, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS src_host, " +
        "regexp_extract(base, '^([a-zA-Z]+)://', 1) AS sch, " +
        "unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*[\"'']([^\"'']+)[\"'']', 1)) AS lnk FROM h), " +
        "r AS (SELECT doc_id, src_host, CASE " +
        "WHEN regexp_matches(lnk, '^[a-zA-Z]+://') THEN lnk " +
        "WHEN lnk LIKE '//%' THEN sch || ':' || lnk " +
        "WHEN lnk LIKE '/%' THEN sch || '://' || src_host || lnk " +
        "ELSE NULL END AS url FROM l), " +
        "e AS (SELECT doc_id, src_host, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS dst_host FROM r WHERE url IS NOT NULL) " +
        "SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs " +
        "FROM e GROUP BY 1, 2 ORDER BY 1, 2"
    }) { (s, d) =>
      val did = col("doc_id")
      val html = concat(lit("<html><body><p>"), col("text"), lit("</p>"),
        when(did % 3 === 0, concat(lit("<a href=\"https://ext"),
          (did % 5).cast("string"), lit(".example/p"),
          (did % 11).cast("string"), lit("\">x</a>"))).otherwise(lit("")),
        when(did % 4 === 1, lit("<A HREF='/local/page' class=y>z</A>"))
          .otherwise(lit("")),
        when(did % 6 === 2, concat(lit("<a href=\"//cdn"),
          (did % 3).cast("string"), lit(".example/asset\">c</a>")))
          .otherwise(lit("")),
        when(did % 7 === 3, lit("<a href=\"mailto:a@b.example\">m</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val base = concat(lit("https://src"), (did % 7).cast("string"),
        lit(".example/index.html"))
      TextAnalysis.extractLinks(
          Tables.documents(s, d).select(did, html.as("html"), base.as("base")),
          "doc_id", "html", "base")
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc")).as("n_docs"))
        .orderBy("src_host", "dst_host")
    },

    // Code quality: planted line structure trips each rule class —
    // a 1200-char minified line, an auto-generated header, a
    // punctuation-soup line; integer gauges gate exactly on both engines.
    q("q_x_code_quality",
      "WITH a AS (SELECT doc_id, CASE WHEN doc_id % 8 = 2 THEN substr(text, 1, 40) || chr(10) || repeat('{};=', 60) " +
        "ELSE substr(text, 1, 60) || chr(10) || text || " +
        "CASE WHEN doc_id % 9 = 0 THEN chr(10) || repeat('x', 1200) ELSE '' END || " +
        "CASE WHEN doc_id % 10 = 1 THEN chr(10) || '// Auto-Generated; DO NOT EDIT' ELSE '' END END AS t FROM documents), " +
        "g AS (SELECT doc_id, CAST(len(str_split(t, chr(10))) AS BIGINT) AS n_lines, " +
        "CAST(list_max(list_transform(str_split(t, chr(10)), l -> length(l))) AS BIGINT) AS max_line, " +
        "CAST(list_sum(list_transform(str_split(t, chr(10)), l -> length(l))) AS BIGINT) AS tot, " +
        "CAST(length(t) AS BIGINT) AS n, " +
        "CAST(length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) AS alnum, " +
        "CAST(CASE WHEN regexp_matches(t, '(?i)auto-?generated|generated by|do not edit') THEN 1 ELSE 0 END AS BIGINT) AS autogen FROM a), " +
        "r AS (SELECT doc_id, n_lines, max_line, tot // n_lines AS avg_line, " +
        "(alnum * 10000) // greatest(n, 1) AS alnum_bps, autogen FROM g) " +
        "SELECT doc_id AS doc, n_lines, max_line, avg_line, alnum_bps, autogen, " +
        "CASE WHEN autogen = 1 THEN 'autogenerated' WHEN max_line > 1000 THEN 'long_line' " +
        "WHEN avg_line > 300 THEN 'wide_lines' WHEN alnum_bps < 2500 THEN 'binary_soup' " +
        "ELSE 'keep' END AS reason, " +
        "(autogen = 0 AND max_line <= 1000 AND avg_line <= 300 AND alnum_bps >= 2500) AS keep " +
        "FROM r ORDER BY doc") { (s, d) =>
      val did = col("doc_id")
      val aug = when(did % 8 === 2,
        concat(substring(col("text"), 1, 40), lit("\n"),
          expr("repeat('{};=', 60)")))
        .otherwise(concat(substring(col("text"), 1, 60), lit("\n"), col("text"),
          when(did % 9 === 0, concat(lit("\n"), expr("repeat('x', 1200)")))
            .otherwise(lit("")),
          when(did % 10 === 1, lit("\n// Auto-Generated; DO NOT EDIT"))
            .otherwise(lit(""))))
      TextAnalysis.codeQuality(
          Tables.documents(s, d).select(did, aug.as("text")),
          "doc_id", "text", maxAvgLineLen = 300)
        .orderBy("doc")
    },

    // Epochs plan: the weighted mixture at 3x the corpus token mass
    // forces repetition; sqrt-smoothing pushes low-resource langs past
    // the 4-epoch cap, the capped excess redistributes one pass, the
    // residual reports as shortfall. All integer, DECIMAL-lifted product.
    q("q_x_epochs_plan",
      "WITH d AS (SELECT doc_id, lang, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nt FROM documents), " +
        "c AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS c FROM d GROUP BY 1), " +
        "w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT lang, c, CAST(floor(90000.0 * (CAST(w AS DOUBLE) / CAST((SELECT CAST(sum(w) AS BIGINT) FROM w) AS DOUBLE))) AS BIGINT) AS target FROM w), " +
        "b AS (SELECT lang AS stratum, c, target, least(target, c * 4) AS t0, CASE WHEN target > c * 4 THEN 1 ELSE 0 END AS capped FROM t), " +
        "e AS (SELECT CAST(coalesce(sum(target - t0), 0) AS BIGINT) AS ex FROM b), " +
        "u AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS uc FROM b WHERE capped = 0), " +
        "f AS (SELECT stratum, c, target, t0, capped, " +
        "CASE WHEN capped = 0 AND (SELECT uc FROM u) > 0 THEN CAST((CAST((SELECT ex FROM e) AS HUGEINT) * c) // (SELECT uc FROM u) AS BIGINT) ELSE 0 END AS bonus FROM b), " +
        "g AS (SELECT stratum, c, target, least(t0 + bonus, c * 4) AS tokens, capped FROM f) " +
        "SELECT stratum, c, target, tokens, (tokens * 10000) // greatest(c, 1) AS epochs_bps, " +
        "CAST(capped AS BIGINT) AS capped, " +
        "(SELECT CAST(sum(target - tokens) AS BIGINT) FROM g) AS shortfall " +
        "FROM g ORDER BY stratum") { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("nt", size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      val plan = Corpus.temperatureMixPlanWeighted(docs, col("lang"), col("nt"),
        budget = 90000L)
      Corpus.epochsPlan(plan, maxEpochs = 4).orderBy("stratum")
    },

    // Bitext mining: embeddings split by vec_id parity into two "language
    // sides"; ratio-margin (cos / mean-kNN-cos both directions), mutual
    // best by margin, threshold 1.0. Oracle replays the full quadratic
    // definition with double math + round(6).
    q("q_x_bitext_mining",
      "WITH a AS (SELECT vec_id AS aid, embedding FROM embeddings WHERE vec_id % 2 = 0), " +
        "b AS (SELECT vec_id AS bid, embedding FROM embeddings WHERE vec_id % 2 = 1), " +
        "ax AS (SELECT aid, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM a), " +
        "bx AS (SELECT bid, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM b), " +
        "dots AS (SELECT aid, bid, sum(ax.v * bx.v) AS dot, sqrt(sum(ax.v * ax.v)) AS an, sqrt(sum(bx.v * bx.v)) AS bn FROM ax JOIN bx USING (i) GROUP BY aid, bid), " +
        "s AS (SELECT aid, bid, dot / (an * bn) AS cos FROM dots), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid) AS ra, " +
        "row_number() OVER (PARTITION BY bid ORDER BY cos DESC, aid) AS rb FROM s), " +
        "aa AS (SELECT aid, avg(cos) AS avg_a FROM r WHERE ra <= 4 GROUP BY 1), " +
        "ab AS (SELECT bid, avg(cos) AS avg_b FROM r WHERE rb <= 4 GROUP BY 1), " +
        "m AS (SELECT r.aid, r.bid, r.cos, r.cos / ((aa.avg_a + ab.avg_b) / 2) AS margin FROM r JOIN aa ON aa.aid = r.aid JOIN ab ON ab.bid = r.bid WHERE r.ra <= 4 OR r.rb <= 4), " +
        "mb AS (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY margin DESC, bid) AS ba, " +
        "row_number() OVER (PARTITION BY bid ORDER BY margin DESC, aid) AS bb FROM m) " +
        "SELECT aid, bid, round(cos, 6) AS cos, round(margin, 6) AS margin " +
        "FROM mb WHERE ba = 1 AND bb = 1 AND margin >= 1.0 ORDER BY aid") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.mineBitext(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          k = 4, marginThreshold = 1.0)
        .orderBy("aid")
    },

    // Bitext mining, IVF form (the scale path the stress lane rides):
    // both sides assign to the left side's first-8 centroids; candidates
    // are both directions' nprobe cell probes; the identical margin
    // machinery runs on the candidate set. Oracle replays assignment,
    // probes, candidate union and margins end to end.
    q("q_x_bitext_mining_ivf",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "nl AS (SELECT greatest(16, (SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0) // 16) AS v), " +
        "cd AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id % 2 = 0 AND c.vec_id < (SELECT v FROM nl) GROUP BY 1, 2), " +
        "cs AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cd d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
        "rk AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cs), " +
        "acell AS (SELECT vec_id AS aid, cent_id AS cell FROM rk WHERE rn = 1 AND vec_id % 2 = 0), " +
        "bcell AS (SELECT vec_id AS bid, cent_id AS cell FROM rk WHERE rn = 1 AND vec_id % 2 = 1), " +
        "aprobe AS (SELECT vec_id AS aid, cent_id AS cell FROM rk WHERE rn <= 4 AND vec_id % 2 = 0), " +
        "bprobe AS (SELECT vec_id AS bid, cent_id AS cell FROM rk WHERE rn <= 4 AND vec_id % 2 = 1), " +
        "cand AS (SELECT DISTINCT aid, bid FROM (SELECT p.aid, b.bid FROM aprobe p JOIN bcell b USING (cell) UNION ALL SELECT a.aid, p.bid FROM bprobe p JOIN acell a USING (cell))), " +
        "dots AS (SELECT cn.aid, cn.bid, sum(a.v * b.v) AS dot, sqrt(sum(a.v * a.v)) AS an, sqrt(sum(b.v * b.v)) AS bn FROM cand cn JOIN e a ON a.vec_id = cn.aid JOIN e b ON b.vec_id = cn.bid AND b.i = a.i GROUP BY 1, 2), " +
        "s AS (SELECT aid, bid, dot / (an * bn) AS cos FROM dots), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid) AS ra, " +
        "row_number() OVER (PARTITION BY bid ORDER BY cos DESC, aid) AS rb FROM s), " +
        "aa AS (SELECT aid, avg(cos) AS avg_a FROM r WHERE ra <= 4 GROUP BY 1), " +
        "ab AS (SELECT bid, avg(cos) AS avg_b FROM r WHERE rb <= 4 GROUP BY 1), " +
        "m AS (SELECT r.aid, r.bid, r.cos, r.cos / ((aa.avg_a + ab.avg_b) / 2) AS margin FROM r JOIN aa ON aa.aid = r.aid JOIN ab ON ab.bid = r.bid WHERE r.ra <= 4 OR r.rb <= 4), " +
        "mb AS (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY margin DESC, bid) AS ba, " +
        "row_number() OVER (PARTITION BY bid ORDER BY margin DESC, aid) AS bb FROM m) " +
        "SELECT aid, bid, round(cos, 6) AS cos, round(margin, 6) AS margin " +
        "FROM mb WHERE ba = 1 AND bb = 1 AND margin >= 1.0 ORDER BY aid") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val left = emb.filter(col("vec_id") % 2 === 0)
      // constant cell occupancy (~16): nlist grows with the corpus so the
      // candidate volume stays LINEAR — a fixed nlist only divides the
      // quadratic constant (measured: 14x at 10x before this rule)
      val nlist = math.max(16L, left.count() / 16).toInt
      Similarity.mineBitextIvf(left,
          emb.filter(col("vec_id") % 2 === 1),
          k = 4, marginThreshold = 1.0, nlist = nlist, nprobe = 4)
        .orderBy("aid")
    },

    // Bloom seen-set: crawl A's URLs build the filter (mBits sized SMALL
    // so the false-positive class is populated and observable); crawl B
    // probes with half-seen/half-new URLs; the accounting proves no
    // false negatives and counts the FPs exactly on both engines.
    q("q_x_bloom_seen_set", {
      import graft.llmops.PortableHash
      val (kh, m, p) = (4, 2048, PortableHash.P)
      val perms = (0 until kh)
        .map(j => s"($j, ${PortableHash.MinHashA(j)}, ${PortableHash.MinHashB(j)})")
        .mkString(", ")
      val ha = PortableHash.duckHash52("url")
      "WITH a AS (SELECT 'https://site' || (doc_id % 40) || '.example/page' || doc_id AS url FROM documents), " +
        "b AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'https://site' || (doc_id % 40) || '.example/page' || doc_id " +
        "ELSE 'https://site' || (doc_id % 40) || '.example/new' || doc_id END AS url, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS truly_seen FROM documents), " +
        s"perm(j, pa, pb) AS (SELECT * FROM (VALUES $perms)), " +
        s"ah AS (SELECT $ha AS h FROM a), " +
        s"abits AS (SELECT DISTINCT ((pa * (h % $p) + pb) % $p % $m) AS pos FROM ah CROSS JOIN perm), " +
        "words AS (SELECT pos // 32 AS wi, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word FROM abits GROUP BY 1), " +
        s"bh AS (SELECT url, truly_seen, $ha AS h FROM b), " +
        s"probe AS (SELECT url, truly_seen, ((pa * (h % $p) + pb) % $p % $m) AS pos FROM bh CROSS JOIN perm), " +
        "hits AS (SELECT url, truly_seen, min(CASE WHEN (coalesce(w.word, 0) & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) AS mc " +
        "FROM probe LEFT JOIN words w ON w.wi = pos // 32 GROUP BY 1, 2) " +
        "SELECT truly_seen, (mc = 1) AS might_contain, CAST(count(*) AS BIGINT) AS n " +
        "FROM hits GROUP BY 1, 2 ORDER BY 1, 2"
    }) { (s, d) =>
      import graft.functions.Bloom
      val did = col("doc_id")
      val aUrl = concat(lit("https://site"), (did % 40).cast("string"),
        lit(".example/page"), did.cast("string"))
      val a = Tables.documents(s, d).select(aUrl.as("url"))
      val b = Tables.documents(s, d).select(
        when(did % 2 === 0, aUrl)
          .otherwise(concat(lit("https://site"), (did % 40).cast("string"),
            lit(".example/new"), did.cast("string"))).as("url"),
        when(did % 2 === 0, 1L).otherwise(0L).as("truly_seen"))
      val bloom = Bloom.build(a, "url", mBits = 2048, k = 4)
      Bloom.mightContain(bloom, b.select("url"), "url", mBits = 2048, k = 4)
        .join(b, Seq("url"))
        .groupBy("truly_seen", "might_contain")
        .agg(count(lit(1)).as("n"))
        .orderBy("truly_seen", "might_contain")
    },

    // Repetition gauges: planted stutter run (4x spam -> top bigram +
    // max_run) and duplicated nav line (dup_line 1/3); entropy replays
    // in the ln(n) - sum(c ln c)/n stable form on both engines.
    q("q_x_repetition_gauges",
      "WITH a AS (SELECT doc_id, CASE WHEN doc_id % 7 = 1 THEN 'nav' || chr(10) || 'nav' || chr(10) || text " +
        "ELSE 'header' || chr(10) || text END || " +
        "CASE WHEN doc_id % 6 = 0 THEN ' spam spam spam spam' ELSE '' END AS t FROM documents), " +
        "tok AS (SELECT doc_id, generate_subscripts(tk, 1) - 1 AS i, unnest(tk) AS tok, len(tk) AS n FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS tk FROM a) s), " +
        "lines AS (SELECT doc_id, CAST(((len(ln) - len(list_distinct(ln))) * 10000) // len(ln) AS BIGINT) AS dup_line_bps FROM (SELECT doc_id, string_split(t, chr(10)) AS ln FROM a) s), " +
        "runs AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run FROM (SELECT doc_id, tok, grp, count(*) AS rl FROM (SELECT doc_id, i, tok, i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp FROM tok) s GROUP BY 1, 2, 3) s2 GROUP BY 1), " +
        "ent AS (SELECT doc_id, round(ln(n) - clnc / n, 6) AS token_entropy FROM (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n, sum(c * ln(c)) AS clnc FROM (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2) s GROUP BY 1) s2), " +
        "nt AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens FROM tok GROUP BY 1) " +
        "SELECT nt.doc_id AS doc, nt.n_tokens, lines.dup_line_bps, " +
        "runs.max_run, ent.token_entropy " +
        "FROM nt JOIN lines USING (doc_id) JOIN runs USING (doc_id) JOIN ent USING (doc_id) ORDER BY doc") { (s, d) =>
      val did = col("doc_id")
      val aug = concat(
        when(did % 7 === 1, concat(lit("nav\nnav\n"), col("text")))
          .otherwise(concat(lit("header\n"), col("text"))),
        when(did % 6 === 0, lit(" spam spam spam spam")).otherwise(lit("")))
      TextAnalysis.repetitionGauges(
          Tables.documents(s, d).select(did, aug.as("text")),
          "doc_id", "text")
        .orderBy("doc")
    },

    // Unicode normalization: planted decomposed accents (NFC composes,
    // length drops) + zero-width stuffing and soft hyphens (strip) —
    // DuckDB's nfc_normalize vs the codegen'd Normalizer expression,
    // value-exact including the md5 of the cleaned text.
    q("q_x_unicode_normalize",
      "WITH a AS (SELECT doc_id, text || CASE doc_id % 4 " +
        "WHEN 0 THEN ' cafe' || chr(769) || ' clich' || chr(233) " +
        "WHEN 1 THEN ' ze' || chr(8203) || 'ro wi' || chr(8204) || 'dth' " +
        "WHEN 2 THEN ' so' || chr(173) || 'ft a' || chr(768) || 'grave' " +
        "ELSE '' END AS t FROM documents), " +
        "n AS (SELECT doc_id, length(t) AS n_before, " +
        "regexp_replace(nfc_normalize(t), '[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]', '', 'g') AS clean FROM a) " +
        "SELECT doc_id AS doc, CAST(n_before AS BIGINT) AS n_before, " +
        "CAST(length(clean) AS BIGINT) AS n_after, md5(clean) AS clean_md5 " +
        "FROM n ORDER BY doc") { (s, d) =>
      val did = col("doc_id")
      val aug = concat(col("text"),
        when(did % 4 === 0, lit(" café cliché"))
          .when(did % 4 === 1, lit(" ze​ro wi‌dth"))
          .when(did % 4 === 2, lit(" so­ft àgrave"))
          .otherwise(lit("")))
      val clean = TextAnalysis.stripInvisible(
        TextAnalysis.nfcNormalize(aug))
      Tables.documents(s, d)
        .select(did.as("doc"), length(aug).cast("long").as("n_before"),
          length(clean).cast("long").as("n_after"),
          md5(clean).as("clean_md5"))
        .orderBy("doc")
    },

    // Ledger diff: the release-to-release governance answer. Planted
    // ledger pair exercises all six change classes (doc_id % 11 = 3
    // absent from A -> added; % 13 = 5 absent from B -> removed;
    // % 9 = 0 quality->contaminated restaged, = 1 near_dup->kept
    // recovered, = 2 kept->quality regressed; else same). The real
    // two-cascade composition is spec-validated (CurationSpec) — the
    // oracle pins the join/classification arithmetic exactly.
    q("q_x_ledger_diff",
      "WITH la AS (SELECT doc_id AS doc, source, CASE WHEN doc_id % 9 = 0 THEN 'quality' WHEN doc_id % 9 = 1 THEN 'near_dup' ELSE 'kept' END AS stage_a FROM documents WHERE doc_id % 11 <> 3), " +
        "lb AS (SELECT doc_id AS doc, source, CASE WHEN doc_id % 9 = 2 THEN 'quality' WHEN doc_id % 9 = 0 THEN 'contaminated' ELSE 'kept' END AS stage_b FROM documents WHERE doc_id % 13 <> 5), " +
        "j AS (SELECT coalesce(la.doc, lb.doc) AS doc, coalesce(lb.source, la.source) AS source, stage_a, stage_b FROM la FULL OUTER JOIN lb ON la.doc = lb.doc) " +
        "SELECT doc, source, stage_a, stage_b, CASE WHEN stage_a IS NULL THEN 'added' " +
        "WHEN stage_b IS NULL THEN 'removed' WHEN stage_a = 'kept' AND stage_b <> 'kept' THEN 'regressed' " +
        "WHEN stage_a <> 'kept' AND stage_b = 'kept' THEN 'recovered' WHEN stage_a <> stage_b THEN 'restaged' " +
        "ELSE 'same' END AS change FROM j ORDER BY doc") { (s, d) =>
      import graft.llmops.Curation
      val docs = Tables.documents(s, d)
      val la = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id").as("doc"), col("source"),
          when(col("doc_id") % 9 === 0, "quality")
            .when(col("doc_id") % 9 === 1, "near_dup")
            .otherwise("kept").as("stage"))
      val lb = docs.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id").as("doc"), col("source"),
          when(col("doc_id") % 9 === 2, "quality")
            .when(col("doc_id") % 9 === 0, "contaminated")
            .otherwise("kept").as("stage"))
      Curation.ledgerDiff(la, lb).orderBy("doc")
    },

    // pHash banded pairs: the DCT-hash twin of q_x_multimodal_ahash_
    // pairs — same 8×8-bit banding machinery over planted signatures
    // (same-source docs share a base signature, low bits spread by
    // (doc_id % 4)·9 → within-source Hamming ≤ 4, cross-source far).
    // The DCT decode half is spec-pinned (re-encode/resize exactness,
    // gamma invariance, mean-threshold rationale).
    q("q_x_multimodal_phash_pairs", {
      val h = graft.llmops.PortableHash.duckHash52("'ph:' || source")
      s"WITH sigs AS (SELECT doc_id AS doc, xor($h * 2048, (doc_id % 4) * 9) AS ahash FROM documents WHERE doc_id < 120), " +
        "b AS (SELECT doc, ahash, band, (ahash >> (band * 8)) & 255 AS bkey FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) bands), " +
        "cand AS (SELECT DISTINCT x.doc AS id_a, y.doc AS id_b, x.ahash AS ha, y.ahash AS hb FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey AND x.doc < y.doc) " +
        "SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM cand WHERE bit_count(xor(ha, hb)) <= 6 ORDER BY 1, 2"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val sigs = Tables.documents(s, d).filter(col("doc_id") < 120)
        .select(col("doc_id").as("media_id"),
          (PortableHash.hash52(concat(lit("ph:"), col("source"))) * lit(2048L))
            .bitwiseXOR((col("doc_id") % 4) * 9).as("ahash"))
      Multimodal.hashBandedPairs(sigs, maxHamming = 6)
        .orderBy("id_a", "id_b")
    },

    // Curriculum phase assignment: unigram-NLL difficulty -> 3 cohorts
    // via the BOUNDED-histogram quantile split (bin = floor(score*1024),
    // cum window over <=32k bins, phase = cum_before*phases // total) +
    // the hash order key that makes sort-by-(phase, order_key) the
    // training order. The NLL chain is the q_x_quality_unigram_nll
    // fragment verbatim; everything after it is integer/exactly-rounded.
    q("q_x_curriculum_phases", {
      val ok = graft.llmops.PortableHash.duckHash52("CAST(doc AS VARCHAR) || ':cur'")
      "WITH toks AS (SELECT doc_id AS doc, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "fr AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1), " +
        "tot AS (SELECT sum(cnt) AS t, count(*) AS v FROM fr), " +
        "nll AS (SELECT doc, round(avg(-ln((coalesce(fr.cnt, 0) + 1) / CAST(tot.t + tot.v AS DOUBLE))), 6) AS avg_nll " +
        "FROM toks LEFT JOIN fr USING (term) CROSS JOIN tot GROUP BY doc), " +
        "b AS (SELECT doc, avg_nll, CAST(least(greatest(floor(avg_nll * 1024), 0), 32768) AS BIGINT) AS bin FROM nll), " +
        "h AS (SELECT bin, count(*) AS n FROM b GROUP BY 1), " +
        "c AS (SELECT bin, coalesce(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM h), " +
        "p AS (SELECT bin, CAST((cum_before * 3) // t.n AS BIGINT) AS phase FROM c CROSS JOIN (SELECT count(*) AS n FROM b) t) " +
        s"SELECT b.doc, b.avg_nll, b.bin, p.phase, $ok AS order_key " +
        "FROM b JOIN p USING (bin) ORDER BY doc"
    }) { (s, d) =>
      val nll = TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select("doc", "avg_nll")
      Corpus.curriculumPhases(nll, "doc", "avg_nll", phases = 3).orderBy("doc")
    },

    // Gate distillation (the FineWeb-Edu pattern at heuristic scale):
    // the EXPENSIVE labeler — here the bigram-repetition quality gate —
    // labels only the even half; the AVERAGED perceptron distills those
    // labels into a linear model; the held-out odd half gets the CHEAP
    // classifier and the confusion matrix vs the gate's own verdict
    // measures the transfer. A planted spam-farm stratum (doc_id % 5 =
    // 2 — both parities — repetitive, low-TTR, distinctive vocabulary)
    // is the LEARNABLE part of the reject class; the rest of the
    // synthetic corpus shares one vocabulary, so its gate verdicts are
    // bag-of-words-inseparable by construction and fall to the majority
    // side. Expected shape: every planted spam doc rejected, natural
    // rejects majority-keep. The averaged weights matter: the final
    // round's weights ALTERNATE all-reject/learned by round parity on
    // this non-separable data, the round-sum is stable. At 100 TB this
    // is the only way a costly labeler (an LLM judge, a slow heuristic
    // cascade) reaches the whole corpus: label a slice, distill, score
    // everything at scan speed.
    q("q_x_classifier_distill", distillSql(dim = 1024, rounds = 6)) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 2, lit(SpamText))
          .otherwise(col("text")).as("text"))
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      def gateLabels(df: DataFrame) =
        TextAnalysis.qualityGate(df, "doc_id", "text",
            minTokens = 20, maxTokens = 100000, minAvgTokenLen = 2.0,
            maxAvgTokenLen = 5.0, minTypeToken = 0.35, maxDupGramFrac = 0.2)
          .select(col("doc").as("doc_id"),
            when(col("keep"), lit(1L)).otherwise(lit(-1L)).as("label"))
      val w = Classify.trainPerceptron(
        Classify.hashedFeatures(even, "doc_id", "text", dim = 1024),
        gateLabels(even), "doc_id", rounds = 6, averaged = true)
      Classify.scorePerceptron(odd,
          Classify.hashedFeatures(odd, "doc_id", "text", dim = 1024), w, "doc_id")
        .join(gateLabels(odd).withColumnRenamed("label", "gate_label"), "doc_id")
        .groupBy("gate_label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("gate_label", "pred")
    },

    // Preference-pair (DPO/RLHF) assembly, end to end: scored responses
    // (4 per prompt; every 10th group loses one response so the
    // rank-crossing guard fires) pair i-th-best vs i-th-worst with a
    // margin floor and the within-pair Jaccard dedup (prompt groups
    // % 10 = 2 carry IDENTICAL response texts — their pairs must
    // vanish); the surviving pairs get a PROMPT-cluster-keyed
    // leakage-safe split (prompts % 25 = 3 share one planted text →
    // minhash pairs → connected components → one split for the whole
    // twin set, audited to zero straddling in the same result), and
    // prompts are 5-gram-decontaminated against the bench slice
    // (prompts % 25 = 7 carry a planted benchmark question that is
    // also injected into bench docs % 70 = 0 → provably dropped).
    // The oracle replays the ranking, the pair filters, the minhash →
    // CC → hash-bucket split, the straddle audit and the shingle
    // membership — every branch value-exact.
    q("q_x_preference_pairs", {
      val hSc = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR) || ':sc'")
      val hKey = graft.llmops.PortableHash.duckHash52("CAST(split_key AS VARCHAR)")
      val fiveGram = "list_distinct(list_transform(generate_series(1, len(t) - 4), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))"
      def dtoks(c: String) =
        s"list_distinct(list_transform(regexp_split_to_array(trim($c), '\\s+'), x -> lower(x)))"
      "WITH RECURSIVE " +
        "leaders AS MATERIALIZED (SELECT doc_id // 4 AS prompt_id, " +
        s"CASE WHEN (doc_id // 4) % 25 = 3 THEN '$PlantedDupText' " +
        s"WHEN (doc_id // 4) % 25 = 7 THEN '$PlantedContamText' " +
        "ELSE 'please summarize: ' || array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 12), ' ') END AS prompt " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "resp AS MATERIALIZED (SELECT doc_id AS resp_id, doc_id // 4 AS prompt_id, " +
        s"CASE WHEN (doc_id // 4) % 10 = 2 THEN '$PlantedDupText' ELSE text END AS resp, " +
        s"$hSc % 100 AS score FROM documents WHERE doc_id % 40 <> 39), " +
        "ranked AS MATERIALIZED (SELECT r.*, " +
        "row_number() OVER (PARTITION BY r.prompt_id ORDER BY score DESC, resp_id ASC) AS rb, " +
        "row_number() OVER (PARTITION BY r.prompt_id ORDER BY score ASC, resp_id DESC) AS rw FROM resp r), " +
        "ch AS (SELECT prompt_id, rb AS pair_rank, resp_id AS chosen_id, resp AS chosen, score AS cs, rw AS crw FROM ranked WHERE rb <= 2), " +
        "rj AS (SELECT prompt_id, rw AS pair_rank, resp_id AS rejected_id, resp AS rejected, score AS rs FROM ranked WHERE rw <= 2), " +
        s"jac AS (SELECT ch.prompt_id, ch.pair_rank, chosen_id, rejected_id, cs - rs AS margin, crw, cs, rs, " +
        s"len(list_intersect(${dtoks("chosen")}, ${dtoks("rejected")})) AS i, " +
        s"len(${dtoks("chosen")}) + len(${dtoks("rejected")}) AS ab " +
        "FROM ch JOIN rj ON rj.prompt_id = ch.prompt_id AND rj.pair_rank = ch.pair_rank), " +
        "p0 AS MATERIALIZED (SELECT prompt_id, pair_rank, chosen_id, rejected_id, margin, i * 10000 // (ab - i) AS pair_jac_bps FROM jac " +
        "WHERE pair_rank < crw AND cs > rs AND margin >= 5 AND i * 10000 < (ab - i) * 9000), " +
        "pr AS MATERIALIZED (SELECT prompt_id AS doc_id, prompt AS text FROM leaders), " +
        s"mhp AS MATERIALIZED (SELECT id_a, id_b FROM (${minHashSqlOver("pr")}) zmh), " +
        "und AS (SELECT id_a AS u, id_b AS v FROM mhp UNION ALL SELECT id_b, id_a FROM mhp), " +
        "reach AS (SELECT u AS v, u AS r FROM und UNION SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.v), " +
        "comp AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v), " +
        "eff AS (SELECT l.prompt_id, coalesce(c.cluster, l.prompt_id) AS split_key FROM leaders l LEFT JOIN comp c ON c.v = l.prompt_id), " +
        s"spl AS MATERIALIZED (SELECT prompt_id, CASE WHEN $hKey % 10000 < 8000 THEN 'train' WHEN $hKey % 10000 < 9000 THEN 'valid' ELSE 'test' END AS split FROM eff), " +
        "aud AS (SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS straddle_total " +
        "FROM mhp p JOIN spl a ON a.prompt_id = p.id_a JOIN spl b ON b.prompt_id = p.id_b), " +
        s"bench AS MATERIALIZED (SELECT CASE WHEN doc_id % 70 = 0 THEN '$PlantedContamText' ELSE text END AS text FROM documents WHERE doc_id % 7 = 0), " +
        s"bsh AS MATERIALIZED (SELECT DISTINCT unnest(sh) AS s FROM (SELECT $fiveGram AS sh FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM bench) bt WHERE len(t) >= 5) bs), " +
        s"psh AS (SELECT prompt_id, unnest(sh) AS s FROM (SELECT prompt_id, $fiveGram AS sh FROM (SELECT prompt_id, regexp_split_to_array(trim(prompt), '\\s+') AS t FROM leaders) pt WHERE len(t) >= 5) ps), " +
        "contam AS (SELECT DISTINCT prompt_id FROM psh WHERE s IN (SELECT s FROM bsh)) " +
        "SELECT p0.prompt_id, CAST(p0.pair_rank AS BIGINT) AS pair_rank, p0.chosen_id, p0.rejected_id, " +
        "CAST(p0.margin AS BIGINT) AS margin, CAST(p0.pair_jac_bps AS BIGINT) AS pair_jac_bps, spl.split, aud.straddle_total " +
        "FROM p0 JOIN spl ON spl.prompt_id = p0.prompt_id CROSS JOIN aud " +
        "WHERE p0.prompt_id NOT IN (SELECT prompt_id FROM contam) " +
        "ORDER BY p0.prompt_id, p0.pair_rank"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val docs = Tables.documents(s, d)
      def pid = expr("doc_id div 4")
      val leaders = docs.filter(col("doc_id") % 4 === 0)
        .select(pid.as("prompt_id"),
          when(pid % 25 === 3, lit(PlantedDupText))
            .when(pid % 25 === 7, lit(PlantedContamText))
            .otherwise(concat(lit("please summarize: "),
              concat_ws(" ", slice(TextAnalysis.wsTokens(col("text")), 1, 12))))
            .as("prompt"))
        .localCheckpoint(true)
      val responses = docs.filter(col("doc_id") % 40 =!= 39)
        .select(col("doc_id").as("resp_id"), pid.as("prompt_id"),
          when(pid % 10 === 2, lit(PlantedDupText)).otherwise(col("text")).as("resp"),
          (PortableHash.hash52(concat(col("doc_id").cast("string"), lit(":sc"))) % 100)
            .as("score"))
        .join(leaders, Seq("prompt_id"))
      val pairs = Corpus.preferencePairs(responses, "prompt_id", "prompt",
        "resp_id", "resp", "score", minMargin = 5.0, maxPairsPerPrompt = 2)
      val mhPairs = Dedup.minHashPairs(leaders, "prompt_id", "prompt")
        .localCheckpoint(true)
      val clusters = Dedup.resolveClusters(mhPairs, "id_a", "id_b")
      val spl = Corpus.leakageSafeSplit(leaders.select("prompt_id"), "prompt_id",
        clusters, Seq("train" -> 8000, "valid" -> 1000, "test" -> 1000))
      val audit = Corpus.splitLeakageAudit(spl, "prompt_id", "split", mhPairs)
        .select(col("n_straddling").as("straddle_total"))
      val bench = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("prompt_id"),
          when(col("doc_id") % 70 === 0, lit(PlantedContamText))
            .otherwise(col("text")).as("prompt"))
      val decon = Dedup.decontaminate(leaders, bench, "prompt_id", "prompt")
      pairs
        .join(spl.select("prompt_id", "split"), Seq("prompt_id"))
        .join(decon.select(col("doc").as("prompt_id"), col("contaminated")),
          Seq("prompt_id"))
        .filter(!col("contaminated"))
        .crossJoin(broadcast(audit))
        .select(col("prompt_id"), col("pair_rank"), col("chosen_id"),
          col("rejected_id"), col("margin").cast("long").as("margin"),
          col("pair_jac_bps"), col("split"), col("straddle_total"))
        .orderBy("prompt_id", "pair_rank")
    },

    // Megatron-style .bin/.idx interop round trip (the q_x_jsonl_interop
    // shape, for the memory-mapped format DuckDB cannot read itself):
    // deterministic token ids derive from the corpus (hash52(word) %
    // 50000 — uint16 range), Spark WRITES 4 binary shards, reads them
    // back through the pointer/length-verifying parser, and aggregates
    // order-invariant totals; the ORACLE computes the identical counts,
    // token-value sum and per-sequence content checksum STRAIGHT from
    // the table — any token the format layer loses, reorders within a
    // sequence, truncates or widens wrong breaks the hash.
    q("q_x_token_bin_interop", {
      val tokH = graft.llmops.PortableHash.duckHash52("w") + " % 50000"
      val seqH = graft.llmops.PortableHash.duckHash52(
        "array_to_string(list_transform(toks, x -> CAST(x AS VARCHAR)), ',')")
      s"WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> $tokH) AS toks FROM documents) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_seqs, " +
        "CAST(sum(len(toks)) AS BIGINT) AS n_tokens, " +
        "CAST(sum(list_sum(toks)) AS BIGINT) AS token_sum, " +
        s"CAST(bit_xor($seqH) AS BIGINT) AS seq_checksum, " +
        "CAST(4 AS BIGINT) AS n_shards FROM t"
    }) { (s, d) =>
      import graft.ingest.TokenBin
      import graft.llmops.PortableHash
      val path = java.nio.file.Files
        .createTempDirectory("graft_tokenbin_interop").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      val src = Tables.documents(s, d).select(col("doc_id").as("seq"),
        transform(TextAnalysis.wsTokens(col("text")),
          w => PortableHash.hash52(w) % 50000).as("tokens"))
      TokenBin.write(src, "seq", "tokens", path, shards = 4)
      val back = TokenBin.read(s, path)
      require(back.where(!col("ok")).isEmpty,
        "self-written token shards must parse cleanly")
      back.select(col("path"),
          size(col("tokens")).cast("long").as("__n"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("__ts"),
          PortableHash.hash52(concat_ws(",",
            transform(col("tokens"), _.cast("string")))).as("__h"))
        .agg(count(lit(1)).as("n_seqs"), sum("__n").as("n_tokens"),
          sum("__ts").as("token_sum"), expr("bit_xor(__h)").as("seq_checksum"),
          countDistinct("path").as("n_shards"))
    },

    // Unigram-LM (SentencePiece-style) tokenizer training, hard-EM form:
    // seed = capped substring counts (+ every single char, kept forever
    // for coverage), then R rounds of Viterbi segmentation over the
    // distinct-word table → frequency-weighted piece counts → prune to
    // the top-vocabSize multi-char pieces → add-1 re-score on a BIGINT
    // micro-nll grid (integer DP costs: every min/tie decision is exact
    // on both engines; ties break to the shortest piece). The oracle
    // replays BOTH folds — the forward min-cost DP and the backward
    // argmin walk — as DuckDB list_reduce lambdas over the identical
    // quantized costs, then the same prune/rescore chain, round by
    // round: segmentation decisions, counts and final scores all
    // hash-exact.
    q("q_x_unigram_vocab", unigramVocabSql(
      vocabSize = 120, rounds = 2, maxPieceLen = 3, maxWordLen = 12,
      seedCap = 240)) { (s, d) =>
      graft.llmops.Unigram.unigramVocab(Tables.documents(s, d),
        "doc_id", "text", vocabSize = 120, rounds = 2, maxPieceLen = 3,
        maxWordLen = 12, seedCapFactor = 2)
    },

    // Host-authority crawl prioritization — the crawl loop's detect-to-
    // act composition closed end to end: extractLinks over the crawled
    // pages → host link graph → PageRank authority (string-keyed, the
    // q_g_pagerank recursive-CTE replay) → the extracted outbound URLs
    // form the FRONTIER, probed against the Bloom seen-set of already-
    // crawled URLs (planted re-crawl links — docs % 8 = 5 link back to a
    // base index page — probe true and drop), survivors ranked by their
    // host's authority. Every stage value-exact in the oracle: the link
    // extraction regexp chain, distinct-pair PageRank with 0-weight
    // self-loop retention, the PortableHash bloom words, and the final
    // rank join.
    q("q_x_host_authority", {
      import graft.llmops.PortableHash
      val (kh, m, p) = (4, 2048, PortableHash.P)
      val perms = (0 until kh)
        .map(j => s"($j, ${PortableHash.MinHashA(j)}, ${PortableHash.MinHashB(j)})")
        .mkString(", ")
      val ha = PortableHash.duckHash52("url")
      val html = "'<html><body><p>' || text || '</p>' || " +
        "CASE WHEN doc_id % 3 = 0 THEN '<a href=\"https://ext' || (doc_id % 5) || '.example/p' || (doc_id % 11) || '\">x</a>' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 1 THEN '<A HREF=''/local/page'' class=y>z</A>' ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 2 THEN '<a href=\"//cdn' || (doc_id % 3) || '.example/asset\">c</a>' ELSE '' END || " +
        "CASE WHEN doc_id % 8 = 5 THEN '<a href=\"https://src' || (doc_id % 7) || '.example/index.html\">r</a>' ELSE '' END || " +
        "'</body></html>'"
      "WITH RECURSIVE h AS (SELECT doc_id, " + html + " AS html, " +
        "'https://src' || (doc_id % 7) || '.example/index.html' AS base FROM documents), " +
        "l AS (SELECT doc_id, lower(regexp_extract(base, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS src_host, " +
        "regexp_extract(base, '^([a-zA-Z]+)://', 1) AS sch, " +
        "unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*[\"'']([^\"'']+)[\"'']', 1)) AS lnk FROM h), " +
        "r AS (SELECT doc_id, src_host, CASE " +
        "WHEN regexp_matches(lnk, '^[a-zA-Z]+://') THEN lnk " +
        "WHEN lnk LIKE '//%' THEN sch || ':' || lnk " +
        "WHEN lnk LIKE '/%' THEN sch || '://' || src_host || lnk " +
        "ELSE NULL END AS url FROM l), " +
        "e AS (SELECT doc_id, src_host, url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS dst_host FROM r WHERE url IS NOT NULL), " +
        "hp AS (SELECT DISTINCT src_host AS s, dst_host AS dst FROM e), " +
        "verts AS (SELECT DISTINCT v FROM (SELECT s AS v FROM hp UNION ALL SELECT dst FROM hp)), " +
        "od AS (SELECT s, count(*) AS deg FROM hp GROUP BY 1), " +
        "e2 AS (SELECT hp.s AS src, hp.dst, 1.0 / od.deg AS w FROM hp JOIN od USING (s) UNION ALL SELECT v, v, 0.0 FROM verts), " +
        "ranks AS (SELECT 0 AS iter, v AS vid, CAST(1.0 AS DOUBLE) AS rank FROM verts " +
        "UNION ALL SELECT r.iter + 1, e2.dst, 0.15 + 0.85 * sum(r.rank * e2.w) FROM ranks r JOIN e2 ON e2.src = r.vid WHERE r.iter < 10 GROUP BY 1, 2), " +
        "fin AS (SELECT vid AS host, rank FROM ranks WHERE iter = 10), " +
        "norm AS (SELECT sum(rank) AS sm, count(*) AS nv FROM fin), " +
        "rk AS (SELECT host, rank * norm.nv / norm.sm AS rank FROM fin, norm), " +
        "crawled AS (SELECT DISTINCT base AS url FROM h), " +
        s"perm(j, pa, pb) AS (SELECT * FROM (VALUES $perms)), " +
        s"ch AS (SELECT $ha AS hh FROM crawled), " +
        s"cbits AS (SELECT DISTINCT ((pa * (hh % $p) + pb) % $p % $m) AS pos FROM ch CROSS JOIN perm), " +
        "words AS (SELECT pos // 32 AS wi, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word FROM cbits GROUP BY 1), " +
        "fr AS (SELECT url, dst_host AS host, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_refs FROM e GROUP BY 1, 2), " +
        s"fh AS (SELECT url, host, n_refs, $ha AS hh FROM fr), " +
        s"probe AS (SELECT url, host, n_refs, ((pa * (hh % $p) + pb) % $p % $m) AS pos FROM fh CROSS JOIN perm), " +
        "seen AS (SELECT url, host, n_refs, min(CASE WHEN (coalesce(w.word, 0) & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) AS mc " +
        "FROM probe LEFT JOIN words w ON w.wi = pos // 32 GROUP BY 1, 2, 3) " +
        "SELECT s.url, s.host, s.n_refs, round(rk.rank, 6) AS rank " +
        "FROM seen s JOIN rk ON rk.host = s.host WHERE s.mc = 0 ORDER BY rank DESC, s.url"
    }) { (s, d) =>
      import graft.analytics.GraphAnalytics
      import graft.functions.Bloom
      val did = col("doc_id")
      val html = concat(lit("<html><body><p>"), col("text"), lit("</p>"),
        when(did % 3 === 0, concat(lit("<a href=\"https://ext"),
          (did % 5).cast("string"), lit(".example/p"),
          (did % 11).cast("string"), lit("\">x</a>"))).otherwise(lit("")),
        when(did % 4 === 1, lit("<A HREF='/local/page' class=y>z</A>"))
          .otherwise(lit("")),
        when(did % 6 === 2, concat(lit("<a href=\"//cdn"),
          (did % 3).cast("string"), lit(".example/asset\">c</a>")))
          .otherwise(lit("")),
        when(did % 8 === 5, concat(lit("<a href=\"https://src"),
          (did % 7).cast("string"), lit(".example/index.html\">r</a>")))
          .otherwise(lit("")),
        lit("</body></html>"))
      val base = concat(lit("https://src"), (did % 7).cast("string"),
        lit(".example/index.html"))
      val docs = Tables.documents(s, d)
      val links = TextAnalysis.extractLinks(
          docs.select(did, html.as("html"), base.as("base")),
          "doc_id", "html", "base")
        .localCheckpoint(true) // feeds the graph, the frontier AND the probe
      val ranks = GraphAnalytics.pageRankKeys(links, "src_host", "dst_host",
        iters = 10)
      val bloom = Bloom.build(docs.select(base.as("url")).distinct(), "url",
        mBits = 2048L, k = 4)
      val frontier = links.groupBy(col("url"), col("dst_host").as("host"))
        .agg(countDistinct("doc").as("n_refs"))
      val seen = Bloom.mightContain(bloom, frontier.select("url"), "url",
        mBits = 2048L, k = 4)
      frontier.join(seen, Seq("url")).filter(!col("might_contain"))
        .join(ranks.withColumnRenamed("key", "host"), Seq("host"))
        .select(col("url"), col("host"), col("n_refs"),
          round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("url"))
    },

    // PDF interop round trip (the q_x_warc_interop shape, for the format
    // DuckDB cannot read): the corpus Latin-1-sanitizes, Spark WRITES
    // 4 multi-page Flate PDFs (catalog/page-tree/xref — viewer-valid),
    // reads them back through the quarantining extractor, and
    // aggregates; the oracle computes the identical page count, char
    // sum and order-invariant text checksum STRAIGHT from the table
    // with the same sanitize regexp — any page the PDF layer loses,
    // mangles an escape in, or mis-inflates breaks the hash.
    q("q_x_pdf_interop", {
      val h = graft.llmops.PortableHash.duckHash52(
        "regexp_replace(text, '[^\\x00-\\xff]', '?', 'g')")
      "SELECT CAST(count(*) AS BIGINT) AS n_pages, " +
        "CAST(sum(length(regexp_replace(text, '[^\\x00-\\xff]', '?', 'g'))) AS BIGINT) AS n_chars, " +
        s"CAST(bit_xor($h) AS BIGINT) AS checksum, " +
        "CAST(4 AS BIGINT) AS n_files FROM documents"
    }) { (s, d) =>
      import graft.ingest.Pdf
      import graft.llmops.PortableHash
      val path = java.nio.file.Files
        .createTempDirectory("graft_pdf_interop").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      Pdf.write(Tables.documents(s, d)
        .select(Pdf.latin1Sanitize(col("text")).as("t")), "t", path, shards = 4)
      val back = Pdf.read(s, path)
      require(back.where(!col("ok")).isEmpty,
        "self-written PDFs must extract cleanly")
      back.select(col("path"), length(col("text")).cast("long").as("__n"),
          PortableHash.hash52(col("text")).as("__h"))
        .agg(count(lit(1)).as("n_pages"), sum("__n").as("n_chars"),
          expr("bit_xor(__h)").as("checksum"),
          countDistinct("path").as("n_files"))
    },

    // ORC interop round trip (r15 — the Hive/Trino-ecosystem columnar
    // format, built into Spark): the documents table is WRITTEN as a
    // 4-shard ORC dataset and read back; the oracle computes the
    // identical aggregates (row count, id sum, byte sum, order-
    // invariant text checksum) straight from the parquet table — any
    // row or value the ORC layer loses or mangles breaks the checksum.
    // Byte counts via octet_length on BOTH sides (UTF-8 exact).
    q("q_x_orc_interop", {
      val h = graft.llmops.PortableHash.duckHash52("text")
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes, " +
        s"CAST(bit_xor($h) AS BIGINT) AS checksum FROM documents"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val path = java.nio.file.Files
        .createTempDirectory("graft_orc_interop").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select(col("doc_id"), octet_length(col("text")).cast("long")
          .as("__n"), PortableHash.hash52(col("text")).as("__h"))
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"),
          sum("__n").as("n_bytes"), expr("bit_xor(__h)").as("checksum"))
    },

    // CID/Type0 PDF text via the /ToUnicode CMap (r15 — the dominant
    // academic-PDF class the simple-font rule degraded by nature): one
    // hand-assembled FOREIGN single-page PDF per doc, whose hex-string
    // text op encodes 2-byte CID codes for an em-dash (bfchar), the
    // doc_id's digits (the incrementing bfrange form, mapped onto
    // Greek — outside Latin-1, exactly what byte-decoding mangles) and
    // on even docs two array-form bfrange codes; the CMap stream sits
    // AFTER the content stream, so the two-pass reader must collect it
    // first. The oracle derives the expected Unicode text from doc_id
    // arithmetic (translate over the digit string) — a wrong code
    // width, a missed bfrange form, or one-pass parsing breaks it.
    q("q_x_pdf_cid",
      "SELECT doc_id, chr(8212) || " +
        "translate(CAST(doc_id AS VARCHAR), '0123456789', " +
        "chr(916)||chr(917)||chr(918)||chr(919)||chr(920)||chr(921)||chr(922)||chr(923)||chr(924)||chr(925)) || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(196)||chr(214) ELSE '' END AS text, " +
        "CAST(1 AS BIGINT) AS n_text_ops, true AS ok " +
        "FROM documents ORDER BY doc_id") { (s, d) =>
      import s.implicits._
      import graft.ingest.Pdf
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
          ids.map { id =>
            val codes = new StringBuilder("002D") // bfchar: em dash
            id.toString.foreach(dg => codes.append("003").append(dg))
            if (id % 2 == 0) codes.append("0041").append("0042")
            val content = s"BT /F1 12 Tf 72 720 Td <${codes.toString}> Tj ET"
            val cmapBody =
              "/CIDInit /ProcSet findresource begin\n" +
                "begincodespacerange <0000> <FFFF> endcodespacerange\n" +
                "1 beginbfchar <002D> <2014> endbfchar\n" +
                "2 beginbfrange\n<0030> <0039> <0394>\n" +
                "<0041> <0042> [<00C4> <00D6>]\nendbfrange\nend"
            val pdf = "%PDF-1.4\n" +
              "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
              "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
              "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
              s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
              s"5 0 obj << /Length ${cmapBody.length} >>\nstream\n$cmapBody\nendstream\nendobj\n" +
              "trailer << /Root 1 0 R >>\n%%EOF\n"
            val rows = Pdf.parseBytes(s"doc-$id", pdf.getBytes(latin1)).toList
            val r = rows.head
            (id, r.text, r.n_text_ops, rows.forall(_.ok) && rows.length == 1)
          }
        }.toDF("doc_id", "text", "n_text_ops", "ok")
        .orderBy("doc_id")
    },

    // .docx text extraction (r15 — the Xlsx container, the document
    // payload): per doc a REAL zip (ZipOutputStream: [Content_Types]
    // + word/document.xml) is assembled in mapPartitions with
    // doc_id%4+1 paragraphs — multi-run paragraphs, a w:tab in
    // paragraph 2, a w:br in paragraph 3, an excluded w:instrText
    // field code, and a table-wrapped paragraph 4 — and extracted back
    // through Docx.text; the oracle derives the exact flat text
    // (TAB/newline placement included) from the same arithmetic, so a
    // run-concatenation, break-mapping or entry-walk bug breaks the
    // identity.
    q("q_x_docx_text", {
      val p1 = "'para 1 of doc ' || doc_id"
      val p2 = "'para 2' || chr(9) || 'of doc ' || doc_id"
      val p3 = "'para 3' || chr(10) || 'of doc ' || doc_id"
      val p4 = "'para 4 of doc ' || doc_id"
      "SELECT doc_id, " +
        s"$p1 || " +
        s"CASE WHEN doc_id % 4 + 1 >= 2 THEN chr(10) || $p2 ELSE '' END || " +
        s"CASE WHEN doc_id % 4 + 1 >= 3 THEN chr(10) || $p3 ELSE '' END || " +
        s"CASE WHEN doc_id % 4 + 1 >= 4 THEN chr(10) || $p4 ELSE '' END AS text, " +
        "CAST(doc_id % 4 + 1 AS BIGINT) AS n_paragraphs " +
        "FROM documents ORDER BY doc_id"
    }) { (s, d) =>
      import s.implicits._
      import graft.ingest.Docx
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val k = (id % 4 + 1).toInt
            def runs(i: Int): String = i match {
              case 2 => s"<w:r><w:t>para 2</w:t><w:tab/></w:r>" +
                s"<w:r><w:t>of doc $id</w:t></w:r>"
              case 3 => s"<w:r><w:t>para 3</w:t><w:br/>" +
                s"<w:t>of doc $id</w:t></w:r>"
              case i => s"<w:r><w:t>para $i </w:t></w:r>" +
                s"<w:r><w:instrText>PAGEREF _x$id</w:instrText></w:r>" +
                s"<w:r><w:t>of doc $id</w:t></w:r>"
            }
            val paras = (1 to k).map { i =>
              val p = s"<w:p>${runs(i)}</w:p>"
              // paragraph 4 arrives inside a table cell — the flat
              // reading must surface it as an ordinary paragraph
              if (i == 4) s"<w:tbl><w:tr><w:tc>$p</w:tc></w:tr></w:tbl>"
              else p
            }.mkString
            val xml = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">" +
              s"<w:body>$paras</w:body></w:document>"
            val bos = new java.io.ByteArrayOutputStream()
            val zos = new java.util.zip.ZipOutputStream(bos)
            zos.putNextEntry(new java.util.zip.ZipEntry("[Content_Types].xml"))
            zos.write("<Types/>".getBytes("UTF-8")); zos.closeEntry()
            zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
            zos.write(xml.getBytes("UTF-8")); zos.closeEntry()
            zos.close()
            val paragraphs = Docx.paragraphs(bos.toByteArray)
            (id, paragraphs.mkString("\n"), paragraphs.length.toLong)
          }
        }.toDF("doc_id", "text", "n_paragraphs")
        .orderBy("doc_id")
    },

    // .epub text extraction (r15 — the BOOK class): per doc a REAL
    // epub zip (mimetype + container.xml + OPF + doc_id%3+1 XHTML
    // chapters under OEBPS/) is assembled in mapPartitions with the
    // SPINE deliberately reversed from the zip entry order — the
    // reader must resolve container→OPF→manifest→spine and emit
    // chapters in spine order, excluding head/title metadata and
    // resolving &amp;. The oracle derives the exact concatenated text
    // from the same arithmetic, reversed-order included.
    q("q_x_epub_text", {
      def chap(i: Int) =
        s"'chap $i para 1 of doc ' || doc_id || chr(10) || " +
          s"'chap $i para 2 & more of doc ' || doc_id || chr(10)"
      "SELECT doc_id, " +
        s"CASE doc_id % 3 + 1 WHEN 1 THEN ${chap(1)} " +
        s"WHEN 2 THEN ${chap(2)} || ${chap(1)} " +
        s"ELSE ${chap(3)} || ${chap(2)} || ${chap(1)} END AS text, " +
        "CAST(doc_id % 3 + 1 AS BIGINT) AS n_chapters " +
        "FROM documents ORDER BY doc_id"
    }) { (s, d) =>
      import s.implicits._
      import graft.ingest.Epub
      // spreadScan: the zip+parse roundtrip runs inside this map — a
      // single-row-group scan pins it to one core (1.9 s single task at
      // sf0.1; guide §2.5).
      Corpus.spreadScan(Tables.documents(s, d).select(col("doc_id"))).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val k = (id % 3 + 1).toInt
            def xhtml(i: Int): String =
              "<?xml version=\"1.0\"?><html xmlns=\"http://www.w3.org/1999/xhtml\">" +
                s"<head><title>chapter $i</title></head><body>" +
                s"<p>chap $i para 1 of doc $id</p>" +
                s"<p>chap $i para 2 &amp; more of doc $id</p>" +
                "</body></html>"
            val manifest = (1 to k).map(i =>
              s"""<item id="c$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""").mkString
            // spine REVERSED from entry order — the order the oracle states
            val spine = (k to 1 by -1).map(i =>
              s"""<itemref idref="c$i"/>""").mkString
            val opf = "<?xml version=\"1.0\"?><package xmlns=\"http://www.idpf.org/2007/opf\">" +
              s"<manifest>$manifest</manifest><spine>$spine</spine></package>"
            val containerXml =
              "<?xml version=\"1.0\"?><container xmlns=\"urn:oasis:names:tc:opendocument:xmlns:container\">" +
                "<rootfiles><rootfile full-path=\"OEBPS/content.opf\" media-type=\"application/oebps-package+xml\"/></rootfiles></container>"
            val bos = new java.io.ByteArrayOutputStream()
            val zos = new java.util.zip.ZipOutputStream(bos)
            def entry(name: String, content: String): Unit = {
              zos.putNextEntry(new java.util.zip.ZipEntry(name))
              zos.write(content.getBytes("UTF-8")); zos.closeEntry()
            }
            entry("mimetype", "application/epub+zip")
            entry("META-INF/container.xml", containerXml)
            entry("OEBPS/content.opf", opf)
            (1 to k).foreach(i => entry(s"OEBPS/ch$i.xhtml", xhtml(i)))
            zos.close()
            val chapters = Epub.chapters(bos.toByteArray)
            (id, chapters.map(_._2).mkString, chapters.length.toLong)
          }
        }.toDF("doc_id", "text", "n_chapters")
        .orderBy("doc_id")
    },

    // The DOCUMENT front door composed (r15): a nine-lane mixed
    // crawl — pdf, docx, epub, srt, vtt, plain text, invalid-UTF-8
    // binary, gzipped text (the transport wrapper inflates and the
    // INNER kind reports), and raw HTML (NAMED html with the markup
    // kept — extraction is the html stage's job) — routed by
    // DocRouter.extract from the BYTES
    // alone; the oracle derives kind and the exact extracted text
    // (epub's trailing block newline and the binary lane's NULL
    // included) from the planting arithmetic. A mislabeled or
    // misrouted payload breaks the lane.
    q("q_x_doc_router",
      "SELECT doc_id, " +
        "CASE doc_id % 9 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' " +
        "WHEN 2 THEN 'epub' WHEN 3 THEN 'subtitles' WHEN 4 THEN 'subtitles' " +
        "WHEN 5 THEN 'text' WHEN 7 THEN 'text' WHEN 8 THEN 'html' " +
        "ELSE 'none' END AS kind, " +
        "CASE doc_id % 9 WHEN 0 THEN 'pdf text of doc ' || doc_id " +
        "WHEN 1 THEN 'docx text of doc ' || doc_id " +
        "WHEN 2 THEN 'epub text of doc ' || doc_id || chr(10) " +
        "WHEN 3 THEN 'sub text of doc ' || doc_id " +
        "WHEN 4 THEN 'vtt text of doc ' || doc_id " +
        "WHEN 5 THEN 'plain text of doc ' || doc_id " +
        "WHEN 7 THEN 'gzipped text of doc ' || doc_id " +
        "WHEN 8 THEN '<html><body>page text of doc ' || doc_id || '</body></html>' " +
        "ELSE NULL END AS text " +
        "FROM documents ORDER BY doc_id") { (s, d) =>
      import s.implicits._
      import graft.ingest.DocRouter
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            def zipBytes(entries: (String, String)*): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              val zos = new java.util.zip.ZipOutputStream(bos)
              entries.foreach { case (n, c) =>
                zos.putNextEntry(new java.util.zip.ZipEntry(n))
                zos.write(c.getBytes("UTF-8")); zos.closeEntry()
              }
              zos.close(); bos.toByteArray
            }
            val payload: Array[Byte] = (id % 9) match {
              case 0 =>
                val content = s"BT /F1 12 Tf 72 720 Td (pdf text of doc $id) Tj ET"
                ("%PDF-1.4\n" +
                  "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
                  "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
                  "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
                  s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
                  "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes("ISO-8859-1")
              case 1 => zipBytes("word/document.xml" ->
                ("<?xml version=\"1.0\"?><w:document xmlns:w=\"x\"><w:body>" +
                  s"<w:p><w:r><w:t>docx text of doc $id</w:t></w:r></w:p>" +
                  "</w:body></w:document>"))
              case 2 => zipBytes(
                "META-INF/container.xml" ->
                  "<container><rootfiles><rootfile full-path=\"c.opf\"/></rootfiles></container>",
                "c.opf" ->
                  "<package><manifest><item id=\"c\" href=\"x.xhtml\"/></manifest><spine><itemref idref=\"c\"/></spine></package>",
                "x.xhtml" -> s"<html><body><p>epub text of doc $id</p></body></html>")
              case 3 =>
                s"1\n00:00:01,000 --> 00:00:02,500\nsub text of doc $id\n"
                  .getBytes("UTF-8")
              case 4 =>
                s"WEBVTT\n\n00:01.000 --> 00:02.000\nvtt text of doc $id\n"
                  .getBytes("UTF-8")
              case 5 => s"plain text of doc $id".getBytes("UTF-8")
              case 7 =>
                val bos = new java.io.ByteArrayOutputStream()
                val gz = new java.util.zip.GZIPOutputStream(bos)
                gz.write(s"gzipped text of doc $id".getBytes("UTF-8"))
                gz.close(); bos.toByteArray
              case 8 =>
                s"<html><body>page text of doc $id</body></html>"
                  .getBytes("UTF-8")
              case _ => Array(0x89.toByte, 0xFF.toByte, 0xFE.toByte, id.toByte)
            }
            val e = DocRouter.extract(payload)
            (id, e.kind, e.text.orNull)
          }
        }.toDF("doc_id", "kind", "text")
        .orderBy("doc_id")
    },

    // robots.txt crawl-policy filtering (RFC 9309): per-host robots
    // bodies exercise comment stripping, a NON-star group that must not
    // bind (fancybot's Disallow /), stacked User-agent lines forming one
    // star group, prefix rules, an Allow override that outranks its
    // Disallow by length, a '*' wildcard rule, a trailing-'$' anchored
    // rule (and its near-miss), and a host-parity-dependent rule; the
    // frontier hits every class. The oracle replays the line grouping
    // (gaps-and-islands), the regex compilation chain and the
    // longest-match/allow-wins max-struct decision value-exact.
    q("q_x_robots_filter", {
      val nl = " || chr(10) || "
      val robots =
        "'# crawl policy'" + nl + "'User-agent: fancybot'" + nl +
          "'Disallow: /'" + nl + "''" + nl +
          "'User-agent: *'" + nl + "'User-agent: otherbot'" + nl +
          "'Disallow: /private'" + nl + "'Allow: /private/ok'" + nl +
          "'Disallow: /tmp*'" + nl + "'Disallow: /*.bin$'" + nl +
          "CASE WHEN k % 2 = 0 THEN 'Disallow: /even' || chr(10) ELSE '' END"
      val pathCase = "CASE (doc_id % 8) WHEN 0 THEN '/public/page' " +
        "WHEN 1 THEN '/private/x' WHEN 2 THEN '/private/okzone' " +
        "WHEN 3 THEN '/tmpfiles/z' WHEN 4 THEN '/data/f.bin' " +
        "WHEN 5 THEN '/data/f.binx' WHEN 6 THEN '/even/x' ELSE '' END"
      val pathRe = "'^[a-zA-Z]+://[^/?#]*(/[^#]*)?'"
      "WITH hosts AS (SELECT DISTINCT doc_id % 7 AS k FROM documents), " +
        s"rb AS (SELECT 'src' || k || '.example' AS host, $robots AS txt FROM hosts), " +
        "la AS (SELECT host, string_split(txt, chr(10)) AS ls FROM rb), " +
        "lp AS (SELECT host, ls, unnest(generate_series(1, len(ls))) AS i FROM la), " +
        "d AS (SELECT host, i, regexp_extract(lower(cl), '^(user-agent|allow|disallow):', 1) AS directive, " +
        "trim(regexp_replace(cl, '^[A-Za-z-]+:', '')) AS value FROM " +
        "(SELECT host, i, trim(regexp_replace(ls[i], '#.*$', '')) AS cl FROM lp) x), " +
        "g AS (SELECT *, CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS ua FROM d), " +
        "g2 AS (SELECT *, CASE WHEN ua = 1 AND coalesce(lag(ua) OVER (PARTITION BY host ORDER BY i), 0) = 0 THEN 1 ELSE 0 END AS st FROM g), " +
        "g3 AS (SELECT *, sum(st) OVER (PARTITION BY host ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp FROM g2), " +
        "star AS (SELECT DISTINCT host, grp FROM g3 WHERE ua = 1 AND value = '*'), " +
        "rules AS (SELECT g3.host, directive AS rule, value AS rpath FROM g3 JOIN star USING (host, grp) " +
        "WHERE ua = 0 AND grp >= 1 AND directive IN ('allow', 'disallow') AND value <> ''), " +
        s"comp AS (SELECT host, rule, rpath, '^' || regexp_replace(regexp_replace(" +
        "CASE WHEN rpath LIKE '%$' THEN substr(rpath, 1, length(rpath) - 1) ELSE rpath END, " +
        "'([.+?()\\[\\]{}^|$\\\\])', '\\\\\\0', 'g'), '\\*', '.*', 'g') || " +
        "CASE WHEN rpath LIKE '%$' THEN '$' ELSE '' END AS pat FROM rules), " +
        s"fr AS (SELECT DISTINCT 'https://src' || (doc_id % 7) || '.example' || $pathCase AS url FROM documents), " +
        "fp AS (SELECT url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host, " +
        s"CASE WHEN regexp_extract(url, $pathRe, 1) = '' THEN '/' ELSE regexp_extract(url, $pathRe, 1) END AS path FROM fr), " +
        "cand AS (SELECT fp.url, fp.host, fp.path, c.rule, c.rpath, " +
        "c.pat IS NOT NULL AND regexp_matches(fp.path, c.pat) AS m " +
        "FROM fp LEFT JOIN comp c USING (host)), " +
        "win AS (SELECT url, host, path, max(CASE WHEN m THEN struct_pack(" +
        "l := CAST(length(rpath) AS BIGINT), a := CASE WHEN rule = 'allow' THEN 1 ELSE 0 END, " +
        "p := rpath, r := rule) END) AS w FROM cand GROUP BY 1, 2, 3) " +
        "SELECT url, host, path, coalesce(w.r = 'allow', true) AS allowed, " +
        "w.r AS matched_rule, w.p AS matched_path FROM win ORDER BY url"
    }) { (s, d) =>
      val did = col("doc_id")
      val k = did % 7
      val docs = Tables.documents(s, d)
      val nl = "\n"
      val robots = concat(
        lit("# crawl policy" + nl + "User-agent: fancybot" + nl +
          "Disallow: /" + nl + nl + "User-agent: *" + nl +
          "User-agent: otherbot" + nl + "Disallow: /private" + nl +
          "Allow: /private/ok" + nl + "Disallow: /tmp*" + nl +
          "Disallow: /*.bin$" + nl),
        when(col("k") % 2 === 0, lit("Disallow: /even" + nl)).otherwise(lit("")))
      val hosts = docs.select(k.as("k")).distinct()
        .select(concat(lit("src"), col("k").cast("string"), lit(".example"))
          .as("host"), robots.as("txt"))
      val rules = TextAnalysis.robotsRules(hosts, "host", "txt")
      val pathClass = (did % 8)
      val frontier = docs.select(concat(
          lit("https://src"), k.cast("string"), lit(".example"),
          when(pathClass === 0, "/public/page")
            .when(pathClass === 1, "/private/x")
            .when(pathClass === 2, "/private/okzone")
            .when(pathClass === 3, "/tmpfiles/z")
            .when(pathClass === 4, "/data/f.bin")
            .when(pathClass === 5, "/data/f.binx")
            .when(pathClass === 6, "/even/x")
            .otherwise("")).as("url"))
        .distinct()
      TextAnalysis.robotsFilter(frontier, "url", rules).orderBy("url")
    },

    // Rejection sampling (best-of-n): per prompt, slice the first 4
    // responses (deterministic "sampled n" — n exceeds some groups, so
    // n_candidates proves the slice), keep the reward argmax iff
    // it clears the floor — prompts whose best attempt is still bad
    // ship nothing. The %40 filter leaves some prompts with only three
    // candidates, and the hash scores
    // make the floor drop a verifiable subset.
    q("q_x_best_of_n", {
      val hSc = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR) || ':sc'")
      "WITH resp AS (SELECT doc_id AS resp_id, doc_id // 4 AS prompt_id, " +
        s"$hSc % 100 AS score FROM documents WHERE doc_id % 40 <> 39), " +
        "s1 AS (SELECT *, row_number() OVER (PARTITION BY prompt_id ORDER BY resp_id) AS s FROM resp), " +
        "sam AS (SELECT * FROM s1 WHERE s <= 4), " +
        "r1 AS (SELECT *, row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, resp_id ASC) AS r, " +
        "count(*) OVER (PARTITION BY prompt_id) AS nc FROM sam) " +
        "SELECT prompt_id, resp_id, score, CAST(nc AS BIGINT) AS n_candidates " +
        "FROM r1 WHERE r = 1 AND score >= 20 ORDER BY prompt_id"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val did = col("doc_id")
      val responses = Tables.documents(s, d).filter(did % 40 =!= 39)
        .select(did.as("resp_id"), expr("doc_id div 4").as("prompt_id"),
          concat(lit("p"), expr("doc_id div 4").cast("string")).as("prompt"),
          col("text").as("response"),
          (PortableHash.hash52(concat(did.cast("string"), lit(":sc"))) % 100)
            .as("score"))
      Corpus.bestOfN(responses, "prompt_id", "prompt", "resp_id",
          "response", "score", n = 4, minScore = 20.0)
        .select(col("prompt_id"), col("resp_id"), col("score"),
          col("n_candidates"))
        .orderBy("prompt_id")
    },

    // THE trainer hand-off, composed end to end: train the unigram-LM
    // tokenizer on the corpus, assign token ids by (count DESC, piece)
    // rank, Viterbi-segment EVERY document with the trained vocabulary,
    // write the id sequences as Megatron .bin/.idx shards, read them
    // back through the verifying parser, and checksum. The oracle
    // replays the whole chain — seed → 2 EM rounds → prune → id rank →
    // one more segmentation pass over per-document words → per-doc
    // ordered id lists — and computes the identical order-invariant
    // aggregates; a single mis-segmented word, wrong id, lost fragment
    // or byte-level shard defect breaks the hash.
    q("q_x_tokenize_export", tokenizeExportSql(
      vocabSize = 120, rounds = 2, maxPieceLen = 3, maxWordLen = 12,
      seedCap = 240)) { (s, d) =>
      import graft.ingest.TokenBin
      import graft.llmops.{PortableHash, Unigram}
      val docs = Tables.documents(s, d)
      val vocab = Unigram.unigramVocab(docs, "doc_id", "text",
          vocabSize = 120, rounds = 2, maxPieceLen = 3, maxWordLen = 12)
        .localCheckpoint(true) // feeds the id rank AND the segmenter
      val ids = vocab.withColumn("tid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("piece"))) - 1)
      val seg = Unigram.segment(docs, "doc_id", "text", vocab,
        maxPieceLen = 3, maxWordLen = 12)
      val perDoc = seg
        .join(ids.select(col("piece"), col("tid").cast("long").as("tid")),
          Seq("piece"))
        .groupBy(col("id").as("seq"))
        .agg(transform(array_sort(collect_list(struct(
          col("word_idx"), col("piece_idx"), col("tid")))),
          x => x("tid")).as("tokens"))
      val path = java.nio.file.Files
        .createTempDirectory("graft_tokenize_export").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      TokenBin.write(perDoc, "seq", "tokens", path, shards = 4)
      val back = TokenBin.read(s, path)
      require(back.where(!col("ok")).isEmpty,
        "self-written token shards must parse cleanly")
      back.select(size(col("tokens")).cast("long").as("__n"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("__ts"),
          PortableHash.hash52(concat_ws(",",
            transform(col("tokens"), _.cast("string")))).as("__h"))
        .agg(count(lit(1)).as("n_seqs"), sum("__n").as("n_tokens"),
          sum("__ts").as("id_sum"), expr("bit_xor(__h)").as("seq_checksum"))
    },

    // KTO-style unpaired preference labeling: desirable/undesirable
    // relative to the PROMPT'S OWN mean (integer cross-multiply — no
    // float mean), exact-mean responses dropped.
    q("q_x_unpaired_prefs", {
      val hSc = graft.llmops.PortableHash.duckHash52("CAST(doc_id AS VARCHAR) || ':sc'")
      "WITH resp AS (SELECT doc_id AS resp_id, doc_id // 4 AS prompt_id, " +
        s"$hSc % 100 AS score FROM documents WHERE doc_id % 40 <> 39), " +
        "st AS (SELECT prompt_id, sum(score) AS s, count(*) AS n FROM resp GROUP BY 1) " +
        "SELECT r.prompt_id, r.resp_id, r.score, CAST(st.n AS BIGINT) AS n_responses, " +
        "CAST(CASE WHEN r.score * st.n > st.s THEN 1 ELSE -1 END AS BIGINT) AS label " +
        "FROM resp r JOIN st USING (prompt_id) WHERE r.score * st.n <> st.s ORDER BY r.resp_id"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val did = col("doc_id")
      val responses = Tables.documents(s, d).filter(did % 40 =!= 39)
        .select(did.as("resp_id"), expr("doc_id div 4").as("prompt_id"),
          concat(lit("p"), expr("doc_id div 4").cast("string")).as("prompt"),
          col("text").as("response"),
          (PortableHash.hash52(concat(did.cast("string"), lit(":sc"))) % 100)
            .as("score"))
      Corpus.unpairedPreferences(responses, "prompt_id", "prompt",
          "resp_id", "response", "score")
        .select(col("prompt_id"), col("resp_id"), col("score"),
          col("n_responses"), col("label"))
        .orderBy("resp_id")
    },

    // Politeness waves: per-host fetch budget per dispatch round, higher
    // authority fetches earlier, deterministic ties.
    q("q_x_crawl_waves", {
      val hPr = graft.llmops.PortableHash.duckHash52("url")
      "WITH fr AS (SELECT DISTINCT 'https://h' || (doc_id % 5) || '.example/p' || doc_id AS url FROM documents), " +
        s"fp AS (SELECT url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host, $hPr % 1000 AS pr FROM fr), " +
        "rn AS (SELECT url, host, row_number() OVER (PARTITION BY host ORDER BY pr DESC, url ASC) - 1 AS r FROM fp) " +
        "SELECT url, host, CAST(r // 7 AS BIGINT) AS wave, CAST(r % 7 AS BIGINT) AS slot FROM rn ORDER BY url"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val frontier = Tables.documents(s, d)
        .select(concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
          lit(".example/p"), col("doc_id").cast("string")).as("url"))
        .distinct()
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .withColumn("pr", PortableHash.hash52(col("url")) % 1000)
      TextAnalysis.crawlWaves(frontier, "url", "host", "pr",
          perHostPerWave = 7)
        .orderBy("url")
    },

    // Unigram-LM training over a MIXED-SCRIPT corpus with the
    // script-aware pre-tokenizer: two CJK paragraphs ride the corpus
    // (the sentence_chunks_cjk plants), scriptTokens hands the trainer
    // per-character units for the no-space scripts and whitespace words
    // for everything else — under wsTokens the CJK text would collapse
    // to one truncated sentence-"word" per line and train a degenerate
    // vocabulary. Same unrolled 2-round EM chain as q_x_unigram_vocab,
    // tokenization swapped; CJK singles AND multi-char pieces must
    // train hash-exact.
    q("q_x_unigram_vocab_cjk", {
      val ns = TextAnalysis.NoSpaceScriptRanges
      unigramChainSql(vocabSize = 100, rounds = 2, maxPieceLen = 3,
        maxWordLen = 12, seedCap = 200,
        prefixCtes = "cjkd AS (SELECT doc_id, CASE WHEN doc_id % 28 = 0 THEN '" +
          CjkPara0 + "' WHEN doc_id % 28 = 1 THEN '" + CjkPara1 +
          "' ELSE text END AS t FROM documents), ",
        wtokSrc = s"SELECT unnest(regexp_extract_all(t, '[$ns]|[^\\s$ns]+')) AS tok FROM cjkd") +
        " SELECT piece, CAST(length(piece) AS BIGINT) AS n_chars, cnt, nll AS nll_micro " +
        "FROM v2 ORDER BY cnt DESC, piece"
    }) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 28 === 0, lit(CjkPara0))
          .when(col("doc_id") % 28 === 1, lit(CjkPara1))
          .otherwise(col("text")).as("text"))
      graft.llmops.Unigram.unigramVocab(docs, "doc_id", "text",
        vocabSize = 100, rounds = 2, maxPieceLen = 3, maxWordLen = 12,
        seedCapFactor = 2, tokens = TextAnalysis.scriptTokens)
    },

    // Crawl-delay-aware politeness waves: per-host robots bodies carry
    // the de-facto Crawl-delay directive (a non-star group that must
    // not bind, two star groups where the MAX delay wins, a malformed
    // value that must drop, a host with no directive at all); budgets
    // derive as greatest(1, 8 div delay) and hosts without a delay ride
    // the default. The oracle replays the planted parse results and the
    // per-host variable-budget rank arithmetic value-exact.
    q("q_x_crawl_waves_delay", {
      val hPr = graft.llmops.PortableHash.duckHash52("url")
      "WITH fr AS (SELECT DISTINCT 'https://h' || (doc_id % 5) || '.example/p' || doc_id AS url FROM documents), " +
        s"fp AS (SELECT url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host, $hPr % 1000 AS pr FROM fr), " +
        // planted parse truth: h0 star-group delay 2 -> 8 div 2 = 4;
        // h1 max(3, 1) = 3 -> 2; h4 delay 10 -> clamp 1; h2 malformed
        // and h3 absent -> default 3
        "bud AS (SELECT host, CASE host WHEN 'h0.example' THEN 4 WHEN 'h1.example' THEN 2 " +
        "WHEN 'h4.example' THEN 1 ELSE 3 END AS b FROM (SELECT DISTINCT host FROM fp)), " +
        "rn AS (SELECT url, fp.host, b, row_number() OVER (PARTITION BY fp.host ORDER BY pr DESC, url ASC) - 1 AS r FROM fp JOIN bud USING (host)) " +
        "SELECT url, host, CAST(r // b AS BIGINT) AS wave, CAST(r % b AS BIGINT) AS slot FROM rn ORDER BY url"
    }) { (s, d) =>
      import graft.llmops.PortableHash
      val frontier = Tables.documents(s, d)
        .select(concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
          lit(".example/p"), col("doc_id").cast("string")).as("url"))
        .distinct()
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .withColumn("pr", PortableHash.hash52(col("url")) % 1000)
      val robots = frontier.select("host").distinct()
        .withColumn("txt",
          when(col("host") === "h0.example",
            lit("User-agent: evilbot\nCrawl-delay: 99\n\nUser-agent: *\nCrawl-delay: 2\n"))
          .when(col("host") === "h1.example",
            lit("User-agent: *\nCrawl-delay: 3\n\nUser-agent: *\nCrawl-delay: 1\n"))
          .when(col("host") === "h2.example",
            lit("User-agent: *\nCrawl-delay: soon\n"))
          .when(col("host") === "h3.example",
            lit("User-agent: *\nDisallow: /x\n"))
          .otherwise(lit("User-agent: *\nCrawl-delay: 10\n")))
      val budgets = TextAnalysis.robotsCrawlDelay(robots, "host", "txt")
        .select(col("host"),
          greatest(lit(1L), expr("8 div crawl_delay_secs")).as("per_wave"))
      TextAnalysis.crawlWavesBudget(frontier, "url", "host", "pr",
          budgets, defaultPerWave = 3)
        .orderBy("url")
    },

    // Megatron shards WITH intra-sequence document boundaries: four
    // documents pack into each training sequence (seq = doc_id div 4,
    // fragments in doc order), the writer emits one .bin entry per
    // FRAGMENT with the document index grouping them, and the reader
    // hands back (entry, doc group). The oracle recomputes every
    // fragment's (sequence, position-in-sequence, tokens) straight from
    // the table — a lost, merged or re-ordered boundary breaks the
    // position-sensitive checksum.
    q("q_x_token_bin_docs", {
      val tokH = graft.llmops.PortableHash.duckHash52("w") + " % 50000"
      val fragH = graft.llmops.PortableHash.duckHash52(
        "CAST(seq AS VARCHAR) || ':' || CAST(fragpos AS VARCHAR) || ':' || " +
          "array_to_string(list_transform(toks, x -> CAST(x AS VARCHAR)), ',')")
      s"WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> $tokH) AS toks FROM documents), " +
        "f AS (SELECT doc_id, doc_id // 4 AS seq, toks FROM t), " +
        "fi AS (SELECT seq, row_number() OVER (PARTITION BY seq ORDER BY doc_id) - 1 AS fragpos, toks FROM f) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_entries, " +
        "CAST(count(DISTINCT seq) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(toks)) AS BIGINT) AS n_tokens, " +
        "CAST(sum(list_sum(toks)) AS BIGINT) AS token_sum, " +
        s"CAST(bit_xor($fragH) AS BIGINT) AS frag_checksum FROM fi"
    }) { (s, d) =>
      import graft.ingest.TokenBin
      import graft.llmops.PortableHash
      val path = java.nio.file.Files
        .createTempDirectory("graft_tokenbin_docs").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      val perDoc = Tables.documents(s, d).select(col("doc_id"),
        transform(TextAnalysis.wsTokens(col("text")),
          w => PortableHash.hash52(w) % 50000).as("toks"))
      val packed = perDoc.groupBy(expr("doc_id div 4").as("seq"))
        .agg(array_sort(collect_list(struct(col("doc_id"), col("toks"))))
          .as("frs"))
        .select(col("seq"),
          flatten(transform(col("frs"), x => x("toks"))).as("tokens"),
          transform(col("frs"), x => size(x("toks")).cast("long")).as("frags"))
      TokenBin.write(packed, "seq", "tokens", path, shards = 4,
        fragsCol = "frags")
      val back = TokenBin.read(s, path)
      require(back.where(!col("ok")).isEmpty,
        "self-written fragment shards must parse cleanly")
      // shard s holds the seqs ≡ s (mod 4) ascending, so group g of
      // shard s is global sequence s + 4g (the interop recovery trick)
      val withSeq = back
        .withColumn("__shard",
          regexp_extract(col("path"), "part-(\\d{5})$", 1).cast("long"))
        .withColumn("__seq", col("__shard") + col("doc") * 4)
        .withColumn("__fragpos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("path", "doc").orderBy("seq_idx")).cast("long") - 1L)
      withSeq.select(
          size(col("tokens")).cast("long").as("__n"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("__ts"),
          PortableHash.hash52(concat(col("__seq").cast("string"), lit(":"),
            col("__fragpos").cast("string"), lit(":"),
            concat_ws(",", transform(col("tokens"), _.cast("string")))))
            .as("__h"),
          col("__seq"))
        .agg(count(lit(1)).as("n_entries"),
          countDistinct("__seq").as("n_docs"),
          sum("__n").as("n_tokens"), sum("__ts").as("token_sum"),
          expr("bit_xor(__h)").as("frag_checksum"))
    },

    // The tokenizer ARTIFACT table — exactly what ships in the exported
    // HF tokenizer.json: <unk> pinned at id 0, every trained piece at
    // its (cnt DESC, piece) rank, scores as the fixed 6-dp micro-grid
    // decimal string that lands verbatim in the file. The oracle replays
    // the full 2-round training chain and then the id assignment AND the
    // decimal formatting — a drifted rank, score or format character
    // breaks the hash, so the byte-pinned export spec and this oracle
    // together pin the file end to end.
    q("q_x_vocab_artifact", {
      unigramChainSql(vocabSize = 120, rounds = 2, maxPieceLen = 3,
        maxWordLen = 12, seedCap = 240) + " " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS id, '<unk>' AS piece, CAST(0 AS BIGINT) AS score_micro, '0.0' AS score_str " +
        "UNION ALL " +
        "SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS id, piece, " +
        "CAST(-nll AS BIGINT) AS score_micro, " +
        "CASE WHEN nll = 0 THEN '0.0' ELSE '-' || CAST(nll // 1000000 AS VARCHAR) || '.' || lpad(CAST(nll % 1000000 AS VARCHAR), 6, '0') END AS score_str " +
        "FROM v2) ORDER BY id"
    }) { (s, d) =>
      import graft.llmops.{Unigram, VocabArtifact}
      VocabArtifact.unigramArtifactTable(
          Unigram.unigramVocab(Tables.documents(s, d), "doc_id", "text",
            vocabSize = 120, rounds = 2, maxPieceLen = 3, maxWordLen = 12))
        .orderBy("id")
    },

    // SentencePiece ModelProto export→import (the Llama-lineage
    // envelope): train the unigram vocab, write the .model protobuf
    // (unk + 2 controls + 256 byte pieces + ranked pieces, float32
    // scores on the wire), read it back through the hand-rolled proto
    // walk. The oracle replays the trained chain AND the float32 score
    // quantization itself — both engines cast the micro score through
    // REAL — so the wire precision is part of the checked value, not an
    // excuse (exact for |score| < 16, the stated ulp bound).
    q("q_x_sp_model", {
      unigramChainSql(vocabSize = 120, rounds = 2, maxPieceLen = 3,
        maxWordLen = 12, seedCap = 240) + " " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS id, '<unk>' AS piece, CAST(0 AS BIGINT) AS nll_micro, true AS unk, false AS control, false AS byte " +
        "UNION ALL SELECT CAST(1 AS BIGINT), '<s>', CAST(0 AS BIGINT), false, true, false " +
        "UNION ALL SELECT CAST(2 AS BIGINT), '</s>', CAST(0 AS BIGINT), false, true, false " +
        "UNION ALL SELECT CAST(3 + i AS BIGINT), printf('<0x%02X>', CAST(i AS INT)), CAST(0 AS BIGINT), false, false, true " +
        "FROM (SELECT unnest(generate_series(0, 255)) AS i) " +
        "UNION ALL SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) + 258 AS BIGINT), piece, " +
        "CAST(round(-CAST(CAST(CAST(-nll AS DOUBLE) / 1000000 AS REAL) AS DOUBLE) * 1000000) AS BIGINT), " +
        "false, false, false FROM v2) ORDER BY id"
    }) { (s, d) =>
      import graft.llmops.{SpModel, Unigram}
      val vocab = Unigram.unigramVocab(Tables.documents(s, d), "doc_id",
        "text", vocabSize = 120, rounds = 2, maxPieceLen = 3, maxWordLen = 12)
      // per-invocation tempdir — a fixed path races concurrent harness
      // runs on one box (one run reading the other's half-written file)
      val path = java.nio.file.Files.createTempDirectory("graft_sp_model")
        .resolve("sp.model").toString
      SpModel.writeSpModel(vocab, path, controls = Seq("<s>", "</s>"),
        byteFallback = true)
      SpModel.readSpModel(s, path).orderBy("id")
    },

    // Reversible whitespace, proven as a LAW: train with the ▁-marked
    // Metaspace pre-tokenizer, Viterbi-segment every document, then
    // detokenize (concat pieces, ▁ → space, trim) — the reconstruction
    // must equal the whitespace-normalized original text, word for word.
    // The oracle computes the expected text STRAIGHT from the table
    // (independent of the tokenizer entirely): words truncate at
    // maxWordLen − 1 = 23 chars (the marker takes one slot — the
    // documented training cap), joined by single spaces. Any
    // segmentation or detokenization defect anywhere breaks a per-doc
    // md5.
    q("q_x_detokenize", {
      "SELECT doc_id AS doc, md5(array_to_string(list_transform(" +
        "regexp_split_to_array(trim(text), '\\s+'), w -> substr(w, 1, 23)), ' ')) AS restored_md5 " +
        "FROM documents ORDER BY doc_id"
    }) { (s, d) =>
      import graft.llmops.{Unigram, VocabArtifact}
      val docs = Tables.documents(s, d)
      val toks = VocabArtifact.metaspace()
      val vocab = Unigram.unigramVocab(docs, "doc_id", "text",
          vocabSize = 60, rounds = 1, maxPieceLen = 3, maxWordLen = 24,
          tokens = toks)
        .localCheckpoint(true)
      val seg = Unigram.segment(docs, "doc_id", "text", vocab,
        maxPieceLen = 3, maxWordLen = 24, tokens = toks)
      VocabArtifact.detokenize(seg)
        .select(col("id").as("doc"), md5(col("text")).as("restored_md5"))
        .orderBy("doc")
    },

    // Sitemap discovery from robots bodies: Sitemap lines bind GLOBALLY
    // (per spec — one declared inside some bot's group still counts,
    // unlike allow/disallow), case varies, comments strip, duplicates
    // collapse, the URL's own "https:" survives the directive strip.
    // The oracle replays the line/regexp chain value-exact over the same
    // planted bodies.
    q("q_x_robots_sitemaps", {
      val nl = " || chr(10) || "
      "WITH rb AS (SELECT 'h' || (doc_id % 4) || '.example' AS host, " +
        "CASE doc_id % 4 " +
        "WHEN 0 THEN 'User-agent: *'" + nl + "'Disallow: /x'" + nl + "'Sitemap: https://h0.example/sm.xml'" + nl + "'SITEMAP: https://h0.example/sm2.xml  # trailing comment' " +
        "WHEN 1 THEN 'Sitemap: https://h1.example/a.xml'" + nl + "'User-agent: bot'" + nl + "'Sitemap: https://h1.example/b.xml'" + nl + "'sitemap: https://h1.example/a.xml' " +
        "WHEN 2 THEN '# only comments'" + nl + "'User-agent: *'" + nl + "'Allow: /' " +
        "ELSE 'Sitemap:'" + nl + "'Sitemap: https://h3.example/only.xml' END AS txt " +
        "FROM documents WHERE doc_id < 4), " +
        "ln AS (SELECT host, unnest(str_split(txt, chr(10))) AS raw FROM rb), " +
        "cl AS (SELECT host, trim(regexp_replace(raw, '#.*$', '')) AS clean FROM ln), " +
        "sm AS (SELECT host, trim(regexp_replace(clean, '^[A-Za-z-]+:', '')) AS sitemap_url FROM cl WHERE regexp_matches(lower(clean), '^sitemap:')) " +
        "SELECT DISTINCT host, sitemap_url FROM sm WHERE sitemap_url <> '' ORDER BY host, sitemap_url"
    }) { (s, d) =>
      val nl = "\n"
      val robots = Tables.documents(s, d).filter(col("doc_id") < 4)
        .select(concat(lit("h"), (col("doc_id") % 4).cast("string"),
          lit(".example")).as("host"),
          when(col("doc_id") % 4 === 0,
            lit("User-agent: *" + nl + "Disallow: /x" + nl +
              "Sitemap: https://h0.example/sm.xml" + nl +
              "SITEMAP: https://h0.example/sm2.xml  # trailing comment"))
          .when(col("doc_id") % 4 === 1,
            lit("Sitemap: https://h1.example/a.xml" + nl + "User-agent: bot" +
              nl + "Sitemap: https://h1.example/b.xml" + nl +
              "sitemap: https://h1.example/a.xml"))
          .when(col("doc_id") % 4 === 2,
            lit("# only comments" + nl + "User-agent: *" + nl + "Allow: /"))
          .otherwise(lit("Sitemap:" + nl +
            "Sitemap: https://h3.example/only.xml")).as("txt"))
      TextAnalysis.robotsSitemaps(robots, "host", "txt")
        .orderBy("host", "sitemap_url")
    },

    // THE packed export, composed end to end: packSequences cuts the
    // global token stream into 128-token training sequences (documents
    // SPAN boundaries), each document's token array slices into its
    // fragments, and TokenBin writes the sequences with the REAL
    // Megatron document index — fragment entries grouped per sequence,
    // so attention-reset points survive into the shipped binary. The
    // oracle replays the prefix-sum packing, the per-fragment slices
    // and the read-back grouping into one position-sensitive checksum —
    // a fragment cut one token off, a boundary lost in the index, or a
    // shard byte defect all break it.
    q("q_x_packed_export", {
      val tokH = graft.llmops.PortableHash.duckHash52("w") + " % 50000"
      val fragH = graft.llmops.PortableHash.duckHash52(
        "CAST(seq AS VARCHAR) || ':' || CAST(fragpos AS VARCHAR) || ':' || " +
          "array_to_string(list_transform(ftoks, x -> CAST(x AS VARCHAR)), ',')")
      s"WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> $tokH) AS toks FROM documents), " +
        "d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t), " +
        "c AS (SELECT doc_id, toks, n, CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM d), " +
        "f AS (SELECT doc_id, toks, n, off, unnest(generate_series(off // 128, (off + n - 1) // 128)) AS seq FROM c WHERE n >= 1), " +
        "g AS (SELECT seq, greatest(off, seq * 128) - seq * 128 AS sis, " +
        "list_slice(toks, CAST(greatest(off, seq * 128) - off + 1 AS INT), CAST(least(off + n, (seq + 1) * 128) - off AS INT)) AS ftoks FROM f), " +
        "fi AS (SELECT seq, row_number() OVER (PARTITION BY seq ORDER BY sis) - 1 AS fragpos, ftoks FROM g) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_entries, " +
        "CAST(count(DISTINCT seq) AS BIGINT) AS n_seqs, " +
        "CAST(sum(len(ftoks)) AS BIGINT) AS n_tokens, " +
        "CAST(sum(list_sum(ftoks)) AS BIGINT) AS token_sum, " +
        s"CAST(bit_xor($fragH) AS BIGINT) AS frag_checksum FROM fi"
    }) { (s, d) =>
      import graft.ingest.TokenBin
      import graft.llmops.{Corpus, PortableHash}
      val path = java.nio.file.Files
        .createTempDirectory("graft_packed_export").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      val perDoc = Tables.documents(s, d).select(col("doc_id"),
          transform(TextAnalysis.wsTokens(col("text")),
            w => PortableHash.hash52(w) % 50000).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
      val frags = Corpus.packSequences(perDoc, col("doc_id"),
        col("n_tokens"), seqLen = 128L, groupSize = 100L)
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("seq")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val packed = frags
        .withColumn("__doc_off",
          coalesce(sum("n_seq_tokens").over(wDoc), lit(0L)))
        .withColumn("frag_toks", slice(col("toks"),
          (col("__doc_off") + 1).cast("int"), col("n_seq_tokens").cast("int")))
        .groupBy("seq")
        .agg(array_sort(collect_list(struct(col("start_in_seq"),
          col("frag_toks")))).as("frs"))
        .select(col("seq"),
          flatten(transform(col("frs"), x => x("frag_toks"))).as("tokens"),
          transform(col("frs"), x => size(x("frag_toks")).cast("long")).as("frags"))
      TokenBin.write(packed, "seq", "tokens", path, shards = 4,
        fragsCol = "frags")
      val back = TokenBin.read(s, path)
      require(back.where(!col("ok")).isEmpty,
        "self-written packed shards must parse cleanly")
      val withSeq = back
        .withColumn("__shard",
          regexp_extract(col("path"), "part-(\\d{5})$", 1).cast("long"))
        .withColumn("__seq", col("__shard") + col("doc") * 4)
        .withColumn("__fragpos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("path", "doc").orderBy("seq_idx")).cast("long") - 1L)
      withSeq.select(
          size(col("tokens")).cast("long").as("__n"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("__ts"),
          PortableHash.hash52(concat(col("__seq").cast("string"), lit(":"),
            col("__fragpos").cast("string"), lit(":"),
            concat_ws(",", transform(col("tokens"), _.cast("string")))))
            .as("__h"),
          col("__seq"))
        .agg(count(lit(1)).as("n_entries"),
          countDistinct("__seq").as("n_seqs"),
          sum("__n").as("n_tokens"), sum("__ts").as("token_sum"),
          expr("bit_xor(__h)").as("frag_checksum"))
    },

    // Sitemap XML parsing — the fetch step after q_x_robots_sitemaps'
    // discovery: planted bodies exercise urlset entries (entities incl.
    // the &amp;-last decode-order law, lastmod, whitespace), a
    // sitemapindex with a CDATA loc, an HTML error page (zero rows, the
    // degrade contract), loc-less/empty-loc invalid entries (drop), a
    // space-attributed <url > tag, and (r15) a namespace-PREFIXED feed
    // (<sm:url>/<sm:loc>) that must parse identically to the default-
    // namespace form. The oracle replays the block/child regex chain
    // (incl. the optional-prefix groups), CDATA unwrap, entity decode
    // and null-ing value-exact.
    q("q_x_sitemap_parse", {
      val nl = " || chr(10) || "
      "WITH sb AS (SELECT 'https://h' || (doc_id % 6) || '.example/sitemap.xml' AS sitemap_url, " +
        "CASE doc_id % 6 " +
        "WHEN 0 THEN '<?xml version=\"1.0\" encoding=\"UTF-8\"?>'" + nl +
        "'<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">'" + nl +
        "'<url><loc>https://h0.example/a?x=1&amp;y=2</loc><lastmod>2026-01-15</lastmod></url>'" + nl +
        "'<url>'" + nl + "'  <loc> https://h0.example/b </loc>'" + nl +
        "'  <changefreq>daily</changefreq>'" + nl + "'</url>'" + nl + "'</urlset>' " +
        "WHEN 1 THEN '<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">'" + nl +
        "'<sitemap><loc><![CDATA[https://h1.example/sm1.xml]]></loc><lastmod>2026-02-01T08:00:00Z</lastmod></sitemap>'" + nl +
        "'<sitemap><loc>https://h1.example/sm2.xml</loc></sitemap>'" + nl + "'</sitemapindex>' " +
        "WHEN 2 THEN '<html><body>404 not found</body></html>' " +
        "WHEN 3 THEN '<urlset><url><lastmod>2026-01-01</lastmod></url><url><loc></loc></url>" +
        "<url><loc>https://h3.example/it&apos;s</loc></url></urlset>' " +
        "WHEN 4 THEN '<urlset>'" + nl +
        "'<url ><loc>https://h4.example/p?q=&amp;lt;tag&amp;gt;</loc><lastmod>  </lastmod></url>'" + nl +
        "'</urlset>' " +
        "ELSE '<sm:urlset xmlns:sm=\"http://www.sitemaps.org/schemas/sitemap/0.9\">'" + nl +
        "'<sm:url><sm:loc>https://h5.example/ns1</sm:loc><sm:lastmod>2026-03-01</sm:lastmod></sm:url>'" + nl +
        "'<sm:url><sm:loc> https://h5.example/ns2 </sm:loc></sm:url>'" + nl +
        "'</sm:urlset>' END AS body FROM documents WHERE doc_id < 6), " +
        "e AS (SELECT sitemap_url, 'url' AS kind, unnest(regexp_extract_all(body, '(?s)<(?:[A-Za-z0-9_.-]+:)?url(?:\\s[^>]*)?>(.*?)</(?:[A-Za-z0-9_.-]+:)?url>', 1)) AS block FROM sb " +
        "UNION ALL SELECT sitemap_url, 'sitemap' AS kind, unnest(regexp_extract_all(body, '(?s)<(?:[A-Za-z0-9_.-]+:)?sitemap(?:\\s[^>]*)?>(.*?)</(?:[A-Za-z0-9_.-]+:)?sitemap>', 1)) AS block FROM sb), " +
        "l AS (SELECT sitemap_url, kind, trim(regexp_extract(block, '(?s)<(?:[A-Za-z0-9_.-]+:)?loc(?:\\s[^>]*)?>(.*?)</(?:[A-Za-z0-9_.-]+:)?loc>', 1)) AS rawloc, " +
        "trim(regexp_extract(block, '(?s)<(?:[A-Za-z0-9_.-]+:)?lastmod(?:\\s[^>]*)?>(.*?)</(?:[A-Za-z0-9_.-]+:)?lastmod>', 1)) AS lm FROM e), " +
        "c AS (SELECT sitemap_url, kind, CASE WHEN rawloc LIKE '<![CDATA[%' AND rawloc LIKE '%]]>' AND length(rawloc) >= 12 " +
        "THEN trim(substr(rawloc, 10, length(rawloc) - 12)) ELSE rawloc END AS l1, lm FROM l), " +
        "d AS (SELECT sitemap_url, kind, replace(replace(replace(replace(replace(l1, '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&apos;', chr(39)), '&amp;', '&') AS loc, " +
        "CASE WHEN lm = '' THEN NULL ELSE lm END AS lastmod FROM c) " +
        "SELECT sitemap_url, kind, loc, lastmod FROM d WHERE loc <> '' " +
        "ORDER BY sitemap_url, kind, loc"
    }) { (s, d) =>
      val nl = "\n"
      val bodies = Tables.documents(s, d).filter(col("doc_id") < 6)
        .select(concat(lit("https://h"), (col("doc_id") % 6).cast("string"),
          lit(".example/sitemap.xml")).as("sitemap_url"),
          when(col("doc_id") % 6 === 0, lit(
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" + nl +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" + nl +
            "<url><loc>https://h0.example/a?x=1&amp;y=2</loc><lastmod>2026-01-15</lastmod></url>" + nl +
            "<url>" + nl + "  <loc> https://h0.example/b </loc>" + nl +
            "  <changefreq>daily</changefreq>" + nl + "</url>" + nl + "</urlset>"))
          .when(col("doc_id") % 6 === 1, lit(
            "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" + nl +
            "<sitemap><loc><![CDATA[https://h1.example/sm1.xml]]></loc><lastmod>2026-02-01T08:00:00Z</lastmod></sitemap>" + nl +
            "<sitemap><loc>https://h1.example/sm2.xml</loc></sitemap>" + nl +
            "</sitemapindex>"))
          .when(col("doc_id") % 6 === 2,
            lit("<html><body>404 not found</body></html>"))
          .when(col("doc_id") % 6 === 3, lit(
            "<urlset><url><lastmod>2026-01-01</lastmod></url><url><loc></loc></url>" +
            "<url><loc>https://h3.example/it&apos;s</loc></url></urlset>"))
          .when(col("doc_id") % 6 === 4, lit("<urlset>" + nl +
            "<url ><loc>https://h4.example/p?q=&amp;lt;tag&amp;gt;</loc><lastmod>  </lastmod></url>" + nl +
            "</urlset>"))
          .otherwise(lit(
            "<sm:urlset xmlns:sm=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" + nl +
            "<sm:url><sm:loc>https://h5.example/ns1</sm:loc><sm:lastmod>2026-03-01</sm:lastmod></sm:url>" + nl +
            "<sm:url><sm:loc> https://h5.example/ns2 </sm:loc></sm:url>" + nl +
            "</sm:urlset>")).as("body"))
      TextAnalysis.parseSitemaps(bodies, "sitemap_url", "body")
        .orderBy("sitemap_url", "kind", "loc")
    },

    // Control tokens in the tokenizer artifact: <s>/</s> reserve ids 1/2
    // (the SP-converted-tokenizer convention), every trained piece's id
    // SHIFTS by the control count, scores still on the exact micro-grid.
    // The oracle replays the full 1-round training chain plus the shifted
    // rank and the three reserved rows — a control misplaced or a rank
    // off by one breaks the hash.
    q("q_x_vocab_controls", {
      unigramChainSql(vocabSize = 60, rounds = 1, maxPieceLen = 3,
        maxWordLen = 12, seedCap = 120) + " " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS id, '<unk>' AS piece, CAST(0 AS BIGINT) AS score_micro, '0.0' AS score_str " +
        "UNION ALL SELECT CAST(1 AS BIGINT) AS id, '<s>' AS piece, CAST(0 AS BIGINT) AS score_micro, '0.0' AS score_str " +
        "UNION ALL SELECT CAST(2 AS BIGINT) AS id, '</s>' AS piece, CAST(0 AS BIGINT) AS score_micro, '0.0' AS score_str " +
        "UNION ALL " +
        "SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) + 2 AS BIGINT) AS id, piece, " +
        "CAST(-nll AS BIGINT) AS score_micro, " +
        "CASE WHEN nll = 0 THEN '0.0' ELSE '-' || CAST(nll // 1000000 AS VARCHAR) || '.' || lpad(CAST(nll % 1000000 AS VARCHAR), 6, '0') END AS score_str " +
        "FROM v1) ORDER BY id"
    }) { (s, d) =>
      import graft.llmops.{Unigram, VocabArtifact}
      VocabArtifact.unigramArtifactTable(
          Unigram.unigramVocab(Tables.documents(s, d), "doc_id", "text",
            vocabSize = 60, rounds = 1, maxPieceLen = 3, maxWordLen = 12),
          controls = Seq("<s>", "</s>"))
        .orderBy("id")
    },

    // EOD-terminated Megatron export — the control convention applied to
    // the binary hand-off: content ids start at 3 (unk 0, <s> 1, </s> 2),
    // every document's stream terminates with the </s> id BEFORE packing,
    // so the eod marker rides the packed sequences and the fragment
    // document index agrees with it. The oracle recomputes the whole
    // chain from the table — append, prefix-sum pack, fragment slices,
    // position-sensitive checksum, and the eod COUNT (= exactly one per
    // document, n_eod = n_docs by construction).
    q("q_x_eod_export", {
      val tokH = "(" + graft.llmops.PortableHash.duckHash52("w") + " % 50000) + 3"
      val fragH = graft.llmops.PortableHash.duckHash52(
        "CAST(seq AS VARCHAR) || ':' || CAST(fragpos AS VARCHAR) || ':' || " +
          "array_to_string(list_transform(ftoks, x -> CAST(x AS VARCHAR)), ',')")
      s"WITH t AS (SELECT doc_id, list_append(list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> $tokH), CAST(2 AS BIGINT)) AS toks FROM documents), " +
        "d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t), " +
        "c AS (SELECT doc_id, toks, n, CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM d), " +
        "f AS (SELECT doc_id, toks, n, off, unnest(generate_series(off // 128, (off + n - 1) // 128)) AS seq FROM c WHERE n >= 1), " +
        "g AS (SELECT seq, greatest(off, seq * 128) - seq * 128 AS sis, " +
        "list_slice(toks, CAST(greatest(off, seq * 128) - off + 1 AS INT), CAST(least(off + n, (seq + 1) * 128) - off AS INT)) AS ftoks FROM f), " +
        "fi AS (SELECT seq, row_number() OVER (PARTITION BY seq ORDER BY sis) - 1 AS fragpos, ftoks FROM g) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_entries, " +
        "CAST(count(DISTINCT seq) AS BIGINT) AS n_seqs, " +
        "CAST(sum(len(ftoks)) AS BIGINT) AS n_tokens, " +
        "CAST(sum(list_sum(ftoks)) AS BIGINT) AS token_sum, " +
        "CAST(sum(len(list_filter(ftoks, x -> x = 2))) AS BIGINT) AS n_eod, " +
        s"CAST(bit_xor($fragH) AS BIGINT) AS frag_checksum FROM fi"
    }) { (s, d) =>
      import graft.ingest.TokenBin
      import graft.llmops.{Corpus, PortableHash}
      val path = java.nio.file.Files
        .createTempDirectory("graft_eod_export").toString
      val out = new org.apache.hadoop.fs.Path(path)
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      // content ids start at 3: unk=0, <s>=1, </s>=2 — the
      // q_x_vocab_controls id convention; </s> terminates every doc
      val perDoc = Tables.documents(s, d).select(col("doc_id"),
          concat(transform(TextAnalysis.wsTokens(col("text")),
            w => PortableHash.hash52(w) % 50000 + 3L),
            array(lit(2L))).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
      val frags = Corpus.packSequences(perDoc, col("doc_id"),
        col("n_tokens"), seqLen = 128L, groupSize = 100L)
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("seq")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val packed = frags
        .withColumn("__doc_off",
          coalesce(sum("n_seq_tokens").over(wDoc), lit(0L)))
        .withColumn("frag_toks", slice(col("toks"),
          (col("__doc_off") + 1).cast("int"), col("n_seq_tokens").cast("int")))
        .groupBy("seq")
        .agg(array_sort(collect_list(struct(col("start_in_seq"),
          col("frag_toks")))).as("frs"))
        .select(col("seq"),
          flatten(transform(col("frs"), x => x("frag_toks"))).as("tokens"),
          transform(col("frs"), x => size(x("frag_toks")).cast("long")).as("frags"))
      TokenBin.write(packed, "seq", "tokens", path, shards = 4,
        fragsCol = "frags")
      val back = TokenBin.read(s, path)
      require(back.where(!col("ok")).isEmpty,
        "self-written eod shards must parse cleanly")
      val withSeq = back
        .withColumn("__shard",
          regexp_extract(col("path"), "part-(\\d{5})$", 1).cast("long"))
        .withColumn("__seq", col("__shard") + col("doc") * 4)
        .withColumn("__fragpos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("path", "doc").orderBy("seq_idx")).cast("long") - 1L)
      withSeq.select(
          size(col("tokens")).cast("long").as("__n"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("__ts"),
          size(filter(col("tokens"), x => x === 2L)).cast("long").as("__ne"),
          PortableHash.hash52(concat(col("__seq").cast("string"), lit(":"),
            col("__fragpos").cast("string"), lit(":"),
            concat_ws(",", transform(col("tokens"), _.cast("string")))))
            .as("__h"),
          col("__seq"))
        .agg(count(lit(1)).as("n_entries"),
          countDistinct("__seq").as("n_seqs"),
          sum("__n").as("n_tokens"), sum("__ts").as("token_sum"),
          sum("__ne").as("n_eod"),
          expr("bit_xor(__h)").as("frag_checksum"))
    },

    // DSIR importance resampling (Xie et al. 2023): target = every 7th
    // document, raw = the rest; hashed uni+bigram bag models on 4096
    // buckets, add-1-smoothed micro-grid log-probs, per-doc log
    // importance weights, Gumbel-top-40 selection with seeded-hash
    // uniforms. The oracle replays EVERY stage — gram hash, dense
    // smoothing, integer weight sum, the double-ln Gumbel on the grid,
    // and the (key, id) order — value-exact.
    q("q_x_dsir", {
      val B = 4096
      val gH = "(" + graft.llmops.PortableHash.duckHash52("gram") + s") % $B"
      val uH = "(" + graft.llmops.PortableHash.duckHash52(
        "'dsir:' || CAST(id AS VARCHAR)") + ") % 16777216"
      val grams = "list_concat(toks, list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]))"
      s"WITH tt AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents WHERE doc_id % 7 = 0), " +
        s"rr AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents WHERE doc_id % 7 <> 0), " +
        s"tg AS (SELECT id, unnest($grams) AS gram FROM tt), " +
        s"rg AS (SELECT id, unnest($grams) AS gram FROM rr), " +
        s"tc AS (SELECT $gH AS bucket, CAST(count(*) AS BIGINT) AS cnt FROM tg GROUP BY 1), " +
        s"rcb AS (SELECT id, $gH AS bucket, CAST(count(*) AS BIGINT) AS cnt FROM rg GROUP BY 1, 2), " +
        "rc AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM rcb GROUP BY 1), " +
        s"bk AS (SELECT unnest(generate_series(0, $B - 1)) AS bucket), " +
        s"tp AS (SELECT bk.bucket, CAST(round(ln(CAST(coalesce(tc.cnt, 0) + 1 AS DOUBLE) / CAST(t2.t + $B AS DOUBLE)) * 1000000) AS BIGINT) AS lt " +
        "FROM bk LEFT JOIN tc USING (bucket) CROSS JOIN (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t FROM tc) t2), " +
        s"rp AS (SELECT bk.bucket, CAST(round(ln(CAST(coalesce(rc.cnt, 0) + 1 AS DOUBLE) / CAST(r2.t + $B AS DOUBLE)) * 1000000) AS BIGINT) AS lr " +
        "FROM bk LEFT JOIN rc USING (bucket) CROSS JOIN (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t FROM rc) r2), " +
        "dl AS (SELECT bucket, lt - lr AS delta FROM tp JOIN rp USING (bucket)), " +
        "w AS (SELECT id, CAST(sum(cnt * delta) AS BIGINT) AS logw_micro FROM rcb JOIN dl USING (bucket) GROUP BY id), " +
        s"g AS (SELECT id, logw_micro, logw_micro + CAST(round(-ln(-ln(($uH + 0.5) / 16777216.0)) * 1000000) AS BIGINT) AS key_micro FROM w) " +
        "SELECT id, logw_micro, key_micro FROM g ORDER BY key_micro DESC, id LIMIT 40"
    }) { (s, d) =>
      import graft.llmops.Dsir
      val docs = Tables.documents(s, d)
      val target = docs.filter(col("doc_id") % 7 === 0)
      val raw = docs.filter(col("doc_id") % 7 =!= 0)
      // rCounts feeds BOTH the raw bag model and the weight sum — one
      // materialization (the packSequences two-consumer rule)
      val rCounts = Dsir.hashedNgramCounts(raw, "doc_id", "text", 4096)
        .localCheckpoint(true)
      // tCounts has two consumers inside bucketLogProbs (per-bucket counts
      // AND the broadcast total) — without the barrier the target corpus
      // was tokenized twice (profiled: two ~0.85 s map stages).
      val tCounts = Dsir.hashedNgramCounts(target, "doc_id", "text", 4096)
        .localCheckpoint(true)
      val w = Dsir.dsirLogWeights(rCounts,
        Dsir.bucketLogProbs(tCounts, 4096),
        Dsir.bucketLogProbs(rCounts, 4096))
      Dsir.dsirSample(w, 40, "dsir")
        .orderBy(col("key_micro").desc, col("id"))
    },

    // ARPA bigram backoff LM artifact (absolute discounting D=0.75,
    // add-1 unigrams over V+1 outcomes incl. <unk>): counts, the
    // context-count denominators, discount + backoff-weight arithmetic
    // and the micro-grid log10 quantization all replayed value-exact.
    q("q_x_arpa_lm",
      arpaChainSql("") +
        " SELECT * FROM (" +
        "SELECT 1 AS n, up.w AS gram, up.nll AS nll10_micro, coalesce(b.bow, CAST(0 AS BIGINT)) AS bow10_micro FROM up LEFT JOIN bows b ON up.w = b.w1 " +
        "UNION ALL SELECT 2 AS n, w1 || ' ' || w2 AS gram, nll AS nll10_micro, CAST(NULL AS BIGINT) AS bow10_micro FROM bm) " +
        "ORDER BY n, CASE WHEN n = 1 AND gram = '<unk>' THEN 0 ELSE 1 END, gram") { (s, d) =>
      graft.llmops.LmArtifact.arpaTable(Tables.documents(s, d), "text")
    },

    // Backoff scoring under the artifact: model trained on even doc_ids,
    // odd docs scored — real OOV targets (mapped to <unk>) and unseen
    // pairs (the bow(w1) + P_uni(w2) path) guaranteed; per-doc totals
    // are exact BIGINT sums of the stored micro values.
    q("q_x_arpa_score",
      arpaChainSql("WHERE doc_id % 2 = 0") +
        ", t2 AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents WHERE doc_id % 2 = 1), " +
        "pr AS (SELECT doc_id AS doc, toks[i] AS r1, toks[i+1] AS r2 FROM t2, unnest(generate_series(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 2), " +
        "mp AS (SELECT doc, CASE WHEN c1.w IS NULL THEN '<unk>' ELSE r1 END AS w1, " +
        "CASE WHEN c2.w IS NULL THEN '<unk>' ELSE r2 END AS w2, " +
        "CASE WHEN c2.w IS NULL THEN 1 ELSE 0 END AS oov FROM pr " +
        "LEFT JOIN cu c1 ON pr.r1 = c1.w LEFT JOIN cu c2 ON pr.r2 = c2.w), " +
        "sc AS (SELECT doc, oov, bm.nll AS b_nll, up2.nll AS u2, coalesce(bw.bow, CAST(0 AS BIGINT)) AS bow FROM mp " +
        "LEFT JOIN bm ON mp.w1 = bm.w1 AND mp.w2 = bm.w2 " +
        "JOIN up up2 ON mp.w2 = up2.w LEFT JOIN bows bw ON mp.w1 = bw.w1) " +
        "SELECT doc, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "CAST(sum(CASE WHEN b_nll IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff, " +
        "CAST(sum(coalesce(b_nll, u2 - bow)) AS BIGINT) AS sum_nll10_micro " +
        "FROM sc GROUP BY doc ORDER BY doc") { (s, d) =>
      import graft.llmops.LmArtifact
      val docs = Tables.documents(s, d)
      // the lm table feeds three scoring joins — one materialization
      // (the packSequences two-consumer rule).
      val lm = LmArtifact.arpaTable(docs.filter(col("doc_id") % 2 === 0), "text")
        .localCheckpoint(true)
      LmArtifact.arpaScore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", lm)
        .orderBy("doc")
    },

    // Byte-fallback segmentation (the SentencePiece byte_fallback /
    // Llama convention): a planted FOREIGN vocab missing every accented
    // and CJK single char serves planted multi-script text — uncovered
    // chars emit their UTF-8 bytes as <0xXX> pieces, covered neighbors
    // keep their own learned pieces (the per-char unk-cost law), and an
    // all-OOV word still segments (the left-join law). The oracle
    // replays the serving DP with the byte-fallback cost model (k=1
    // miss = 1e10, k>1 miss = 1e12) and the hex expansion value-exact.
    q("q_x_byte_fallback", {
      val vocabVals = ByteFallbackVocab
        .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
      def fwdOpt(k: Int) = {
        val miss = if (k == 1) "10000000000" else "1000000000000"
        s"CASE WHEN b[1] - $k >= 0 THEN a[CAST(b[1] - $k + 1 AS INT)] + " +
          s"coalesce(m[substr(w, CAST(b[1] - $k + 1 AS INT), $k)][1], $miss) ELSE 1000000000000 END"
      }
      val fwd = (1 to 3).map(fwdOpt).mkString("least(", ", ", ")")
      def bckCond(k: Int) = {
        val miss = if (k == 1) "10000000000" else "1000000000000"
        s"a[len(a)] - $k >= 0 AND costs[CAST(a[len(a)] - $k + 1 AS INT)] + " +
          s"coalesce(m[substr(w, CAST(a[len(a)] - $k + 1 AS INT), $k)][1], $miss) = " +
          "costs[CAST(a[len(a)] + 1 AS INT)]"
      }
      val chosen = (1 to 3)
        .map(k => s"WHEN ${bckCond(k)} THEN $k").mkString("CASE ", " ", " ELSE 1 END")
      val bytes = "list_transform(generate_series(1, length(hex(encode(p))) - 1, 2), " +
        "j -> '<0x' || substr(hex(encode(p)), CAST(j AS INT), 2) || '>')"
      "WITH src AS (SELECT doc_id AS id, CASE doc_id % 4 " +
        "WHEN 0 THEN 'hello world' WHEN 1 THEN 'héllo wörld' " +
        "WHEN 2 THEN '你好 世界' ELSE 'mix café ok x你x' END AS text " +
        "FROM documents WHERE doc_id < 4), " +
        s"v AS (SELECT * FROM (VALUES $vocabVals) t(piece, nll)), " +
        "tt AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM src), " +
        "tok AS (SELECT id, CAST(i - 1 AS BIGINT) AS word_idx, substr(toks[i], 1, 12) AS w " +
        "FROM tt, unnest(generate_series(1, len(toks))) AS u(i) WHERE length(substr(toks[i], 1, 12)) >= 1), " +
        "words AS (SELECT DISTINCT w, CAST(length(w) AS BIGINT) AS n FROM tok), " +
        "subs1 AS (SELECT w, n, unnest(generate_series(1, CAST(n AS INT))) AS p FROM words), " +
        "dsubs AS (SELECT DISTINCT w, substr(w, CAST(p AS INT), CAST(k AS INT)) AS piece FROM " +
        "(SELECT w, p, unnest(generate_series(1, CAST(least(3, n - p + 1) AS INT))) AS k FROM subs1)), " +
        "cand AS (SELECT dsubs.w, dsubs.piece, v.nll FROM dsubs JOIN v USING (piece)), " +
        "wm AS MATERIALIZED (SELECT w, map_from_entries(list(struct_pack(k := piece, v := CAST(nll AS BIGINT)))) AS m FROM cand GROUP BY w), " +
        "seg AS MATERIALIZED (SELECT wo.w, wo.n, wm.m, " +
        "list_reduce(list_prepend([CAST(0 AS BIGINT)], list_transform(generate_series(1, CAST(wo.n AS INT)), i -> [CAST(i AS BIGINT)])), " +
        s"(a, b) -> list_append(a, $fwd)) AS costs " +
        "FROM words wo LEFT JOIN wm USING (w)), " +
        "wp AS MATERIALIZED (SELECT w, m, " +
        "list_reduce(list_prepend([n], list_transform(generate_series(1, CAST(n AS INT)), i -> [CAST(0 AS BIGINT)])), " +
        s"(a, b) -> list_append(a, CASE WHEN a[len(a)] = 0 THEN 0 ELSE a[len(a)] - ($chosen) END)) AS wp " +
        "FROM seg), " +
        "walk AS (SELECT w, m, list_filter(list_transform(generate_series(1, len(wp) - 1), " +
        "i -> substr(w, CAST(wp[i+1] + 1 AS INT), CAST(wp[i] - wp[i+1] AS INT))), x -> length(x) >= 1) AS ps " +
        "FROM wp), " +
        "exp AS (SELECT w, flatten(list_transform(list_reverse(ps), " +
        s"p -> CASE WHEN m[p][1] IS NOT NULL THEN [p] ELSE $bytes END)) AS pieces FROM walk) " +
        "SELECT t.id, t.word_idx, CAST(j - 1 AS BIGINT) AS piece_idx, e.pieces[j] AS piece " +
        "FROM tok t JOIN exp e USING (w), unnest(generate_series(1, len(e.pieces))) AS u(j) " +
        "ORDER BY id, word_idx, piece_idx"
    }) { (s, d) =>
      import s.implicits._
      import graft.llmops.Unigram
      val docs = Tables.documents(s, d).filter(col("doc_id") < 4)
        .select(col("doc_id").as("id"),
          when(col("doc_id") % 4 === 0, lit("hello world"))
            .when(col("doc_id") % 4 === 1, lit("héllo wörld"))
            .when(col("doc_id") % 4 === 2, lit("你好 世界"))
            .otherwise(lit("mix café ok x你x")).as("text"))
      val vocab = ByteFallbackVocab.toSeq.toDF("piece", "nll")
      Unigram.segment(docs, "id", "text", vocab, maxPieceLen = 3,
          byteFallback = true)
        .orderBy("id", "word_idx", "piece_idx")
    },

    // Span-level benchmark decontamination — the yield-preserving rule:
    // verbatim spans the train side (even doc_ids) shares with the bench
    // suite (odd) are EXCISED, the document ships; replay = the cross-
    // side span chain (joint ubiquity cap) + covered-position scrub +
    // position-ordered reassembly, value-exact per document.
    q("q_x_decon_spans",
      "WITH " + substringCoolSql + ", " +
        "seeds2 AS (SELECT b.doc_id AS ba, c.doc_id AS ca, b.p AS pa, c.p AS pb FROM cool b JOIN cool c ON b.fp = c.fp AND b.doc_id % 2 = 0 AND c.doc_id % 2 = 1), " +
        "runs2 AS (SELECT ba, ca, pa - pb AS diag, pa, pb, pa - row_number() OVER (PARTITION BY ba, ca, pa - pb ORDER BY pa) AS isl FROM seeds2), " +
        "spans2 AS (SELECT ba, min(pa) - 1 AS b_start, max(pa) - min(pa) + 8 AS span_tokens FROM runs2 GROUP BY ba, ca, diag, isl HAVING max(pa) - min(pa) + 8 >= 12), " +
        "cov AS (SELECT DISTINCT doc, pos FROM (SELECT ba AS doc, b_start + unnest(generate_series(0, span_tokens - 1)) AS pos FROM spans2)), " +
        "pos2 AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i FROM t WHERE doc_id % 2 = 0), " +
        "tk AS (SELECT p.doc_id AS doc, CAST(p.i - 1 AS BIGINT) AS pos, t.toks[p.i] AS tok FROM pos2 p JOIN t ON t.doc_id = p.doc_id), " +
        "kp AS (SELECT tk.doc, tk.pos, tk.tok FROM tk WHERE NOT EXISTS (SELECT 1 FROM cov WHERE cov.doc = tk.doc AND cov.pos = tk.pos)), " +
        "rb AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_kept, md5(string_agg(tok, ' ' ORDER BY pos)) AS cmd5 FROM kp GROUP BY 1) " +
        "SELECT t.doc_id AS doc, coalesce(rb.n_kept, 0) AS n_kept, " +
        "CAST(len(t.toks) AS BIGINT) - coalesce(rb.n_kept, 0) AS n_removed, " +
        "coalesce(rb.cmd5, md5('')) AS clean_md5 " +
        "FROM t LEFT JOIN rb ON rb.doc = t.doc_id WHERE t.doc_id % 2 = 0 ORDER BY doc") { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminateSpans(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", width = 8, minTokens = 12, maxFpFreq = 128)
        .select(col("doc"), col("n_kept"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc")
    },

    // GRPO group-relative advantages: per-prompt reward normalization
    // with exact integer moments (d = n*r - S; n^2*sigma^2 = n*Q - S^2 in
    // DECIMAL) — only the final divide-by-sqrt is float, rounded 6. The
    // planted micro rewards make every group non-degenerate except
    // prompt 0 (all-equal -> adv 0, the stated rule).
    q("q_x_group_advantages",
      "WITH r AS (SELECT doc_id % 40 AS prompt_id, doc_id AS resp_id, " +
        "CASE WHEN doc_id % 40 = 0 THEN 250000 ELSE (doc_id * 7919) % 1000000 END AS reward_micro " +
        "FROM documents), " +
        "g AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(reward_micro) AS BIGINT) AS s, " +
        "sum(CAST(reward_micro AS HUGEINT) * CAST(reward_micro AS HUGEINT)) AS q FROM r GROUP BY 1) " +
        "SELECT r.prompt_id, r.resp_id, CAST(r.reward_micro AS BIGINT) AS reward_micro, g.n AS n_group, " +
        "CAST(g.n * r.reward_micro - g.s AS BIGINT) AS d_micro, " +
        "CASE WHEN g.n * g.q - CAST(g.s AS HUGEINT) * g.s = 0 THEN 0.0 " +
        "ELSE round((g.n * r.reward_micro - g.s) / sqrt(CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s AS DOUBLE)), 6) END AS adv " +
        "FROM r JOIN g USING (prompt_id) ORDER BY prompt_id, resp_id") { (s, d) =>
      val resp = Tables.documents(s, d).select(
        (col("doc_id") % 40).as("prompt_id"),
        col("doc_id").as("resp_id"),
        when(col("doc_id") % 40 === 0, lit(250000L))
          .otherwise((col("doc_id") * 7919) % 1000000).as("reward_micro"))
      Corpus.groupAdvantages(resp, "prompt_id", "resp_id", "reward_micro")
        .orderBy("prompt_id", "resp_id")
    },

    // C4 banned-term content filter: token-exact word AND multi-word
    // phrase matching (overlapping occurrences each count), counts as
    // the governance record. The blocklist mixes lengths 1/2/3 plus a
    // never-matching phrase; the oracle replays the per-length shingle
    // join value-exact.
    q("q_x_term_blocklist", {
      val terms = TermBlocklistFixture.map(s => s"('$s')").mkString(", ")
      s"WITH bl AS (SELECT * FROM (VALUES $terms) v(term)), " +
        "tn AS (SELECT lower(trim(term)) AS term, len(regexp_split_to_array(lower(trim(term)), '\\s+')) AS n FROM bl WHERE length(trim(term)) >= 1), " +
        "t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "ns AS (SELECT DISTINCT n FROM tn), " +
        "sh AS (SELECT t.doc_id, ns.n, array_to_string(list_slice(t.toks, i, i + ns.n - 1), ' ') AS g " +
        "FROM t CROSS JOIN ns, unnest(generate_series(1, len(t.toks) - ns.n + 1)) AS u(i) WHERE len(t.toks) >= ns.n), " +
        "h AS (SELECT sh.doc_id, sh.g FROM sh JOIN tn ON sh.g = tn.term AND sh.n = tn.n), " +
        "p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits, CAST(count(DISTINCT g) AS BIGINT) AS n_terms FROM h GROUP BY 1) " +
        "SELECT t.doc_id AS doc, coalesce(p.n_hits, 0) AS n_hits, " +
        "coalesce(p.n_terms, 0) AS n_terms, coalesce(p.n_hits, 0) > 0 AS blocked " +
        "FROM t LEFT JOIN p USING (doc_id) ORDER BY doc"
    }) { (s, d) =>
      import s.implicits._
      TextAnalysis.termBlocklist(Tables.documents(s, d), "doc_id", "text",
          TermBlocklistFixture.toDF("term"))
        .orderBy("doc")
    },

    // Similarity-coherent training order (in-context pretraining): IVF
    // cell assignment (argmax cosine, the ivf oracle replay) + the
    // portable 1-D hyperplane key + a global dense rank over (cell,
    // proj, id) — the engine's range-bucketed spine must equal the
    // oracle's plain ORDER BY row_number exactly (total order key).
    q("q_x_coherent_order", {
      val r = graft.llmops.PortableHash.duckUnitUniform("'icp:' || k.k")
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "cdots AS (SELECT e.vec_id, c.vec_id AS cent_id, sum(e.v * c.v) AS dot FROM e JOIN e c ON c.i = e.i AND c.vec_id < 16 GROUP BY 1, 2), " +
        "cscore AS (SELECT d.vec_id, d.cent_id, d.dot / (a.n * b.n) AS ccos FROM cdots d JOIN en a ON a.vec_id = d.vec_id JOIN en b ON b.vec_id = d.cent_id), " +
        "ranked AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM cscore), " +
        "assign AS (SELECT vec_id AS id, cent_id AS cell FROM ranked WHERE rn = 1), " +
        s"plane AS (SELECT k.k AS k, $r AS r FROM (SELECT unnest(generate_series(0, 63)) AS k) k), " +
        "pj AS (SELECT e.vec_id AS id, round(sum(e.v * p.r), 6) AS proj FROM e JOIN plane p ON p.k = e.i - 1 GROUP BY 1) " +
        "SELECT a.id, a.cell, pj.proj, CAST(row_number() OVER (ORDER BY a.cell, pj.proj, a.id) - 1 AS BIGINT) AS ord " +
        "FROM assign a JOIN pj USING (id) ORDER BY ord"
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
      Corpus.coherentOrder(emb, cent).orderBy("ord")
    },

    // Continuous crawl frontier, two-day batch-parity replay: day-1
    // links canonicalize/collapse, pass robots, enqueue and stamp the
    // seen-set; day-2 re-discoveries (including of DENIED urls — the
    // adjudicated-once law) skip via the bloom, fresh urls enqueue. The
    // oracle replays the canonical chain, the single-prefix-rule policy
    // (value-equal to the full robots precedence on this fixture), and
    // the bloom bit math of both rounds.
    q("q_x_crawl_frontier", {
      import graft.llmops.PortableHash
      val (kh, m, p) = (4, 4096, PortableHash.P)
      val perms = (0 until kh)
        .map(j => s"($j, ${PortableHash.MinHashA(j)}, ${PortableHash.MinHashB(j)})")
        .mkString(", ")
      val ha = PortableHash.duckHash52("url")
      val steps = Seq(
        "'#.*$'" -> "''",
        "'[?&](utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&]*'" -> "''",
        "'^([^?&]*)&'" -> "'\\1?'",
        "'[?&]+$'" -> "''")
      val cleaned = steps.foldLeft("url") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      }
      val lowered = s"lower(regexp_extract($cleaned, '^([^/?#]*://[^/?#]*)', 1)) || " +
        s"regexp_replace($cleaned, '^[^/?#]*://[^/?#]*', '')"
      val ports = s"regexp_replace(regexp_replace($lowered, '^(http://[^/:?#]*):80(/|$$)', '\\1\\2'), '^(https://[^/:?#]*):443(/|$$)', '\\1\\2')"
      val canon = s"regexp_replace($ports, '/$$', '')"
      "WITH l AS (SELECT doc_id % 2 AS day, " +
        "'https://h' || ((doc_id // 2) % 4) || '.example/p' || ((doc_id // 2) % 23) || " +
        "CASE doc_id % 3 WHEN 0 THEN '?utm_source=x' WHEN 1 THEN '#f' ELSE '' END AS url, " +
        "doc_id % 7 AS prio FROM documents), " +
        s"c0 AS (SELECT day, $canon AS curl, prio FROM l), " +
        "g AS (SELECT day, curl AS url, CAST(max(prio) AS BIGINT) AS priority FROM c0 GROUP BY 1, 2), " +
        "h AS (SELECT day, url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host, " +
        "coalesce(nullif(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^#]*)?', 1), ''), '/') AS path, priority FROM g), " +
        "a AS (SELECT day, url, host, priority, NOT (host = 'h1.example' AND path LIKE '/p1%') AS allowed FROM h), " +
        "d1 AS (SELECT url, host, priority FROM a WHERE day = 0 AND allowed), " +
        s"perm(j, pa, pb) AS (SELECT * FROM (VALUES $perms)), " +
        s"u1 AS (SELECT DISTINCT url FROM h WHERE day = 0), " +
        s"b1 AS (SELECT DISTINCT ((pa * (hh % $p) + pb) % $p % $m) AS pos FROM (SELECT $ha AS hh FROM u1) CROSS JOIN perm), " +
        "w1 AS (SELECT pos // 32 AS wi, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word FROM b1 GROUP BY 1), " +
        "p2 AS (SELECT url, host, priority, allowed FROM a WHERE day = 1), " +
        s"pr AS (SELECT url, ((pa * (hh % $p) + pb) % $p % $m) AS pos FROM (SELECT url, $ha AS hh FROM p2) CROSS JOIN perm), " +
        "mc AS (SELECT url, min(CASE WHEN (coalesce(w.word, 0) & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) AS mc " +
        "FROM pr LEFT JOIN w1 w ON w.wi = pos // 32 GROUP BY 1), " +
        "d2 AS (SELECT p2.url, p2.host, p2.priority FROM p2 JOIN mc USING (url) WHERE mc.mc = 0 AND p2.allowed) " +
        "SELECT * FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2) ORDER BY url"
    }) { (s, d) =>
      import s.implicits._
      import graft.functions.Bloom
      import graft.streaming.EventStream
      val (mBits, k) = (4096L, 4)
      val docs = Tables.documents(s, d)
      def linksFor(day: Int) = docs.filter(col("doc_id") % 2 === day)
        .select(concat(lit("https://h"),
            (expr("doc_id div 2") % 4).cast("string"), lit(".example/p"),
            (expr("doc_id div 2") % 23).cast("string"),
            when(col("doc_id") % 3 === 0, lit("?utm_source=x"))
              .when(col("doc_id") % 3 === 1, lit("#f"))
              .otherwise(lit(""))).as("url"),
          (col("doc_id") % 7).as("prio"))
      val rules = Seq(("h1.example", "disallow", "/p1"))
        .toDF("host", "rule", "path")
      val empty = Bloom.build(linksFor(0).limit(0), "url", mBits, k)
      val (e1, b1) = EventStream.frontierStep(linksFor(0), "url", "prio",
        rules, empty, mBits, k)
      val (e2, _) = EventStream.frontierStep(linksFor(1), "url", "prio",
        rules, b1.localCheckpoint(true), mBits, k)
      e1.unionAll(e2).orderBy("url")
    },

    // Frontier RE-CRAWL generations (the freshness mechanism over the
    // adjudicated-once law): generation 1 enqueues day-0 links; the
    // h0.example rows are fetched (dequeued); rotation REBUILDS the
    // seen-set from the still-queued urls (frontierNewGeneration's
    // reseed, replayed verbatim via Bloom.build); generation 2 then
    // probes day-1 links against the reseeded bloom — fetched urls
    // RE-ENQUEUE (they are no longer "seen"), still-queued urls skip
    // (no queue duplicates), denied urls re-adjudicate under the rules
    // and stay out. The oracle replays both adjudication passes, the
    // dequeue, the reseed's exact Bloom words and the probe value-exact.
    q("q_x_crawl_regen", {
      import graft.llmops.PortableHash
      val (kh, m, p) = (4, 4096, PortableHash.P)
      val perms = (0 until kh)
        .map(j => s"($j, ${PortableHash.MinHashA(j)}, ${PortableHash.MinHashB(j)})")
        .mkString(", ")
      val ha = PortableHash.duckHash52("url")
      val steps = Seq(
        "'#.*$'" -> "''",
        "'[?&](utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&]*'" -> "''",
        "'^([^?&]*)&'" -> "'\\1?'",
        "'[?&]+$'" -> "''")
      val cleaned = steps.foldLeft("url") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      }
      val lowered = s"lower(regexp_extract($cleaned, '^([^/?#]*://[^/?#]*)', 1)) || " +
        s"regexp_replace($cleaned, '^[^/?#]*://[^/?#]*', '')"
      val ports = s"regexp_replace(regexp_replace($lowered, '^(http://[^/:?#]*):80(/|$$)', '\\1\\2'), '^(https://[^/:?#]*):443(/|$$)', '\\1\\2')"
      val canon = s"regexp_replace($ports, '/$$', '')"
      "WITH l AS (SELECT doc_id % 2 AS day, " +
        "'https://h' || ((doc_id // 2) % 4) || '.example/p' || ((doc_id // 2) % 23) || " +
        "CASE doc_id % 3 WHEN 0 THEN '?utm_source=x' WHEN 1 THEN '#f' ELSE '' END AS url, " +
        "doc_id % 7 AS prio FROM documents), " +
        s"c0 AS (SELECT day, $canon AS curl, prio FROM l), " +
        "g AS (SELECT day, curl AS url, CAST(max(prio) AS BIGINT) AS priority FROM c0 GROUP BY 1, 2), " +
        "h AS (SELECT day, url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host, " +
        "coalesce(nullif(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^#]*)?', 1), ''), '/') AS path, priority FROM g), " +
        "a AS (SELECT day, url, host, priority, NOT (host = 'h1.example' AND path LIKE '/p1%') AS allowed FROM h), " +
        "d1 AS (SELECT url, host, priority FROM a WHERE day = 0 AND allowed), " +
        "q1 AS (SELECT * FROM d1 WHERE host <> 'h0.example'), " +
        s"perm(j, pa, pb) AS (SELECT * FROM (VALUES $perms)), " +
        s"b1 AS (SELECT DISTINCT ((pa * (hh % $p) + pb) % $p % $m) AS pos FROM (SELECT $ha AS hh FROM (SELECT url FROM q1)) CROSS JOIN perm), " +
        "w1 AS (SELECT pos // 32 AS wi, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word FROM b1 GROUP BY 1), " +
        "p2 AS (SELECT url, host, priority, allowed FROM a WHERE day = 1), " +
        s"pr AS (SELECT url, ((pa * (hh % $p) + pb) % $p % $m) AS pos FROM (SELECT url, $ha AS hh FROM p2) CROSS JOIN perm), " +
        "mc AS (SELECT url, min(CASE WHEN (coalesce(w.word, 0) & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) AS mc " +
        "FROM pr LEFT JOIN w1 w ON w.wi = pos // 32 GROUP BY 1), " +
        "d2 AS (SELECT p2.url, p2.host, p2.priority FROM p2 JOIN mc USING (url) WHERE mc.mc = 0 AND p2.allowed) " +
        "SELECT * FROM (SELECT 'queued_g1' AS stage, * FROM q1 " +
        "UNION ALL SELECT 'enqueued_g2' AS stage, * FROM d2) ORDER BY stage, url"
    }) { (s, d) =>
      import s.implicits._
      import graft.functions.Bloom
      import graft.streaming.EventStream
      val (mBits, k) = (4096L, 4)
      val docs = Tables.documents(s, d)
      def linksFor(day: Int) = docs.filter(col("doc_id") % 2 === day)
        .select(concat(lit("https://h"),
            (expr("doc_id div 2") % 4).cast("string"), lit(".example/p"),
            (expr("doc_id div 2") % 23).cast("string"),
            when(col("doc_id") % 3 === 0, lit("?utm_source=x"))
              .when(col("doc_id") % 3 === 1, lit("#f"))
              .otherwise(lit(""))).as("url"),
          (col("doc_id") % 7).as("prio"))
      val rules = Seq(("h1.example", "disallow", "/p1"))
        .toDF("host", "rule", "path")
      val empty = Bloom.build(linksFor(0).limit(0), "url", mBits, k)
      val (e1, _) = EventStream.frontierStep(linksFor(0), "url", "prio",
        rules, empty, mBits, k)
      val e1c = e1.localCheckpoint(true)
      // fetch the h0.example wave, dequeue it, rotate: the reseed is
      // frontierNewGeneration's Bloom.build over the remaining queue
      val q1 = e1c.filter(col("host") =!= "h0.example")
        .localCheckpoint(true)
      val b2 = Bloom.build(q1.select("url"), "url", mBits, k)
      val (e2, _) = EventStream.frontierStep(linksFor(1), "url", "prio",
        rules, b2.localCheckpoint(true), mBits, k)
      q1.select(lit("queued_g1").as("stage"), col("url"), col("host"),
          col("priority"))
        .unionAll(e2.select(lit("enqueued_g2").as("stage"), col("url"),
          col("host"), col("priority")))
        .orderBy("stage", "url")
    },

    // Main-content extraction (the jusText/trafilatura link-density
    // heuristic): planted pages wrap each document's text in content
    // markup with a nav menu (all links -> dropped), a footer link farm
    // (dropped), a short promo block (< minBlockChars -> dropped), and
    // an in-content anchor (low density -> kept). The oracle replays the
    // block split, per-block visible-text/anchor arithmetic and the
    // density rule value-exact.
    q("q_x_main_content",
      mainContentSqlOver(s"(SELECT doc_id, $PlantedPageHtmlSql AS html FROM documents)") +
        " ORDER BY doc") { (s, d) =>
      TextAnalysis.extractMainContent(
          Tables.documents(s, d).select(col("doc_id"),
            plantedPageHtml.as("html")),
          "doc_id", "html")
        .orderBy("doc")
    },

    // The composed crawl->corpus pipeline: planted pages flow domain
    // blocklist -> main-content extraction -> quality gate, one verdict
    // row per page with the final clean-text md5 for survivors — the
    // end-to-end proof the single-page curation stages COMPOSE (the
    // tokenize_export discipline, pointed at the web front door).
    q("q_x_web_pipeline", {
      val host = "lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1))"
      "WITH pages AS (SELECT doc_id, 'https://h' || (doc_id % 5) || '.example/p' || doc_id AS url, " +
        s"$PlantedPageHtmlSql AS html FROM documents), " +
        s"ub AS (SELECT doc_id, $host = 'h3.example' AS blocked FROM pages), " +
        "mc AS (SELECT * FROM (" +
        mainContentSqlOver(
          "(SELECT doc_id, html FROM pages JOIN ub USING (doc_id) WHERE NOT blocked)") +
        ") m0), " +
        "qg AS (SELECT doc, reason, keep FROM (" +
        qualityGateSqlOver("(SELECT doc AS doc_id, main_text AS text FROM mc)") +
        ") q0) " +
        "SELECT p.doc_id AS doc, ub.blocked, " +
        "coalesce(mc.n_blocks_kept, 0) AS n_blocks_kept, " +
        "qg.reason AS gate_reason, coalesce(qg.keep, false) AS kept, " +
        "CASE WHEN coalesce(qg.keep, false) THEN md5(mc.main_text) END AS clean_md5 " +
        "FROM pages p JOIN ub USING (doc_id) " +
        "LEFT JOIN mc ON mc.doc = p.doc_id LEFT JOIN qg ON qg.doc = p.doc_id " +
        "ORDER BY doc"
    }) { (s, d) =>
      import s.implicits._
      val pages = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
          lit(".example/p"), col("doc_id").cast("string")).as("url"),
        plantedPageHtml.as("html"))
      val hb = TextAnalysis.hostBlocklist(pages, "doc_id", "url",
        Seq("h3.example").toDF("domain"))
      val mc = TextAnalysis.extractMainContent(
        hb.filter(!col("blocked")), "doc_id", "html")
      val qg = TextAnalysis.qualityGate(
        mc.select(col("doc").as("doc_id"), col("main_text").as("text")),
        "doc_id", "text", minTokens = 20, maxTokens = 100000,
        minAvgTokenLen = 2.0, maxAvgTokenLen = 5.0,
        minTypeToken = 0.35, maxDupGramFrac = 0.2)
      hb.select(col("doc_id").as("doc"), col("blocked"))
        .join(mc.select(col("doc"), col("main_text"), col("n_blocks_kept")),
          Seq("doc"), "left")
        .join(qg.select(col("doc"), col("reason").as("gate_reason"),
          col("keep")), Seq("doc"), "left")
        .select(col("doc"), col("blocked"),
          coalesce(col("n_blocks_kept"), lit(0L)).as("n_blocks_kept"),
          col("gate_reason"),
          coalesce(col("keep"), lit(false)).as("kept"),
          when(coalesce(col("keep"), lit(false)), md5(col("main_text")))
            .as("clean_md5"))
        .orderBy("doc")
    },

    byteLevelQuery,

    // Agent-specific robots groups (RFC 9309 2.2.1): hosts with a
    // graftbot group IGNORE their * groups wholesale (never a union);
    // stacked + case-variant agent lines bind; hosts without one fall
    // back to *. The grouping + selection chain replays value-exact.
    q("q_x_robots_agent", {
      val nl = " || chr(10) || "
      val body = "CASE WHEN k = 4 THEN 'User-agent: *'" + nl + "'Disallow: /everyone' " +
        "ELSE 'User-agent: graftbot'" + nl + "'Disallow: /bot-only'" + nl + "''" + nl +
        "'User-agent: *'" + nl + "'Disallow: /everyone'" +
        " || CASE WHEN k % 2 = 0 THEN chr(10) || 'User-agent: other'" + nl +
        "'User-agent: GRAFTBOT'" + nl + "'Allow: /stacked' ELSE '' END END"
      "WITH hosts AS (SELECT DISTINCT doc_id % 5 AS k FROM documents), " +
        s"rb AS (SELECT 'a' || k || '.example' AS host, $body AS txt FROM hosts), " +
        "la AS (SELECT host, string_split(txt, chr(10)) AS ls FROM rb), " +
        "lp AS (SELECT host, ls, unnest(generate_series(1, len(ls))) AS i FROM la), " +
        "d AS (SELECT host, i, regexp_extract(lower(cl), '^(user-agent|allow|disallow):', 1) AS directive, " +
        "trim(regexp_replace(cl, '^[A-Za-z-]+:', '')) AS value FROM " +
        "(SELECT host, i, trim(regexp_replace(ls[i], '#.*$', '')) AS cl FROM lp) x), " +
        "g AS (SELECT *, CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS ua FROM d), " +
        "g2 AS (SELECT *, CASE WHEN ua = 1 AND coalesce(lag(ua) OVER (PARTITION BY host ORDER BY i), 0) = 0 THEN 1 ELSE 0 END AS st FROM g), " +
        "g3 AS (SELECT *, sum(st) OVER (PARTITION BY host ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp FROM g2), " +
        "star AS (SELECT DISTINCT host, grp FROM g3 WHERE ua = 1 AND value = '*'), " +
        "ag AS (SELECT DISTINCT host, grp FROM g3 WHERE ua = 1 AND lower(value) = 'graftbot'), " +
        "sel AS (SELECT host, grp FROM ag UNION SELECT s.host, s.grp FROM star s WHERE s.host NOT IN (SELECT host FROM ag)) " +
        "SELECT g3.host, directive AS rule, value AS path FROM g3 JOIN sel USING (host, grp) " +
        "WHERE ua = 0 AND grp >= 1 AND directive IN ('allow', 'disallow') AND value <> '' " +
        "ORDER BY host, rule, path"
    }) { (s, d) =>
      val nl = "\n"
      val k = col("k")
      val body = when(k === 4,
          lit("User-agent: *" + nl + "Disallow: /everyone"))
        .otherwise(concat(
          lit("User-agent: graftbot" + nl + "Disallow: /bot-only" + nl + nl +
            "User-agent: *" + nl + "Disallow: /everyone"),
          when(k % 2 === 0,
            lit(nl + "User-agent: other" + nl + "User-agent: GRAFTBOT" + nl +
              "Allow: /stacked")).otherwise(lit(""))))
      val hosts = Tables.documents(s, d)
        .select((col("doc_id") % 5).as("k")).distinct()
        .select(concat(lit("a"), k.cast("string"), lit(".example")).as("host"),
          body.as("txt"))
      TextAnalysis.robotsRulesFor(hosts, "host", "txt", agent = "GraftBot")
        .orderBy("host", "rule", "path")
    },

    // BPE corpus serving (the Unigram.segment-shaped other half): the
    // K-round-trained merges apply to the serving slice's words, one
    // row per (id, word_idx, piece_idx, piece) — the training chain +
    // per-word piece assembly + the per-doc join replayed value-exact.
    q("q_x_bpe_segment",
      bpeRoundsSql(BpeK) + ", " +
        s"pw AS (SELECT word, list_transform(list_sort(list(struct_pack(i := i, s := s))), x -> x.s) AS pieces FROM s$BpeK GROUP BY word), " +
        "td AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS widx, toks[i] AS word FROM " +
        "(SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents WHERE doc_id < 40), " +
        "unnest(generate_series(1, len(toks))) u(i)) " +
        "SELECT td.doc_id AS id, td.widx AS word_idx, CAST(j - 1 AS BIGINT) AS piece_idx, pw.pieces[j] AS piece " +
        "FROM td JOIN pw USING (word), unnest(generate_series(1, len(pw.pieces))) v(j) " +
        "ORDER BY id, word_idx, piece_idx") { (s, d) =>
      val docs = Tables.documents(s, d)
      val wv = Bpe.wordVocab(docs, "text").localCheckpoint(true)
      val (merges, _) = Bpe.learnMerges(wv, k = BpeK)
      Bpe.segment(docs.filter(col("doc_id") < 40), "doc_id", "text",
          merges.map(m => (m.left, m.right)))
        .orderBy("id", "word_idx", "piece_idx")
    },

    // Contamination report per benchmark item (decontaminate transposed
    // + the observable hot-shingle cap at df > 3): per bench doc, how
    // many distinct train docs share its 5-grams, how many shingles
    // leaked, and how many were excluded as boilerplate — replayed
    // value-exact.
    q("q_x_contamination_report", {
      val g5 = "list_transform(generate_series(1, len(t) - 4), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])"
      "WITH tt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents), " +
        s"tr AS (SELECT DISTINCT doc_id AS train_id, g FROM (SELECT doc_id, unnest($g5) AS g FROM tt WHERE doc_id % 2 = 0 AND len(t) >= 5)), " +
        s"be AS (SELECT DISTINCT doc_id AS bench_id, g FROM (SELECT doc_id, unnest($g5) AS g FROM tt WHERE doc_id % 2 = 1 AND doc_id < 60 AND len(t) >= 5)), " +
        "ps AS (SELECT g, count(DISTINCT train_id) AS df FROM tr WHERE g IN (SELECT g FROM be) GROUP BY 1), " +
        "hot AS (SELECT g FROM ps WHERE df > 3), " +
        "hits AS (SELECT bench_id, CAST(count(DISTINCT trn.train_id) AS BIGINT) AS n_train_docs, CAST(count(DISTINCT be.g) AS BIGINT) AS n_shingles_hit " +
        "FROM be JOIN (SELECT train_id, g FROM tr WHERE g NOT IN (SELECT g FROM hot)) trn USING (g) GROUP BY 1), " +
        "hp AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shingles_hot FROM be WHERE g IN (SELECT g FROM hot) GROUP BY 1), " +
        "tot AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shingles FROM be GROUP BY 1), " +
        "base AS (SELECT doc_id AS bench_id FROM documents WHERE doc_id % 2 = 1 AND doc_id < 60) " +
        "SELECT b.bench_id, coalesce(tot.n_shingles, 0) AS n_shingles, " +
        "coalesce(hits.n_train_docs, 0) AS n_train_docs, " +
        "coalesce(hits.n_shingles_hit, 0) AS n_shingles_hit, " +
        "coalesce(hp.n_shingles_hot, 0) AS n_shingles_hot, " +
        "coalesce(hits.n_train_docs, 0) > 0 AS burned " +
        "FROM base b LEFT JOIN tot USING (bench_id) LEFT JOIN hits USING (bench_id) LEFT JOIN hp USING (bench_id) ORDER BY bench_id"
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 60),
          "doc_id", "text", n = 5, maxShingleDf = 3)
        .orderBy("bench_id")
    },

    // Semantic decontamination: every train vector (even ids) scores its
    // max cosine against the whole bench suite (odd ids < 40) — exact by
    // choice; the oracle replays the dot/norm arithmetic and the
    // smallest-bench-id tie rule.
    q("q_x_decon_semantic",
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
        "en AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM e GROUP BY 1), " +
        "d AS (SELECT t.vec_id AS doc, b.vec_id AS bench_id, sum(t.v * b.v) AS dot FROM e t JOIN e b ON b.i = t.i " +
        "AND t.vec_id % 2 = 0 AND b.vec_id % 2 = 1 AND b.vec_id < 40 GROUP BY 1, 2), " +
        "sc AS (SELECT d.doc, d.bench_id, d.dot / (a.n * c.n) AS cos FROM d JOIN en a ON a.vec_id = d.doc JOIN en c ON c.vec_id = d.bench_id), " +
        "rk AS (SELECT doc, bench_id, cos, row_number() OVER (PARTITION BY doc ORDER BY cos DESC, bench_id) AS rn FROM sc) " +
        "SELECT doc, bench_id, round(cos, 6) AS max_cos, round(cos, 6) >= 0.35 AS contaminated " +
        "FROM rk WHERE rn = 1 ORDER BY doc") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.decontaminateSemantic(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40),
          threshold = 0.35)
        .orderBy("doc")
    },

    // Content opt-outs: meta robots noindex/nofollow/noai + the TDM
    // reservation meta, planted across attribute orders, quote styles,
    // case variants and a token-boundary trap ('noindexing' must not
    // trip noindex) — the per-tag extract + token matching replayed.
    q("q_x_content_optouts", {
      val metas = "CASE doc_id % 6 " +
        "WHEN 0 THEN '<head><meta name=\"robots\" content=\"noindex, nofollow\"></head>' " +
        "WHEN 1 THEN '<head><META CONTENT=''NOAI'' NAME=''ROBOTS''><meta name=\"generator\" content=\"x\"></head>' " +
        "WHEN 2 THEN '<head><meta name=\"tdm-reservation\" content=\"1\"></head>' " +
        "WHEN 3 THEN '<head><meta name=\"robots\" content=\"noindexing nofollower\"></head>' " +
        "WHEN 4 THEN '<head><meta name=\"tdm-reservation\" content=\"0\"></head>' " +
        "ELSE '<head><title>clean</title></head>' END || '<body>' || text || '</body>'"
      def attr(a: String) =
        s"lower(regexp_extract(t, '(?i)$a\\s*=\\s*[\"'']([^\"'']*)[\"'']', 1))"
      def robotsHas(tok: String) =
        s"len(list_filter(tags, t -> ${attr("name")} = 'robots' AND " +
          s"list_contains(regexp_split_to_array(${attr("content")}, '[,\\s]+'), '$tok'))) > 0"
      s"WITH h AS (SELECT doc_id, $metas AS html FROM documents), " +
        "g AS (SELECT doc_id, regexp_extract_all(html, '(?is)<meta\\s[^>]*>', 0) AS tags FROM h) " +
        s"SELECT doc_id AS doc, ${robotsHas("noindex")} AS noindex, " +
        s"${robotsHas("nofollow")} AS nofollow, ${robotsHas("noai")} AS noai, " +
        s"len(list_filter(tags, t -> ${attr("name")} = 'tdm-reservation' AND ${attr("content")} = '1')) > 0 AS tdm_reserved " +
        "FROM g ORDER BY doc"
    }) { (s, d) =>
      val metas = when(col("doc_id") % 6 === 0,
          lit("<head><meta name=\"robots\" content=\"noindex, nofollow\"></head>"))
        .when(col("doc_id") % 6 === 1,
          lit("<head><META CONTENT='NOAI' NAME='ROBOTS'><meta name=\"generator\" content=\"x\"></head>"))
        .when(col("doc_id") % 6 === 2,
          lit("<head><meta name=\"tdm-reservation\" content=\"1\"></head>"))
        .when(col("doc_id") % 6 === 3,
          lit("<head><meta name=\"robots\" content=\"noindexing nofollower\"></head>"))
        .when(col("doc_id") % 6 === 4,
          lit("<head><meta name=\"tdm-reservation\" content=\"0\"></head>"))
        .otherwise(lit("<head><title>clean</title></head>"))
      TextAnalysis.contentOptOuts(
          Tables.documents(s, d).select(col("doc_id"),
            concat(metas, lit("<body>"), col("text"), lit("</body>")).as("html")),
          "doc_id", "html")
        .orderBy("doc")
    }
  )

  /** GPT-2 byte-level pre-tokenization: every word (leading space
    * prepended, the Ġ convention) maps its UTF-8 bytes through the
    * public bytes_to_unicode table — the oracle rebuilds the 256-entry
    * map and replays the hex walk value-exact over multi-script text.
    */
  private def byteLevelQuery = {
    val mapEntries = graft.llmops.VocabArtifact.ByteLevelTable.zipWithIndex
      .map { case (ch, b) =>
        val esc = if (ch == "'") "''" else ch
        f"struct_pack(k := '$b%02X', v := '$esc')"
      }.mkString("[", ", ", "]")
    q("q_x_byte_level",
      s"WITH bm AS (SELECT map_from_entries($mapEntries) AS m), " +
        "t AS (SELECT doc_id, regexp_split_to_array(trim(text || ' café 你好 «weird»'), '\\s+') AS toks FROM documents), " +
        "w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_idx, ' ' || toks[i] AS w FROM t, unnest(generate_series(1, len(toks))) AS u(i)), " +
        "e AS (SELECT doc_id, word_idx, array_to_string(list_transform(generate_series(1, length(hex(encode(w))) - 1, 2), " +
        "j -> m[substr(hex(encode(w)), CAST(j AS INT), 2)][1]), '') AS btok FROM w CROSS JOIN bm) " +
        "SELECT doc_id AS doc, word_idx, btok FROM e ORDER BY doc, word_idx") { (s, d) =>
      import graft.llmops.VocabArtifact
      val aug = concat(col("text"), lit(" café 你好 «weird»"))
      // spreadScan: the byte-level expansion is the whole query and runs
      // in the scan stage (2.1 s single task at sf0.1; guide §2.5).
      Corpus.spreadScan(Tables.documents(s, d)).select(col("doc_id").as("doc"),
          posexplode(VocabArtifact.byteLevel()(aug))
            .as(Seq("word_idx", "btok")))
        .withColumn("word_idx", col("word_idx").cast("long"))
        .orderBy("doc", "word_idx")
    }
  }

  /** Planted page markup shared by q_x_main_content and q_x_web_pipeline:
    * a nav link menu (drops), the document's text as the content block
    * (an in-prose anchor on every third page — low density, keeps), a
    * short promo (drops), a footer link farm (drops).
    */
  private def PlantedPageHtmlSql: String =
    "'<html><body><nav><a href=\"/a\">Home</a> <a href=\"/b\">About us</a> <a href=\"/c\">Contact page</a></nav>' || " +
      "'<p>' || text || CASE WHEN doc_id % 3 = 0 THEN ' see <a href=\"/ref\">the reference</a> for details' ELSE '' END || '</p>' || " +
      "'<p>Promo!</p>' || " +
      "'<footer><a href=\"/x\">Terms of service</a> <a href=\"/y\">Privacy policy notice</a></footer></body></html>'"

  private def plantedPageHtml: org.apache.spark.sql.Column = concat(
    lit("<html><body><nav><a href=\"/a\">Home</a> <a href=\"/b\">About us</a> <a href=\"/c\">Contact page</a></nav>"),
    lit("<p>"), col("text"),
    when(col("doc_id") % 3 === 0,
      lit(" see <a href=\"/ref\">the reference</a> for details"))
      .otherwise(lit("")),
    lit("</p><p>Promo!</p>"),
    lit("<footer><a href=\"/x\">Terms of service</a> <a href=\"/y\">Privacy policy notice</a></footer></body></html>"))

  /** DuckDB replay of [[graft.llmops.TextAnalysis.extractMainContent]]
    * (thresholds minBlockChars 20, maxLinkDensity 0.5) over any relation
    * providing (doc_id, html) — emits (doc, main_text, n_blocks_kept,
    * n_blocks_dropped). Nest in a parenthesized subquery to compose
    * (the qualityGateSqlOver convention).
    */
  private def mainContentSqlOver(rel: String): String = {
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    def vis(e: String) = {
      val noTags = s"regexp_replace($e, '<[^>]+>', ' ', 'g')"
      val dec = ent.foldLeft(noTags) { case (x, (p, r)) =>
        s"regexp_replace($x, '$p', '${if (r == "'") "''" else r}', 'g')"
      }
      s"trim(regexp_replace($dec, '\\s+', ' ', 'g'))"
    }
    val blockSplit = "(?i)</?(?:p|div|section|article|li|ul|ol|h[1-6]|table" +
      "|thead|tbody|tr|td|th|blockquote|header|footer|nav|aside|main)" +
      "(?:\\s[^>]*)?>|<br\\s*/?>"
    s"WITH h AS (SELECT doc_id, html FROM $rel), " +
      "c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'), '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g') AS ch FROM h), " +
      s"b AS (SELECT doc_id, i, blk FROM (SELECT doc_id, regexp_split_to_array(ch, '$blockSplit') AS blks FROM c), unnest(generate_series(1, len(blks))) AS u(i), LATERAL (SELECT blks[i] AS blk) z), " +
      s"st AS (SELECT doc_id, i, ${vis("blk")} AS txt, " +
      s"CAST(coalesce(list_sum(list_transform(regexp_extract_all(blk, '(?is)<a\\b[^>]*>(.*?)</a>', 1), a -> length(${vis("a")}))), 0) AS BIGINT) AS a FROM b), " +
      "co AS (SELECT doc_id, i, txt, length(txt) AS n, a FROM st WHERE length(txt) > 0), " +
      "kp AS (SELECT doc_id, i, txt FROM co WHERE n >= 20 AND CAST(a AS DOUBLE) <= 0.5 * n), " +
      "agg AS (SELECT doc_id, string_agg(txt, chr(10) ORDER BY i) AS main_text, CAST(count(*) AS BIGINT) AS n_blocks_kept FROM kp GROUP BY 1), " +
      "cc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_considered FROM co GROUP BY 1) " +
      "SELECT h.doc_id AS doc, coalesce(agg.main_text, '') AS main_text, " +
      "coalesce(agg.n_blocks_kept, 0) AS n_blocks_kept, " +
      "coalesce(cc.n_considered, 0) - coalesce(agg.n_blocks_kept, 0) AS n_blocks_dropped " +
      "FROM h LEFT JOIN agg USING (doc_id) LEFT JOIN cc USING (doc_id)"
  }

  // Blocklist fixture for q_x_term_blocklist: real corpus words ("hash",
  // "table scan", "batch batch" — overlapping in the planted triple),
  // one 3-token phrase, one never-matching entry.
  private def TermBlocklistFixture: Seq[String] = Seq(
    "hash", "table scan", "sort merge part", "batch batch",
    "never matches anything")

  // Planted FOREIGN vocabulary for q_x_byte_fallback: Latin singles plus
  // two multis, NO accented/CJK chars (they must byte-expand); 'l' costs
  // more than its peers so 'll' wins without ties.
  private def ByteFallbackVocab: Seq[(String, Long)] = Seq(
    ("hel", 700000L), ("ll", 900000L), ("h", 3000000L), ("e", 3000000L),
    ("l", 3100000L), ("o", 3000000L), ("w", 3000000L), ("r", 3000000L),
    ("d", 3000000L), ("m", 3000000L), ("i", 3000000L), ("x", 3000000L),
    ("c", 3000000L), ("a", 3000000L), ("f", 3000000L), ("k", 3000000L))

  /** Shared DuckDB replay of [[graft.llmops.LmArtifact.arpaTable]]:
    * unigram counts → add-1 probs over V+1 outcomes (incl. `<unk>`),
    * bigram counts → context totals → absolute-discount probs and
    * backoff weights, every value quantized with the same
    * `floor(log10(x)·1e6 + 0.5)`. `srcFilter` picks the reference slice.
    */
  private def arpaChainSql(srcFilter: String): String =
    s"WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents $srcFilter), " +
      "cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(cu) AS BIGINT) AS tt, count(*) AS vd FROM cu), " +
      "up AS (SELECT u.w, u.cu, CAST(-floor(log((u.cu + 1) / CAST(tot.tt + tot.vd + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS nll " +
      "FROM (SELECT w, cu FROM cu UNION ALL SELECT '<unk>', CAST(0 AS BIGINT)) u CROSS JOIN tot), " +
      "gr AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 2), " +
      "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM gr GROUP BY 1, 2), " +
      "ctx AS (SELECT cb.w1, CAST(count(*) AS BIGINT) AS n1p, CAST(sum(cb.cb) AS BIGINT) AS c1, CAST(sum(cu2.cu + 1) AS BIGINT) AS seen_num " +
      "FROM cb JOIN cu cu2 ON cb.w2 = cu2.w GROUP BY 1), " +
      "bows AS (SELECT ctx.w1, CAST(floor(log((CAST(0.75 AS DOUBLE) * ctx.n1p / CAST(ctx.c1 AS DOUBLE)) / " +
      "(1 - ctx.seen_num / CAST(tot.tt + tot.vd + 1 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS bow FROM ctx CROSS JOIN tot), " +
      "bm AS (SELECT cb.w1, cb.w2, CAST(-floor(log((cb.cb - CAST(0.75 AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS nll " +
      "FROM cb JOIN ctx ON cb.w1 = ctx.w1)"

  /** [[unigramVocabSql]] extended through the full hand-off: token-id
    * rank over the trained vocab, one more Viterbi pass (same folds, no
    * count/prune) over per-document words, per-doc ordered id lists,
    * order-invariant aggregates.
    */
  private def tokenizeExportSql(vocabSize: Int, rounds: Int, maxPieceLen: Int,
      maxWordLen: Int, seedCap: Int): String = {
    val chain = unigramChainSql(vocabSize, rounds, maxPieceLen, maxWordLen, seedCap)
    val (fwd, chosen) = unigramDpSql(maxPieceLen)
    val segHash = graft.llmops.PortableHash.duckHash52(
      "array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ',')")
    chain +
      s", candF AS (SELECT DISTINCT s.w, s.piece, v.nll FROM dsubs s JOIN v$rounds v USING (piece)), " +
      "wmF AS MATERIALIZED (SELECT w, map_from_entries(list(struct_pack(k := piece, v := nll))) AS m FROM candF GROUP BY w), " +
      "segF AS MATERIALIZED (SELECT wo.w, wo.n, wm.m, " +
      "list_reduce(list_prepend([CAST(0 AS BIGINT)], list_transform(generate_series(1, CAST(wo.n AS INT)), i -> [CAST(i AS BIGINT)])), " +
      s"(a, b) -> list_append(a, $fwd)) AS costs " +
      "FROM words wo JOIN wmF wm USING (w)), " +
      "wpF AS MATERIALIZED (SELECT w, " +
      "list_reduce(list_prepend([n], list_transform(generate_series(1, CAST(n AS INT)), i -> [CAST(0 AS BIGINT)])), " +
      s"(a, b) -> list_append(a, CASE WHEN a[len(a)] = 0 THEN 0 ELSE a[len(a)] - ($chosen) END)) AS wp " +
      "FROM segF), " +
      "walkF AS MATERIALIZED (SELECT w, list_reverse(list_filter(list_transform(generate_series(1, len(wp) - 1), " +
      "i -> substr(w, CAST(wp[i+1] + 1 AS INT), CAST(wp[i] - wp[i+1] AS INT))), x -> length(x) >= 1)) AS rp " +
      "FROM wpF), " +
      s"ti AS MATERIALIZED (SELECT piece, CAST(row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS BIGINT) AS tid FROM v$rounds), " +
      s"dwp AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) dx), " +
      s"dw AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS wi, substr(t[i], 1, $maxWordLen) AS w FROM dwp WHERE length(substr(t[i], 1, $maxWordLen)) >= 1), " +
      "dp AS (SELECT doc_id, wi, rp, unnest(generate_series(1, len(rp))) AS pj FROM (SELECT dw.doc_id, dw.wi, walkF.rp FROM dw JOIN walkF USING (w)) dj), " +
      "dt AS (SELECT doc_id, wi, CAST(pj - 1 AS BIGINT) AS pj0, rp[pj] AS piece FROM dp), " +
      "dk AS (SELECT doc_id, list(tid ORDER BY wi, pj0) AS ids FROM dt JOIN ti USING (piece) GROUP BY doc_id) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_seqs, CAST(sum(len(ids)) AS BIGINT) AS n_tokens, " +
      "CAST(sum(list_sum(ids)) AS BIGINT) AS id_sum, " +
      s"CAST(bit_xor($segHash) AS BIGINT) AS seq_checksum FROM dk"
  }

  /** DuckDB replay of [[graft.llmops.Unigram.unigramVocab]]: the Viterbi
    * forward/backward folds become list_reduce lambdas (init rides as
    * the first list element; positions as single-element lists / dummy
    * structs), the piece-cost map a per-word MAP, and each EM round one
    * CTE block. All DP arithmetic is BIGINT micro-nll, so cross-engine
    * equality is exact; only the ln() that PRODUCES a score sits on the
    * 1e-6 grid.
    */
  /** The shared Viterbi DP lambda fragments — ONE source for the
    * unigram-vocab oracle and the tokenize-export oracle, so a tie-break
    * or cost change can never desynchronize them. Returns (forward
    * min-cost option list, backward chosen-k CASE).
    *
    * DuckDB 1.0's lambda STRUCT accumulator mis-evaluates field reads
    * (aliasing — verified empirically), so the backward walk folds a
    * POSITIONS LIST instead: append pos − argmin-k each step (0-padded
    * once the walk lands), then cut the pieces between consecutive
    * positions outside the lambda. Same chosen-k formula and tie-break
    * as the Spark fold, so the pieces are identical.
    */
  private def unigramDpSql(maxPieceLen: Int): (String, String) = {
    val Big = "1000000000000"
    def fwdOpt(k: Int) =
      s"CASE WHEN b[1] - $k >= 0 THEN a[CAST(b[1] - $k + 1 AS INT)] + " +
        s"coalesce(m[substr(w, CAST(b[1] - $k + 1 AS INT), $k)][1], $Big) ELSE $Big END"
    val fwd = (1 to maxPieceLen).map(fwdOpt).mkString("least(", ", ", ")")
    def bckCond(k: Int) =
      s"a[len(a)] - $k >= 0 AND costs[CAST(a[len(a)] - $k + 1 AS INT)] + " +
        s"coalesce(m[substr(w, CAST(a[len(a)] - $k + 1 AS INT), $k)][1], $Big) = " +
        "costs[CAST(a[len(a)] + 1 AS INT)]"
    val chosen = (1 to maxPieceLen)
      .map(k => s"WHEN ${bckCond(k)} THEN $k").mkString("CASE ", " ", " ELSE 1 END")
    (fwd, chosen)
  }

  /** The training WITH-chain (ends at CTE `v$rounds`, no final SELECT) —
    * shared by [[unigramVocabSql]] and [[tokenizeExportSql]].
    * `prefixCtes` (planted-fixture CTEs, comma-terminated) inject ahead
    * of the chain; `wtokSrc` is the raw token stream SELECT (must yield
    * one `tok` column) — the CJK variant swaps in the scriptTokens
    * regexp over the planted relation.
    */
  private def unigramChainSql(vocabSize: Int, rounds: Int, maxPieceLen: Int,
      maxWordLen: Int, seedCap: Int,
      prefixCtes: String = "",
      wtokSrc: String =
        "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents"): String = {
    val (fwd, chosen) = unigramDpSql(maxPieceLen)
    def rescore(raw: String, out: String) =
      s"$out AS MATERIALIZED (SELECT piece, cnt, CAST(round(ln(CAST(t + vv AS DOUBLE) / (cnt + 1)) * 1000000) AS BIGINT) AS nll " +
        s"FROM $raw CROSS JOIN (SELECT CAST(sum(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS vv FROM $raw) tt$out)"
    def round_(r: Int): String = {
      val p = s"v${r - 1}"
      s"cand$r AS (SELECT DISTINCT s.w, s.piece, v.nll FROM dsubs s JOIN $p v USING (piece)), " +
        s"wm$r AS MATERIALIZED (SELECT w, map_from_entries(list(struct_pack(k := piece, v := nll))) AS m FROM cand$r GROUP BY w), " +
        s"seg$r AS MATERIALIZED (SELECT wo.w, wo.freq, wo.n, wm.m, " +
        "list_reduce(list_prepend([CAST(0 AS BIGINT)], list_transform(generate_series(1, CAST(wo.n AS INT)), i -> [CAST(i AS BIGINT)])), " +
        s"(a, b) -> list_append(a, $fwd)) AS costs " +
        s"FROM words wo JOIN wm$r wm USING (w)), " +
        s"wp$r AS MATERIALIZED (SELECT w, freq, " +
        "list_reduce(list_prepend([n], list_transform(generate_series(1, CAST(n AS INT)), i -> [CAST(0 AS BIGINT)])), " +
        s"(a, b) -> list_append(a, CASE WHEN a[len(a)] = 0 THEN 0 ELSE a[len(a)] - ($chosen) END)) AS wp " +
        s"FROM seg$r), " +
        s"walk$r AS (SELECT w, freq, list_filter(list_transform(generate_series(1, len(wp) - 1), " +
        "i -> substr(w, CAST(wp[i+1] + 1 AS INT), CAST(wp[i] - wp[i+1] AS INT))), x -> length(x) >= 1) AS ps " +
        s"FROM wp$r), " +
        s"cnt$r AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (SELECT freq, unnest(ps) AS piece FROM walk$r) GROUP BY piece), " +
        s"v${r}raw AS MATERIALIZED (SELECT v.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt FROM $p v LEFT JOIN cnt$r c USING (piece) WHERE length(v.piece) = 1 " +
        s"UNION ALL (SELECT piece, cnt FROM cnt$r WHERE length(piece) > 1 ORDER BY cnt DESC, piece LIMIT $vocabSize)), " +
        rescore(s"v${r}raw", s"v$r")
    }
    s"WITH ${prefixCtes}wtok AS (SELECT substr(tok, 1, $maxWordLen) AS w FROM ($wtokSrc)), " +
      "words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(length(w) AS BIGINT) AS n FROM wtok WHERE length(w) >= 1 GROUP BY w), " +
      s"subs1 AS (SELECT w, freq, n, unnest(generate_series(1, CAST(n AS INT))) AS p FROM words), " +
      s"subsall AS MATERIALIZED (SELECT w, freq, substr(w, CAST(p AS INT), CAST(k AS INT)) AS piece FROM " +
      s"(SELECT w, freq, p, unnest(generate_series(1, CAST(least($maxPieceLen, n - p + 1) AS INT))) AS k FROM subs1)), " +
      "dsubs AS MATERIALIZED (SELECT DISTINCT w, piece FROM subsall), " +
      "sc0 AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM subsall GROUP BY piece), " +
      s"v0raw AS MATERIALIZED (SELECT piece, cnt FROM sc0 WHERE length(piece) = 1 " +
      s"UNION ALL (SELECT piece, cnt FROM sc0 WHERE length(piece) > 1 ORDER BY cnt DESC, piece LIMIT $seedCap)), " +
      rescore("v0raw", "v0") + ", " +
      (1 to rounds).map(round_).mkString(", ")
  }

  private def unigramVocabSql(vocabSize: Int, rounds: Int, maxPieceLen: Int,
      maxWordLen: Int, seedCap: Int): String =
    unigramChainSql(vocabSize, rounds, maxPieceLen, maxWordLen, seedCap) + " " +
      s"SELECT piece, CAST(length(piece) AS BIGINT) AS n_chars, cnt, nll AS nll_micro FROM v$rounds ORDER BY cnt DESC, piece"

  // Planted-fixture vocabulary (defs, not vals — see CjkPara note).
  // Markers repeat 3×: a single occurrence loses to the shared-
  // vocabulary count noise in the round-1 class-difference weights
  // (measured: 1× diverges, 3× separates in round 1).
  private def GoodMark =
    " quality prose essay quality prose essay quality prose essay"
  private def BadMark =
    " casino jackpot spin casino jackpot spin casino jackpot spin"
  private def SpamText =
    "casino jackpot spin win bonus casino jackpot spin win bonus " +
      "casino jackpot spin win bonus casino jackpot spin win bonus " +
      "casino jackpot spin win bonus"

  // defs, not vals: the query list (declared above) interpolates these
  // into its oracle SQL at OBJECT-INIT time — a val declared below the
  // list would still be null when the string is built.
  private def CjkPara0 =
    "机器学习需要大量数据。数据质量决定模型表现！为什么呢？因为训练集里的噪声会直接进入模型。所以清洗数据很重要。"
  private def CjkPara1 =
    "これはテストです。機械学習のデータが必要です！本当ですか？はい。データの品質が大切です。"

  /** DuckDB replay of the batch-perceptron training loop, unrolled:
    * w1 is the round-1 class-difference vector (every doc misclassified
    * at w = 0), each subsequent round is margin → misclassified-set →
    * per-feat delta → weight fold. Weight CTEs are MATERIALIZED (each is
    * referenced by the next round's margin AND fold — default inlining
    * would re-expand the whole prior chain per reference).
    */
  /** The w1..wN training-round CTE list (no WITH, no trailing comma),
    * over a feature CTE `$f` (doc_id, feat, cnt) and a label CTE `$l`
    * (doc_id, label ±1): w1 is the round-1 class-difference vector,
    * each later round is margin → misclassified set → per-feat fold.
    */
  private def perceptronRoundsSql(rounds: Int, f: String, l: String,
      averaged: Boolean = false): String = {
    val sb = new StringBuilder
    sb ++= s"w1 AS MATERIALIZED (SELECT feat, sum(label * cnt) AS w FROM $f JOIN $l USING (doc_id) GROUP BY 1)"
    if (averaged) sb ++= ", ws1 AS (SELECT feat, w FROM w1)"
    for (r <- 2 to rounds) {
      val p = r - 1
      sb ++= s", m$r AS (SELECT $l.doc_id, $l.label, coalesce(sum($f.cnt * w$p.w), 0) AS margin " +
        s"FROM $l LEFT JOIN $f USING (doc_id) LEFT JOIN w$p USING (feat) GROUP BY 1, 2)"
      sb ++= s", d$r AS (SELECT $f.feat, sum(m.label * $f.cnt) AS d FROM m$r m JOIN $f USING (doc_id) " +
        s"WHERE m.label * m.margin <= 0 GROUP BY 1)"
      sb ++= s", w$r AS MATERIALIZED (SELECT w$p.feat, w$p.w + coalesce(d$r.d, 0) AS w FROM w$p LEFT JOIN d$r USING (feat))"
      if (averaged)
        sb ++= s", ws$r AS MATERIALIZED (SELECT ws$p.feat, ws$p.w + w$r.w AS w FROM ws$p JOIN w$r USING (feat))"
    }
    sb.toString
  }

  private def hashedFeatSql(name: String, dim: Int, rel: String): String = {
    val h = graft.llmops.PortableHash.duckHash52("tok")
    s"$name AS MATERIALIZED (SELECT doc_id, $h % $dim AS feat, count(*) AS cnt FROM " +
      s"(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM $rel) t$name " +
      "WHERE tok <> '' GROUP BY 1, 2)"
  }

  private def perceptronSql(dim: Int, rounds: Int): String = {
    val marked = "(SELECT doc_id, text || CASE WHEN doc_id % 20 < 10 THEN '" +
      GoodMark + "' ELSE '" + BadMark + "' END AS text FROM documents) da"
    "WITH " + hashedFeatSql("f", dim, marked) + ", " +
      "l AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 20 < 10 THEN 1 ELSE -1 END AS label FROM documents WHERE (doc_id // 20) % 4 = 0), " +
      perceptronRoundsSql(rounds, "f", "l") + ", " +
      s"s AS (SELECT doc.doc_id, coalesce(sum(f.cnt * w$rounds.w), 0) AS margin " +
      s"FROM documents doc LEFT JOIN f USING (doc_id) LEFT JOIN w$rounds USING (feat) GROUP BY 1) " +
      "SELECT doc_id, CAST(margin AS BIGINT) AS margin, " +
      "CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred FROM s ORDER BY doc_id"
  }

  /** Distillation transfer oracle: gate labels on the even half (spam
    * stratum planted on both halves), the same unrolled training chain
    * with the averaged-weight (ws) ladder, confusion of learned pred vs
    * gate verdict on the held-out odd half.
    */
  private def distillSql(dim: Int, rounds: Int): String = {
    def planted(parity: Int, alias: String) =
      s"(SELECT doc_id, CASE WHEN doc_id % 5 = 2 THEN '$SpamText' ELSE text END AS text " +
        s"FROM documents WHERE doc_id % 2 = $parity) $alias"
    def gateLabels(name: String, parity: Int) =
      s"$name AS MATERIALIZED (SELECT doc AS doc_id, CASE WHEN keep THEN 1 ELSE -1 END AS label FROM " +
        s"(${qualityGateSqlOver(planted(parity, s"dd$parity"))}) gg$parity)"
    "WITH " + hashedFeatSql("f", dim, planted(0, "de")) + ", " +
      gateLabels("l", 0) + ", " +
      perceptronRoundsSql(rounds, "f", "l", averaged = true) + ", " +
      hashedFeatSql("fo", dim, planted(1, "dq")) + ", " +
      gateLabels("lo", 1) + ", " +
      s"sc AS (SELECT d.doc_id, coalesce(sum(fo.cnt * ws$rounds.w), 0) AS margin " +
      s"FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d LEFT JOIN fo USING (doc_id) LEFT JOIN ws$rounds USING (feat) GROUP BY 1) " +
      "SELECT CAST(lo.label AS BIGINT) AS gate_label, " +
      "CAST(CASE WHEN sc.margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred, " +
      "CAST(count(*) AS BIGINT) AS n FROM sc JOIN lo USING (doc_id) GROUP BY 1, 2 ORDER BY 1, 2"
  }
}
