package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, token counting, document fingerprinting, language ID.
  * All pure narrow transformations (no shuffle) built from codegen'd
  * built-ins — at 100 TB these run at scan speed inside one
  * WholeStageCodegen span; only downstream aggregates shuffle.
  */
object TextAnalysis {

  /** Punctuation class used by quality metrics (kept explicit so the DuckDB
    * oracle can state the identical class).
    */
  val PunctClass = """[.,;:!?'"()\-]"""

  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish surface tokenization: letter runs, digit runs, single
    * non-alphanumeric marks — the standard pre-tokenizer shape.
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Stopword list for quality scoring (top English function words). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with", "as", "by")

  /** Encoding-quality metrics — the mojibake detector (CCNet drops
    * encoding-mangled documents before anything else looks at them): a
    * crawl that guessed the charset wrong litters the text with U+FFFD
    * replacement characters and control bytes. Counts both and their
    * combined ratio — all codegen'd length arithmetic, no per-char UDF.
    * Gate on `bad_char_ratio` upstream of the quality gate; a few
    * scattered replacements are survivable, a saturated doc is garbage.
    */
  def withEncodingQuality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nRepl = (length(t) -
      length(regexp_replace(t, "�", ""))).cast("long")
    // C0 controls except tab/newline/carriage-return.
    val nCtrl = (length(t) -
      length(regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")))
      .cast("long")
    df.withColumn("n_replacement", nRepl)
      .withColumn("n_control", nCtrl)
      .withColumn("bad_char_ratio",
        when(length(t) > 0,
          round((nRepl + nCtrl) / length(t).cast("double"), 6)).otherwise(lit(0.0)))
  }

  /** Length / punctuation / stopword quality metrics per document.
    * `tokens` picks the tokenization unit — [[wsTokens]] (default) or
    * [[scriptTokens]] for mixed-script corpora.
    */
  def withQuality(df: DataFrame, textCol: String = "text",
      tokens: Column => Column = wsTokens): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val sw = array(Stopwords.map(lit): _*)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, PunctClass, ""))).cast("long"))
      .withColumn("n_stopwords",
        size(filter(toks, x => array_contains(sw, lower(x)))).cast("long"))
      .withColumn("punct_ratio", round(col("n_punct") / col("n_chars"), 6))
      .withColumn("stopword_ratio", round(col("n_stopwords") / col("n_tokens"), 6))
      .withColumn("avg_token_len",
        // Σ length(tok) computed as length(concat_ws("", toks)) — the
        // codegen replacement for the interpreted aggregate(transform())
        // fold (r16); integer-identical (tokenizers never emit null
        // tokens, the one case where concat_ws's null-skip would differ).
        round(length(concat_ws("", toks)) / col("n_tokens"), 6))
  }

  /** Gopher-style structural quality rules (Rae et al. 2021, table A1 —
    * the published filter set the whole field reuses): the doc-shape
    * pathologies [[qualityGate]]'s lexical metrics don't see —
    * bullet-point listings, ellipsis-spam link farms, symbol soup,
    * non-alphabetic token floods, stopword-free keyword stuffing. One
    * row per doc with every gauge plus the keep/reason verdict at the
    * published thresholds (parameterized):
    *
    *   - `n_tokens` ∈ [minTokens, maxTokens] (50..100k published)
    *   - `mean_word_len` ∈ [3, 10]
    *   - `symbol_ratio` ≤ 0.1 — '#' characters plus ellipses ("..."/…)
    *     per token
    *   - `bullet_line_frac` ≤ 0.9 — non-blank lines starting -, * or •
    *   - `ellipsis_line_frac` ≤ 0.3 — non-blank lines ending in an
    *     ellipsis
    *   - `alpha_word_frac` ≥ 0.8 — tokens containing ≥ 1 ASCII letter
    *   - `n_stop_hits` ≥ 2 — distinct [[Stopwords]] present
    *
    * Precedence is the listed order; `reason` names the FIRST failing
    * rule (the quality-gate contract). Pure codegen'd split/regexp
    * arithmetic — runs at scan speed, every gauge 6-dp-rounded and
    * SQL-replayable (q_x_gopher_rules).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50, maxTokens: Long = 100000,
      tokens: Column => Column = wsTokens): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val sw = array(Stopwords.map(lit): _*)
    val nTokens = size(toks).cast("long")
    val nLines = size(lines).cast("long")
    df.select(col(idCol).as("doc"),
        nTokens.as("n_tokens"),
        round(aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x)
          / nTokens, 6).as("mean_word_len"),
        round((length(t) - length(regexp_replace(t, "#", "")) +
          size(regexp_extract_all(t, lit("\\.\\.\\.|…"), lit(0))))
          / nTokens.cast("double"), 6).as("symbol_ratio"),
        round(size(filter(lines, l => l.rlike("^[-*•]")))
          / nLines.cast("double"), 6).as("bullet_line_frac"),
        round(size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$")))
          / nLines.cast("double"), 6).as("ellipsis_line_frac"),
        round(size(filter(toks, x => x.rlike("[A-Za-z]")))
          / nTokens.cast("double"), 6).as("alpha_word_frac"),
        size(array_intersect(array_distinct(transform(toks, x => lower(x))), sw))
          .cast("long").as("n_stop_hits"))
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("mean_word_len") < 3.0, "short_words")
          .when(col("mean_word_len") > 10.0, "long_words")
          .when(col("symbol_ratio") > 0.1, "symbol_soup")
          .when(col("bullet_line_frac") > 0.9, "bullet_listing")
          .when(col("ellipsis_line_frac") > 0.3, "ellipsis_spam")
          .when(col("alpha_word_frac") < 0.8, "non_alpha")
          .when(col("n_stop_hits") < 2, "no_stopwords")
          .otherwise("keep"))
      .withColumn("keep", col("reason") === "keep")
  }

  /** Vocabulary export — the tokenizer/embedding-training artifact: the
    * top `size` terms by collection frequency (ties by term), each with
    * a STABLE id = its rank, collection tf and document df. `minDf`
    * drops hapax noise before the cut. The top cut plans as
    * TakeOrderedAndProject (never a global sort) and the id window runs
    * over ≤ `size` rows — the zipfFit discipline.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      size: Int = 1 << 15, minDf: Long = 1,
      tokens: Column => Column = wsTokens): DataFrame = {
    require(size >= 1 && minDf >= 1)
    val terms = df.select(col(idCol).as("doc"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct("doc").as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("tf").desc, col("term")).limit(size)
    val w = Window.orderBy(col("tf").desc, col("term"))
    terms.withColumn("id", (row_number().over(w) - 1).cast("long"))
      .select("id", "term", "tf", "df")
  }

  /** Canonical document fingerprint: md5 over lowercased,
    * whitespace-collapsed text — the exact-dedup key that survives
    * formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** CCNet-style text normalization — the canonicalization every robust
    * dedup/matching key starts from: lowercase, trim, optionally strip
    * punctuation and map every digit to 0 (so "Call 555-1234!" and
    * "call 555 5678" collide), then collapse whitespace runs to one
    * space. Order is load-bearing: punctuation stripping can create
    * double spaces, so the collapse comes LAST. Pure codegen'd
    * regexp_replace chain (patterns in Java-regex/RE2-common syntax,
    * same contract as the PII rules) — runs at scan speed, and feeding
    * it to [[fingerprint]]'s md5 gives the noise-robust dedup key.
    */
  def normalize(text: Column, stripPunct: Boolean = true,
      digitsToZero: Boolean = true): Column = {
    val lowered = lower(trim(text))
    val p = if (stripPunct) regexp_replace(lowered, PunctClass, "") else lowered
    val d = if (digitsToZero) regexp_replace(p, "[0-9]", "0") else p
    regexp_replace(d, "\\s+", " ")
  }

  /** HTML → text extraction — the step BEFORE every curation stage when
    * the corpus is a raw crawl (CCNet/C4 run on extracted text, not
    * markup): drop `<script>`/`<style>` payloads WITH their content
    * (executable/style text is never training text), strip comments and
    * all remaining tags, decode the six ubiquitous character entities,
    * collapse whitespace. Order is load-bearing: script/style/comment
    * blocks go first (their CONTENT must vanish, so the generic
    * tag-stripper must not see their tags), entity decode AFTER tag
    * removal (decoding `&lt;script&gt;` earlier would fabricate tags),
    * collapse last. Pure codegen'd regexp_replace chain — `(?is)` flags
    * and lazy quantifiers sit in the Java-regex/RE2-common subset, so
    * the transform is replicated verbatim by the DuckDB oracle — and
    * runs at scan speed; no parse tree, which is the point: a real
    * crawl's HTML is too broken for a strict parser at 100 TB, and
    * regex extraction is what the production pipelines (CCNet's
    * WET-style extraction) actually do.
    */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    // entity patterns are metachar-free literals shared VERBATIM with the
    // DuckDB oracle (no \Q\E quoting — RE2 lacks it); amp decodes LAST so
    // "&amp;lt;" stays the text "&lt;" instead of fabricating a tag.
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, ent, ch)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Main-content extraction — the jusText/trafilatura-class heuristic
    * BETWEEN [[stripHtml]] (which keeps everything, nav bars included)
    * and the corpus-level scrubs ([[graft.llmops.Dedup.dedupLines]],
    * boilerplate removal, which need many documents to vote): boilerplate
    * blocks are overwhelmingly LINKS (nav menus, footers, related-article
    * farms), so the page splits at block-level tags and each block keeps
    * only if its visible text is long enough (`minBlockChars`) and its
    * anchor-text share is low enough (`link density =
    * anchor_chars / text_chars ≤ maxLinkDensity`). Kept blocks rejoin
    * with newlines (the line structure feeds [[gopherRules]]). Returns
    * (doc, main_text, n_blocks_kept, n_blocks_dropped) — blocks with no
    * visible text at all are structural and count as neither.
    *
    * Scope (stated): anchors are inline elements — an `<a>` spanning a
    * block boundary contributes to neither side (malformed nesting);
    * script/style/comment payloads die first (the stripHtml contract);
    * entity decoding matches stripHtml's six so text and anchor lengths
    * are measured on the same alphabet.
    *
    * Scale: one pure codegen'd projection — split, per-block regexp
    * arithmetic inside array lambdas, one array_join. Zero shuffles,
    * corpus-linear, the stripHtml lane shape.
    */
  def extractMainContent(df: DataFrame, idCol: String, htmlCol: String,
      maxLinkDensity: Double = 0.5, minBlockChars: Int = 20): DataFrame = {
    require(maxLinkDensity >= 0.0 && minBlockChars >= 1)
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val cleaned = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blockSplit = "(?i)</?(?:p|div|section|article|li|ul|ol|h[1-6]|table" +
      "|thead|tbody|tr|td|th|blockquote|header|footer|nav|aside|main)" +
      "(?:\\s[^>]*)?>|<br\\s*/?>"
    def visible(c: Column): Column = {
      val noTags = regexp_replace(c, "<[^>]+>", " ")
      val decoded = Seq(
        "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&"
      ).foldLeft(noTags) { case (x, (ent, ch)) => regexp_replace(x, ent, ch) }
      trim(regexp_replace(decoded, "\\s+", " "))
    }
    val stats = transform(split(cleaned, blockSplit), b => {
      val txt = visible(b)
      val aChars = aggregate(
        transform(regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
          a => length(visible(a)).cast("long")),
        lit(0L), (acc, x) => acc + x)
      struct(txt.as("txt"), length(txt).cast("long").as("n"), aChars.as("a"))
    })
    val considered = filter(stats, s => s.getField("n") > 0L)
    val kept = filter(considered, s =>
      s.getField("n") >= minBlockChars.toLong &&
        s.getField("a").cast("double") <=
          lit(maxLinkDensity) * s.getField("n").cast("double"))
    df.select(col(idCol).as("doc"),
      array_join(transform(kept, s => s.getField("txt")), "\n").as("main_text"),
      size(kept).cast("long").as("n_blocks_kept"),
      (size(considered) - size(kept)).cast("long").as("n_blocks_dropped"))
  }

  /** Content opt-out detection — the in-page consent signals a
    * training-data crawl is expected to honor, surfaced as governance
    * columns (the [[robotsFilter]] story at PAGE granularity):
    * `<meta name="robots">` directives `noindex`/`nofollow`/`noai`
    * (the emerging AI-training opt-out token) and the TDM Reservation
    * Protocol meta (`name="tdm-reservation" content="1"`, the EU
    * text-and-data-mining opt-out). Matching is attribute-order- and
    * quote-style-tolerant, case-insensitive, and token-exact inside the
    * content list (`"noindex, nofollow"` parses; a page saying
    * `noindexing` does not trip `noindex`). Returns every document:
    * (doc, noindex, nofollow, noai, tdm_reserved) — the DECISION (drop,
    * keep-but-flag, honor-some) is the caller's policy; this operator
    * is the detector, the [[termBlocklist]] counts-are-the-record
    * stance.
    *
    * Scale: one codegen'd projection (meta-tag extract + per-tag array
    * lambdas), zero shuffles — the stripHtml lane.
    */
  def contentOptOuts(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val tags = regexp_extract_all(col(htmlCol), lit("(?is)<meta\\s[^>]*>"), lit(0))
    def attr(t: Column, a: String): Column =
      lower(regexp_extract(t, "(?i)" + a + "\\s*=\\s*[\"']([^\"']*)[\"']", 1))
    def robotsHas(tok: String): Column = exists(tags, t =>
      attr(t, "name") === "robots" &&
        array_contains(split(attr(t, "content"), "[,\\s]+"), tok))
    df.select(col(idCol).as("doc"),
      robotsHas("noindex").as("noindex"),
      robotsHas("nofollow").as("nofollow"),
      robotsHas("noai").as("noai"),
      exists(tags, t => attr(t, "name") === "tdm-reservation" &&
        attr(t, "content") === "1").as("tdm_reserved"))
  }

  /** Markdown → text extraction — the [[stripHtml]] sibling for the
    * other ubiquitous crawl format (GitHub/docs corpora are markdown):
    * fenced code blocks are REMOVED with their content (code is not
    * prose — the script/style precedent), inline code/links/images keep
    * their text, header/blockquote/list/emphasis/hr markers strip.
    * Order is load-bearing: fences first (their content must not be
    * text-processed), inline code before links (a code span may contain
    * brackets), images before links (the image pattern is the link
    * pattern plus `!`), emphasis before list markers (`* item` is a
    * list, `*word*` emphasis — the emphasis pattern requires a closing
    * marker on the same line), hr last among the line rules. Only
    * `__strong__` underscores strip — single `_` stays, so snake_case
    * identifiers survive. Newlines are PRESERVED (the line structure
    * feeds [[gopherRules]]); only space/tab runs collapse. Pure
    * codegen'd regexp chain in the Java-regex/RE2-common subset —
    * replicated verbatim by the oracle (q_x_text_strip_markdown).
    */
  def stripMarkdown(text: Column): Column = {
    val noFence = regexp_replace(text, "(?s)```.*?```", " ")
    val noInline = regexp_replace(noFence, "`([^`]*)`", "$1")
    val noImg = regexp_replace(noInline, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noHead = regexp_replace(noLink, "(?m)^#{1,6}[ \\t]*", "")
    val noBold = regexp_replace(noHead, "\\*{1,3}([^*\\n]+)\\*{1,3}", "$1")
    val noUnder = regexp_replace(noBold, "__([^_\\n]+)__", "$1")
    val noQuote = regexp_replace(noUnder, "(?m)^>[ \\t]?", "")
    val noList = regexp_replace(noQuote,
      "(?m)^[ \\t]*([-*+]|[0-9]+\\.)[ \\t]+", "")
    val noHr = regexp_replace(noList, "(?m)^[-*_][-*_ \\t]{2,}$", "")
    trim(regexp_replace(noHr, "[ \\t]+", " "))
  }

  /** Extracted URLs as an array column — the input to domain blocklists,
    * URL-level dedup, and link-density quality signals (a page that is
    * mostly links is navigation, not prose). The pattern is deliberately
    * simple and shared verbatim with the oracle: `https?://` followed by
    * host/path characters, stopping at whitespace or closing
    * punctuation.
    */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit("https?://[A-Za-z0-9._~:/?#\\[\\]@!$&'*+,;=%()-]+"), lit(0))

  /** Registrable-host extraction from a URL string: the text between
    * `://` and the first `/`, `?`, `#`, or `:` (port), lowercased — the
    * per-domain key `Corpus.sourceQuota`/`withoutSources` cap and block
    * on when the corpus carries URLs instead of curated source labels.
    */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z]+://([^/?#:]+)", 1))

  /** Unicode NFC canonicalization (see
    * [[org.apache.spark.sql.graftfn.NfcNormalize]] — codegen'd, fast-path
    * copy-free on already-normalized text): run BEFORE any byte-keyed
    * operator (exact dedup md5, MinHash shingles, PII regexes, BPE) or
    * decomposed/precomposed spellings of one word count as different
    * content.
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graftfn.NfcNormalize.nfc(text)

  /** Invisible-character scrub — zero-width space/joiner/non-joiner,
    * word-joiner, BOM-as-ZWNBSP, soft hyphen: characters that render as
    * nothing but split tokens, break dedup keys, and are a classic spam
    * cloaking trick (zero-width stuffing defeats naive word filters).
    * A single codegen'd character-class regexp, shared verbatim with the
    * oracle (`\x{...}` is the Java-regex/RE2 common subset).
    */
  def stripInvisible(text: Column): Column =
    regexp_replace(text,
      "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]", "")

  /** Intra-document REPETITION gauges — completing Gopher's repetition
    * family (Rae et al. 2021, Table A1) alongside [[ngramRepetition]]
    * (which covers the top/duplicated n-gram CHAR fractions) and
    * [[gopherRules]] (document shape). Per doc:
    *   - `dup_line_bps`: fraction of lines that are repeats of another
    *     line in the SAME document (Gopher's duplicate-line fraction —
    *     [[Dedup.dedupLines]] is the cross-document form) — computed per
    *     ROW from the line array, no shuffle;
    *   - `max_run`: longest run of the SAME consecutive token (stutter /
    *     generation-loop detector), one `aggregate` struct fold over the
    *     token array — no shuffle, no window;
    *   - `token_entropy`: Shannon entropy (nats) of the token
    *     distribution in the stable form `ln n − (Σ c·ln c)/n` —
    *     repetitive text scores low even when no single n-gram
    *     dominates; rounded to 6 (the NLL-gauge ln-portability
    *     discipline).
    * The only shuffle is the entropy's doc-keyed token count,
    * map-side combinable and output-bounded.
    */
  def repetitionGauges(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc"),
        wsTokens(col(textCol)).as("__toks"),
        split(col(textCol), "\n").as("__lines"))
      .withColumn("__n", size(col("__toks")).cast("long"))
    // per-row gauges: line dups and the max same-token run (struct fold)
    val perRow = base.select(col("doc"), col("__toks"), col("__n"),
      expr("((size(__lines) - size(array_distinct(__lines))) * 10000L) div size(__lines)")
        .as("dup_line_bps"),
      aggregate(col("__toks"),
        struct(lit("").as("prev"), lit(0L).as("cur"), lit(0L).as("best")),
        (acc, x) => {
          val cur = when(x === acc("prev"), acc("cur") + 1L).otherwise(1L)
          struct(x.as("prev"), cur.as("cur"),
            greatest(acc("best"), cur).as("best"))
        }, acc => acc("best")).as("max_run"))
    // token entropy: -sum p ln p over the per-doc token distribution
    val entropy = perRow
      .select(col("doc"), explode(col("__toks")).as("tok"))
      .groupBy("doc", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc").agg(sum("c").as("__nt"),
        sum(col("c") * log(col("c"))).as("__clnc"))
      .select(col("doc"), round(
        log(col("__nt")) - col("__clnc") / col("__nt"), 6)
        .as("token_entropy"))
    perRow.join(entropy, Seq("doc"), "left")
      .select(col("doc"), col("__n").as("n_tokens"), col("dup_line_bps"),
        col("max_run"), coalesce(col("token_entropy"), lit(0.0))
          .as("token_entropy"))
  }

  /** StarCoder/BigCode-style CODE quality gauges + gate — the structural
    * filters for source-code corpora, where [[gopherRules]]' prose shape
    * tests (stopwords, mean word length) are exactly wrong: code keeps or
    * drops on LINE geometry and character mix. Per document: `n_lines`,
    * `max_line` (minified/data blobs ship kilobyte lines), `avg_line`
    * (integer DIV — generated tables run wide everywhere), `alnum_bps`
    * (alphanumeric chars per 10k — binary/encoded soup scores near 0),
    * and an `autogen` flag (the "auto-generated / do not edit" header
    * convention — training on generator output teaches the generator,
    * not the language). `reason` names the FIRST failing rule (the
    * gopherRules cascade convention), `keep` is the gate. All counts are
    * integers and the thresholds compare integers, so the gate is
    * exactly portable across engines.
    *
    * Scale: per-row codegen'd string/array expressions — no shuffle, no
    * window, scan speed at 100 TB.
    */
  def codeQuality(df: DataFrame, idCol: String, textCol: String,
      maxLineLen: Long = 1000, maxAvgLineLen: Long = 100,
      minAlnumBps: Long = 2500): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol).as("doc"), t.as("__t"),
        split(t, "\n").as("__lines"))
      .select(col("doc"),
        size(col("__lines")).cast("long").as("n_lines"),
        array_max(transform(col("__lines"), l => length(l).cast("long")))
          .as("max_line"),
        aggregate(transform(col("__lines"), l => length(l).cast("long")),
          lit(0L), (a, x) => a + x).as("__tot"),
        length(col("__t")).cast("long").as("__len"),
        length(regexp_replace(col("__t"), "[^A-Za-z0-9]", "")).cast("long")
          .as("__alnum"),
        col("__t").rlike("(?i)auto-?generated|generated by|do not edit")
          .cast("long").as("autogen"))
      .withColumn("avg_line", expr("__tot div n_lines"))
      .withColumn("alnum_bps", expr("(__alnum * 10000) div greatest(__len, 1L)"))
      .withColumn("reason",
        when(col("autogen") === 1L, "autogenerated")
          .when(col("max_line") > maxLineLen, "long_line")
          .when(col("avg_line") > maxAvgLineLen, "wide_lines")
          .when(col("alnum_bps") < minAlnumBps, "binary_soup")
          .otherwise("keep"))
      .withColumn("keep", col("reason") === "keep")
      .select("doc", "n_lines", "max_line", "avg_line", "alnum_bps",
        "autogen", "reason", "keep")
  }

  /** Anchor-link extraction — the crawl-frontier / host-authority input:
    * every `<a ... href="...">` in raw HTML becomes one row with the link
    * resolved against the page's base URL and classified by destination
    * host. Feeds three consumers: the crawl frontier (new URLs to fetch),
    * the host link graph (group by `(src_host, dst_host)` → PageRank /
    * k-core over hosts — the classic crawl-quality authority signal), and
    * link-shape quality gauges (`internal` share separates navigation
    * from citation).
    *
    * Resolution is deliberately minimal and stated: absolute
    * (`scheme://…`) links pass through; protocol-relative (`//host/…`)
    * take the base scheme; root-relative (`/path`) take the base
    * scheme+host; everything else (`mailto:`, `javascript:`,
    * path-relative `a/b.html`) DROPS — path-relative resolution needs
    * RFC 3986 dot-segment normalization, which is not regular, and crawl
    * link graphs lose nothing host-level by skipping it (a path-relative
    * link is by construction internal). Quoted hrefs only (unquoted
    * attribute syntax is rare and ambiguous to delimit).
    *
    * Scale: a codegen'd regexp extract + explode — output-sized, no
    * shuffle; the host-graph aggregation downstream is one map-side
    * combinable groupBy on a low-cardinality key.
    */
  def extractLinks(df: DataFrame, idCol: String, htmlCol: String,
      baseUrlCol: String): DataFrame = {
    val hrefs = regexp_extract_all(col(htmlCol),
      lit("(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1))
    val sch = regexp_extract(col(baseUrlCol), "^([a-zA-Z]+)://", 1)
    df.select(col(idCol).as("doc"), urlHost(col(baseUrlCol)).as("src_host"),
        sch.as("__sch"), explode(hrefs).as("link"))
      .withColumn("url",
        when(col("link").rlike("^[a-zA-Z]+://"), col("link"))
          .when(col("link").startsWith("//"),
            concat(col("__sch"), lit(":"), col("link")))
          .when(col("link").startsWith("/"),
            concat(col("__sch"), lit("://"), col("src_host"), col("link")))
          .otherwise(lit(null)))
      .filter(col("url").isNotNull)
      .select(col("doc"), col("src_host"), col("link"), col("url"),
        urlHost(col("url")).as("dst_host"),
        (urlHost(col("url")) === col("src_host")).cast("long").as("internal"))
  }

  /** Canonical URL — the crawl-dedup key: two spellings of the same page
    * must collide BEFORE content ever downloads (the cheapest dedup in
    * the whole pipeline). The canonicalization, in load-bearing order:
    * fragment drops (never sent to the server); tracking parameters
    * (`utm_*`, `fbclid`, `gclid`, `msclkid`) drop with their delimiter —
    * a leading `&` left where `?` stood is repaired, a dangling `?`/`&`
    * trims; default ports (`:80` http, `:443` https) drop; scheme + host
    * lowercase (path/query stay case-sensitive per RFC 3986); one
    * trailing `/` trims. A pure codegen'd regexp chain in the
    * Java-regex/RE2-common subset (no lookarounds — the stripHtml
    * discipline), replicated verbatim by the oracle.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "[?&](utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&]*", "")
    val fixQ = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val noDangle = regexp_replace(fixQ, "[?&]+$", "")
    // lowercase BEFORE the port strip so `HTTPS://…:443` matches too.
    val lowered = concat(
      lower(regexp_extract(noDangle, "^([^/?#]*://[^/?#]*)", 1)),
      regexp_replace(noDangle, "^[^/?#]*://[^/?#]*", ""))
    val noP80 = regexp_replace(lowered, "^(http://[^/:?#]*):80(/|$)", "$1$2")
    val noP443 = regexp_replace(noP80, "^(https://[^/:?#]*):443(/|$)", "$1$2")
    regexp_replace(noP443, "/$", "")
  }

  /** Domain-blocklist filtering — the C4/RefinedWeb "bad domains"
    * curation step ([[graft.llmops.Curation]]'s source blocklist, at URL
    * granularity): a URL is blocked when its host OR ANY PARENT DOMAIN
    * is listed — blocking `spam.test` must catch `cdn.eu.spam.test`
    * (exact-host matching misses the crawl's subdomain farms), while
    * `spamtest.org` must NOT match (label-suffix, never substring).
    *
    * Suffix matching stays an EQUI-join: each host explodes into its
    * label suffixes (`a.b.spam.test` → a.b.spam.test, b.spam.test,
    * spam.test, test), the blocklist broadcasts, longest matched suffix
    * wins as `blocked_by`. The explode is capped at the `maxLabels`
    * SHORTEST suffixes (from the tail — blocklists list short domains,
    * and an adversarial 1000-label host must not 1000× its rows);
    * blocklist entries with more than `maxLabels` labels never match,
    * stated. Returns df + (host, blocked, blocked_by — null when kept).
    * Unparseable URLs keep (the empty host has no dotted labels matching
    * any listed domain).
    */
  def hostBlocklist(df: DataFrame, idCol: String, urlCol: String,
      blocked: DataFrame, maxLabels: Int = 8): DataFrame = {
    val base = df.withColumn("host", urlHost(col(urlCol)))
    val labels = split(col("host"), "\\.")
    val sfx = base.select(col(idCol).as("__doc"), explode(
        transform(
          sequence(greatest(lit(1), size(labels) - (maxLabels - 1)), size(labels)),
          i => array_join(slice(labels, i, size(labels)), ".")))
      .as("__sfx"))
    val b = broadcast(blocked
      .select(lower(col(blocked.columns.head).cast("string")).as("__b")).distinct())
    val hits = sfx.join(b, col("__sfx") === col("__b"))
      .groupBy("__doc")
      .agg(max(struct(length(col("__sfx")).as("l"), col("__sfx").as("s"))).as("__m"))
      .select(col("__doc"), col("__m.s").as("blocked_by"))
    base.join(hits, base(idCol) === hits("__doc"), "left")
      .drop("__doc")
      .withColumn("blocked", col("blocked_by").isNotNull)
  }

  /** Banned-term/phrase content filter — the C4 "bad words" step (Raffel
    * et al. 2020 drop any page containing a term from a curated
    * blocklist), the CONTENT-granular sibling of [[hostBlocklist]]
    * (domains) and `Corpus.withoutSources` (source labels): documents are
    * matched against a curated term table where a term may be a single
    * word OR a multi-word phrase. Matching is token-exact on the
    * lowercased token stream (never substring — "class" must not match
    * "classic"; the tokenizer defines word boundaries, `tokens` param per
    * the r10 rule), phrases match as n-token sliding windows (overlapping
    * occurrences each count — "batch batch batch" contains "batch batch"
    * twice). Returns every document: (doc, n_hits — total occurrences,
    * n_terms — distinct terms matched, blocked = n_hits > 0); the counts
    * are the governance record, the C4 policy is `filter(!blocked)`.
    *
    * Scale: the term list is curated (10²–10⁴ rows) — it broadcasts, and
    * its distinct token-LENGTHS (a handful) drive one shingle pass per
    * length over the corpus: work is Σ_n |corpus tokens| per distinct
    * phrase length, corpus-linear with a small constant, no window, no
    * corpus-side blow-up (the shingle stream is matched, never
    * materialized past its join). The distinct-length collect is
    * blocklist-bounded (the mergeTable bounded-collect class).
    */
  def termBlocklist(df: DataFrame, idCol: String, textCol: String,
      terms: DataFrame, termCol: String = "term",
      tokens: Column => Column = wsTokens): DataFrame = {
    val t = terms
      .select(lower(trim(col(termCol).cast("string"))).as("term"))
      .filter(length(col("term")) >= 1).distinct()
      .withColumn("n", size(wsTokens(col("term"))))
      .localCheckpoint(eager = true) // feeds the length collect + every join
    val lens = t.select("n").distinct().collect().map(_.getInt(0)).sorted
    val toks = df.select(col(idCol).as("doc"),
      tokens(lower(col(textCol))).as("__toks"))
    // ONE corpus pass whatever the length mix: every needed shingle
    // length generates inside one concatenated array expression and one
    // explode (n per-length passes would re-scan the corpus per length)
    val gramArrays = lens.map { n =>
      when(size(col("__toks")) >= n,
        expr(s"transform(sequence(1, size(__toks) - ${n - 1}), " +
          s"i -> named_struct('n', ${n}L, 'g', concat_ws(' ', slice(__toks, i, $n))))"))
        .otherwise(array().cast("array<struct<n:bigint,g:string>>"))
    }
    val perDoc =
      if (lens.isEmpty) None
      else Some(toks
        .select(col("doc"), explode(concat(gramArrays: _*)).as("x"))
        .select(col("doc"), col("x.n").as("n"), col("x.g").as("g"))
        .join(broadcast(t.select(col("n").cast("long").as("n"),
          col("term").as("g"))), Seq("n", "g"))
        .groupBy("doc").agg(count(lit(1)).as("n_hits"),
          countDistinct(col("g")).as("n_terms")))
    val base = df.select(col(idCol).as("doc"))
    perDoc.fold(base.select(col("doc"), lit(0L).as("n_hits"),
        lit(0L).as("n_terms"), lit(false).as("blocked"))) { h =>
      base.join(h, Seq("doc"), "left")
        .select(col("doc"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("n_terms"), lit(0L)).as("n_terms"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("blocked"))
    }
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * local fingerprinting scheme): hash every token k-gram, slide a
    * w-gram window, and select each window's minimum hash (ties → the
    * LEFTMOST position, deterministic). Guarantees: any shared token run
    * of length ≥ w + k − 1 between two documents produces at least one
    * IDENTICAL selected (fingerprint, offset-invariant) — the local
    * analog of [[fingerprint]], which only catches whole-document dups.
    * Expected density ≈ 2/(w+1) of grams, so output is a small fraction
    * of the corpus. Documents with fewer than w grams contribute their
    * single global minimum; fewer than k tokens → no fingerprints.
    * Returns distinct (doc, pos, fp).
    *
    * Scale: one pass — the gram hashes and both window aggregates ride
    * the SAME per-doc sort (one Exchange + sort, three window functions,
    * no join); the final distinct is a fraction-of-corpus shuffle. Never
    * quadratic, never a cross join; matching fingerprints downstream is
    * an equi-join on fp exactly like the substring-dedup seed join.
    */
  def winnowing(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1)
    val toks = df.select(col(idCol).as("doc"),
      posexplode(wsTokens(col(textCol))).as(Seq("pos", "tok")))
    val wTok = Window.partitionBy("doc").orderBy("pos")
    val leads = (1 until k).map(i => lead(col("tok"), i).over(wTok).as(s"_t$i"))
    val grams = toks.select(col("doc") +: col("pos") +: col("tok") +: leads: _*)
      .filter(if (k == 1) lit(true) else col(s"_t${k - 1}").isNotNull)
      .select(col("doc"), col("pos"), PortableHash.hash52(concat_ws(" ",
        col("tok") +: (1 until k).map(i => col(s"_t$i")): _*)).as("h"))
    val frame = Window.partitionBy("doc").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__mn", min(struct(col("h"), col("pos"))).over(frame))
      .withColumn("__cnt", count(lit(1)).over(frame))
      // valid window starts: full w-gram windows, plus the single
      // truncated window at pos 0 when the doc has fewer than w grams.
      .filter(col("__cnt") === w || (col("pos") === 0 && col("__cnt") < w))
      .select(col("doc"), col("__mn")("pos").cast("long").as("pos"),
        col("__mn")("h").as("fp"))
      .distinct()
  }

  /** Per-document top-k TF-IDF terms (lowercased whitespace tokens,
    * smoothed idf = ln((N+1)/(df+1)) + 1). Two shuffles: term-frequency
    * groupBy and the per-doc top-k window; only the 1-row corpus size
    * broadcasts. The document-frequency table gets NO broadcast hint: its
    * cardinality is the vocabulary, which at corpus scale is unbounded
    * (hundreds of millions of terms at 100 TB) — AQE may still broadcast
    * it at runtime when it measures small, but a forced hint would OOM the
    * driver at scale. Ranking ties (identical (tf, df) pairs produce
    * bit-identical scores) break on the term string — deterministic, and
    * exactly reproducible in SQL.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(wsTokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfc, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc"), col("rn"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score"))
  }

  /** PII patterns — kept to syntax valid AND equivalent in both Java regex
    * (Spark codegen) and RE2 (DuckDB oracle): character classes, bounded
    * repetition, non-capturing groups, \b word boundaries. Replacement
    * order is load-bearing: emails first (they contain dots and digits),
    * then IPv4 (digit groups ≤ 3 — can't collide with the long-digit-run
    * rule), then bare digit runs ≥ 7 (phone/account/SSN shapes).
    */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val DigitRunRe: String = "\\b\\d{7,}\\b"

  /** Scrub PII into typed placeholders. Pure chained codegen'd
    * regexp_replace — runs at scan speed, no shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      DigitRunRe, "[NUM]")

  /** Per-document PII hit counts plus the scrubbed text — the audit row a
    * compliance pass wants next to every redaction.
    */
  def withPiiCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(Ipv4Re)).cast("long"))
      .withColumn("n_digit_runs",
        regexp_count(regexp_replace(regexp_replace(t, EmailRe, "[EMAIL]"),
          Ipv4Re, "[IP]"), lit(DigitRunRe)).cast("long"))
      .withColumn("redacted", redactPii(t))
  }

  /** Gopher-style word-n-gram repetition metrics (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * §A1.1): per document, the character fraction covered by the most
    * frequent word n-gram and by all duplicated n-grams. High values mark
    * boilerplate / template spam that exact and near-dup passes miss
    * because the repetition is *within* one document.
    *
    * Shape (r15): ONE narrow pass — the per-doc gram counts, top gram
    * and duplicated-char totals are computed inside the codegen'd
    * [[org.apache.spark.sql.graftfn.NgramRepStats]] expression (every
    * gram of a document lives in its own row; the former explode →
    * groupBy(doc, gram) → groupBy(doc) → join chain shuffled the whole
    * gram stream twice to compute row-local statistics, guide §2.4).
    * Tie-break for the top gram is unchanged: (count, gram) max with
    * binary string order. Documents shorter than n tokens keep a row
    * (zero fractions, null top gram) — the expression returns null and
    * the coalesces below reproduce the old left-join-miss outputs.
    */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, tokens: Column => Column = wsTokens): DataFrame = {
    import org.apache.spark.sql.graftfn.NgramRepStats
    df.select(col(idCol).as("doc"),
        length(trim(col(textCol))).cast("long").as("n_chars"),
        NgramRepStats.stats(tokens(col(textCol)), n).as("__rep"))
      .select(col("doc"), col("n_chars"),
        coalesce(col("__rep")("n_grams"), lit(0L)).as("n_grams"),
        col("__rep")("top_gram").as("top_gram"),
        col("__rep")("top_count").as("top_count"),
        coalesce(round(col("__rep")("top_count") * length(col("__rep")("top_gram"))
          / col("n_chars"), 6), lit(0.0)).as("top_gram_char_frac"),
        coalesce(round(col("__rep")("dup_chars") / col("n_chars"), 6), lit(0.0))
          .as("dup_gram_char_frac"))
  }

  /** Narrow (shuffle-free) lexical-diversity column: distinct tokens over
    * total tokens (type-token ratio). Low values = repetitive text.
    *
    * Tokens are compared lowercased through the compiled
    * [[org.apache.spark.sql.graftfn.RootLower]], not `lower()`: this gauge
    * runs on every document of the quality gates, and in Spark 4.1 the
    * first `lower()` of a JVM pays about 1 s of ICU table set-up on one
    * task. RootLower is `lower()` on every code point the JDK's Unicode
    * knows (the exceptions are listed in its scaladoc).
    */
  def typeTokenRatio(text: Column,
      tokens: Column => Column = wsTokens): Column = {
    val toks = tokens(org.apache.spark.sql.graftfn.RootLower.lower(text))
    round(size(array_distinct(toks)).cast("double") / size(toks), 6)
  }

  /** Composite Gopher-style quality gate: every rule is an explicit column
    * so downstream curation can report per-rule drop counts, and `reason`
    * names the FIRST failing rule (deterministic CASE order). Thresholds
    * are constructor-visible, not buried, because corpus curation tunes
    * them per source.
    */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 5, maxTokens: Long = 100000,
      minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
      minTypeToken: Double = 0.2, maxDupGramFrac: Double = 0.75,
      tokens: Column => Column = wsTokens): DataFrame = {
    // tokens threads through every sub-gauge; with [[scriptTokens]] on a
    // CJK corpus, retune the length thresholds (per-char tokens have
    // avg_token_len 1) — the gate's units are the tokenizer's units.
    // All four gauges are narrow columns (r15): the gate is ONE
    // shuffle-free pass over the corpus.
    val q = withQuality(df.select(col(idCol).as("doc"), col(textCol).as("text")),
        tokens = tokens)
      .withColumn("type_token_ratio", typeTokenRatio(col("text"), tokens))
      .withColumn("dup_gram_char_frac", dupGramCharFrac(col("text"), tokens))
    q.select(col("doc"), col("n_tokens"), col("avg_token_len"),
        col("type_token_ratio"), col("dup_gram_char_frac"),
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("avg_token_len") < minAvgTokenLen, "short_tokens")
          .when(col("avg_token_len") > maxAvgTokenLen, "long_tokens")
          .when(col("type_token_ratio") < minTypeToken, "low_diversity")
          .when(col("dup_gram_char_frac") > maxDupGramFrac, "repetitive")
          .otherwise("keep").as("reason"))
      .withColumn("keep", col("reason") === "keep")
  }

  /** [[qualityGate]] driven by DATA-FITTED per-source thresholds — the
    * [[gateThresholdsBySource]] / [[refitGateOnDrift]] row shape
    * (source, min_tokens, max_tokens, max_avg_token_len, min_type_token,
    * max_dup_gram_frac) — instead of constructor constants: the gate a
    * drifted re-release actually runs after the re-fit. Rule set follows
    * the FITTED thresholds (no short_tokens rule — the fit publishes
    * only the upper token-length quantile), precedence unchanged; a
    * source with no thresholds row keeps (no fitted rule ⇒ no drop —
    * the refit contract is per-source opt-in). Same metric chain and
    * scale shape as [[qualityGate]]; the thresholds table is
    * sources-sized and broadcasts.
    */
  def qualityGateFitted(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, thresholds: DataFrame,
      tokens: Column => Column = wsTokens): DataFrame = {
    val thr = broadcast(thresholds.select(col(sourceCol).as("source"),
      col("min_tokens"), col("max_tokens"), col("max_avg_token_len"),
      col("min_type_token"), col("max_dup_gram_frac")))
    qualityGateMetricJoin(df, idCol, textCol, sourceCol, tokens)
      .join(thr, Seq("source"), "left")
      .select(col("doc"), col("source"), col("n_tokens"), col("avg_token_len"),
        col("type_token_ratio"), col("dup_gram_char_frac"),
        when(col("n_tokens") < col("min_tokens"), "too_short")
          .when(col("n_tokens") > col("max_tokens"), "too_long")
          .when(col("avg_token_len") > col("max_avg_token_len"), "long_tokens")
          .when(col("type_token_ratio") < col("min_type_token"), "low_diversity")
          .when(col("dup_gram_char_frac") > col("max_dup_gram_frac"), "repetitive")
          .otherwise("keep").as("reason"))
      .withColumn("keep", col("reason") === "keep")
  }

  /** `dup_gram_char_frac` as a NARROW column (value-identical to
    * [[ngramRepetition]]'s output column of the same name) — lets the
    * gates compute it inline instead of joining a second derivation of
    * the corpus back onto itself (r15; the join was a shuffle of both
    * sides keyed by doc).
    */
  private def dupGramCharFrac(text: Column,
      tokens: Column => Column, n: Int = 2): Column = {
    import org.apache.spark.sql.graftfn.NgramRepStats
    coalesce(round(NgramRepStats.stats(tokens(text), n)("dup_chars") /
      length(trim(text)).cast("long"), 6), lit(0.0))
  }

  /** The [[qualityGate]] verdict as ONE narrow Column — gauge
    * expressions, thresholds and precedence copied verbatim from
    * [[qualityGate]] (value-identical per doc; the gate is per-document,
    * so where it is evaluated does not change its answer). Lets
    * [[Curation]] carry the verdict as a column on its one cascade frame
    * instead of computing a separate gate frame and joining it back
    * (r16: the join-back was one checkpoint + one shuffle per ledger).
    */
  private[llmops] def qualityReasonExpr(text: Column,
      minTokens: Long, maxTokens: Long, minAvgTokenLen: Double,
      maxAvgTokenLen: Double, minTypeToken: Double, maxDupGramFrac: Double,
      tokens: Column => Column = wsTokens): Column = {
    val toks = tokens(text)
    val nTokens = size(toks).cast("long")
    val avgTokenLen = round(length(concat_ws("", toks)) / nTokens, 6)
    when(nTokens < minTokens, "too_short")
      .when(nTokens > maxTokens, "too_long")
      .when(avgTokenLen < minAvgTokenLen, "short_tokens")
      .when(avgTokenLen > maxAvgTokenLen, "long_tokens")
      .when(typeTokenRatio(text, tokens) < minTypeToken, "low_diversity")
      .when(dupGramCharFrac(text, tokens) > maxDupGramFrac, "repetitive")
      .otherwise("keep")
  }

  /** [[qualityGateFitted]]'s verdict as a column added to `df` (name
    * `as`): broadcast-joins the per-source thresholds and applies the
    * SAME fitted rule chain — no short_tokens rule, missing thresholds
    * row keeps (null comparisons are never true). Gauges verbatim from
    * [[qualityGateFitted]].
    */
  private[llmops] def withQualityReasonFitted(df: DataFrame,
      textCol: String, sourceCol: String, thresholds: DataFrame,
      as: String, tokens: Column => Column = wsTokens): DataFrame = {
    val thr = broadcast(thresholds.select(col(sourceCol).as("__thr_src"),
      col("min_tokens").as("__min_tokens"), col("max_tokens").as("__max_tokens"),
      col("max_avg_token_len").as("__max_avg_token_len"),
      col("min_type_token").as("__min_type_token"),
      col("max_dup_gram_frac").as("__max_dup_gram_frac")))
    val text = col(textCol)
    val toks = tokens(text)
    val nTokens = size(toks).cast("long")
    val avgTokenLen = round(length(concat_ws("", toks)) / nTokens, 6)
    df.join(thr, col(sourceCol) === col("__thr_src"), "left")
      .withColumn(as,
        when(nTokens < col("__min_tokens"), "too_short")
          .when(nTokens > col("__max_tokens"), "too_long")
          .when(avgTokenLen > col("__max_avg_token_len"), "long_tokens")
          .when(typeTokenRatio(text, tokens) < col("__min_type_token"),
            "low_diversity")
          .when(dupGramCharFrac(text, tokens) > col("__max_dup_gram_frac"),
            "repetitive")
          .otherwise("keep"))
      .drop("__thr_src", "__min_tokens", "__max_tokens",
        "__max_avg_token_len", "__min_type_token", "__max_dup_gram_frac")
  }

  private def qualityGateMetricJoin(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      tokens: Column => Column): DataFrame =
    withQuality(df.select(col(idCol).as("doc"), col(textCol).as("text"),
        col(sourceCol).as("source")), "text", tokens)
      .withColumn("type_token_ratio", typeTokenRatio(col("text"), tokens))
      .withColumn("dup_gram_char_frac", dupGramCharFrac(col("text"), tokens))

  /** Stopword-profile language ID. Scores each candidate language by the
    * fraction of tokens found in its function-word profile; argmax wins,
    * alphabetical tie-break, 'und' (undetermined) when no profile scores.
    * A profile heuristic, not a model — by design cheap enough to run at
    * scan speed over 100 TB.
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "un", "des", "du", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "que", "por", "para"),
    "it" -> Seq("il", "la", "gli", "e", "è", "un", "una", "di", "che", "per", "non", "sono"))

  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val scored = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val profile = array(words.map(lit): _*)
      struct((size(filter(toks, t => array_contains(profile, t))) / size(toks)).as("score"),
        lit(lang).as("lang"))
    }
    // array_max over (score, lang) structs: highest score wins; ties fall
    // back to the lang field (last alphabetically) — deterministic.
    val best = array_max(array(scored: _*))
    df.withColumn("lang_pred",
        when(best("score") > 0, best("lang")).otherwise(lit("und")))
      .withColumn("lang_score", round(best("score"), 6))
  }

  // ---------------------------------------------------------------------
  // Script-aware tokenization + language ID — the non-Latin half of the
  // text stack. A Chinese/Japanese/Thai document has no spaces, so every
  // whitespace-token gauge reads it as ~one token per line; these
  // operators give the same pipeline honest units for the scripts where
  // whitespace is not the word delimiter.
  // ---------------------------------------------------------------------

  /** Codepoint ranges of scripts conventionally written WITHOUT word
    * spaces, as `\x{...}` character-class ranges — the one script-property
    * syntax Java regex and RE2 share, so every pattern built from this
    * replays VERBATIM in the DuckDB oracle (`\p{IsHan}` vs `\p{Han}` do
    * not): Han (unified + ext-A + compatibility), Hiragana/Katakana (+
    * phonetic extensions), Thai, Lao, Myanmar, Khmer.
    */
  val NoSpaceScriptRanges: String =
    "\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}" + // Han
      "\\x{3040}-\\x{30FF}\\x{31F0}-\\x{31FF}" +                  // Kana
      "\\x{0E00}-\\x{0E7F}" +                                     // Thai
      "\\x{0E80}-\\x{0EFF}" +                                     // Lao
      "\\x{1000}-\\x{109F}" +                                     // Myanmar
      "\\x{1780}-\\x{17FF}"                                       // Khmer

  /** Script-aware tokenization: each no-space-script character is its own
    * token (the standard character-tokenization baseline for CJK — what
    * MT metrics and BERT-era tokenizers do), everything else splits on
    * whitespace exactly like [[wsTokens]]. Pass this as the `tokens`
    * parameter of [[withQuality]] / [[gopherRules]] / [[qualityGate]] /
    * [[unigramLogProb]] / [[vocabulary]] (and [[Bpe.fertility]]) to give
    * mixed-script corpora sane per-document units — under [[wsTokens]] a
    * 500-character Chinese paragraph is ONE "token", which breaks every
    * length/diversity/mixture gauge downstream. One codegen'd
    * regexp_extract_all, no shuffle; empty/blank text yields an empty
    * array (wsTokens' split keeps one "" — prefer size()=0 semantics
    * here).
    */
  def scriptTokens(text: Column): Column =
    regexp_extract_all(text,
      lit(s"[$NoSpaceScriptRanges]|[^\\s$NoSpaceScriptRanges]+"), lit(0))

  /** Per-script letter ranges for [[scriptMixBySource]] / [[withLangIdScript]]
    * — same portable `\x{...}` syntax. `latin` spans ASCII letters plus
    * Latin-1/Extended-A/B (the European diacritics).
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{00C0}-\\x{024F}",
    "han" -> "\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}",
    "kana" -> "\\x{3040}-\\x{30FF}\\x{31F0}-\\x{31FF}",
    "hangul" -> "\\x{1100}-\\x{11FF}\\x{3130}-\\x{318F}\\x{AC00}-\\x{D7AF}",
    "thai" -> "\\x{0E00}-\\x{0E7F}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "arabic" -> "\\x{0600}-\\x{06FF}\\x{0750}-\\x{077F}",
    "greek" -> "\\x{0370}-\\x{03FF}",
    "hebrew" -> "\\x{0590}-\\x{05FF}",
    "devanagari" -> "\\x{0900}-\\x{097F}")

  /** Domain-level quality prior — the RefinedWeb policy layer above any
    * per-document gate: template farms and SEO spam sites produce pages
    * that INDIVIDUALLY squeak past document gates at some rate, but the
    * site's keep-rate is the stronger signal — a host whose documents
    * mostly fail is flagged WHOLE (future pages from it can be dropped at
    * the URL stage, before download). Takes any boolean verdict column
    * (`gopherRules.keep`, `codeQuality.keep`, a fitted gate — decoupled
    * on purpose: the policy is per-gate). Per host: `n_docs`, `n_keep`,
    * integer `keep_bps`, and `flagged` = keep rate below `minKeepBps`
    * with at least `minDocs` of evidence (one bad page must not damn a
    * domain).
    *
    * Scale: host extraction is a codegen'd regexp; the aggregation is one
    * map-side-combinable groupBy on host — output is host-cardinality,
    * broadcastable back into [[hostBlocklist]]-style URL-stage filtering.
    */
  def hostQualityPrior(df: DataFrame, urlCol: String, keepCol: String,
      minDocs: Long = 3, minKeepBps: Long = 5000): DataFrame =
    df.select(urlHost(col(urlCol)).as("host"),
        col(keepCol).cast("long").as("__k"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"), sum("__k").as("n_keep"))
      .withColumn("keep_bps", expr("(n_keep * 10000) div n_docs"))
      .withColumn("flagged",
        col("n_docs") >= minDocs && col("keep_bps") < minKeepBps)

  /** Code-switching SEGMENTS — consecutive same-script token runs, the
    * structural view [[scriptMixBySource]]'s script shares can't give:
    * "40% Han characters" is one number for both a bilingual article
    * (two long runs) and keyword-stuffed spam (Han sprinkled every few
    * words) — segment count and lengths separate them, locate embedded
    * code/quotes for extraction, and tell the RAG chunker where language
    * flips. Tokens come from [[scriptTokens]] (CJK-aware: no-space
    * scripts tokenize per character); each token takes the FIRST
    * [[ScriptRanges]] class matching any of its characters (priority =
    * declaration order, `other` when none — a mixed token follows its
    * first script, stated); runs found by the gaps-and-islands window.
    * One row per (doc, segment): script, token count, start position.
    *
    * Scale: explode + two windows PARTITIONED BY doc (bounded by doc
    * length) + one output-sized groupBy. No global state.
    */
  def scriptSegments(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scriptOf = ScriptRanges.foldLeft(when(lit(false), "x")) {
      case (acc, (name, r)) => acc.when(col("token").rlike(s"[$r]"), name)
    }.otherwise("other")
    val w = Window.partitionBy("doc").orderBy("pos")
    df.select(col(idCol).as("doc"),
        posexplode(scriptTokens(col(textCol))).as(Seq("pos", "token")))
      .withColumn("script", scriptOf)
      .withColumn("__chg",
        when(lag("script", 1).over(w).isNull ||
          lag("script", 1).over(w) =!= col("script"), 1L).otherwise(0L))
      .withColumn("seg",
        sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1L)
      .groupBy("doc", "seg", "script")
      .agg(count(lit(1)).as("n_tokens"),
        min(col("pos")).cast("long").as("start_pos"))
  }

  /** Per-GROUP script mix — the data-card gauge for multilingual
    * corpora: one row per group (source/shard/day) with total letters
    * and each script's character share. Aggregates INTEGER per-document
    * counts and divides once (never an avg of rounded per-doc fractions
    * — partial-agg order would flip low bits, the DECIMAL discipline),
    * so the 6-dp result is engine-exact. Map-side-combining aggregate;
    * nothing corpus-sized shuffles.
    */
  def scriptMixBySource(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(r: String): Column =
      (length(t) - length(regexp_replace(t, s"[$r]", ""))).cast("long")
    val agged = df.groupBy(col(groupCol).as("source"))
      .agg(ScriptRanges.map { case (n2, r) => sum(cnt(r)).as(s"c_$n2") }.head,
        ScriptRanges.tail.map { case (n2, r) => sum(cnt(r)).as(s"c_$n2") }: _*)
    val nLetters = ScriptRanges.map { case (n2, _) => col(s"c_$n2") }.reduce(_ + _)
    ScriptRanges.foldLeft(agged.withColumn("n_letters", nLetters)) {
      case (acc, (n2, _)) =>
        acc.withColumn(s"script_$n2",
          when(col("n_letters") > 0,
            round(col(s"c_$n2") / col("n_letters").cast("double"), 6))
            .otherwise(lit(0.0)))
    }.select(col("source") +: col("n_letters") +:
      ScriptRanges.map { case (n2, _) => col(s"script_$n2") }: _*)
  }

  /** [[LangProfiles]] plus Portuguese and Dutch — the function-word
    * fallback set for Latin-script text under [[withLangIdScript]].
    */
  val LangProfilesExt: Map[String, Seq[String]] = LangProfiles ++ Map(
    "pt" -> Seq("o", "os", "as", "de", "do", "da", "em", "um", "uma", "que", "para", "não"),
    "nl" -> Seq("de", "het", "een", "en", "van", "ik", "dat", "niet", "met", "voor", "zijn", "op"))

  /** Script-gated language ID — the web-scale front line [[withLangId]]
    * lacks: non-Latin scripts identify by their codepoint ranges at scan
    * speed (a Thai document needs no word list to be Thai), Latin-script
    * text falls back to the function-word argmax over
    * [[LangProfilesExt]]. Decision ladder (first hit wins, each branch a
    * deterministic threshold on per-script letter fractions):
    *
    *   - no letters → `und`
    *   - kana ≥ 5% and kana+han ≥ 50% → `ja` (Japanese mixes kanji with
    *     kana; han-dominance alone would misread it as Chinese)
    *   - a single non-Latin script ≥ 50% → its language (han→zh,
    *     hangul→ko, thai→th, cyrillic→ru, arabic→ar, greek→el, hebrew→he,
    *     devanagari→hi — the dominant-language-per-script web convention)
    *   - any function-word profile scores > 0 → profile argmax
    *   - otherwise `und`
    *
    * `lang_score` is the winning fraction (script or profile), 6 dp.
    * Everything is codegen'd length/array arithmetic on one row — scan
    * speed at 100 TB, and exactly SQL-replayable (q_x_text_langid_script).
    */
  def withLangIdScript(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(r: String): Column =
      (length(t) - length(regexp_replace(t, s"[$r]", ""))).cast("long")
    val counts = ScriptRanges.map { case (n, r) => n -> cnt(r) }.toMap
    val nLetters = counts.values.reduce(_ + _)
    def frac(n: String): Column = counts(n) / nLetters.cast("double")
    val toks = wsTokens(lower(t))
    val scored = LangProfilesExt.toSeq.sortBy(_._1).map { case (lang, words) =>
      val profile = array(words.map(lit): _*)
      struct((size(filter(toks, x => array_contains(profile, x))) / size(toks)).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    def pick(sc: Column, lang: String): Column =
      struct(sc.cast("double").as("score"), lit(lang).as("lang"))
    val scriptLangs = Seq("han" -> "zh", "hangul" -> "ko", "thai" -> "th",
      "cyrillic" -> "ru", "arabic" -> "ar", "greek" -> "el",
      "hebrew" -> "he", "devanagari" -> "hi")
    val afterJa = scriptLangs.foldLeft(
      when(nLetters === 0, pick(lit(0.0), "und"))
        .when(frac("kana") >= 0.05 && (frac("kana") + frac("han")) >= 0.5,
          pick(frac("kana") + frac("han"), "ja"))) {
      case (acc, (script, lang)) =>
        acc.when(frac(script) >= 0.5, pick(frac(script), lang))
    }
    val decision = afterJa
      .when(best("score") > 0, best)
      .otherwise(pick(lit(0.0), "und"))
    df.withColumn("lang_pred", decision("lang"))
      .withColumn("lang_score", round(decision("score"), 6))
  }

  /** Lower-cased, whitespace-collapsed character n-grams of `text` — the
    * Cavnar–Trenkle (1994) n-gram-categorization unit (grams cross word
    * boundaries through a single space; no edge padding). Empty when the
    * text is shorter than n.
    *
    * PERF caveat: the transform lambda references the collapse expression,
    * so Catalyst inlines the whole lower+regexp chain into EVERY element —
    * fine for profile FITTING over a labeled sample, wrong for corpus
    * scoring ([[langIdByNgram]] instead materializes the collapsed prefix
    * as an attribute and substr-s exploded positions; measured 5× on the
    * stress lane).
    */
  def charNgrams(text: Column, n: Int): Column = {
    val t = regexp_replace(lower(text), "\\s+", " ")
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** FIT half of the trainable char-n-gram language identifier: from a
    * LABELED corpus (`langCol`, `textCol`), the `topK` most frequent
    * character n-grams per language — (lang, gram, rank, cnt), rank 1 =
    * most frequent, ties by gram. This is the n-gram-profile method
    * langid has used since Cavnar–Trenkle; unlike the function-word
    * tables it needs no hand-curated lists and covers ANY script.
    *
    * Scale: fit on a labeled SAMPLE (thousands of docs per language
    * saturate the top-K profile), not the full corpus — the per-lang
    * window sorts that language's distinct grams. The profile table is
    * langs × topK rows: broadcast-sized by construction.
    */
  def charNgramProfiles(labeled: DataFrame, langCol: String, textCol: String,
      n: Int = 3, topK: Int = 50): DataFrame = {
    val counts = labeled
      .select(col(langCol).as("lang"), explode(charNgrams(col(textCol), n)).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** SCORE half: classify each document against [[charNgramProfiles]]
    * output. Score(doc, lang) = the fraction of the document's char
    * n-gram OCCURRENCES that appear in that language's profile (coverage
    * — the orderless simplification of Cavnar–Trenkle's rank distance;
    * at profile topK ≥ 50 the coverage argmax separates real languages
    * cleanly); argmax wins, ties to the alphabetically-first language,
    * `und` when the document has no grams or nothing matched.
    *
    * Scale: only the first `maxChars` characters are scored — language
    * is a property of the prefix, so the per-char gram explode is
    * bounded at maxChars−n+1 rows per document regardless of document
    * size; the profile join is a broadcast (langs × topK rows); the
    * argmax window partitions BY DOC over ≤ |langs| rows. Returns (doc,
    * lang_pred, lang_score, n_grams).
    *
    * `minScore` is the confidence floor: a winning coverage below it
    * predicts `und` (score still reported) — out-of-domain gibberish
    * matches every profile a little and one of them spuriously argmaxes;
    * measured on the oracle fixtures, real languages score ≥ 0.25 and
    * gibberish ≤ 0.15, so 0.2 separates them.
    */
  def langIdByNgram(df: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame, n: Int = 3, maxChars: Int = 1000,
      minScore: Double = 0.2): DataFrame = {
    val prefix = col(textCol).substr(lit(1), lit(maxChars))
    // The collapsed prefix materializes ONCE per document as its own
    // attribute (`__t` is referenced twice below, which blocks
    // CollapseProject from inlining the regex); grams then come from
    // exploding POSITIONS and substr-ing the carried attribute — never
    // from a transform lambda, whose body would re-inline the whole
    // lower+collapse chain into every one of the ~maxChars elements
    // (measured 3× the whole query's cost). n_grams is pure length
    // arithmetic — no second pass over the exploded grams.
    val base = df.select(col(idCol).as("doc"),
      regexp_replace(lower(prefix), "\\s+", " ").as("__t"))
    val nGramsCol = when(length(col("__t")) >= n,
      (length(col("__t")) - (n - 1)).cast("long")).otherwise(lit(0L))
    val grams = base.select(col("doc"), col("__t"),
        explode(when(length(col("__t")) >= n,
          sequence(lit(1), length(col("__t")) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col("doc"), col("__t").substr(col("__i"), lit(n)).as("gram"))
    val hits = grams
      .join(broadcast(profiles.select("lang", "gram")), Seq("gram"))
      .groupBy("doc", "lang").agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc").orderBy(col("hits").desc, col("lang"))
    val best = hits.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val cov = col("hits") / col("n_grams").cast("double")
    base.select(col("doc"), nGramsCol.as("n_grams")).distinct()
      .join(best, Seq("doc"), "left")
      .select(col("doc"),
        when(cov >= minScore, col("lang")).otherwise(lit("und")).as("lang_pred"),
        coalesce(round(cov, 6), lit(0.0)).as("lang_score"),
        col("n_grams"))
  }

  /** Unigram language-model quality score — the perplexity-proxy
    * selection signal (CCNet scores crawl text against a reference LM
    * and keeps the low-perplexity head; a full KenLM needs model files
    * this container doesn't have, but the unigram version captures the
    * same "does this look like the reference corpus" gradient and is
    * exactly SQL-replayable): per document, the mean negative log
    * probability of its tokens under Laplace-smoothed REFERENCE unigram
    * stats, `p(t) = (count_ref(t) + 1) / (T + V)` with T = reference
    * token count and V = reference distinct-token count (so
    * out-of-vocabulary tokens get the finite floor 1/(T+V), not −∞).
    * LOW avg_nll = fluent/ordinary under the reference; HIGH = rare
    * vocabulary, mojibake, gibberish — gate on a quantile of it like
    * the other quality metrics. `reference` defaults to the corpus
    * itself (self-scoring flags each document's distance from the
    * corpus norm).
    *
    * Scale: one reference aggregation (broadcastable: V rows), one
    * token explode + broadcast join + per-doc mean over the scored
    * corpus — no corpus-sized shuffle beyond the per-doc groupBy. One
    * ln per distinct (doc, term) row; mean rounded 6 dp (the tfidf
    * float discipline).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
      reference: Option[DataFrame] = None,
      refTextCol: String = "text",
      tokens: Column => Column = wsTokens): DataFrame = {
    val refToks = reference.getOrElse(df.select(col(textCol).as(refTextCol)))
      .select(explode(tokens(lower(col(refTextCol)))).as("term"))
    val freqs = refToks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val totals = broadcast(freqs.agg(
      sum("cnt").as("t_tokens"), count(lit(1)).as("v_distinct")))
    val toks = df.select(col(idCol).as("doc"),
      explode(tokens(lower(col(textCol)))).as("term"))
    toks.join(broadcast(freqs), Seq("term"), "left")
      .crossJoin(totals)
      .withColumn("__nll",
        -log((coalesce(col("cnt"), lit(0L)) + 1) /
          (col("t_tokens") + col("v_distinct"))))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), round(avg("__nll"), 6).as("avg_nll"))
  }

  /** Bigram-LM quality score — the next rung of the CCNet
    * perplexity-proxy ladder above [[unigramLogProb]]: per-doc mean
    * negative log probability of each adjacent token PAIR under a
    * Laplace-smoothed reference bigram model,
    * `P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)` — word-order-sensitive,
    * so shuffled or template-stitched text scores high where a unigram
    * model (orderless by construction) cannot tell it from prose.
    * Reference = any corpus (default self); unseen contexts get the
    * finite `1 / V` floor. Docs with fewer than two tokens carry no
    * pairs and drop out (mirror of the oracle's `len(toks) >= 2`).
    *
    * Scale: unlike the unigram table, the BIGRAM table grows with the
    * corpus (the tfidf lesson — [[tfidfTopTerms]]' scaladoc) — so the
    * pair join is a plain shuffle equi-join on the gram, never a forced
    * broadcast; the unigram-context table and the V total still
    * broadcast. Returns (doc, n_pairs, avg_nll).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      reference: Option[DataFrame] = None,
      refTextCol: String = "text",
      tokens: Column => Column = wsTokens): DataFrame = {
    def gramRows(f: DataFrame, tcol: String, keep: Seq[Column],
        keepNames: Seq[String]): DataFrame =
      f.select(keep :+ tokens(lower(col(tcol))).as("__toks"): _*)
        .filter(size(col("__toks")) >= 2)
        .select(keepNames.map(col) :+ posexplode(expr(
          "transform(sequence(0, size(__toks) - 2), i -> struct(__toks[i] as w1, concat(__toks[i], ' ', __toks[i + 1]) as gram))"))
          .as(Seq("__p", "__g")): _*)
        .select(keepNames.map(col) :+ col("__g.w1").as("w1") :+
          col("__g.gram").as("gram"): _*)
    val refDf = reference.getOrElse(df.select(col(textCol).as(refTextCol)))
    val refGrams = gramRows(refDf, refTextCol, Nil, Nil)
    val cb = refGrams.groupBy("gram").agg(count(lit(1)).as("cb"))
    val cu = refDf
      .select(explode(tokens(lower(col(refTextCol)))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val v = broadcast(cu.agg(count(lit(1)).as("v_distinct")))
    gramRows(df, textCol, Seq(col(idCol).as("doc")), Seq("doc"))
      .join(cb, Seq("gram"), "left")
      .join(broadcast(cu), Seq("w1"), "left")
      .crossJoin(v)
      .withColumn("__nll",
        -log((coalesce(col("cb"), lit(0L)) + 1) /
          (coalesce(col("cu"), lit(0L)) + col("v_distinct"))))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_pairs"), round(avg("__nll"), 6).as("avg_nll"))
  }

  /** Interpolated (Jelinek–Mercer) LM quality score — the smoothing rung
    * that completes the NLL ladder: [[unigramLogProb]] is orderless,
    * [[bigramLogProb]] is order-sensitive but brittle on unseen contexts
    * (every novel pair bottoms out at the Laplace floor, so legitimate
    * rare prose and garbage look alike); the standard fix is backoff —
    * `P = λ·P_bi(w2|w1) + (1−λ)·P_uni(w2)` — where an unseen pair still
    * earns credit for a plausible w2. λ defaults to 0.75, an exactly
    * representable double so the interpolation arithmetic (one multiply
    * each, one add — all correctly rounded) is bit-identical across
    * engines; both component models keep their Laplace forms. Per-doc
    * mean NLL over adjacent pairs, rounded 6 (the ladder's discipline).
    *
    * Scale: the bigram count join is a plain shuffle equi-join (the
    * table grows with the corpus — the tfidf lesson, never broadcast);
    * unigram counts and V broadcast; everything else is the gram explode,
    * linear in corpus tokens.
    */
  def interpolatedLogProb(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75,
      reference: Option[DataFrame] = None,
      refTextCol: String = "text",
      tokens: Column => Column = wsTokens): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0)
    def gramRows(f: DataFrame, tcol: String, keep: Seq[Column],
        keepNames: Seq[String]): DataFrame =
      f.select(keep :+ tokens(lower(col(tcol))).as("__toks"): _*)
        .filter(size(col("__toks")) >= 2)
        .select(keepNames.map(col) :+ posexplode(expr(
          "transform(sequence(0, size(__toks) - 2), i -> struct(__toks[i] as w1, __toks[i + 1] as w2, concat(__toks[i], ' ', __toks[i + 1]) as gram))"))
          .as(Seq("__p", "__g")): _*)
        .select(keepNames.map(col) :+ col("__g.w1").as("w1") :+
          col("__g.w2").as("w2") :+ col("__g.gram").as("gram"): _*)
    val refDf = reference.getOrElse(df.select(col(textCol).as(refTextCol)))
    val cb = gramRows(refDf, refTextCol, Nil, Nil)
      .groupBy("gram").agg(count(lit(1)).as("cb"))
    val cu = refDf
      .select(explode(tokens(lower(col(refTextCol)))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val totals = broadcast(cu.agg(
      sum("cu").as("t_tokens"), count(lit(1)).as("v_distinct")))
    val cuW2 = cu.select(col("w1").as("w2"), col("cu").as("cu2"))
    gramRows(df, textCol, Seq(col(idCol).as("doc")), Seq("doc"))
      .join(cb, Seq("gram"), "left")
      .join(broadcast(cu), Seq("w1"), "left")
      .join(broadcast(cuW2), Seq("w2"), "left")
      .crossJoin(totals)
      .withColumn("__pb",
        (coalesce(col("cb"), lit(0L)) + 1) /
          (coalesce(col("cu"), lit(0L)) + col("v_distinct")))
      .withColumn("__pu",
        (coalesce(col("cu2"), lit(0L)) + 1) /
          (col("t_tokens") + col("v_distinct")))
      .withColumn("__nll",
        -log(lit(lambda) * col("__pb") + lit(1.0 - lambda) * col("__pu")))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_pairs"), round(avg("__nll"), 6).as("avg_nll"))
  }

  /** Data-derived quality-gate thresholds — the operational answer to a
    * [[graft.llmops.Corpus.psiDrift]] "act" verdict (the scaladoc there
    * says re-fit the gate when the corpus moved; this is the re-fit):
    * instead of hand-tuned constants, recommend thresholds at corpus
    * quantiles of the gate's own metrics —
    *
    *   min_tokens = p05(n_tokens), max_tokens = p99(n_tokens),
    *   max_avg_token_len = p95, min_type_token = p05,
    *   max_dup_gram_frac = p95
    *
    * — i.e. a refreshed gate that trims the same tail MASS after drift
    * as before it. One row out. Quantiles come from the exact bounded
    * occurrence histograms ([[graft.functions.LongHistogram]] — the
    * data-card machinery): ratio metrics scale ×10⁶ to longs
    * (`floor(x·10⁶ + 0.5)` — deterministic on the already-6dp-rounded
    * doubles both engines share), and each threshold is the LOWER EDGE
    * of its rank's bucket, exact to granularity − 1 (tokens: 16;
    * ratios: 4096 ≈ 0.004; avg token length: 65536 ≈ 0.066 — threshold
    * precision, stated). Scale: the metric pass is the gate's own
    * linear chain; the histogram fold is one map-side-combining global
    * aggregate; nothing corpus-sized shuffles.
    */
  def gateThresholds(df: DataFrame, idCol: String, textCol: String,
      tokenGranularity: Long = 16): DataFrame =
    gateThresholdsGrouped(df, idCol, textCol, None, tokenGranularity)

  /** [[gateThresholds]] PER SOURCE — one thresholds row per source, the
    * shape the drift-driven re-fit ([[refitGateOnDrift]]) selects from:
    * after a source drifts, only THAT source's gate needs new numbers.
    * Identical metric chain and histogram machinery, grouped.
    */
  def gateThresholdsBySource(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, tokenGranularity: Long = 16): DataFrame =
    gateThresholdsGrouped(df, idCol, textCol, Some(sourceCol), tokenGranularity)

  private def gateThresholdsGrouped(df: DataFrame, idCol: String,
      textCol: String, sourceCol: Option[String],
      tokenGranularity: Long): DataFrame = {
    import graft.functions.LongHistogram
    def scaled(c: Column): Column = floor(c * 1000000L + lit(0.5)).cast("long")
    val m = withQuality(df.select(
        col(idCol).as("doc") +: col(textCol).as("text") +:
          sourceCol.map(col).toSeq: _*))
      .withColumn("type_token_ratio", typeTokenRatio(col("text")))
      .withColumn("dup_gram_char_frac", dupGramCharFrac(col("text"), wsTokens))
      .select(sourceCol.map(col).toSeq ++ Seq(col("n_tokens"),
        scaled(col("avg_token_len")).as("atl"),
        scaled(col("type_token_ratio")).as("ttr"),
        scaled(col("dup_gram_char_frac")).as("dgf")): _*)
    val grouped = sourceCol.fold(m.groupBy())(c => m.groupBy(c))
    grouped.agg(count(lit(1)).as("n_docs"),
        LongHistogram.sketch(col("n_tokens"), 256, tokenGranularity).as("h_nt"),
        LongHistogram.sketch(col("atl"), 256, 65536L).as("h_atl"),
        LongHistogram.sketch(col("ttr"), 256, 4096L).as("h_ttr"),
        LongHistogram.sketch(col("dgf"), 256, 4096L).as("h_dgf"))
      .select(sourceCol.map(col).toSeq ++ Seq(col("n_docs"),
        LongHistogram.quantileCol(col("h_nt"), col("n_docs"), 5, tokenGranularity)
          .as("min_tokens"),
        LongHistogram.quantileCol(col("h_nt"), col("n_docs"), 99, tokenGranularity)
          .as("max_tokens"),
        round(LongHistogram.quantileCol(col("h_atl"), col("n_docs"), 95, 65536L)
          / 1000000.0, 6).as("max_avg_token_len"),
        round(LongHistogram.quantileCol(col("h_ttr"), col("n_docs"), 5, 4096L)
          / 1000000.0, 6).as("min_type_token"),
        round(LongHistogram.quantileCol(col("h_dgf"), col("n_docs"), 95, 4096L)
          / 1000000.0, 6).as("max_dup_gram_frac")): _*)
  }

  /** The drift→re-fit composition — the operator that closes the loop
    * [[graft.llmops.Corpus.psiDrift]] / `EventStream.dataCardDrift`
    * document ("PSI > 0.25 → re-fit the gate") but nothing executed:
    * sources whose PSI crossed `psiAct` get gate thresholds RE-FIT from
    * the current corpus ([[gateThresholdsBySource]] — the same tail-mass
    * quantile rule as calibration time); undrifted sources keep their
    * reference (calibration-time) thresholds unchanged. One row per
    * source: (source, psi, refit, n_docs, min_tokens, max_tokens,
    * max_avg_token_len, min_type_token, max_dup_gram_frac).
    *
    * `drift` is any frame carrying (sourceCol, psi) — the
    * `psiFromHistograms` / `dataCardDrift` output verbatim; `reference`
    * carries a [[gateThresholdsBySource]]-shaped row per source.
    * Sources present in the drift report but absent from the current
    * corpus keep reference numbers with null re-fit inputs guarded by
    * the refit flag requiring current rows.
    *
    * Scale: drift and both threshold tables are sources-sized; the only
    * corpus pass is the grouped metric chain + one map-side histogram
    * fold — exactly one gateThresholds-shaped job regardless of how
    * many sources drifted.
    */
  def refitGateOnDrift(current: DataFrame, idCol: String, textCol: String,
      sourceCol: String, drift: DataFrame, reference: DataFrame,
      psiAct: Double = 0.25, tokenGranularity: Long = 16): DataFrame = {
    val thr = Seq("n_docs", "min_tokens", "max_tokens", "max_avg_token_len",
      "min_type_token", "max_dup_gram_frac")
    val cur = gateThresholdsBySource(current, idCol, textCol, sourceCol,
        tokenGranularity)
      .select(col(sourceCol) +: thr.map(c => col(c).as(s"__new_$c")): _*)
    val ref = reference
      .select(col(sourceCol) +: thr.map(c => col(c).as(s"__ref_$c")): _*)
    drift.select(col(sourceCol), col("psi"))
      .join(ref, Seq(sourceCol), "left")
      .join(cur, Seq(sourceCol), "left")
      .withColumn("refit",
        col("psi") >= psiAct && col(s"__new_${thr.head}").isNotNull)
      .select(col(sourceCol) +: col("psi") +: col("refit") +: thr.map(c =>
        when(col("refit"), col(s"__new_$c")).otherwise(col(s"__ref_$c")).as(c)): _*)
  }

  /** Zipf head fit — the corpus-naturalness gauge: natural language's
    * rank-frequency curve is close to a power law with slope ≈ −1
    * (Zipf), and a corpus whose head slope is far from it is telling
    * you something is wrong with the DATA, not the pipeline — template
    * spam flattens the head (slope → 0), boilerplate floods steepen
    * it, OCR noise fattens the tail into the head. Least-squares of
    * ln(frequency) on ln(rank) over the TOP `k` terms (the standard
    * practice: the tail always bends away from the power law, and the
    * head is where the health signal lives), emitting one row
    * (n_terms = fitted terms, slope, intercept, r2).
    *
    * Scale: the term count aggregates map-side; the top-k cut is
    * `orderBy(...).limit(k)` — planned as TakeOrderedAndProject
    * (per-partition top-k + a k-row driver merge, never a global sort
    * — the q_w7 discipline), and the rank window runs over ≤ k rows.
    * Ties order by term ASC — deterministic, SQL-replayable.
    */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
      k: Int = 1000): DataFrame = {
    require(k >= 2)
    val tf = df.select(explode(wsTokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term")).limit(k)
    val w = Window.orderBy(col("f").desc, col("term"))
    val xy = tf.withColumn("r", row_number().over(w))
      .select(log(col("r").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    xy.agg(count(lit(1)).as("v"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("v").as("n_terms"),
        round(((col("sxy") - col("sx") * col("sy") / col("v")) /
          (col("sxx") - col("sx") * col("sx") / col("v"))), 6).as("slope"),
        round((col("sy") - (col("sxy") - col("sx") * col("sy") / col("v")) /
          (col("sxx") - col("sx") * col("sx") / col("v")) * col("sx")) / col("v"), 6)
          .as("intercept"),
        round(pow(col("sxy") - col("sx") * col("sy") / col("v"), 2) /
          ((col("sxx") - col("sx") * col("sx") / col("v")) *
            (col("syy") - col("sy") * col("sy") / col("v"))), 6).as("r2"))
  }

  /** Candidate payment-card numbers: 13–19 digits with optional single
    * space/dash separators, word-bounded. A REGEX ONLY FINDS CANDIDATES —
    * digit runs of card length are everywhere (order ids, timestamps
    * joined by dashes), so redacting on the regex alone destroys
    * non-PII; the Luhn checksum is what separates real card numbers
    * (issuers generate them Luhn-valid precisely so typos are
    * detectable) from arbitrary digit runs.
    */
  val CardCandidateRe: String = "\\b(?:\\d[ -]?){12,18}\\d\\b"

  /** Luhn audit of every card-number candidate: (doc, cand, n_digits,
    * luhn_valid). The checksum is pure integer arithmetic over exploded
    * digit rows — double every second digit from the right, subtract 9
    * when it exceeds 9, valid iff the sum ≡ 0 (mod 10) and the digit
    * count is card-length — so the WHOLE decision is replayed by the
    * DuckDB oracle (q_x_pii_luhn). Shape: regexp candidates explode per
    * doc (rare — bounded by PII density, not text length), digits
    * explode per candidate (≤ 19 rows), one groupBy back.
    */
  def luhnCards(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = df.select(col(idCol).as("doc"),
        explode(regexp_extract_all(col(textCol), lit(CardCandidateRe), lit(0)))
          .as("cand"))
      .withColumn("ds", regexp_replace(col("cand"), "[^0-9]", ""))
      .withColumn("n", length(col("ds")).cast("long"))
    cands
      .select(col("doc"), col("cand"), col("n"),
        // Spark split keeps the trailing empty match (limit −1
        // semantics) — drop it before the digit cast.
        posexplode(filter(split(col("ds"), "(?!^)"), ch => ch =!= ""))
          .as(Seq("pos", "ch")))
      .withColumn("d", col("ch").cast("long"))
      .withColumn("w",
        when(((col("n") - 1 - col("pos")) % 2) === 1,
          col("d") * 2 - when(col("d") >= 5, 9).otherwise(0))
          .otherwise(col("d")))
      .groupBy("doc", "cand", "n")
      .agg(sum("w").as("s"))
      .select(col("doc"), col("cand"), col("n").as("n_digits"),
        (col("s") % 10 === 0 && col("n").between(13, 19)).as("luhn_valid"))
  }

  /** robots.txt crawl-policy rules (RFC 9309) for the DEFAULT (`*`)
    * user-agent — the compliance gate a crawl frontier legally needs
    * before [[graft.analytics.GraphAnalytics.pageRankKeys]] priority
    * ever orders a fetch. Parses one robots.txt body per host:
    * comments strip, consecutive `User-agent:` lines form one GROUP
    * (RFC: a group's rules bind to every agent line stacked above
    * them), only groups whose agent set contains `*` contribute, and
    * `Allow:`/`Disallow:` lines with a non-empty path become one rule
    * row each. Rules before any User-agent line are ignored (they bind
    * to no group, per spec). Returns (host, rule ∈ allow|disallow,
    * path) — path kept VERBATIM (wildcards intact; [[robotsFilter]]
    * compiles them).
    *
    * Scale: line explode is robots-sized (a few KB per host); the
    * grouping windows partition by host. Everything codegen'd except
    * the two bounded windows.
    */
  def robotsRules(df: DataFrame, hostCol: String, textCol: String): DataFrame = {
    val grouped = robotsStarGroupLines(df, hostCol, textCol,
      "^(user-agent|allow|disallow):")
    grouped
      .filter((col("directive") === "allow" || col("directive") === "disallow") &&
        col("value") =!= "")
      .select(col("host"), col("directive").as("rule"), col("value").as("path"))
  }

  /** `Crawl-delay` seconds per host from the robots bodies — the de-facto
    * rate directive RFC 9309 deliberately omits but real crawlers (Bing,
    * Yandex) honor; Google ignores it, so treat it as a politeness FLOOR,
    * not law. Same `*`-group binding as [[robotsRules]] (the grouping
    * spine is shared code); non-numeric values drop, multiple bound
    * values take the MAX (the conservative read — the slowest requested
    * rate wins). Returns (host, crawl_delay_secs); hosts with no bound
    * directive are absent — feed the table to [[crawlWavesBudget]] with
    * a default. Scale: robots-sized, like [[robotsRules]].
    */
  def robotsCrawlDelay(df: DataFrame, hostCol: String, textCol: String): DataFrame =
    robotsStarGroupLines(df, hostCol, textCol, "^(user-agent|crawl-delay):")
      .filter(col("directive") === "crawl-delay")
      // try_cast, not cast: ANSI mode would THROW on a malformed value
      // ("Crawl-delay: soon") — foreign robots bodies drop it instead
      .withColumn("__d", expr("try_cast(value AS BIGINT)"))
      .filter(col("__d").isNotNull && col("__d") >= 0L)
      .groupBy("host").agg(max("__d").as("crawl_delay_secs"))

  /** `Sitemap:` discovery URLs from the robots bodies — the crawl
    * loop's seed-expansion input (sitemaps.org protocol via RFC 9309
    * §2.3 "other records"): unlike allow/disallow/crawl-delay, Sitemap
    * lines are INDEPENDENT of user-agent groups (they bind globally, so
    * a sitemap declared inside some bot's group still counts — per
    * spec), case-insensitive directive, comments strip, duplicates
    * collapse. Returns (host, sitemap_url). Scale: robots-sized.
    */
  def robotsSitemaps(df: DataFrame, hostCol: String, textCol: String): DataFrame =
    df.select(col(hostCol).as("host"),
        explode(split(col(textCol), "\n")).as("raw"))
      .withColumn("clean", trim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(lower(col("clean")).rlike("^sitemap:"))
      // the anchored prefix strip removes ONLY the directive — the URL's
      // own "https:" survives (the robotsRules value idiom)
      .select(col("host"),
        trim(regexp_replace(col("clean"), "^[A-Za-z-]+:", "")).as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")
      .distinct()

  /** Shared robots.txt line spine: comment strip → directive/value split
    * (only directives matching `directiveRe` are recognized; everything
    * else is a non-directive line) → RFC 9309 group formation (stacked
    * `User-agent:` lines open one group) → keep NON-agent lines of
    * groups whose agent set contains `*`. The grouping depends only on
    * the user-agent lines, so callers with different directive sets see
    * identical group boundaries.
    */
  private def robotsStarGroupLines(df: DataFrame, hostCol: String,
      textCol: String, directiveRe: String): DataFrame =
    robotsGroupLines(df, hostCol, textCol, directiveRe, agent = None)

  /** The group spine with OPTIONAL agent-specific selection (RFC 9309
    * §2.2.1): `agent = None` keeps the `*`-group behavior bit-identical;
    * `Some(a)` selects the groups whose agent set contains the
    * crawler's product token (exact match, case-insensitive) — and per
    * spec, when ANY such group exists on a host, the `*` groups for
    * that host are IGNORED (the specific match wins wholesale, never a
    * union with the default).
    */
  private def robotsGroupLines(df: DataFrame, hostCol: String,
      textCol: String, directiveRe: String,
      agent: Option[String]): DataFrame = {
    val w = Window.partitionBy("host").orderBy("idx")
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val lines = df
      .select(col(hostCol).as("host"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "raw")))
      .withColumn("clean", trim(regexp_replace(col("raw"), "#.*$", "")))
      .withColumn("directive",
        regexp_extract(lower(col("clean")), directiveRe, 1))
      .withColumn("value",
        trim(regexp_replace(col("clean"), "^[A-Za-z-]+:", "")))
    val grouped = lines
      .withColumn("__ua", (col("directive") === "user-agent").cast("long"))
      .withColumn("__start",
        (col("__ua") === 1L &&
          coalesce(lag(col("__ua"), 1).over(w), lit(0L)) === 0L).cast("long"))
      .withColumn("grp", sum(col("__start")).over(cum))
    val starGroups = grouped
      .filter(col("__ua") === 1L && col("value") === "*")
      .select(col("host"), col("grp")).distinct()
    val selected = agent match {
      case None => starGroups
      case Some(a) =>
        val ag = grouped
          .filter(col("__ua") === 1L &&
            lower(col("value")) === lit(a.toLowerCase))
          .select(col("host"), col("grp")).distinct()
        ag.unionByName(starGroups
          .join(ag.select("host").distinct(), Seq("host"), "left_anti"))
    }
    grouped
      .filter(col("__ua") === 0L && col("grp") >= 1L)
      .join(selected, Seq("host", "grp"))
  }

  /** [[robotsRules]] for a SPECIFIC crawler product token — the groups
    * that bind to `agent` (exact match, case-insensitive; stacked
    * User-agent lines all bind); hosts with no matching group fall back
    * to their `*` groups, hosts with one IGNORE `*` entirely (RFC 9309
    * §2.2.1 — the specific match wins wholesale). Same output shape as
    * [[robotsRules]]; feed [[robotsFilter]] unchanged. Scope note:
    * [[robotsCrawlDelay]]/[[robotsSitemaps]] keep their documented
    * bindings (star-group / global respectively).
    */
  def robotsRulesFor(df: DataFrame, hostCol: String, textCol: String,
      agent: String): DataFrame = {
    require(agent.trim.nonEmpty, "agent must be a non-empty product token")
    robotsGroupLines(df, hostCol, textCol,
        "^(user-agent|allow|disallow):", Some(agent.trim))
      .filter((col("directive") === "allow" || col("directive") === "disallow") &&
        col("value") =!= "")
      .select(col("host"), col("directive").as("rule"), col("value").as("path"))
  }

  /** Apply [[robotsRules]] to a frontier: RFC 9309 longest-match
    * decision per URL — among the host's rules whose pattern matches
    * the URL path, the LONGEST rule path wins, `allow` beating
    * `disallow` on equal length; no matching rule (or no robots at
    * all) defaults to allowed. Rule paths compile to anchored regexes:
    * metacharacters escape, `*` becomes `.*`, one TRAILING `$` is the
    * end anchor (elsewhere literal) — the chain is shared verbatim
    * with the oracle. Returns one row per DISTINCT url: (url, host,
    * path, allowed, matched_rule, matched_path — null when nothing
    * matched). Ties beyond (length, type) break to the MAX rule path —
    * any deterministic order works, this one is a single max-struct.
    *
    * Scale: the rule table is hosts × a-few-rules and BROADCASTS; the
    * winner is one max-struct aggregation keyed by url — no window, no
    * shuffle beyond the final groupBy.
    */
  def robotsFilter(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame = {
    val path0 = regexp_extract(col(urlCol), "^[a-zA-Z]+://[^/?#]*(/[^#]*)?", 1)
    val withPath = urls
      .select(col(urlCol).as("url"))
      .withColumn("host", urlHost(col("url")))
      .withColumn("path", when(path0 === "", lit("/")).otherwise(path0))
    val anchored = col("rpath").endsWith("$")
    val body = when(anchored,
      expr("substr(rpath, 1, length(rpath) - 1)")).otherwise(col("rpath"))
    val escaped = regexp_replace(body,
      "([\\.\\+\\?\\(\\)\\[\\]\\{\\}\\^\\|\\$\\\\])", "\\\\$1")
    val pattern = concat(lit("^"),
      regexp_replace(escaped, "\\*", ".*"),
      when(anchored, lit("$")).otherwise(lit("")))
    val compiled = broadcast(rules
      .select(col("host"), col("rule"), col("path").as("rpath"))
      .withColumn("pat", pattern))
    val cand = withPath.join(compiled, Seq("host"), "left")
      .withColumn("__m", col("pat").isNotNull && expr("path RLIKE pat"))
    cand
      .groupBy("url", "host", "path")
      .agg(
        max(when(col("__m"), struct(length(col("rpath")).as("l"),
          when(col("rule") === "allow", 1L).otherwise(0L).as("a"),
          col("rpath").as("p"), col("rule").as("r"))))
          .as("__win"))
      .select(col("url"), col("host"), col("path"),
        coalesce(col("__win")("r") === "allow", lit(true)).as("allowed"),
        col("__win")("r").as("matched_rule"),
        col("__win")("p").as("matched_path"))
  }

  /** Politeness-wave scheduling — the fetch-queue shape a crawl actually
    * dispatches: a wave is one dispatch round, and no wave may contain
    * more than `perHostPerWave` URLs of one host (the per-host
    * concurrency/rate budget). Within a host, higher `priorityCol`
    * (e.g. [[graft.analytics.GraphAnalytics.pageRankKeys]] authority)
    * fetches in earlier waves; ties break on the URL for determinism.
    * Emits (url, host, wave, slot) — dispatch = everything with
    * `wave = t` at tick t.
    *
    * Scale — the hot-host problem, solved the [[Corpus.trainingOrder]]
    * way: a naive `row_number() over (partition by host …)` funnels a
    * hot host's ENTIRE frontier (any major domain can contribute
    * 10⁷–10⁸ URLs) through one window partition. Instead the frontier
    * range-partitions on the full order key (host, priority DESC, url),
    * so each task holds a CONTIGUOUS slice of every host's queue: the
    * per-host rank is the within-slice rank plus a broadcast offset.
    * Only hosts that SPAN a slice boundary need an offset row — at most
    * `buckets − 1` rows total, broadcast-trivial at any host
    * cardinality. Ranks are identical to the plain window's (the order
    * key is total), verified by the oracle; the checkpoint pins the
    * sampled range boundaries so both consumers of the partitioning
    * agree.
    */
  def crawlWaves(frontier: DataFrame, urlCol: String, hostCol: String,
      priorityCol: String, perHostPerWave: Int,
      buckets: Int = 0): DataFrame = {
    require(perHostPerWave >= 1, "perHostPerWave must be >= 1")
    rankPerHost(frontier, urlCol, hostCol, priorityCol, buckets)
      .select(col("url"), col("host"),
        expr(s"__r div ${perHostPerWave}L").as("wave"),
        (col("__r") % perHostPerWave).as("slot"))
  }

  /** [[crawlWaves]] with PER-HOST wave budgets — the Crawl-delay-aware
    * form: `budgets` is a tiny (host, per_wave) table (derive it from
    * [[robotsCrawlDelay]], e.g. `per_wave = greatest(1, wave_secs div
    * delay)`), broadcast; hosts absent from it use `defaultPerWave`.
    * A non-positive budget row clamps to 1 (a crawl that may fetch at
    * all fetches at least one URL per wave).
    */
  def crawlWavesBudget(frontier: DataFrame, urlCol: String, hostCol: String,
      priorityCol: String, budgets: DataFrame, defaultPerWave: Int,
      buckets: Int = 0): DataFrame = {
    require(defaultPerWave >= 1, "defaultPerWave must be >= 1")
    rankPerHost(frontier, urlCol, hostCol, priorityCol, buckets)
      .join(broadcast(budgets.select(col("host"),
        col("per_wave").cast("long").as("__bud"))), Seq("host"), "left")
      .withColumn("__b",
        greatest(lit(1L), coalesce(col("__bud"), lit(defaultPerWave.toLong))))
      .select(col("url"), col("host"),
        expr("__r div __b").as("wave"), (col("__r") % col("__b")).as("slot"))
  }

  /** The shared bucketed per-host rank spine: 0-based rank of each URL
    * within its host by (priority DESC, url ASC), computed without ever
    * putting one host's whole frontier in one partition. Returns
    * (url, host, __r).
    */
  private def rankPerHost(frontier: DataFrame, urlCol: String,
      hostCol: String, priorityCol: String, buckets: Int): DataFrame = {
    val spark = frontier.sparkSession
    val n = if (buckets >= 1) buckets else spark.sparkContext.defaultParallelism
    // checkpoint pins the SAMPLED range boundaries: the offsets branch
    // and the rank branch must see the same partitioning (the
    // repartitionByRange two-consumer rule)
    val parted = frontier
      .select(col(urlCol).as("url"), col(hostCol).as("host"),
        col(priorityCol).as("priority"))
      .repartitionByRange(n, col("host"), col("priority").desc, col("url").asc)
      .withColumn("__bkt", spark_partition_id().cast("long"))
      .localCheckpoint(eager = true)
    val inSlice = Window.partitionBy("host", "__bkt")
      .orderBy(col("priority").desc, col("url").asc)
    // per-(host, slice) counts → per-host running offset; only boundary-
    // spanning continuation slices have a non-zero offset (≤ n − 1 rows)
    val offsets = parted.groupBy("host", "__bkt")
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(
        Window.partitionBy("host").orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__off") > 0L)
      .select("host", "__bkt", "__off")
    parted
      .withColumn("__rn", row_number().over(inSlice).cast("long"))
      .join(broadcast(offsets), Seq("host", "__bkt"), "left")
      .withColumn("__r", coalesce(col("__off"), lit(0L)) + col("__rn") - 1L)
      .select(col("url"), col("host"), col("__r"))
  }

  /** Parse fetched sitemap XML bodies (sitemaps.org protocol — the files
    * [[robotsSitemaps]] discovers) into entry rows: one row per
    * `<url>` entry of a `<urlset>` (kind = "url" — frontier seed URLs)
    * and per `<sitemap>` entry of a `<sitemapindex>` (kind = "sitemap" —
    * nested sitemap files to fetch next; the protocol allows ONE level
    * of nesting, so a single re-feed of the kind="sitemap" rows closes
    * the expansion). Returns (sitemap_url, kind, loc, lastmod).
    *
    * Parsing is the protocol's OWN grammar, not general XML — the
    * Xlsx/PDF dependency-free discipline applied to the simplest format
    * of the three: entry blocks and their `<loc>`/`<lastmod>` children
    * lift with anchored lazy regexes ((?s) — entries span lines),
    * `<loc>` values unwrap one CDATA section, the five XML entities
    * decode (`&amp;` LAST, so `&amp;lt;` correctly yields the literal
    * `&lt;`), values trim. Element names accept an optional namespace
    * prefix (`<sm:url>` — r15; the r14 scope parsed default-namespace
    * names only). Entries without a `<loc>` are
    * protocol-invalid and drop; `lastmod` is kept VERBATIM (W3C
    * datetime — filter recrawl sets with try_cast downstream, the
    * robotsCrawlDelay malformed-value stance). A body with no
    * recognizable entries (HTML error page, truncated fetch) yields
    * zero rows — sitemap discovery is best-effort by nature, the
    * degrade-never-throw contract.
    *
    * Scale: one regexp pass per body, codegen'd, corpus-linear; the
    * explode emits exactly the entry count. No shuffle.
    */
  def parseSitemaps(df: DataFrame, urlCol: String, bodyCol: String): DataFrame = {
    // r15: element names accept an optional namespace PREFIX
    // (`<sm:url>` — feeds from namespace-aware generators), the one
    // regexp generalization the r14 stated scope deferred; open and
    // close prefixes match independently (real feeds are consistent)
    val p = "(?:[A-Za-z0-9_.-]+:)?"
    def blocks(tag: String) = regexp_extract_all(col(bodyCol),
      lit(s"(?s)<$p$tag(?:\\s[^>]*)?>(.*?)</$p$tag>"), lit(1))
    def child(block: Column, tag: String) = regexp_extract(block,
      s"(?s)<$p$tag(?:\\s[^>]*)?>(.*?)</$p$tag>", 1)
    def unwrapCdata(c: Column): Column = {
      val t = trim(c)
      when(t.startsWith("<![CDATA[") && t.endsWith("]]>") && length(t) >= 12,
        trim(t.substr(lit(10), length(t) - 12)))
        .otherwise(t)
    }
    def decodeEntities(c: Column): Column = {
      // &amp; decodes LAST: "&amp;lt;" must yield the literal "&lt;"
      val step1 = regexp_replace(c, "&lt;", "<")
      val step2 = regexp_replace(step1, "&gt;", ">")
      val step3 = regexp_replace(step2, "&quot;", "\"")
      val step4 = regexp_replace(step3, "&apos;", "'")
      regexp_replace(step4, "&amp;", "&")
    }
    val entries = concat(
      transform(blocks("url"), b => struct(lit("url").as("kind"), b.as("block"))),
      transform(blocks("sitemap"),
        b => struct(lit("sitemap").as("kind"), b.as("block"))))
    val lastmodRaw = trim(child(col("block"), "lastmod"))
    df.select(col(urlCol).as("sitemap_url"), explode(entries).as("e"))
      .select(col("sitemap_url"), col("e")("kind").as("kind"),
        col("e")("block").as("block"))
      .withColumn("loc",
        decodeEntities(unwrapCdata(child(col("block"), "loc"))))
      .filter(col("loc") =!= "")
      .select(col("sitemap_url"), col("kind"), col("loc"),
        when(lastmodRaw === "", lit(null).cast("string"))
          .otherwise(lastmodRaw).as("lastmod"))
  }

  /** Exact integer division for POSITIVE column operands, codegen-safe
    * at any magnitude: subtract the pmod, then divide the now-divisible
    * values (the DECIMAL-lift recipe without the decimal — operands
    * here stay far under 2^53 so the double division is exact).
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Sortable EPOCH-SECONDS key from a verbatim W3C-datetime `lastmod`
    * string ([[parseSitemaps]] keeps it verbatim; this is the stated
    * downstream consumer): `YYYY-MM-DD` with optional `Thh:mm[:ss]`.
    * The civil-date → epoch-day conversion is the public era/yoe/doy
    * integer formula (no engine date parser — pure regexp + integer
    * arithmetic, so a DuckDB replay computes the identical key).
    * Fractional seconds and numeric timezone offsets are IGNORED,
    * stated: one host's sitemap uses one convention, and a ±14 h offset
    * error is noise at revisit-TTL granularity (the robotsCrawlDelay
    * malformed-value stance). Unparseable or out-of-range fields → null.
    */
  def lastmodKey(lastmod: Column): Column = {
    def g(pat: String, i: Int): Column = {
      val v = regexp_extract(lastmod, pat, i)
      when(v === "", lit(null).cast("long")).otherwise(v.cast("long"))
    }
    val datePat = "^(\\d{4})-(\\d{2})-(\\d{2})"
    val timePat = "^\\d{4}-\\d{2}-\\d{2}[Tt ](\\d{2}):(\\d{2})(?::(\\d{2}))?"
    val y = g(datePat, 1)
    val m = g(datePat, 2)
    val d = g(datePat, 3)
    val hh = coalesce(g(timePat, 1), lit(0L))
    val mi = coalesce(g(timePat, 2), lit(0L))
    val ss = coalesce(g(timePat, 3), lit(0L))
    val valid = y.isNotNull && y >= 1000L && m >= 1L && m <= 12L &&
      d >= 1L && d <= 31L && hh <= 23L && mi <= 59L && ss <= 60L
    // days_from_civil (era/yoe/doy), all operands positive for y >= 1000
    val yAdj = y - when(m <= 2L, 1L).otherwise(0L)
    val era = idiv(yAdj, lit(400L))
    val yoe = yAdj - era * 400L
    val mp = when(m > 2L, m - 3L).otherwise(m + 9L)
    val doy = idiv(mp * 153L + 2L, lit(5L)) + d - 1L
    val doe = yoe * 365L + idiv(yoe, lit(4L)) - idiv(yoe, lit(100L)) + doy
    val days = era * 146097L + doe - 719468L
    when(valid, days * 86400L + hh * 3600L + mi * 60L + ss)
      .otherwise(lit(null).cast("long"))
  }

  /** The empty per-URL fetch-history frame [[recordFetches]] folds into
    * — (url, last_fetch, ttl_secs, n_fetches, n_changes).
    */
  def emptyFetchHistory(
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("url", StringType),
        StructField("last_fetch", LongType), StructField("ttl_secs", LongType),
        StructField("n_fetches", LongType), StructField("n_changes", LongType))))
  }

  /** Fold one crawl wave's fetch results into the per-URL history state
    * — the learning half of per-URL revisit scheduling: `prior` is the
    * history ([[emptyFetchHistory]] on first contact), `fetched` has one
    * row per fetched URL with its epoch-seconds fetch time and whether
    * the CONTENT changed vs the stored copy (compare content hashes —
    * md5/sha from [[graft.llmops.Multimodal.withMetadata]] or the dedup
    * index). Adaptive TTL (the classic crawler freshness policy): a
    * changed fetch HALVES the revisit TTL (the page moves faster than
    * the poll), an unchanged fetch DOUBLES it, clamped to
    * [minTtl, maxTtl]; first contact starts at initTtl (no baseline to
    * compare — the changed flag is ignored). URLs absent from this wave
    * carry over unchanged. One full-outer join on the bounded history —
    * run per wave, state is URL-count-sized.
    */
  def recordFetches(prior: DataFrame, fetched: DataFrame, urlCol: String,
      fetchedAtCol: String, changedCol: String, initTtl: Long = 86400L,
      minTtl: Long = 3600L, maxTtl: Long = 30L * 86400L): DataFrame = {
    require(initTtl >= 1 && minTtl >= 1 && maxTtl >= minTtl,
      "ttl bounds must satisfy 1 <= minTtl <= maxTtl, initTtl >= 1")
    val f = fetched.select(col(urlCol).as("url"),
        col(fetchedAtCol).cast("long").as("__at"),
        col(changedCol).cast("boolean").as("__chg"))
      .groupBy("url").agg(max("__at").as("__at"), max("__chg").as("__chg"))
    prior.select(col("url"), col("last_fetch").cast("long").as("last_fetch"),
        col("ttl_secs").cast("long").as("ttl_secs"),
        col("n_fetches").cast("long").as("n_fetches"),
        col("n_changes").cast("long").as("n_changes"))
      .join(f, Seq("url"), "full_outer")
      .select(col("url"),
        coalesce(col("__at"), col("last_fetch")).as("last_fetch"),
        when(col("__at").isNull, col("ttl_secs"))
          .when(col("ttl_secs").isNull, lit(initTtl))
          .when(col("__chg"), greatest(lit(minTtl), expr("ttl_secs div 2")))
          .otherwise(least(lit(maxTtl), col("ttl_secs") * 2L)).as("ttl_secs"),
        (coalesce(col("n_fetches"), lit(0L)) +
          when(col("__at").isNotNull, 1L).otherwise(0L)).as("n_fetches"),
        // first contact has no stored copy to compare against — the
        // changed flag is ignored by BOTH the TTL and the counter
        (coalesce(col("n_changes"), lit(0L)) +
          when(col("__chg") && col("ttl_secs").isNotNull, 1L).otherwise(0L))
          .as("n_changes"))
  }

  /** The per-URL REVISIT plan — the freshness operator between
    * "adjudicated once" (the [[graft.streaming.EventStream
    * .frontierStream]] bloom drops every re-discovery) and "rotate
    * everything" ([[graft.streaming.EventStream.frontierNewGeneration]]):
    * a fetched URL re-enters the fetch plan when
    *
    *   - its newest sitemap `lastmod` is NEWER than its last fetch (the
    *     authoritative change signal — [[lastmodKey]] over
    *     [[parseSitemaps]]' verbatim strings), or
    *   - its adaptive TTL has elapsed ([[recordFetches]] state — the
    *     poll-based signal for URLs no sitemap covers).
    *
    * Priority = overdue ratio in integer basis points
    * (`(now − last_fetch)·10⁴ div ttl`) plus `lastmodBoost` for
    * lastmod-due rows, so authoritative changes outrank mere staleness
    * in [[crawlWaves]]. Returns (url, host, priority) — feed it to
    * [[graft.streaming.EventStream.frontierReenqueue]]. One bounded
    * join (history × per-URL newest lastmod); nothing corpus-global.
    */
  def revisitPlan(history: DataFrame, sitemaps: DataFrame, nowEpoch: Long,
      lastmodBoost: Long = 1000000L): DataFrame = {
    val sm = sitemaps.filter(col("kind") === "url")
      .select(canonicalUrl(col("loc")).as("url"),
        lastmodKey(col("lastmod")).as("__lm"))
      .groupBy("url").agg(max("__lm").as("__lm"))
    history.select(col("url"), col("last_fetch").cast("long").as("last_fetch"),
        col("ttl_secs").cast("long").as("ttl_secs"))
      .join(sm, Seq("url"), "left")
      .withColumn("__due_lm",
        col("__lm").isNotNull && col("__lm") > col("last_fetch"))
      .withColumn("__due_ttl",
        lit(nowEpoch) >= col("last_fetch") + col("ttl_secs"))
      .filter(col("__due_lm") || col("__due_ttl"))
      .select(col("url"), urlHost(col("url")).as("host"),
        (when(col("__due_lm"), lastmodBoost).otherwise(0L) +
          expr(s"(($nowEpoch - last_fetch) * 10000) div ttl_secs"))
          .as("priority"))
  }
}
