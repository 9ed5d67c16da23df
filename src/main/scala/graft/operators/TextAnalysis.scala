package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Det

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language ID, token counting.
  *
  * All are composed from codegen'd built-ins (`split`, higher-order
  * array functions, `regexp_extract_all`) — no UDFs — so they stay
  * inside whole-stage codegen and scale linearly with input bytes:
  * per-row work only, no shuffle, fully pushdown-compatible.
  */
object TextAnalysis {

  /** Whitespace tokens, empties removed (leading/trailing/multiple
    * whitespace would otherwise produce "" entries from `split`).
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** DuckDB twin of [[tokens]] — the whitespace split + empty filter
    * every token-level oracle starts from. */
  def tokensDuckSql(e: String): String =
    s"list_filter(regexp_split_to_array(trim($e), '\\s+'), x -> len(x) > 0)"

  /** Vocabulary-coverage / OOV profile: the corpus's top-`vocabSize`
    * tokens by frequency (ties break token-ascending) become the
    * "vocabulary"; each document reports how many of its token
    * INSTANCES fall inside it and the out-of-vocabulary rate in ppm
    * (integer arithmetic end-to-end). High-OOV docs are the noise /
    * wrong-language / binary-spill candidates a tokenizer-fit check
    * flags before training; the same scan shape audits a REAL
    * tokenizer vocab by swapping the frequency cut for a vocab table.
    *
    * Scale shape: the vocabulary cut is one token aggregate followed
    * by a bounded `TakeOrdered` (never a global sort), the vocabulary
    * itself is broadcast-sized by construction (`vocabSize` rows), so
    * the per-doc pass is explode → broadcast-hash membership → one
    * hash aggregate with map-side partials. Zero-token docs surface
    * with `n_tokens = 0` and NULL `oov_ppm`.
    *
    * Output: `(doc_id, n_tokens, in_vocab, oov_ppm)`.
    */
  def vocabCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabCoverage: vocabSize must be positive")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(coalesce(col(textCol), lit("")))).as("__tok"))
    val vocab = toks.groupBy("__tok").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__tok").asc).limit(vocabSize)
      .select(col("__tok"), lit(1L).as("__inv"))
    val stats = toks.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__inv"), lit(0L))).as("in_vocab"))
    docs.select(col(idCol).as("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("in_vocab"), lit(0L)).as("in_vocab"))
      .withColumn("oov_ppm",
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("((n_tokens - in_vocab) * 1000000) div n_tokens")))
  }

  /** Engine-portable token hash in `[0, 2^31-1)`: the first 15 hex
    * chars of md5 (60 bits) parsed as an integer, reduced mod
    * p = 2^31-1 — the [[Classifier.featureId]] md5 trick widened to
    * signature hashing. md5 agrees across engines and the hex parse
    * is exact integer arithmetic, so the DuckDB twin
    * ([[tokenHashPDuckSql]]) reproduces every value bit-for-bit;
    * downstream modular arithmetic on 31-bit operands never leaves
    * the long range (no wraparound to restate in SQL).
    */
  def tokenHashP(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long") % lit(2147483647L)

  /** The DuckDB twin of [[tokenHashP]] — keep in lockstep. */
  def tokenHashPDuckSql(tExpr: String): String =
    s"(CAST(('0x' || substr(md5($tExpr), 1, 15)) AS BIGINT) % 2147483647)"

  /** Engine-portable full-width 64-bit token hash: md5 hex chars
    * 1-8 / 9-16 parsed as two 32-bit halves and packed `(hi << 32) |
    * lo` — the shift wraps into the sign bit, giving the uniform
    * signed-64 value every bitwise consumer (SimHash votes, banded
    * Hamming buckets) expects. The DuckDB twin
    * ([[tokenHash64DuckSql]]) rebuilds the same two's-complement
    * value via HUGEINT (DuckDB `<<` refuses a sign-bit overflow, so
    * the pack is `hi·2^32 + lo − 2^64·[hi ≥ 2^31]` instead).
    */
  def tokenHash64(t: Column): Column = {
    val m = md5(t)
    shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  /** The DuckDB twin of [[tokenHash64]] — keep in lockstep. The
    * sign-bit test rides on the first hex digit (lowercase md5:
    * '8'..'9','a'..'f' ⟺ hi ≥ 2^31, exact in ASCII order).
    */
  def tokenHash64DuckSql(tExpr: String): String =
    s"CAST(CAST(CAST(('0x' || substr(md5($tExpr), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296" +
      s" + CAST(('0x' || substr(md5($tExpr), 9, 8)) AS BIGINT)" +
      s" - CASE WHEN substr(md5($tExpr), 1, 1) >= '8'" +
      s" THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT)"

  /** BPE-ish subword count: alpha runs, digit runs, and single
    * non-alphanumeric glyphs each count as one token — the usual
    * cheap proxy for LLM token budgets when no tokenizer is at hand.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Ratio of punctuation/symbol chars to total chars, 4 dp. */
  def punctRatio(text: Column): Column =
    Det.round(
      size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
        greatest(length(text), lit(1)), 4)

  /** Mean token length in chars, 4 dp (integer sums, one division —
    * deterministic across engines).
    */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    Det.round(
      aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
        .cast("double") / greatest(size(toks), lit(1)), 4)
  }

  /** Fraction of tokens that are common-English stopwords, 4 dp. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = englishStopwords): Column = {
    val toks = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    Det.round(
      size(filter(toks, t => array_contains(sw, t))).cast("double") /
        greatest(size(toks), lit(1)), 4)
  }

  val englishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Heuristic document quality score in [0,1], 4 dp: length target,
    * low punctuation, plausible mean token length. Weights are fixed
    * spec, not tuned — the point is the deterministic, engine-portable
    * shape (every term derives from exact integer counts).
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val lenTerm = least(nTok / lit(100.0), lit(1.0))
    val punctTerm = lit(1.0) -
      size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
        greatest(length(text), lit(1))
    val awl = aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
      .cast("double") / greatest(size(toks), lit(1))
    val awlTerm = least(awl / lit(8.0), lit(1.0))
    Det.round(lit(0.3) * lenTerm + lit(0.3) * punctTerm + lit(0.4) * awlTerm, 4)
  }

  /** Marker tokens per language for [[langId]]. CJK is handled by
    * codepoint class, not markers.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "in", "to", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "una"),
    "fr" -> Seq("le", "les", "des", "est", "et", "dans", "une", "pour"))

  /** N-gram/stopword-marker language ID. Scores each candidate by
    * marker-token hits; CJK text short-circuits to "zh" on codepoint
    * presence; ties resolve in fixed `langMarkers` order, unknown
    * when nothing scores. Deterministic and SQL-expressible, so the
    * DuckDB oracle can replicate it exactly.
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => array_contains(array(markers.map(lit): _*), t)))
    val scores = langMarkers.map { case (lang, m) => lang -> score(m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), rest) =>
      when(s === best && best > 0, lit(lang)).otherwise(rest)
    }
    when(size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0))) > 0, lit("zh"))
      .otherwise(pick)
  }

  /** Token-window chunking with overlap — the standard long-document
    * split for context-bounded training: windows of `size` tokens
    * advancing by `size - overlap`. Returns an array of chunk
    * strings; explode it for one-row-per-chunk. Pure per-row array
    * ops: chunking 100 TB is a map-only pass.
    */
  def chunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap < chunkSize, "overlap must be smaller than chunk size")
    val step = chunkSize - overlap
    val toks = tokens(text)
    transform(
      sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(step)),
      start => concat_ws(" ", slice(toks, start + 1, lit(chunkSize))))
  }

  /** Sentence segmentation: split on `[.!?]` + whitespace, keeping
    * the terminator with its sentence. RE2 has no lookbehind, so the
    * split point is materialized instead — a replacement-group pass
    * rewrites the boundary to a control char (U+0001, absent from
    * text corpora) and a plain split cuts there; both steps exist
    * identically in any engine. Heuristic by design (abbreviations
    * like "Dr." split — the standard trade of regex segmenters);
    * map-only codegen.
    */
  def sentences(text: Column): Column =
    filter(
      transform(
        split(regexp_replace(text, "([.!?])\\s+", "$1\u0001"), "\u0001"),
        s => trim(s)),
      s => length(s) > 0)

  /** Sentence-aware chunking: greedy-pack whole sentences into chunks
    * of at most `maxTokens` whitespace tokens (a single sentence
    * longer than the budget becomes its own over-budget chunk —
    * sentences are never split). This is the chunker retrieval and
    * pretraining pipelines actually want: [[chunks]]' token windows
    * cut mid-sentence, which degrades embedding quality.
    *
    * One sequential `aggregate` fold per row (chunk state = the
    * accumulated array + current buffer), map-only at any scale.
    * Oracle-checkable: the fold is pure integer/string arithmetic, so
    * `list_reduce` replays it in DuckDB — with the state packed into
    * one delimited VARCHAR, because DuckDB struct-typed accumulators
    * drop list-field history (see `TextQueries.sentenceChunksSql`).
    */
  def sentenceChunks(text: Column, maxTokens: Int): Column = {
    require(maxTokens >= 1, "maxTokens must be positive")
    val folded = aggregate(
      sentences(text),
      struct(
        array().cast("array<string>").as("done"),
        lit("").as("cur"),
        lit(0).as("n")),
      (acc, s) => {
        val sn = size(tokens(s))
        val fits = acc.getField("n") + sn <= maxTokens
        struct(
          when(fits || acc.getField("n") === 0, acc.getField("done"))
            .otherwise(array_append(acc.getField("done"), acc.getField("cur")))
            .as("done"),
          when(fits && acc.getField("n") > 0,
              concat(acc.getField("cur"), lit(" "), s))
            .when(fits, s)
            .otherwise(s).as("cur"),
          when(fits, acc.getField("n") + sn).otherwise(sn).as("n"))
      },
      acc => when(acc.getField("n") > 0,
          array_append(acc.getField("done"), acc.getField("cur")))
        .otherwise(acc.getField("done")))
    folded
  }

  /** Pattern redaction (PII-scrub shape): every digit run replaced by
    * a mask. Codegen'd regexp, map-only.
    */
  def redactDigits(text: Column, mask: String = "#"): Column =
    regexp_replace(text, "[0-9]+", mask)

  /** Unicode normalization — the canonicalization pass that runs
    * BEFORE anything hash-based (exact dedup, fingerprints, vocab
    * builds): composed and decomposed renderings of the same visible
    * text ("é" as U+00E9 vs `e`+U+0301) hash differently until
    * normalized. `form` ∈ NFC (default — the web's canonical form,
    * DuckDB-oracle-able via `nfc_normalize`), NFD, NFKC, NFKD (the
    * compatibility folds — ligatures `ﬁ`→`fi`, fullwidth→ASCII —
    * aggressive LLM-corpus cleanup). Native codegen'd expression
    * ([[graft.functions.NormalizeExpr]]), map-only, with a
    * no-allocation fast path for already-normalized rows.
    */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.functions.HashExprs.normalize(text, form)

  // ---- HTML → text extraction ----
  //
  // The raw-crawl front of a training-data pipeline: WARC/WET records
  // are markup, not prose, and everything downstream (quality gates,
  // dedup, tokenization) expects the extracted text. The chain is
  // pure codegen'd regex/replace — map-only, one pass per stage, no
  // UDF — and every pattern is backreference-free so it means the
  // same thing in java.util.regex and RE2, keeping the DuckDB oracle
  // exact. Order is load-bearing: script/style/comment BLOCKS drop
  // before the generic tag strip (their text content is not prose,
  // and a lone `<` inside a script would otherwise derail the tag
  // regex), and `&amp;` decodes LAST (else `&amp;lt;` would
  // double-decode to `<`).

  /** Markup → whitespace-normalized text: script/style/comment blocks
    * removed, tags stripped to spaces (so `a</p><p>b` keeps its word
    * break), the six ubiquitous named/numeric entities decoded,
    * whitespace collapsed.
    */
  def stripHtml(html: Column): Column = {
    val noScript  = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle   = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags    = regexp_replace(noComment, "<[^>]*>", " ")
    val entities  = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    val amp = replace(entities, lit("&amp;"), lit("&"))
    trim(regexp_replace(amp, "\\s+", " "))
  }

  /** Outlink extraction (the crawl-frontier feed): every
    * double-quoted `href` value, in document order. Pairs with
    * [[Urls.normalizeUrl]] for frontier dedup.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html, lit("(?i)href\\s*=\\s*\"([^\"]*)\""), lit(1))

  // ---- Main-content extraction (boilerplate removal) ----
  //
  // [[stripHtml]] flattens the WHOLE page — nav bars, cookie banners,
  // footers and all — which is why production pipelines run a
  // content extractor (jusText, trafilatura, readability) instead of
  // a bare tag strip. This is the length + link-density core of that
  // family (Kohlschütter et al.'s boilerplate signals; the arc90
  // readability heuristic): split on block-level tags, score each
  // block, keep the prose. Everything is integer/regex arithmetic
  // shared verbatim with the DuckDB twin.

  private val blockSplitRe =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|br|" +
      "section|article|header|footer|nav|aside|blockquote)[^>]*>"
  private val anchorRe = "(?is)<a[^>]*>(.*?)</a>"

  /** Inline cleanup of one block: remaining tags → spaces, the six
    * ubiquitous entities decoded (`&amp;` last), whitespace
    * collapsed — [[stripHtml]]'s tail without the block logic.
    */
  private def stripInline(b: Column): Column = {
    val noTags = regexp_replace(b, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    trim(regexp_replace(replace(ent, lit("&amp;"), lit("&")), "\\s+", " "))
  }

  /** Main prose content of an HTML page: script/style/comment blocks
    * drop, the rest splits into blocks on block-level tags, and a
    * block survives iff its cleaned text has ≥ `minChars` characters
    * AND at most a third of them sit inside `<a>` anchors (integer
    * compare `3·link_chars ≤ chars` — no division). Surviving blocks
    * join with newlines, in document order. Declared simplifications
    * vs full jusText: no stopword-density class, no neighbor
    * promotion — length + link density alone remove nav/footer/
    * related-links boilerplate, which is the bulk of the win.
    *
    * Map-only: one staged block array per row; per-block work is one
    * transform → filter → transform chain (each stage referenced
    * once — the Catalyst HOF re-inline trap), no shuffle, no UDF.
    */
  def mainContent(html: Column, minChars: Int = 80): Column = {
    val noScript  = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle   = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = split(noComment, blockSplitRe)
    val scored = transform(blocks, b => struct(
      stripInline(b).as("t"),
      aggregate(regexp_extract_all(b, lit(anchorRe), lit(1)), lit(0L),
        (acc, a) => acc + length(stripInline(a)).cast("long")).as("lc")))
    val kept = filter(scored, s =>
      length(s.getField("t")) >= minChars &&
      s.getField("lc") * 3 <= length(s.getField("t")).cast("long"))
    array_join(transform(kept, s => s.getField("t")), "\n")
  }

  /** The DuckDB twin of [[mainContent]] over an HTML expression —
    * spliced into oracle SQL (same regexes, same integer compares;
    * `list_sum` over an anchorless block is NULL where Spark's fold
    * seeds 0, and `array_to_string` over an all-boilerplate page's
    * EMPTY keep list is NULL where Spark's `array_join` is '' —
    * hence both COALESCEs).
    */
  def mainContentDuckSql(htmlExpr: String, minChars: Int = 80): String = {
    def stripInlineSql(e: String) =
      s"""trim(regexp_replace(replace(
         |  replace(replace(replace(replace(replace(
         |    regexp_replace($e, '<[^>]*>', ' ', 'g'),
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |    '&#39;', chr(39)), '&nbsp;', ' '),
         |  '&amp;', '&'), '\\s+', ' ', 'g'))""".stripMargin
    val blockRe = blockSplitRe.replace("'", "''")
    s"""coalesce(array_to_string(list_transform(list_filter(
       |  list_transform(
       |    string_split_regex(
       |      regexp_replace(regexp_replace(regexp_replace($htmlExpr,
       |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |        '(?s)<!--.*?-->', ' ', 'g'),
       |      '$blockRe'),
       |    b -> struct_pack(
       |      t := ${stripInlineSql("b")},
       |      lc := coalesce(list_sum(list_transform(
       |        regexp_extract_all(b, '${anchorRe.replace("'", "''")}', 1),
       |        a -> length(${stripInlineSql("a")}))), 0))),
       |  s -> length(s.t) >= $minChars AND s.lc * 3 <= length(s.t)),
       |  s -> s.t), chr(10)), '')""".stripMargin
  }

  // ---- Typed PII redaction ----
  //
  // Replacement tokens (not bare masks) follow the published corpus
  // scrubs: downstream filters count `<EMAIL>`/`<IP>`/`<PHONE>`
  // occurrences per doc as a quality signal. Every pattern is plain
  // regex — codegen'd, map-only, and expressible identically in
  // RE2 (DuckDB) and java.util.regex, which keeps the oracle exact.
  // Compose email → IP → phone: emails and IPs contain digit runs
  // the looser phone pattern would otherwise swallow.

  /** `local@domain.tld` → token. */
  def redactEmails(text: Column, token: String = "<EMAIL>"): Column =
    regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", token)

  /** Dotted-quad IPv4 → token (word-bounded so version strings like
    * `1.2.3.4.5` still match their first quad — acceptable recall
    * for a scrub; precision comes from the bounds).
    */
  def redactIpv4(text: Column, token: String = "<IP>"): Column =
    regexp_replace(text, "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", token)

  /** Phone-shaped runs (optional `+`, then ≥7 digits allowing
    * space/dash separators) → token.
    */
  def redactPhones(text: Column, token: String = "<PHONE>"): Column =
    regexp_replace(text, "\\+?[0-9][0-9 -]{5,}[0-9]", token)

  /** Full PII scrub in the canonical order. */
  def redactPii(text: Column): Column =
    redactPhones(redactIpv4(redactEmails(text)))

  /** Keyed pseudonymization: a stable surrogate for an identifier —
    * `md5(salt || ":" || value)` hex — so the same (salt, id) maps to
    * the same token everywhere (joins across tables keep working)
    * while the raw id never reaches the training corpus. Map-only;
    * re-identification requires the salt, which lives in the
    * pipeline's secret store, never in data. NULL ids stay NULL
    * (absent is not an identity). This is scrubbing, not
    * cryptography: for a public-release corpus with a guessable id
    * space, rotate to an HMAC with a managed key — the call shape
    * (and every downstream join) is unchanged.
    */
  def pseudonymize(id: Column, salt: String): Column =
    when(id.isNotNull, md5(concat(lit(salt), lit(":"), id.cast("string"))))

  /** DuckDB twin of [[pseudonymize]]. */
  def pseudonymizeDuckSql(idExpr: String, salt: String): String =
    s"CASE WHEN $idExpr IS NOT NULL THEN md5('$salt' || ':' || CAST($idExpr AS VARCHAR)) END"

  /** Deterministic train/validation split by multiplicative hashing
    * of the id — pure 64-bit integer arithmetic, so any engine
    * computes the same assignment (no RNG, no salt files).
    * Returns the bucket in [0, 100). Delegates to [[Sampling.idHash]]
    * (id reduced mod p before the multiply: overflow-free for any
    * long id, same value as the unreduced form for ids < 2^31-1).
    */
  def splitBucket(id: Column): Column =
    pmod(Sampling.idHash(id), lit(100))

  // ---- Repetition signals (Gopher-style quality filters) ----
  //
  // The published web-corpus quality rules (Rae et al. 2021 §A1.1)
  // filter on how much of a document is self-repeated: duplicate
  // lines, duplicate n-grams. The measures below are pure
  // per-row array arithmetic over exact integer counts — map-only,
  // codegen'd, engine-portable (the DuckDB oracle mirrors each
  // expression 1:1).

  /** Non-empty lines of `text` (split on '\n'). */
  def lines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /** Gopher-style REPETITION signal suite (Rae et al. 2021,
    * "Scaling Language Models", Table A1 — the within-document
    * repetition family; [[qualityGate]]'s single `repetition` rule
    * samples it): per document over non-empty newline lines and
    * whitespace tokens,
    *
    *  - `dup_line_ppm` — fraction of lines that REPEAT an earlier
    *    line (`(n − n_distinct) / n` — repeats-only: a line occurring
    *    c times contributes c−1),
    *  - `dup_line_char_ppm` — fraction of characters sitting in
    *    REPEAT occurrences of duplicated lines (`Σ (c−1)·len` over
    *    distinct line values with c > 1, against total line chars) —
    *    the SAME repeats-only convention as `dup_line_ppm`, matching
    *    the DataTrove/NeMo reading of Rae et al. Table A1. (Through
    *    round 13 this metric counted ALL occurrences, `c·len`; both
    *    readings are defensible, but one suite must not mix
    *    conventions or gate thresholds don't transfer — pinned
    *    repeats-only in `RepetitionSpec`.)
    *  - `top2_ppm` / `top3_ppm` — fraction of token instances
    *    covered by the single most frequent 2-gram / 3-gram
    *    (`max_count · n / n_tokens`),
    *
    * all in integer ppm (`count · 10⁶ div total` — engine-portable,
    * no floating division anywhere), plus `pass` = 1 iff every
    * fraction is under its Gopher-ish threshold (30% dup lines, 20%
    * dup-line chars, 20% top-2-gram, 18% top-3-gram).
    *
    * Scale shape — aggregate + join, NEVER in-array occurrence
    * counting: the obvious per-doc `filter(arr, _ === x)` count is
    * O(units²) in the DOCUMENT's own size, which a 100k-token page
    * turns into 10¹⁰ comparisons inside one task (the same class of
    * bug as the per-hash windows the dup-span plan pins against).
    * Instead ONE explode emits `(doc, kind, unit)` rows — lines,
    * tokens, 2-grams, 3-grams tagged in a single pass over staged
    * arrays — and keyed counts + a conditional per-kind rollup
    * produce every signal with map-side partials; work is
    * O(units log units) and skew-free (the keys carry the doc id).
    * Docs with no units (empty text) rejoin with zero defaults.
    */
  def repetitionSignals(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Round 18: all seven counts come from ONE fused code-point scan
    // ([[graft.functions.RepetitionCountsExpr]]). Every signal here
    // is PER-DOCUMENT, so the occurrence counting that justified the
    // previous explode → two-level-aggregate → join shape (in-ARRAY
    // counting is O(n²) per doc in column form) is O(n) hash-map work
    // inside a native expression — the whole suite is now MAP-ONLY,
    // deleting a shuffle that carried ~2 n-gram rows per corpus token
    // (plan-pinned exchange-free in RepetitionSpec). The ppm
    // arithmetic stays column-side: bit-identical values and oracles.
    val c = col("__rc")
    docs.select(col(idCol), col(textCol))
      .withColumn("__rc",
        graft.functions.RepetitionCountsExpr.counts(col(textCol)))
      .select(col(idCol) +: Seq(
        "n_lines" -> "__nl", "n_toks" -> "__nt", "n_dup_lines" -> "__dupl",
        "dup_chars" -> "__dupchars", "chars" -> "__chars",
        "c2" -> "__c2", "c3" -> "__c3").map { case (f, a) =>
        coalesce(c.getField(f), lit(0L)).as(a) }: _*)
      .selectExpr(idCol,
        "__nl AS n_lines",
        "(__dupl * CAST(1000000 AS BIGINT)) div greatest(__nl, 1) AS dup_line_ppm",
        "(__dupchars * CAST(1000000 AS BIGINT)) div greatest(__chars, 1) AS dup_line_char_ppm",
        "(__c2 * CAST(2000000 AS BIGINT)) div greatest(__nt, 1) AS top2_ppm",
        "(__c3 * CAST(3000000 AS BIGINT)) div greatest(__nt, 1) AS top3_ppm")
      .withColumn("pass",
        when(col("dup_line_ppm") <= 300000L &&
          col("dup_line_char_ppm") <= 200000L &&
          col("top2_ppm") <= 200000L && col("top3_ppm") <= 180000L, 1)
          .otherwise(0))
  }

  // ---- C4 filters (Raffel et al. 2020 §2.2) ----
  //
  // The OTHER canonical published web-filter set beside the Gopher
  // rules ([[qualityGate]]/[[repetitionSignals]]): C4 cleans at LINE
  // level first (keep only sentence-like lines), then drops whole
  // pages on document signals. Everything here is line/array
  // arithmetic over codegen'd regex — map-only, engine-portable.

  /** C4 line cleaning: keep only lines that end in a terminal
    * punctuation mark (`.` `!` `?` `"`), have ≥ `minWords`
    * whitespace words, and don't mention "javascript" (the
    * enable-JS boilerplate rule); survivors re-join with newlines in
    * order. Returns '' when nothing survives.
    */
  def c4CleanLines(text: Column, minWords: Int = 5): Column =
    array_join(
      filter(lines(text), l =>
        l.rlike("[.!?\"]$") &&
        size(split(l, "\\s+")) >= minWords &&
        !lower(l).contains("javascript")),
      "\n")

  /** C4 document verdict over the CLEANED text: 1 iff ≥ `minLines`
    * sentence-like lines survived (the paper's ≥3-sentences rule —
    * every kept line ends in terminal punctuation, so kept lines are
    * the line-level restatement), the page contains no "lorem ipsum"
    * placeholder and no `{` (the code-not-prose tell). Case-folded
    * like the paper's filters.
    */
  def c4DocPass(cleaned: Column, minLines: Int = 3): Column =
    when(
      size(lines(cleaned)) >= minLines &&
      !lower(cleaned).contains("lorem ipsum") &&
      !cleaned.contains("{"), 1).otherwise(0)

  /** Fraction of array elements that repeat an earlier element,
    * 4 dp: `(n - n_distinct) / n`. 0 for the empty array.
    */
  def repeatFraction(arr: Column): Column =
    Det.round(
      (size(arr) - size(array_distinct(arr))).cast("double") /
        greatest(size(arr), lit(1)), 4)

  /** Fraction of tokens that repeat an earlier token. */
  def dupTokenFraction(text: Column): Column = repeatFraction(tokens(text))

  /** Space-joined word n-grams over a token array; empty when the
    * doc has fewer than `n` tokens.
    *
    * Takes the token ARRAY (not the text): callers should stage the
    * array once in a projection — Catalyst re-inlines a higher-order
    * subtree per reference (CLAUDE.md trap), and this expression
    * references it n+2 times.
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** Fraction of word n-grams that repeat an earlier n-gram — the
    * Gopher "duplicate n-gram fraction" shape.
    */
  def dupNgramFraction(toks: Column, n: Int): Column =
    repeatFraction(wordNgrams(toks, n))

  /** Gopher-style composite quality gate (the Rae et al. 2021 §A1.1
    * rule-list shape; thresholds are fixed spec, not tuned): each doc
    * gets the sorted list of failed rules and a pass verdict.
    *
    *  - `length`: token count outside [10, 5000]
    *  - `token_len`: mean token length outside [2, 12]
    *  - `punctuation`: symbol-to-char ratio > 0.2
    *  - `stopwords`: stopword ratio < 0.05 (no connective tissue —
    *    the classic lists-and-logs filter)
    *  - `repetition`: duplicate-token fraction > 0.3
    *
    * One map-only pass: the token array is staged in its own
    * projection and every signal reads the staged attribute (Catalyst
    * re-inlines a higher-order subtree once per REFERENCE — the
    * CLAUDE.md trap; five signals would tokenize five times).
    * `failed_rules` is emitted as a comma-joined string and `pass` as
    * 0/1 so the cross-engine hash never depends on array/bool
    * encodings.
    */
  /** Failed-rule names as an array Column over a fused-count struct —
    * shared by [[qualityGate]] (reporting form, over the staged
    * `__qc` column) and [[qualityKeep]] (filtering form, over a
    * lambda variable) so both gate IDENTICALLY.
    */
  private def gateFailedRulesOver(c: Column): Column = {
    val nTok = c.getField("n_tok")
    val awl = Det.round(
      c.getField("tok_len_sum").cast("double") / greatest(nTok, lit(1)), 4)
    val pr = Det.round(
      c.getField("n_punct").cast("double") /
        greatest(c.getField("n_chars"), lit(1)), 4)
    val sr = Det.round(
      c.getField("n_stop").cast("double") / greatest(nTok, lit(1)), 4)
    val dtf = Det.round(
      c.getField("n_dup").cast("double") / greatest(nTok, lit(1)), 4)
    val rules: Seq[(String, Column)] = Seq(
      "length" -> (nTok < 10 || nTok > 5000),
      "punctuation" -> (pr > 0.2),
      "repetition" -> (dtf > 0.3),
      "stopwords" -> (sr < 0.05),
      "token_len" -> (awl < 2.0 || awl > 12.0))
    filter(
      array(rules.map { case (name, bad) =>
        when(bad, lit(name)).otherwise(lit(null).cast("string"))
      }: _*), x => x.isNotNull)
  }

  def qualityGate(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NULL text must FAIL the gate, not sail through it: un-coalesced,
    // every rule condition is NULL, the failed array filters empty and
    // pass flips to 1. Treat NULL as the empty document (fails length/
    // stopwords/token_len); the oracle coalesces identically.
    //
    // All five signals' integer counts come from ONE fused code-point
    // scan ([[graft.functions.QualityCountsExpr]], round 18 — the 5M
    // probe's gate stage paid interpreted HOF dispatch per token plus
    // a match-materializing regex per doc in the composed form); the
    // ratio + Det.round arithmetic stays in ordinary columns, so
    // every downstream value and oracle is bit-identical.
    val txt = coalesce(col(textCol), lit(""))
    val failed = gateFailedRulesOver(col("__qc"))
    docs.withColumn("__qc",
        graft.functions.QualityCountsExpr.counts(txt, englishStopwords))
      .select(col(idCol),
        concat_ws(",", failed).as("failed_rules"),
        when(size(failed) === 0, lit(1)).otherwise(lit(0)).as("pass"))
  }

  /** The gate as a FILTER: `docs` rows (all columns) whose text
    * passes — semantically `docs ⋉ (qualityGate pass=1)` but MAP-ONLY
    * (round 19): the gate is per-row, so joining the verdict back by
    * id only re-buys rows the scan already held. At the 5M probe the
    * semi-join shuffled five million full-text rows to keep 430k —
    * ~22 s of join for a 2.8 s scan. Keeper sets are identical by
    * construction, so every curate-family oracle is unchanged.
    *
    * The predicate stages the fused-count struct as the single
    * element of an `exists(array(...), qc => ...)` lambda — the
    * CLAUDE.md in-expression staging pattern: a plain
    * `withColumn("__qc", …).filter(pred(__qc))` collapses and
    * re-inlines the count scan once PER `__qc` REFERENCE inside
    * FilterExec (no subexpression elimination there — measured 12.3 s
    * vs the 2.5 s single-scan floor at 5M docs); lambda variables are
    * never re-inlined, so the scan runs exactly once per row.
    */
  def qualityKeep(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(exists(
      array(graft.functions.QualityCountsExpr.counts(
        coalesce(col(textCol), lit("")), englishStopwords)),
      qc => size(gateFailedRulesOver(qc)) === 0))

  /** Intra-document line dedup: drop every line that repeats an
    * earlier line (the boilerplate-nav / repeated-footer scrub),
    * preserving first-occurrence order. Per-row array ops — a
    * 100 TB scrub is map-only.
    */
  def dedupLines(text: Column): Column = {
    val ls = split(text, "\n")
    array_join(
      filter(ls, (l, i) => array_position(ls, l) === i + 1), "\n")
  }

  /** Polynomial rolling-hash fingerprint over whitespace tokens —
    * content-defined, whitespace-normalization-invariant:
    * `h = (h·31 + tokenHashP(token)) mod p` folded left in token
    * order, p = 2^31-1 so every step fits a long under ANSI
    * arithmetic (no silent wraparound). Engine-portable end-to-end
    * ([[tokenHashP]] + a sequential fold), so the DuckDB oracle
    * replays it exactly via `list_reduce` ([[fingerprintDuckSql]]).
    * Distributed cost: per-row.
    */
  def fingerprint(text: Column): Column = {
    val p = lit(2147483647L) // 2^31 - 1
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + tokenHashP(t), p))
  }

  /** The DuckDB twin of [[fingerprint]] over a token-list SQL
    * expression — `list_reduce` folds left in list order with the
    * seed prepended (the [[Classifier.linearScoreDuckSql]] pattern),
    * mirroring the Spark fold's association exactly.
    */
  def fingerprintDuckSql(toksExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform($toksExpr, t -> ${tokenHashPDuckSql("t")})), " +
      s"(a, b) -> (a * 31 + b) % 2147483647)"
}
