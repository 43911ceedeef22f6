package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for LLM training-data pipelines: normalize /
  * tokenize / shingle / token-count / language-ID / quality score /
  * fingerprint. Every function is a pure Column expression over Spark
  * built-ins (incl. higher-order array functions) and the engine's native
  * kernels (`graft_shingles`) — no UDFs, so Catalyst sees through the
  * whole layer.
  *
  * Hash parity note: all content hashes are md5-derived (not xxhash64 /
  * murmur) so the DuckDB oracle can reproduce them bit-for-bit; md5
  * throughput is not the bottleneck for scan-bound text pipelines, and at
  * 100 TB a faster engine-local hash can be swapped in behind the same
  * API without changing the algebra.
  */
object TextOps {

  /** Canonical normalization: lowercase, collapse whitespace, trim. */
  def norm(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(norm(text), " ")

  /** HTML → text extraction — the first stage of every web-crawl
    * pipeline (strip markup before quality scoring / dedup / training).
    * Pure Column regexp chain, so it runs inside WholeStageCodegen at
    * scan speed; every pattern is RE2-compatible (non-greedy, inline
    * flags, \b — NO backreferences, which RE2 lacks) so the DuckDB
    * oracle applies the identical chain and hashes match byte-for-byte.
    *
    * Order is load-bearing: script/style bodies go first (their CONTENT
    * must vanish, not just their tags), then comments, then remaining
    * tags (each replaced by a space so adjacent block text doesn't fuse),
    * then the named entities with `&amp;` LAST (so `&amp;lt;` decodes to
    * the literal text `&lt;`, not `<` — single-pass decode semantics),
    * then whitespace canonicalization. Numeric `&#NNN;` entities other
    * than the named set are left as-is (a regex replacement cannot
    * compute chr(NNN)); the documented subset covers the overwhelming
    * share of real markup.
    */
  def htmlToText(html: Column): Column = {
    val blocks = Seq(
      "(?is)<script\\b[^>]*>.*?</script>",
      "(?is)<style\\b[^>]*>.*?</style>",
      "(?s)<!--.*?-->",
      "(?s)<[^>]+>")
    val stripped = blocks.foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&")
    norm(entities.foldLeft(stripped) { case (c, (e, v)) =>
      regexp_replace(c, e, v)
    })
  }

  /** Word-level k-gram shingles of a token array: gram i joins tokens
    * i..i+k-1 with single spaces; empty when < k tokens or NULL.
    *
    * PERF CONTRACT: one implementation, the native `graft_shingles`
    * kernel (`graft.functions.ArrayShingles`), for every width — see its
    * scaladoc for why a native Expression. It reads its input once per
    * row inside WholeStageCodegen, so an inlined `tokens(text)` tree is
    * evaluated once; callers that use the tokens more than once (size,
    * several shingle widths) still project `tokens(...)` into its own
    * column first.
    */
  def shinglesKOf(toks: Column, k: Int): Column =
    call_function("graft_shingles", toks, lit(k))

  /** Word 3-gram shingles — the width of the MinHash/Jaccard dedup path. */
  def shingles3(toks: Column): Column = shinglesKOf(toks, 3)

  /** Word bigrams (empty when < 2 tokens). */
  def bigramsOf(toks: Column): Column = shinglesKOf(toks, 2)

  /** First 32 bits of md5 as a non-negative long — the shared scalar hash. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** BPE-ish pre-tokenizer count: the GPT-2-style pattern without
    * lookahead (RE2-compatible so the oracle matches): runs of letters,
    * runs of digits, runs of other non-space chars, each with an optional
    * leading space.
    *
    * PERF CONTRACT (applies to every `…OfNorm`/`…OfToks` variant below):
    * pass MATERIALIZED `norm`/`tokens` columns, projected once per row —
    * the text-based convenience forms inline the normalize/split tree into
    * every reference, so a projection computing several stats re-runs the
    * regex per stat per row.
    */
  val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
  def bpeCountOfNorm(normText: Column): Column =
    size(regexp_extract_all(normText, lit(BpePattern), lit(0)))
  def bpeTokenCount(text: Column): Column = bpeCountOfNorm(norm(text))

  /** n-gram-heuristic language ID: CJK chars → zh, else the language with
    * the most stop-token hits (ties broken by fixed priority en > es > de
    * > fr), 'und' when nothing hits. Stop lists are deliberately tiny —
    * this is the cheap first-pass filter of a training-data pipeline; a
    * real model sits behind the same Column contract.
    */
  val StopWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  def stopHits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(StopWords(lang): _*)))

  def langIdOf(rawText: Column, toks: Column): Column = {
    val hits = StopWords.keys.toSeq.sorted.map(l => l -> stopHits(toks, l)).toMap
    val best = greatest(hits.values.toSeq: _*)
    when(rawText.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(best === 0, lit("und"))
      .when(hits("en") === best, lit("en"))
      .when(hits("es") === best, lit("es"))
      .when(hits("de") === best, lit("de"))
      .otherwise(lit("fr"))
  }
  def langId(text: Column): Column = langIdOf(text, tokens(text))

  /** Quality-score components (length, punctuation ratio, stopword ratio,
    * mean token length) and a fixed linear composite. Ratios are double
    * divisions of integer counts — bit-identical across engines.
    */
  def punctRatioOfNorm(normText: Column): Column =
    length(regexp_replace(normText, "[a-z0-9 ]", "")).cast("double") /
      greatest(length(normText), lit(1)).cast("double")
  def punctRatio(text: Column): Column = punctRatioOfNorm(norm(text))

  def stopRatioOfToks(toks: Column): Column = {
    val all = StopWords.values.flatten.toSeq
    size(filter(toks, t => t.isin(all: _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }
  def stopRatio(text: Column): Column = stopRatioOfToks(tokens(text))

  def meanTokenLenOfToks(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  def meanTokenLen(text: Column): Column = meanTokenLenOfToks(tokens(text))

  def qualityScoreOf(normText: Column, toks: Column): Column =
    lit(0.5) * stopRatioOfToks(toks) - lit(0.3) * punctRatioOfNorm(normText) +
      lit(0.2) * least(meanTokenLenOfToks(toks) / lit(10.0), lit(1.0))
  def qualityScore(text: Column): Column =
    qualityScoreOf(norm(text), tokens(text))

  /** PII redaction for training corpora: emails, IPv4s, and phone-shaped
    * number runs are replaced with typed tags, in a FIXED order (emails
    * first — an email must not be half-eaten by the phone pattern's digit
    * run). Patterns are RE2-compatible (no lookahead/backreferences) so
    * the DuckDB oracle applies the identical regexes; input should be
    * `norm`-ed text (the patterns assume lowercase). A real pipeline
    * swaps in NER behind the same Column contract; regex is the standard
    * cheap first pass.
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d[\\d .-]{7,}\\d"

  def redactPii(normText: Column): Column = {
    val noEmail = regexp_replace(normText, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, PhonePattern, "<PHONE>")
  }

  /** URL surface for domain-blocklist curation (the standard first pass
    * on web-crawl corpora). RE2-compatible and lowercase-input (apply to
    * `norm`-ed text) so the DuckDB oracle extracts identically —
    * `parse_url` is the built-in alternative but has no oracle-side twin.
    * The registered domain is approximated as the last two host labels
    * (a public-suffix list slots in behind the same Column contract).
    */
  val UrlPattern = "https?://[a-z0-9.-]+[a-z0-9/._-]*"

  def urlsOf(normText: Column): Column =
    regexp_extract_all(normText, lit(UrlPattern), lit(0))

  def hostOf(url: Column): Column =
    regexp_extract(url, "https?://([a-z0-9.-]+)", 1)

  def registeredDomainOf(host: Column): Column = {
    val parts = split(host, "\\.")
    // guarded element_at: single-label hosts pass through (ANSI-safe —
    // CaseWhen evaluates only the branch taken)
    when(size(parts) >= 2,
      concat_ws(".",
        element_at(parts, size(parts) - 1), element_at(parts, size(parts))))
      .otherwise(host)
  }

  /** Count of pattern hits (for redaction audit columns). */
  def patternCount(normText: Column, pattern: String): Column =
    size(regexp_extract_all(normText, lit(pattern), lit(0))).cast("long")

  /** Rolling-hash document fingerprint: fold (acc*31 + hash32(token)) mod
    * 1e9+7 over the token stream — shift-sensitive, content-defined, and
    * cheap; plus min/max shingle hashes (a winnowing-lite bound pair).
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, x => hash32(x)),
      lit(0L), (acc, h) => pmod(acc * lit(31L) + h, lit(1000000007L)))
}
