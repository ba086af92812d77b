package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, n-gram shingling, normalization, fingerprinting,
  * language-ID and quality heuristics. All pure Column expressions
  * (codegen-friendly, no UDFs) so they stay inside WholeStageCodegen
  * and scale linearly with no shuffle of their own.
  */
object TextOps {

  /** Whitespace word tokens, empty strings dropped. */
  def words(text: Column): Column =
    filter(split(trim(text), " "), w => length(w) > 0)

  /** Word n-gram shingles (space-joined), empty when < n words. */
  def wordNgrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Fixed-window token chunking with overlap — the context-window
    * prep step of a training pipeline (split long documents into
    * `win`-token windows every `stride` tokens; `win − stride` tokens
    * of overlap preserve cross-boundary context). Chunk starts are
    * 0, stride, 2·stride, … while < token count, so every token is
    * covered and the tail chunk may be short (the drop-last=false
    * convention). Returns `array<struct<idx, n_tok, txt>>`, [] for
    * empty input; pure array expressions, no explode until the caller
    * asks for rows — so at 100 TB the chunking itself never shuffles.
    */
  def tokenChunks(ws: Column, win: Int, stride: Int): Column = {
    require(win >= 1 && stride >= 1 && stride <= win,
      s"degenerate chunking win=$win stride=$stride")
    val n = size(ws)
    val nChunks = ceil(n * lit(1.0d) / stride).cast("int")
    when(n > 0,
      transform(sequence(lit(0), nChunks - 1), i =>
        struct(i.as("idx"),
          least(lit(win), n - i * lit(stride)).as("n_tok"),
          array_join(slice(ws, i * lit(stride) + 1, lit(win)), " ").as("txt"))))
      .otherwise(array().cast("array<struct<idx:int,n_tok:int,txt:string>>"))
  }

  /** Content-defined chunking, LBFS form (Muthitacharoen, Chen &
    * Mazières SOSP'01 §3.1): a chunk boundary falls after position i
    * iff the hash of the `w`-char window ENDING at i lands in a fixed
    * 1-in-2⁸·|prefix| slice of hash space — here "first two md5 hex
    * chars ≤ `probHex`", e.g. "03" ⇒ 4/256 = 1/64 boundary odds per
    * position ⇒ mean chunk ≈ 64 chars. Because the decision depends
    * only on WINDOW CONTENT, an insertion re-chunks just the window
    * spans it touches and every later chunk survives byte-identical —
    * the property that makes chunk-level dedup robust where
    * fixed-width chunking ([[tokenChunks]]) shifts every downstream
    * boundary. Texts shorter than `w` are one chunk; empty chunks
    * (adjacent boundaries) are dropped.
    *
    * Position-independent by design, so the whole op is a per-doc
    * array expression — codegen'd, no explode, no shuffle, and every
    * position's window hashes in parallel (LBFS's Rabin fingerprint
    * has the same property; md5 stands in as the engine-portable
    * deterministic hash — a production deployment chasing GB/s/core
    * would swap a gear-hash native Expression into this boundary
    * predicate and nothing else changes).
    *
    * Returns `array<string>` of the chunks in document order.
    */
  def cdcChunks(text: Column, w: Int, probHex: String): Column = {
    require(w >= 2 && probHex.length == 2, s"degenerate CDC w=$w probHex=$probHex")
    val len = length(text)
    val bounds = when(len >= w,
        filter(sequence(lit(w), len),
          i => substring(md5(text.substr(i - (w - 1), lit(w))), 1, 2) <= probHex))
      .otherwise(array().cast("array<int>"))
    val cuts = concat(array(lit(0)), bounds, array(len))
    // `cuts` is referenced exactly THREE times (zip_with's two sides +
    // the slice length) — CollapseProject re-inlines the whole window
    // hash per reference, so the reference count must stay bounded.
    // The obvious element_at-per-chunk form re-hashes the document
    // ~2·chunks times (CdcGearProbe measured it at 19 µs/char vs this
    // form's ~1 µs/char; the native gear kernel [[graft.functions
    // .CdcGearChunks]] is 3.8 ns/char when the oracle-portable rule
    // isn't required).
    filter(
      zip_with(cuts, slice(cuts, lit(2), greatest(size(cuts) - 1, lit(1))),
        (a, b) => when(b.isNotNull, text.substr(a + 1, b - a))),
      c => c.isNotNull && length(c) > 0)
  }

  /** Character n-gram shingles, empty when text shorter than n. */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Lowercase, strip non-alphanumerics, collapse runs of spaces —
    * canonical form for near-exact dedup.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Deterministic document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalize(text))


  /** Count of `[A-Za-z0-9]+` token matches (BPE-ish pre-tokenizer). */
  def alnumTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0)))

  /** Stopword hit count (exact integer, oracle-friendly). */
  def stopwordHits(ws: Column, stopwords: Seq[String]): Column =
    size(filter(ws, w => w.isin(stopwords: _*)))

  /** Fraction of words that appear in `stopwords`. */
  def stopwordRatio(ws: Column, stopwords: Seq[String]): Column =
    when(size(ws) > 0,
      stopwordHits(ws, stopwords).cast("double") / size(ws).cast("double"))
      .otherwise(lit(0.0d))

  /** Tiny per-language stopword lists for the n-gram-heuristic
    * language ID. Order = deterministic tie-break priority.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和"),
  )

  /** Arg-max with first-in-list tie-break over (label, score) columns;
    * "und" when the best score is not positive. Shared by the per-row
    * and exploded-aggregation language-ID forms so their tie-break
    * rules cannot drift apart.
    */
  def argMaxLabel(scored: Seq[(String, Column)]): Column = {
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (l, s)) =>
        (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  /** Heuristic language ID: arg-max of stopword hit counts with
    * list-order tie-break; "und" (undetermined) when no hits at all.
    */
  def langId(ws: Column): Column =
    argMaxLabel(langStopwords.map { case (l, sw) => (l, stopwordHits(ws, sw)) })

  /** Quality-score components (all exact int counts or int ratios). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  /** PII scrubbing for training corpora: redact emails, IPv4
    * addresses, and phone numbers to typed placeholders. The patterns
    * stay inside the Java-regex ∩ RE2 common subset (no lookaround, no
    * backreferences) so the DuckDB oracle applies the literally-same
    * regexes; replacement order is fixed email → IP → phone because an
    * IP-shaped substring can occur inside an email's domain and must
    * not be clipped out from under it. Pure codegen'd `regexp_replace`
    * chain — per-row work, no shuffle, runs inside the scan stage at
    * any scale.
    */
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe: String = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")
}
