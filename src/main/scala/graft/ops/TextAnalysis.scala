package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: token counting,
  * quality scoring, language-ID heuristics, fingerprinting.
  *
  * Everything is built from codegen'd column expressions (regexp/len/md5) —
  * no UDFs — so at 100 TB the whole stage fuses into one WholeStageCodegen
  * span over the document scan, and column pruning reaches the parquet
  * reader (only `text` + keys are read).
  *
  * Engine-portability: all outputs are integers, exact rational doubles, or
  * hex strings, so the DuckDB oracles match hash-exactly.
  */
object TextAnalysis {

  /** Word tokens: maximal alphanumeric runs (whitespace tokenizer that also
    * drops punctuation).
    */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: letter runs, digit runs, and single symbols —
    * the classic pre-tokenizer regex shape.
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long")

  val stopwordPattern = "\\b(the|a|of|and|to|in|is|on|for|with)\\b"

  def stopwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit(stopwordPattern), lit(0))).cast("long")

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9 ]"), lit(0))).cast("long")

  /** Quality score in [0,1]: length saturation (60%) + stopword-rate term
    * (40%). Deterministic rational arithmetic: same integer inputs → same
    * double in every engine.
    */
  def qualityScore(nTokens: Column, nStop: Column): Column =
    round(
      least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.6 +
        (nStop.cast("double") / greatest(nTokens, lit(1)).cast("double")) * 0.4 +
        lit(1e-9),
      4)

  /** n-gram-heuristic language ID: score candidate languages by marker-word
    * hits, argmax with a fixed precedence for ties. Marker sets are
    * deliberately tiny — the operator shape (N regexp counts + CASE argmax)
    * is what scales; swap in real profiles for production.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|is|of|and)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|la|les|et|est)\\b",
    "es" -> "\\b(el|la|los|y|es)\\b")

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, pat) =>
      lang -> size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
    }

  /** Argmax over language scores with declaration-order precedence. */
  def predictedLang(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), elseCol) =>
      when(s > 0 && s === best, lang).otherwise(elseCol)
    }
  }

  /** The C4/Gopher format-rule columns over a text column, in gate-query
    * order: (n_tokens, terminal_punct, has_braces, has_lorem, word_len_ok,
    * kept). Shared by the batch gate query (`TextJobs.c4Filters`) and the
    * in-flight ingest screen (`streaming/StreamingText`) so stream and
    * batch decisions are the same expressions by construction. Rules are
    * pure string/substring/integer arithmetic (the mean-word-length band
    * is integer bounds, no division) — one codegen scan, identical in
    * DuckDB (the terminal-punct check is last-char IN set, not `$`-anchored
    * regex: Java `$` matches before a trailing newline, RE2's does not).
    */
  def c4Columns(text: Column): Seq[(String, Column)] = {
    val t = trim(text)
    val nTok = tokenCount(text)
    val alpha = length(regexp_replace(text, "[^A-Za-z0-9]", "")).cast("long")
    val terminal = substring(t, -1, 1).isin(".", "!", "?")
    val braces = text.contains("{")
    val lorem = lower(text).contains("lorem ipsum")
    val wordLen = alpha >= nTok * 3 && alpha <= nTok * 10
    Seq(
      "n_tokens" -> nTok,
      "terminal_punct" -> terminal,
      "has_braces" -> braces,
      "has_lorem" -> lorem,
      "word_len_ok" -> wordLen,
      "kept" -> (terminal && !braces && !lorem && nTok >= 5 && wordLen))
  }

  /** The text normalizer: space-trimmed, lowercased, whitespace runs
    * collapsed to one space.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Normalized-content fingerprint: md5 of lowercased, whitespace-collapsed
    * text — the exact-dedup key. (Near-dup fingerprints live in Dedup.)
    */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** PII scrubbing patterns, restricted to syntax Java regex and RE2 (the
    * DuckDB engine) interpret identically — character classes, bounded
    * repetition and `\b`, no lookaround — so redaction is oracle-checkable.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0))).cast("long")

  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(phonePattern), lit(0))).cast("long")

  /** Redact emails then phone numbers to typed placeholders — a single
    * codegen'd expression chain, same fusion story as every op here.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")
}
