package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column builders for LLM-data-pipeline operators
 * (SURVEY.md §2 C9-C12). All pure built-in expressions — codegen'd,
 * no UDFs, distributable at any scale.
 */
object TextFunctions {

  /** Whitespace tokens (empty string → single empty token, like DuckDB's
   * string_split_regex — keeps oracle parity). */
  def tokens(text: Column): Column = SplitWhitespace(trim(text))

  /** C11: token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** C11: BPE-style pre-tokenizer count — the GPT-2-family word-split
   * pattern (contraction suffixes, letter runs, digit runs, punctuation
   * runs, each with an optional leading space). Counting these segments
   * approximates subword-token budgets far better than whitespace words
   * and stays a portable regex (no backrefs/lookaround; runs in RE2). */
  val BpeTokenRe = "'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s"
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpeTokenRe))

  /** Word n-gram shingles (n consecutive tokens joined with one space).
   * Single-pass codegen'd expression; `< n` tokens degrade to one
   * whole-text shingle. (The equivalent HOF formulation —
   * `transform(sequence…, concat_ws(slice…))` — runs its lambda
   * interpreted per shingle and was the hot spot of the dedup and
   * decontamination paths.) */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(tokens(text), n)

  /**
   * C9: language ID — ordered stopword/script heuristic. The CASE order is
   * part of the function contract (ties resolve to the first match), which
   * keeps it expressible in any SQL engine for oracle checks.
   */
  def langId(text: Column): Column =
    langIdPadded(text, concat(lit(" "), lower(text), lit(" ")))

  /** [[langId]] with the padded-lowered text supplied separately.
   * Codegen subexpression elimination skips conditional branches, so
   * inlining the pad+lower re-runs it per CASE arm (up to 4x); callers
   * on a hot path should materialize it once as a column and pass the
   * attribute here. */
  def langIdPadded(text: Column, padded: Column): Column =
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(padded.rlike(" (der|und|die|nicht|das|ist) "), "de")
      .when(padded.rlike(" (le|la|les|est|dans|une) "), "fr")
      .when(padded.rlike(" (el|los|las|es|una|por) "), "es")
      .when(padded.rlike(" (the|and|is|of|to|in) "), "en")
      .otherwise("unknown")

  /** C10: quality-scoring raw features (exact integer counts). */
  def charCount(text: Column): Column = length(text)
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))
  /** Counts whitespace tokens that exactly equal an English stopword.
   * Doubling every whitespace run before matching ` word ` gives each
   * token its own flanking spaces, so adjacent stopwords ("a and is")
   * can't fight over a shared delimiter — the count equals the token-
   * equality formulation `size(filter(tokens, isin(...)))` but stays a
   * codegen'd regex instead of an interpreted per-token lambda. */
  def stopwordCount(text: Column): Column =
    regexp_count(
      concat(lit(" "), regexp_replace(lower(text), "\\s+", "  "), lit(" ")),
      lit(" (the|a|and|is|of|to|in) "))

  /** C52: canonical text form for robust exact dedup — lowercase,
   * punctuation/symbols stripped (everything outside letters, digits,
   * whitespace), whitespace runs collapsed to one space, trimmed. Case,
   * trailing-punctuation, and reflow variants of the same content then
   * collide under a plain hash-groupBy — the cheap first rung of the
   * dedup ladder before MinHash/SimHash. Unicode classes (`\p{L}`,
   * `\p{N}`) carry the same meaning in Java regex and RE2, so the
   * DuckDB oracle reproduces the form byte-for-byte; all three regex
   * passes are codegen'd (no per-token lambda). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " "))

  /** C12: whole-document fingerprint — md5 over whitespace-normalized
   * lowercase text (stable across engines). */
  def fingerprintMd5(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  // ---- C13: PII detection/redaction ------------------------------------
  // Patterns stay inside the Java-regex ∩ RE2 dialect (no backrefs, no
  // lookaround) so any SQL engine can reproduce the redaction.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** C13: redact emails / IPv4s / phone numbers with typed placeholders.
   * Email first (its local part may contain digits), then IP, then phone. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** C13: match counts per PII class (map-only, codegen'd). */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))
  def ipv4Count(text: Column): Column = regexp_count(regexp_replace(text, EmailRe, "<EMAIL>"), lit(Ipv4Re))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))

  // ---- C14: deterministic corpus bucketing / splits --------------------

  /**
   * C14: stable bucket in [0, buckets) from md5₅₂ ([[Md5HexSlice]]:
   * the first 13 hex chars of md5, 52 bits — exact in a BIGINT and in a
   * double) — portable across engines (DuckDB:
   * `('0x'||substr(md5(x),1,13))::BIGINT % buckets`),
   * reprocessing-stable (a function of content only). 13 chars keeps
   * the modulo bias below 2^-39 relative; a 4-char (16-bit) domain
   * would bias low buckets by ~1/655 absolute (~7% relative at
   * buckets=10000). For pure-Spark pipelines prefer xxhash64 (8 bytes
   * of state, no hex round-trip).
   */
  def md5Bucket(text: Column, buckets: Int): Column =
    Md5HexSlice.md552(text) % buckets

  /** C14: train/val/test assignment from [[md5Bucket]] percentages. */
  def hashSplit(text: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    val b = md5Bucket(text, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  // ---- C15: sentence segmentation --------------------------------------

  /** C15: period-delimited sentence split (non-empty segments). The
   * interpreted `filter` lambda is per-sentence, not per-char — cheap. */
  def sentences(text: Column): Column =
    filter(split(trim(text), "\\.\\s+"), s => length(s) > 0)
}
