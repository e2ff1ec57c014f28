package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline column functions for large-scale training-data prep.
  * All are pure `org.apache.spark.sql.functions` compositions — fully
  * codegen'd, no UDFs — so they stay inside whole-stage codegen and
  * scale linearly with input.
  *
  * They generalize the reference's row-level text cleansing (regex
  * whitelist at DB/ETL.ipynb c25, unicode repair at
  * ScienceDirect/ScienceDirect.py:440-455) into the analysis layer a
  * 100 TB document pipeline needs.
  */
object TextFunctions {

  /** n-gram-free heuristic language ID: counts characteristic stopwords
    * per language and picks the argmax (ties → first of the fixed
    * probe order en, fr, de, es; all-zero → "und" — the behavior the
    * langId/langIdRegex equivalence spec and the t1 oracle pin).
    * Deterministic; good enough for corpus routing.
    */
  val langStopwords: Map[String, String] = Map(
    "en" -> "\\b(the|a|of|and|to|in|is)\\b",
    "fr" -> "\\b(le|la|les|et|des|un|une)\\b",
    "de" -> "\\b(der|die|das|und|ein|nicht)\\b",
    "es" -> "\\b(el|los|las|y|un|una|que)\\b")

  /** `\b` is NOT portable: Java's regex boundary is Unicode-aware
    * (Character.isLetterOrDigit — "the中文" is ONE word run) while
    * DuckDB's RE2 `\b` is ASCII ("the" matches there). The engine's
    * contract is the ORACLE's ASCII semantics — implemented natively
    * by [[TextStats]] and, for the Spark-regex reference path, by
    * explicit ASCII lookarounds instead of `\b`. The SQL oracle keeps
    * `\b` (RE2 is already ASCII).
    *
    * `\s` is not portable EITHER, in the other direction: Java and
    * Python class vertical tab 0x0B as whitespace, RE2's `\s` is only
    * `[\t\n\f\r ]`. Here the engine contract is the JAVA/PYTHON set
    * (reference parity — the whitelist and splits come from Python
    * code), so every ORACLE SQL spells it as the explicit class
    * `[ \t\n\x0b\f\r]` instead of `\s` (t2/t3/c1/f1/f5/f8), and
    * [[TextStats.isSpaceByte]] includes 0x0B to match. */
  private def asciiBounded(pattern: String): String =
    pattern
      .replace("\\b(", "(?<![a-zA-Z0-9_])(")
      .replace(")\\b", ")(?![a-zA-Z0-9_])")

  def stopwordHits(text: Column, lang: String): Column =
    size(expr_extract_all(lower(text), asciiBounded(langStopwords(lang))))

  private def expr_extract_all(c: Column, pattern: String): Column =
    regexp_extract_all(c, lit(pattern), lit(0))

  /** Shared argmax/when-chain over per-language hit columns. */
  private def langArgmax(hits: Seq[(String, Column)]): Column = {
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in fixed order) achieving the max; all-zero → "und"
    hits.foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** langId over the fused one-pass [[TextStats]] expression — same
    * values as [[langIdRegex]] (spec-enforced), ~one byte scan instead
    * of four regexp_extract_all passes. */
  def langId(text: Column): Column = {
    val s = TextStats.text_stats(text)
    langArgmax(TextStats.Langs.map(l => (l, s.getField(l))))
  }

  /** The original regex formulation — kept as the equivalence-spec
    * reference and the documentation of the exact semantics. */
  def langIdRegex(text: Column): Column =
    langArgmax(Seq("en", "fr", "de", "es").map(l => (l, stopwordHits(text, l))))

  /** whitespace token count */
  def wsTokens(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token estimate: runs of letters, runs of digits, or single
    * non-space symbols — the pre-tokenizer split most BPE vocabularies
    * assume. */
  def bpeishTokens(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Quality score in [0,1]: blend of length, alpha ratio and stopword
    * density — the classic cheap pre-filter for web-scraped corpora.
    * Pure integer/decimal arithmetic so it is engine-exact. */
  /** Returns basis points in [0, 10000] as a long. Pure integer
    * arithmetic end-to-end, so any engine computes the identical value —
    * float rounding at a half-ulp boundary cannot flip the result.
    *
    * Each of the three ratios is floor-divided to basis points
    * SEPARATELY before averaging, keeping every intermediate below
    * ~2^45 even for multi-GB documents (a single common-denominator
    * rational would overflow int64 once length·wsTokens > ~6e10, i.e.
    * any multi-MB doc — exactly the inputs a 100 TB corpus contains). */
  // exact integer floor-division: subtract the remainder first, so the
  // final double division is between exact multiples (lossless < 2^53)
  private def fdiv(num: Column, den: Column): Column =
    ((num - pmod(num, den)) / den).cast("long")

  private def qualityFrom(len: Column, alpha: Column, enHits: Column,
      ws: Column): Column = {
    val lenBp = least(len, lit(500)).cast("long") * lit(20L)
    val alphaDen = greatest(len, lit(1)).cast("long")
    val stopNum = least(enHits * 10, ws).cast("long")
    val stopDen = greatest(ws, lit(1)).cast("long")
    val alphaBp = fdiv(alpha.cast("long") * lit(10000L), alphaDen)
    val stopBp = fdiv(stopNum * lit(10000L), stopDen)
    fdiv(lenBp + alphaBp + stopBp, lit(3L))
  }

  /** Quality over the fused one-pass [[TextStats]] expression — same
    * values as [[qualityScoreRegex]] (spec-enforced). */
  def qualityScore(text: Column): Column = {
    val s = TextStats.text_stats(text)
    qualityFrom(s.getField("len"), s.getField("alpha"),
      s.getField("en"), s.getField("ws"))
  }

  /** The original regex formulation — equivalence-spec reference. */
  def qualityScoreRegex(text: Column): Column =
    qualityFrom(
      length(text),
      length(regexp_replace(text, "[^A-Za-z]", "")),
      stopwordHits(text, "en"),
      wsTokens(text))

  /** Canonical-form fingerprint: md5 over lowercased text with
    * non-alphanumerics removed. Exact-dup detection key that survives
    * punctuation/casing/whitespace noise. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))
}
