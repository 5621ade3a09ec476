package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.WordTokens

/** Text-analysis column functions for large-scale corpus pipelines.
  *
  * All of these are built from `org.apache.spark.sql.functions` and the
  * engine's native expressions (no Scala UDFs) and were written to be
  * expressible 1:1 in ANSI SQL for the DuckDB oracle gate. Every function
  * is a narrow per-row projection — no shuffle, no state. They do not all
  * compile: `tokens` is the native [[graft.expressions.WordTokens]], but
  * the `filter`/`transform`/`aggregate` lambdas below (`stopwordCount`,
  * `meanTokenLength`, `langScore`, `fingerprint`) are `CodegenFallback`,
  * interpreted row by row, and keep their Project out of whole-stage
  * codegen.
  */
object TextFunctions {

  /** Whitespace tokens of a document. Empty/blank text → empty array. */
  def tokens(text: Column): Column = WordTokens.column(text)

  /** [[tokens]] as a regex split and a `filter` lambda: the formulation
    * the native tokenizer replaced, kept as its test reference. */
  def regexTokens(text: Column): Column =
    filter(split(trim(text), " +"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish sub-word token count: runs of letters, single digits, or
    * single non-alphanumeric marks — the shape of a byte-pair tokenizer's
    * pre-tokenization split (simple char classes keep Java and RE2 regex
    * semantics identical). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
      .cast(LongType)

  /** Count of punctuation marks. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))).cast(LongType)

  /** Default English-ish stopword set (matches the synthetic corpus). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Number of stopword tokens. */
  def stopwordCount(text: Column, stop: Seq[String] = Stopwords): Column =
    size(filter(tokens(text), t => t.isin(stop: _*))).cast(LongType)

  /** Stopword ratio in [0,1]; 0 for empty documents. One double division
    * so the value is bit-deterministic. */
  def stopwordRatio(text: Column, stop: Seq[String] = Stopwords): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(stopwordCount(text, stop).cast(DoubleType) / n.cast(DoubleType))
  }

  /** Mean token length; 0 for empty documents. */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    when(n === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast(LongType))
        .cast(DoubleType) / n.cast(DoubleType))
  }

  /** Heuristic quality score in [0,1]: long-enough documents with a
    * healthy stopword ratio and mid-range word lengths score high —
    * the usual cheap pre-filter in front of expensive pipeline stages.
    * Linear arithmetic over single-division ratios: deterministic. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast(DoubleType)
    val lenScore = least(n / lit(64.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val wlen = meanTokenLength(text)
    val wlenScore = when(wlen >= 3.0 && wlen <= 8.0, lit(1.0)).otherwise(lit(0.5))
    lenScore * lit(0.4) + stopScore * lit(0.3) + wlenScore * lit(0.3)
  }

  /** Per-language marker words for the n-gram/lexicon language-ID
    * heuristic. Markers may overlap; ties resolve by the fixed CASE
    * order in [[languageId]]. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "la", "et"),
    "de" -> Seq("der", "und", "das"),
    "zh" -> Seq("de", "shi", "le"),
  )

  /** Marker-hit count for one language. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers: _*))).cast(LongType)

  /** Lexicon-based language ID: argmax of marker counts with a fixed
    * preference order (en,es,fr,de,zh) on ties; 'und' when nothing hits. */
  def languageId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    val anyHit = scores.map(_._2).reduce(_ + _) > 0
    val best = scores.foldLeft(lit(-1L) -> lit("und")) {
      case ((bestScore, bestLang), (l, sc)) =>
        val take = sc > bestScore
        (when(take, sc).otherwise(bestScore), when(take, lit(l)).otherwise(bestLang))
    }._2
    when(anyHit, best).otherwise(lit("und"))
  }

  /** Order-sensitive document fingerprint: a polynomial rolling hash over
    * the token stream, `h' = (h*31 + len(t)*17 + ascii(t)) mod 1e9+7`.
    * Values stay < 2^35 so the arithmetic never overflows int64 and is
    * reproducible in any engine with 64-bit integers. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (h, t) => (h * 31L + length(t).cast(LongType) * 17L + ascii(t).cast(LongType)) % 1000000007L)
}
