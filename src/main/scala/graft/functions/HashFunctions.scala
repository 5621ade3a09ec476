package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Engine-portable hashing primitives for dedup / fingerprinting.
  *
  * Everything here is defined over plain int64 modular arithmetic with
  * values kept far from overflow, so the identical computation can be
  * expressed in ANSI SQL for the oracle and re-implemented bit-exactly by
  * any engine. (Spark's own hash()/xxhash64 are fast but engine-specific;
  * a cross-engine dedup pipeline needs hashes that are part of the spec,
  * not the implementation.) All functions are narrow projections built
  * from higher-order functions — no UDFs, no state. Those lambdas are
  * interpreted (`CodegenFallback`); the queries use the compiled
  * `char_fold_hash` and `word_shingle_set`, and `charFoldHash` and
  * `shingles` stay as the references those are tested against.
  */
object HashFunctions {

  /** Modulus for all rolling/permuted hashes: 2^31-1 (prime). Keeps every
    * intermediate product under 2^63 with room for multipliers. */
  val P: Long = 2147483647L

  /** Char-fold hash of a string: fold(h -> h*131 + codepoint) mod P.
    * Identical in DuckDB as list_reduce over string_split(t,''). */
  def charFoldHash(t: Column): Column =
    aggregate(
      filter(split(t, ""), c => c =!= ""),
      lit(0L),
      (h, c) => (h * 131L + ascii(c).cast(LongType)) % P)

  /** Word n-gram shingles of a document ("a b c" for n=3), preserving
    * order and multiplicity; fewer than n tokens → empty array. Built on
    * the regex tokens, this is the reference the native
    * `word_shingle_set` is tested against.
    *
    * Built as a zip_with chain over shifted slices instead of
    * element_at-in-a-lambda: zip_with evaluates its array children ONCE,
    * whereas `element_at(toks, i)` inside a lambda re-tokenizes the
    * document on every element (interpreted HOFs do no CSE) — O(len^2)
    * per row. zip_with's null padding marks the partial tail n-grams,
    * which the final filter drops. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.regexTokens(text)
    val cnt = size(toks)
    val chained = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(cnt - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(chained, s => s.isNotNull)
  }

  /** Distinct shingle set (set semantics for Jaccard). */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(text, n))

  /** Coefficients for the i-th universal-hash permutation. Knuth/LCG
    * multipliers, reduced mod P: small multipliers like (2i+3) barely
    * permute the value ordering, so MinHash band keys collide for
    * unrelated documents (observed: 150s of candidate explosion at sf0.1
    * from a small shingle vocabulary). Products stay < 2^62. */
  def permA(i: Int): Long = {
    val a = (2654435761L * (i + 1)) % P
    if (a == 0L) 1L else a
  }
  def permB(i: Int): Long = (1013904223L * (i + 1) + 12345L) % P

  /** The i-th universal-hash permutation: (h * permA(i) + permB(i)) mod P. */
  def permute(h: Column, i: Int): Column =
    (h * lit(permA(i)) + lit(permB(i))) % P

  /** DuckDB fragment of [[permute]] over SQL expression `h`. */
  def permuteSql(h: String, i: Int): String =
    s"(($h * ${permA(i)} + ${permB(i)}) % $P)"

  /** DuckDB SQL fragment computing [[charFoldHash]] of token expression
    * `t` — kept alongside the Scala so the two can't drift apart. */
  def charFoldHashSql(t: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_filter(string_split($t,''), ch -> ch <> ''),
       |        ch -> CAST(ascii(ch) AS BIGINT))),
       |    (h, x) -> (h*131 + x) % ${P})""".stripMargin

  /** DuckDB SQL fragment for the whitespace token list of `text`. */
  val tokensSql: String =
    "list_filter(string_split_regex(trim(text), ' +'), t -> t <> '')"

  /** DuckDB SQL fragment for the distinct word n-gram shingle set. */
  def shingleSetSql(n: Int): String = {
    val joined = (0 until n).map(k => s"l[i+$k]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, len(l) - ${n - 2}), i -> $joined))"
  }
}
