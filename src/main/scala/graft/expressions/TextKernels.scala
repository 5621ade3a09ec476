package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `word_tokens(text)`: the whitespace tokens of a document in one byte
  * pass — maximal runs of bytes other than 0x20, in order.
  *
  * Exactly `filter(split(trim(text), ' +'), t -> t <> '')` and the DuckDB
  * oracle's `list_filter(string_split_regex(trim(text), ' +'), ...)`:
  * `trim` strips ' ' only (Spark's trim, not Java's control-char trim),
  * so tabs and newlines stay inside tokens; runs of spaces delimit; empty
  * and blank text give an empty array. That formulation is a regex split
  * plus an interpreted `filter` lambda (CodegenFallback); this one
  * compiles into whole-stage codegen. */
case class WordTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_tokens needs a string document, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    WordTokens.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.expressions.WordTokens.tokens($c);")

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

object WordTokens {
  /** `s` if it is valid UTF-8, else the text Spark's own `String` path
    * reads (`split` and `regexp_*` decode to a Java string first): each
    * malformed sequence replaced by U+FFFD. Every byte kernel reads its
    * input through this, so there is one byte path. */
  def valid(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  /** The valid UTF-8 bytes of `text` in an array of their own. Tokens
    * and shingles are views into it: one copy per document, none per
    * token, and no view aliases a row buffer that Spark reuses. */
  def bytes(text: UTF8String): Array[Byte] = {
    val s = valid(text)
    val b = new Array[Byte](s.numBytes)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset, b, Platform.BYTE_ARRAY_OFFSET, b.length)
    b
  }

  /** Offsets of the tokens of `b`, packed `[start0, end0, start1, end1,
    * ...]` (end exclusive). */
  def spans(b: Array[Byte]): Array[Int] = {
    val n = b.length
    var out = new Array[Int](32)
    var k = 0
    var i = 0
    while (i < n) {
      while (i < n && b(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && b(i) != ' ') i += 1
        if (k == out.length) out = java.util.Arrays.copyOf(out, k * 2)
        out(k) = start
        out(k + 1) = i
        k += 2
      }
    }
    java.util.Arrays.copyOf(out, k)
  }

  def tokens(text: UTF8String): ArrayData = {
    val b = bytes(text)
    val sp = spans(b)
    val out = new Array[Any](sp.length / 2)
    var j = 0
    while (j < out.length) {
      out(j) = UTF8String.fromBytes(b, sp(2 * j), sp(2 * j + 1) - sp(2 * j))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `word_tokens(text)` as a column, with no function-registry lookup. */
  def column(text: Column): Column = Internals.column(WordTokens(Internals.expression(text)))
}

/** `vowel_run_counts(toks)`: per token, the number of maximal `[aeiouy]+`
  * runs — exactly `transform(toks, t -> size(regexp_extract_all(t,
  * '[aeiouy]+', 0)))`, without a regex or a lambda.
  *
  * The vowels are ASCII, and both valid UTF-8 and Spark's U+FFFD reading
  * of invalid bytes leave every ASCII byte in place and put no ASCII byte
  * anywhere else, so counting byte runs needs no normalisation. A NULL
  * token counts as `size(NULL)` does under the session's
  * `legacySizeOfNull` (-1, or NULL under ANSI). */
case class VowelRunCounts(child: Expression, legacySizeOfNull: Boolean)
    extends UnaryExpression {
  def this(child: Expression) = this(child, SQLConf.get.legacySizeOfNull)

  private def inputContainsNull = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = inputContainsNull && !legacySizeOfNull)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vowel_run_counts needs an array of strings, got $other")
  }
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    VowelRunCounts.counts(input.asInstanceOf[ArrayData], legacySizeOfNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.VowelRunCounts.counts($c, $legacySizeOfNull);")

  override protected def withNewChildInternal(newChild: Expression): VowelRunCounts =
    copy(child = newChild)
}

object VowelRunCounts {
  def runs(t: UTF8String): Int = {
    val n = t.numBytes
    var count = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      val vowel = b == 'a' || b == 'e' || b == 'i' || b == 'o' || b == 'u' || b == 'y'
      if (vowel && !inRun) count += 1
      inRun = vowel
      i += 1
    }
    count
  }

  def counts(toks: ArrayData, legacySizeOfNull: Boolean): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Int](n)
    var nulls = false
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) { out(i) = -1; nulls = true }
      else out(i) = runs(toks.getUTF8String(i))
      i += 1
    }
    if (!nulls || legacySizeOfNull) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (toks.isNullAt(j)) null else out(j)))
  }

  def column(toks: Column): Column =
    Internals.column(new VowelRunCounts(Internals.expression(toks)))
}
