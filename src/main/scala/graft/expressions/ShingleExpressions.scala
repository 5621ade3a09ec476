package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression producing a document's DISTINCT word
  * n-gram shingle set in one compiled pass.
  *
  * The relational formulation (posexplode → window(lead×(n-1)) →
  * distinct, DedupQueries.shingleStream) costs a full (doc_id)-sorted
  * window shuffle of the token stream PLUS a distinct shuffle before
  * any dedup work starts; the HOF zip_with chain avoids the shuffle but
  * is CodegenFallback-interpreted. This expression removes both: the
  * per-document set is built in a tight loop (documents are KB-scale;
  * the set fits trivially), so `explode(word_shingle_set(text, n))`
  * yields the (doc_id, shingle) inverted-index pairs with ZERO shuffles
  * before the shingle self-join — the join itself becomes the first
  * exchange, which is the shape that scales.
  *
  * Tokens are [[WordTokens]]' (`filter(split(trim(text), ' +'), _ != "")`
  * and the DuckDB oracle's `list_filter(string_split_regex(trim(text),
  * ' +'), ...)`), read as byte spans of the UTF-8 text; each shingle is
  * its tokens' bytes joined by single spaces. Set order is
  * first-occurrence, which is irrelevant post-explode. */
object ShingleExpressions {

  /** Distinct n-gram shingles of `text`, first-occurrence order. A
    * shingle whose tokens are one space apart in the text is a view of
    * the document's bytes; any other is joined into a new array. */
  def shingleSet(text: UTF8String, n: Int): GenericArrayData = {
    val b = WordTokens.bytes(text)
    val sp = WordTokens.spans(b)
    val m = sp.length / 2 - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[UTF8String](m * 2)
    val out = new Array[Any](m)
    var x = 0
    var j = 0
    while (j < m) {
      var k = 1
      while (k < n && sp(2 * (j + k)) == sp(2 * (j + k) - 1) + 1) k += 1
      val sh =
        if (k == n) UTF8String.fromBytes(b, sp(2 * j), sp(2 * (j + n - 1) + 1) - sp(2 * j))
        else joined(b, sp, j, n)
      if (seen.add(sh)) { out(x) = sh; x += 1 }
      j += 1
    }
    new GenericArrayData(if (x == m) out else out.take(x))
  }

  /** Tokens j until j+n of `b` joined by single spaces. */
  private def joined(b: Array[Byte], sp: Array[Int], j: Int, n: Int): UTF8String = {
    var len = n - 1
    var k = 0
    while (k < n) { len += sp(2 * (j + k) + 1) - sp(2 * (j + k)); k += 1 }
    val buf = new Array[Byte](len)
    var p = 0
    k = 0
    while (k < n) {
      if (k > 0) { buf(p) = ' '; p += 1 }
      val t = sp(2 * (j + k))
      val l = sp(2 * (j + k) + 1) - t
      System.arraycopy(b, t, buf, p, l)
      p += l
      k += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** Register `word_shingle_set` (once per session), usable from expr()/SQL. */
  def register(spark: SparkSession): Unit = Functions.register(spark, "word_shingle_set")
}

case class WordShingleSet(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingle_set needs a string document, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleExpressions.shingleSet(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ShingleExpressions.shingleSet($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingleSet =
    copy(child = newChild)
}
