package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression for winnowing fingerprint selection
  * (Schleimer/Wilkerson/Aiken's MOSS algorithm, from the published
  * SIGMOD'03 paper): hash every word k-gram, slide a w-window over the
  * gram-hash stream, select the (leftmost) minimum hash per window, and
  * emit the document's distinct (fingerprint, gram-position) pairs.
  * Winnowing guarantees every shared run of ≥ w+k-1 tokens between two
  * documents shares at least one selected fingerprint — the density-
  * bounded fingerprinting used for near-verbatim overlap detection.
  *
  * Relational formulations need a (doc)-ordered window shuffle of the
  * token stream before any selection happens; this expression does the
  * whole select in one compiled pass per row, so
  * `explode(winnow_fps(text, k, w))` yields the (doc_id, fp, pos)
  * inverted-index pairs with ZERO shuffles (same design argument as
  * [[ShingleExpressions]]).
  *
  * Portability contract (mirrored by the DuckDB oracle in
  * TextQueries.txtWinnowingSql): tokens are
  * `filter(split(trim(text), ' +'), _ != "")`; a token's atom is
  * `length(t)·17 + codepoint(t[0])`; a k-gram's hash folds its atoms
  * left-to-right via `h = (h·31 + x) mod 1e9+7`; window ties pick the
  * LEFTMOST minimal gram; positions are 0-based gram indices.
  */
object WinnowExpressions {
  val Mod = 1000000007L

  def winnow(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val s = text.toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    var i = lo
    var start = lo
    while (i <= hi) {
      if (i == hi || s.charAt(i) == ' ') {
        if (i > start) toks += s.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    val m = toks.length - k + 1 // gram count
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val gh = new Array[Long](m)
    var j = 0
    while (j < m) {
      var h = 0L
      var t = 0
      while (t < k) {
        val tok = toks(j + t)
        h = (h * 31 + (tok.length.toLong * 17 + tok.codePointAt(0))) % Mod
        t += 1
      }
      gh(j) = h
      j += 1
    }
    // leftmost-min per w-window; dedupe identical (fp, pos) selections
    val seen = new java.util.LinkedHashSet[Long]() // (pos << 34) | fp packed for set identity
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var p = 0
    while (p <= m - w) {
      var best = p
      var q = p + 1
      while (q < p + w) {
        if (gh(q) < gh(best)) best = q
        q += 1
      }
      val key = (best.toLong << 34) | gh(best)
      if (seen.add(key)) out += new GenericInternalRow(Array[Any](gh(best), best))
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Register `winnow_fps(text, k, w)` (once per session), usable from expr()/SQL. */
  def register(spark: SparkSession): Unit = Functions.register(spark, "winnow_fps")
}

case class WinnowFingerprints(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_fps needs k, w >= 1, got ($k, $w)")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("fp", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fps needs a string document, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    WinnowExpressions.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.WinnowExpressions.winnow($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}
