package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression for content-defined chunking: ONE pass
  * over the document computing (a) the w-char window hash by a TRUE
  * rolling update — `h' = ((h − c_out·131^{w−1})·131 + c_in) mod P`,
  * the same polynomial [[CharFoldHash]] folds, so every window value is
  * bit-identical to hashing the substring from scratch — and (b) the
  * running chunk fingerprint, reset at each boundary. The HOF
  * formulation (`filter(sequence(...), i -> char_fold_hash(substring
  * ...))`) re-folds w chars at every position — O(w·n) interpreted
  * work per document; this expression is O(n) compiled.
  *
  * Boundary rule (mirrored by the DuckDB oracle): a chunk ends at
  * every position where the window hash ≡ 0 (mod m), plus the document
  * end. Documents shorter than w chars yield no chunks.
  *
  * Parity note: the roll is over UTF-16 chars, equal to
  * [[CharFoldHash.hash]] of the substring for BMP text (the corpus is
  * ASCII; supplementary-plane text would need code-point windows).
  */
object CdcExpressions {
  final val P = CharFoldHash.P

  def chunks(text: UTF8String, w: Int, m: Int): GenericArrayData = {
    val s = text.toString
    val n = s.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    var pow = 1L
    var t = 1
    while (t < w) { pow = pow * 131L % P; t += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var win = 0L
    var chunkH = 0L
    var chunkStart = 0
    var pos = 0
    while (pos < n) {
      val c = s.charAt(pos).toLong
      chunkH = (chunkH * 131L + c) % P
      if (pos < w) win = (win * 131L + c) % P
      else win = ((win + P - s.charAt(pos - w).toLong * pow % P) % P * 131L + c) % P
      pos += 1
      val boundary = pos >= w && win % m == 0
      if (boundary || pos == n) {
        out += new GenericInternalRow(Array[Any](chunkH, (pos - chunkStart).toLong))
        chunkStart = pos
        chunkH = 0L
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Register `cdc_chunks(text, w, m)` (once per session) for expr()/SQL. */
  def register(spark: SparkSession): Unit = Functions.register(spark, "cdc_chunks")
}

case class CdcChunks(child: Expression, w: Int, m: Int) extends UnaryExpression {
  require(w >= 2 && m >= 2, s"cdc_chunks needs w, m >= 2, got ($w, $m)")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("fp", LongType, nullable = false),
      StructField("len", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks needs a string document, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    CdcExpressions.chunks(input.asInstanceOf[UTF8String], w, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.CdcExpressions.chunks($c, $w, $m);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}
