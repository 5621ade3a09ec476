package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen expressions for the SimHash hot path (dedup_simhash).
  *
  * The SWAR-packed 62-bit formulation as inline Column arithmetic
  * (62 modular permutes in the vocabulary projection + a 62-term
  * bit-extraction chain for the signature) generates enormous per-row
  * methods whose janino + JIT compile time dwarfs their evaluation at
  * gate scale: measured 2.4 s to "run" the signature select over 5,000
  * documents of which ~95% was compilation, re-paid on every fresh
  * plan. These expressions emit ONE static call each, so the generated
  * code is a few lines regardless of bit width.
  *
  * The math is bit-identical to the inline formulation and to the
  * DuckDB oracle (see DedupQueries.dedupSimhashSql): permutation j of a
  * char-fold hash h is (h * permA(j) + permB(j)) mod (2^31-1), the j-th
  * indicator packs into 16-bit lane j%4 of long j/4, and signature bit
  * j is set iff 2*ones_j > n_tokens (the ±1 majority vote).
  */
object SimhashExpressions {
  final val SimBits = 62
  final val Lanes = 4
  final val NGroups: Int = (SimBits + Lanes - 1) / Lanes // 16
  private final val P = 2147483647L

  // permutation coefficients, identical to HashFunctions.permA/permB
  private val A: Array[Long] = Array.tabulate(SimBits) { i =>
    val a = (2654435761L * (i + 1)) % P
    if (a == 0L) 1L else a
  }
  private val B: Array[Long] =
    Array.tabulate(SimBits)(i => (1013904223L * (i + 1) + 12345L) % P)

  /** Per-token packed indicator lanes: 16 longs, 4 16-bit lanes each. */
  def pack(h: Long): ArrayData = {
    val lanes = new Array[Long](NGroups)
    var j = 0
    while (j < SimBits) {
      val bit = ((h * A(j) + B(j)) % P) % 2L
      lanes(j / Lanes) += bit << (16 * (j % Lanes))
      j += 1
    }
    new GenericArrayData(lanes)
  }

  /** Majority-vote signature from summed lanes: bit j set iff the j-th
    * indicator count wins the ±1 vote (2*ones > n). */
  def sig(lanes: ArrayData, nTok: Long): Long = {
    var out = 0L
    var j = 0
    while (j < SimBits) {
      val ones = (lanes.getLong(j / Lanes) >>> (16 * (j % Lanes))) & 0xFFFFL
      if (2L * ones > nTok) out |= 1L << j
      j += 1
    }
    out
  }

  /** Register `simhash_pack` / `simhash_sig` in the session registry
    * (once per session), usable from expr()/SQL. */
  def register(spark: SparkSession): Unit =
    Functions.register(spark, "simhash_pack", "simhash_sig")
}

case class SimhashPack(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_pack needs a bigint hash, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    SimhashExpressions.pack(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.SimhashExpressions.pack($c);")

  override protected def withNewChildInternal(newChild: Expression): SimhashPack =
    copy(child = newChild)
}

case class SimhashSig(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig needs (array<bigint>, bigint), got (${left.dataType}, ${right.dataType})")
  }
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(lanes: Any, n: Any): Any =
    SimhashExpressions.sig(lanes.asInstanceOf[ArrayData], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = graft.expressions.SimhashExpressions.sig($a, $n);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SimhashSig = copy(left = newLeft, right = newRight)
}
