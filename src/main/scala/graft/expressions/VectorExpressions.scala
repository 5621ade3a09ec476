package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * The HOF formulations in [[graft.functions.VectorFunctions]] (zip_with
  * + aggregate) are CodegenFallback — interpreted per element, with a
  * megamorphic eval profile in long sessions (same cliff as
  * [[CharFoldHash]]). These compile into whole-stage codegen as a single
  * tight loop per row. At ANN scale the dot product IS the workload
  * (candidates × dims multiply-adds), so this is the difference between
  * an interpreter and fused multiply-add machine code.
  *
  * Bit-compatibility contract: both expressions fold left-to-right in
  * f64 exactly like the HOF versions and DuckDB's list_dot_product
  * (asserted in VectorExpressionsSpec), so oracle hash-compares hold.
  */
object VectorExpressions {

  /** Strict left-to-right f64 dot product (shared by eval + codegen). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** nBits-bit random-hyperplane signature: bit i = sign(emb · plane_i),
    * plane weight w(i,d) = ((i*73856093 + d*19349663) mod 1000003) /
    * 500001.5 - 1 with d 1-based — the exact formula of
    * [[graft.functions.VectorFunctions.planeWeight]] and the DuckDB
    * oracle, so signatures agree bit-for-bit across engines. */
  def hyperplaneSig(v: ArrayData, nBits: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var i = 0
    while (i < nBits) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val w = ((i.toLong * 73856093L + (d + 1).toLong * 19349663L) % 1000003L)
          .toDouble / 500001.5 - 1.0
        acc += v.getDouble(d) * w
        d += 1
      }
      if (acc > 0.0) sig |= 1L << (nBits - 1 - i)
      i += 1
    }
    sig
  }

  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private[expressions] def checkArray(dt: DataType, fn: String): TypeCheckResult =
    if (isDoubleArray(dt)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$fn needs array<double>, got $dt")

  /** Register `vec_dot` / `hyperplane_sig` in the session registry
    * (once per session), usable from expr()/SQL. */
  def register(spark: SparkSession): Unit =
    Functions.register(spark, "vec_dot", "hyperplane_sig")

  /** Codegen'd dot product over named columns/expressions. */
  def vecDotNative(spark: SparkSession, a: String, b: String): Column = {
    register(spark)
    expr(s"vec_dot($a, $b)")
  }

  /** Codegen'd norm = sqrt(self-dot) over a named column/expression. */
  def vecNormNative(spark: SparkSession, a: String): Column = {
    register(spark)
    expr(s"sqrt(vec_dot($a, $a))")
  }

  /** Codegen'd hyperplane signature over a named column/expression. */
  def hyperplaneSigNative(spark: SparkSession, a: String, nBits: Int): Column = {
    register(spark)
    expr(s"hyperplane_sig($a, $nBits)")
  }
}

case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = VectorExpressions.checkArray(left.dataType, "vec_dot")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else VectorExpressions.checkArray(right.dataType, "vec_dot")
  }
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExpressions.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.VectorExpressions.dot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorDot = copy(left = newLeft, right = newRight)
}

case class HyperplaneSig(child: Expression, nBits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArray(child.dataType, "hyperplane_sig")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    VectorExpressions.hyperplaneSig(input.asInstanceOf[ArrayData], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.VectorExpressions.hyperplaneSig($c, $nBits);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}
