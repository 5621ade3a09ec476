package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for the Hilbert-curve index of a grid
  * cell: `hilbert_d(x, y)` maps a (x, y) pair on the 1024×1024 grid to
  * its distance along the order-10 Hilbert curve.
  *
  * Why an Expression and not column arithmetic: the classic xy2d
  * transform (Hamilton's bit-rotation formulation) updates (x, y, d)
  * through 10 dependent steps where each new x and y reference BOTH
  * previous coordinates — as a Column fold the expression tree doubles
  * per step (2^10 blowup once Catalyst collapses the projections), so
  * the loop belongs in generated code. doGenCode emits one call into
  * the shared static loop, keeping the operator inside whole-stage
  * codegen like [[CharFoldHash]].
  *
  * The DuckDB oracle replicates the identical integer steps as chained
  * MATERIALIZED CTEs (one per bit, linear — materialization stops the
  * same inlining blowup on the oracle side); [[HilbertIndex.stepSql]]
  * keeps the two spellings adjacent.
  */
case class HilbertIndex(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_d needs (bigint, bigint), got (${left.dataType}, ${right.dataType})")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertIndex.xy2d(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expressions.HilbertIndex.xy2d($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertIndex = copy(left = newLeft, right = newRight)
}

object HilbertIndex {

  /** Grid order: 10 bits per axis, 1024×1024 cells, d < 2^20. */
  final val Bits = 10
  final val Side = 1L << Bits

  /** Hamilton's xy2d: walk s from side/2 down to 1; at each scale
    * accumulate the quadrant's contribution and rotate the frame.
    * Inputs are taken mod the grid side (callers pass 0..1023). */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0 & (Side - 1)
    var y = y0 & (Side - 1)
    var d = 0L
    var s = Side / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the quadrant so the curve stays contiguous
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  /** One DuckDB CTE step of the same transform: consumes relation
    * `prev` with columns (x, y, d), emits the next. `s` is the scale
    * for this step. Kept textually parallel to [[xy2d]]'s loop body so
    * the two spellings cannot drift. */
  def stepSql(prev: String, out: String, s: Long): String =
    s"""$out AS MATERIALIZED (
       |  SELECT
       |    CASE WHEN (y & $s) = 0 THEN
       |      CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END
       |    ELSE x END AS x,
       |    CASE WHEN (y & $s) = 0 THEN
       |      CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END
       |    ELSE y END AS y,
       |    d + $s * $s * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
       |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d,
       |    rid
       |  FROM $prev)""".stripMargin

  /** The full chained-CTE pipeline over relation `src(x, y, rid)`:
    * returns (cteBlock, finalName); SELECT d, rid FROM finalName. */
  def pipelineSql(src: String): (String, String) = {
    val scales = (0 until Bits).map(i => Side / 2 >> i)
    val start = s"h0 AS MATERIALIZED (SELECT x, y, CAST(0 AS BIGINT) AS d, rid FROM $src)"
    val steps = scales.zipWithIndex.map { case (s, i) => stepSql(s"h$i", s"h${i + 1}", s) }
    ((start +: steps).mkString(",\n"), s"h${scales.length}")
  }

  /** Register `hilbert_d` (once per session) for expr()/SQL use. */
  def register(spark: SparkSession): Unit = Functions.register(spark, "hilbert_d")
}
