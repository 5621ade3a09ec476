package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `sq8_decode(emb, st)`: the SQ8 quantize-then-decode of every element
  * of `emb` against the per-dimension `st[i] = (dim, mn, mx)` bounds —
  * element for element the value of
  *
  * {{{
  * transform(emb, (x, i) ->
  *   CASE WHEN st[i].mx > st[i].mn THEN
  *     st[i].mn + least(greatest(floor((x - st[i].mn) / ((st[i].mx - st[i].mn) / 255D)), 0D), 255D)
  *       * ((st[i].mx - st[i].mn) / 255D)
  *   ELSE st[i].mn END)
  * }}}
  *
  * (with `st[i]` as `element_at(st, i + 1)`), which as a lambda is
  * interpreted and reads `st[i]` thirteen times per element. The same
  * IEEE operations run in the same order: `floor` is Spark's `Floor`, a
  * cast to long; a NULL x clamps to code 0, as `greatest` skips NULLs;
  * `>` orders NaN above every number. Under ANSI (`failOnError`) an
  * element past the end of `st` raises `element_at`'s index error and a
  * zero step raises division by zero; otherwise both read NULL. */
case class Sq8Decode(left: Expression, right: Expression, failOnError: Boolean)
    extends BinaryExpression {
  def this(emb: Expression, st: Expression) = this(emb, st, SQLConf.get.ansiEnabled)

  private def bounds: StructType = right.dataType match {
    case ArrayType(st: StructType, _) => st
    case _ => new StructType()
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, bounds) match {
    case (ArrayType(DoubleType, _), st)
        if Seq("mn", "mx").forall(f => st.fields.exists(x => x.name == f && x.dataType == DoubleType)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, _) => TypeCheckResult.TypeCheckFailure(
      s"sq8_decode needs array<double> and array<struct<mn: double, mx: double>>, " +
        s"got $l and ${right.dataType}")
  }

  private def mnOrd = bounds.fieldIndex("mn")
  private def mxOrd = bounds.fieldIndex("mx")

  override def eval(input: InternalRow): Any = {
    val emb = left.eval(input)
    if (emb == null) null
    else Sq8Decode.decode(emb.asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData],
      mnOrd, mxOrd, bounds.length, failOnError)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val emb = left.genCode(ctx)
    val st = right.genCode(ctx)
    ev.copy(code = code"""
      ${emb.code}
      boolean ${ev.isNull} = ${emb.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${st.code}
        ${ev.value} = graft.expressions.Sq8Decode.decode(${emb.value},
          ${st.isNull} ? null : ${st.value}, $mnOrd, $mxOrd, ${bounds.length}, $failOnError);
      }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8Decode =
    copy(left = l, right = r)
}

object Sq8Decode {
  def decode(emb: ArrayData, st: ArrayData, mnOrd: Int, mxOrd: Int, nFields: Int,
      failOnError: Boolean): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Double](n)
    var nulls: Array[Boolean] = null
    var i = 0
    while (i < n) {
      var isNull = false
      if (st == null || i >= st.numElements()) {
        if (st != null && failOnError)
          throw Internals.invalidElementAtIndex(i + 1, st.numElements(), null)
        isNull = true
      } else if (st.isNullAt(i)) isNull = true
      else {
        val b = st.getStruct(i, nFields)
        if (!b.isNullAt(mnOrd) && !b.isNullAt(mxOrd) &&
            SQLOrderingUtil.compareDoubles(b.getDouble(mxOrd), b.getDouble(mnOrd)) > 0) {
          val mn = b.getDouble(mnOrd)
          val step = (b.getDouble(mxOrd) - mn) / 255D
          var code = 0D
          if (!emb.isNullAt(i)) {
            if (step == 0D) {
              if (failOnError) throw Internals.divideByZero(null)
            } else {
              code = math.floor((emb.getDouble(i) - mn) / step).toLong.toDouble
              if (SQLOrderingUtil.compareDoubles(0D, code) > 0) code = 0D
              if (SQLOrderingUtil.compareDoubles(code, 255D) > 0) code = 255D
            }
          }
          out(i) = mn + code * step
        } else if (b.isNullAt(mnOrd)) isNull = true
        else out(i) = b.getDouble(mnOrd)
      }
      if (isNull) {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(i) = true
      }
      i += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (nulls(j)) null else out(j)))
  }

  /** `sq8_decode(emb, st)` as a column, with no function-registry lookup. */
  def column(emb: Column, st: Column): Column =
    Internals.column(new Sq8Decode(Internals.expression(emb), Internals.expression(st)))
}
