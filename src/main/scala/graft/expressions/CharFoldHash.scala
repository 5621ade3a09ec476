package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's portable char-fold hash:
  * fold over code points, h' = (h*131 + cp) mod (2^31-1).
  *
  * Semantically identical to the HOF formulation in
  * [[graft.functions.HashFunctions.charFoldHash]] (asserted by
  * CharFoldHashSpec) and to the DuckDB list_reduce fragment — but
  * compiled: higher-order functions are CodegenFallback in Spark (always
  * interpreted, megamorphic Expression.eval), which profiled 10-50x
  * slower on the dedup hot path once the JIT profile degrades in a
  * long-lived session. This expression participates in whole-stage
  * codegen via doGenCode, and reads the code points straight from the
  * UTF-8 bytes (no `String` per row).
  */
case class CharFoldHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_fold_hash needs a string argument, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    CharFoldHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.expressions.CharFoldHash.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): CharFoldHash =
    copy(child = newChild)
}

object CharFoldHash {
  final val P = 2147483647L

  /** `x mod (2^31-1)` for 0 <= x < 2^61 by shift-and-add: 2^31 ≡ 1, so
    * the high bits fold onto the low 31 bits and one conditional
    * subtraction finishes. The fold step's x stays below
    * P·131 + 0x10FFFF < 2^39. */
  def mod(x: Long): Long = {
    val r = (x & P) + (x >>> 31)
    if (r >= P) r - P else r
  }

  /** Shared by interpreted eval and generated code. Text that is not
    * valid UTF-8 is folded as Spark's `String` path sees it (each
    * malformed sequence read as U+FFFD). */
  def hash(text: UTF8String): Long = {
    val s = WordTokens.valid(text)
    val n = s.numBytes
    var h = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i) & 0xff
      var cp = 0
      if (b < 0x80) { cp = b; i += 1 }
      else if (b < 0xe0) { cp = (b & 0x1f) << 6 | s.getByte(i + 1) & 0x3f; i += 2 }
      else if (b < 0xf0) {
        cp = (b & 0x0f) << 12 | (s.getByte(i + 1) & 0x3f) << 6 | s.getByte(i + 2) & 0x3f
        i += 3
      } else {
        cp = (b & 0x07) << 18 | (s.getByte(i + 1) & 0x3f) << 12 |
          (s.getByte(i + 2) & 0x3f) << 6 | s.getByte(i + 3) & 0x3f
        i += 4
      }
      h = mod(h * 131L + cp)
    }
    h
  }

  def hash(s: String): Long = hash(UTF8String.fromString(s))

  /** Register `char_fold_hash` in the session's function registry
    * (once per session) so it is usable from expr()/SQL. */
  def register(spark: SparkSession): Unit = Functions.register(spark, "char_fold_hash")

  /** Column over a named input column (register first). */
  def charFoldHashNative(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"char_fold_hash($colName)")
  }
}
