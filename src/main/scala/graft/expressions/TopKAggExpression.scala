package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: parallel (score, id) arrays kept sorted
  * best-first (score desc, id asc), at most k live entries. In-place
  * insertion — zero allocation per accepted row, zero work per rejected
  * row beyond one comparison against the current k-th. */
final class TopKState(val k: Int) {
  val cos = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0

  /** Total order on scores matching Spark SQL's and DuckDB's sort
    * semantics: NaN greater than everything, -0.0 == 0.0 (see
    * [[graft.functions.TopKAggregator.cmpScore]] — this class must rank
    * identically or the two implementations would diverge). */
  private def cmpScore(x: Double, y: Double): Int =
    java.lang.Double.compare(if (x == 0.0) 0.0 else x, if (y == 0.0) 0.0 else y)

  /** Is candidate (c, id) strictly better than slot i? */
  private def betterThan(i: Int, c: Double, id: Long): Boolean = {
    val cc = cmpScore(c, cos(i))
    cc > 0 || (cc == 0 && id < ids(i))
  }

  def insert(c: Double, id: Long): Unit = {
    if (n == k && !betterThan(n - 1, c, id)) return
    if (n < k) n += 1
    var i = n - 1
    while (i > 0 && betterThan(i - 1, c, id)) { cos(i) = cos(i - 1); ids(i) = ids(i - 1); i -= 1 }
    cos(i) = c; ids(i) = id
  }
}

/** Bounded per-group top-k as a NATIVE Catalyst aggregate — the
  * scale-path replacement for `row_number().over(Window)` + `rn <= k`
  * (which funnels every candidate through one reducer per key), and the
  * fast-path replacement for the typed-udaf
  * [[graft.functions.TopKAggregator]] (whose per-input-row cost is
  * dominated by the ExpressionEncoder round trip: InternalRow →
  * ScoredId case class → immutable Vector insert, ~20µs/row measured on
  * q47 at sf0.1; this expression reads the two child values straight
  * off the row and mutates a primitive-array buffer, serializing only
  * at partition boundaries).
  *
  * Output schema is struct<items: array<struct<cos, vec_id>>> — exactly
  * the shape `Encoders.product[TopKBuf]` gave the udaf, so call sites
  * keep their `.as("top")` / `posexplode(col("top.items"))` pattern.
  *
  * Plans as ObjectHashAggregate (partial + final): every map task keeps
  * at most k entries per group, the shuffle carries k·|groups| pairs.
  * Determinism: (score desc, id asc) is a strict total order over
  * distinct ids, so the surviving set is independent of arrival and
  * merge order — the contract the DuckDB oracle's row_number ranking
  * expresses. Comparator semantics (NaN ranks first, -0.0 == 0.0) are
  * property-tested equal to the udaf's in TopKAggregatorSpec.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] with BinaryLike[Expression] {

  require(k > 0, s"topk_agg needs k > 0, got $k")

  override def left: Expression = score
  override def right: Expression = id
  override def nullable: Boolean = false
  override def dataType: DataType = TopKAgg.outputType
  override def prettyName: String = "topk_agg"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"topk_agg needs (double, bigint), got (${score.dataType}, ${id.dataType})")

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(b: TopKState, input: InternalRow): TopKState = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: TopKState, o: TopKState): TopKState = {
    var i = 0
    while (i < o.n) { b.insert(o.cos(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKState): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) { rows(i) = InternalRow(b.cos(i), b.ids(i)); i += 1 }
    InternalRow(new GenericArrayData(rows))
  }

  override def serialize(b: TopKState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + 16 * b.n)
    buf.putInt(b.n)
    var i = 0
    while (i < b.n) { buf.putDouble(b.cos(i)); buf.putLong(b.ids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new TopKState(k)
    b.n = n
    var i = 0
    while (i < n) { b.cos(i) = buf.getDouble; b.ids(i) = buf.getLong; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKAgg =
    copy(score = l, id = r)
}

object TopKAgg {
  /** struct<items: array<struct<cos: double, vec_id: bigint>>> — the
    * exact shape Encoders.product[TopKBuf] produced for the udaf. */
  val outputType: StructType = StructType(Seq(StructField("items",
    ArrayType(StructType(Seq(
      StructField("cos", DoubleType, nullable = false),
      StructField("vec_id", LongType, nullable = false))),
      containsNull = false),
    nullable = false)))

  /** Register `topk_agg(score, id, k)` (k a literal int) in the session
    * registry (once per session), usable from expr()/SQL. */
  def register(spark: SparkSession): Unit = Functions.register(spark, "topk_agg")

  /** Native bounded top-k over named columns/expressions: score double
    * desc, id bigint asc tiebreak, ≤ k survivors per group. */
  def topKNative(spark: SparkSession, k: Int, score: String, id: String): Column = {
    register(spark)
    expr(s"topk_agg($score, $id, $k)")
  }
}
