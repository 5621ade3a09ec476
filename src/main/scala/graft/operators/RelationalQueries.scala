package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** Relational query surface.
  *
  * The reference (radanalyticsio/streaming-amqp) delegates all relational
  * processing to Spark's API (SURVEY.md §2.2-2.3); this object is the
  * engine's demonstration that every delegated operator category — scans,
  * projection/filter, joins of all flavors, aggregation incl. rollup/cube,
  * SQL window functions, sorts/limits, set ops, scalar/date/string/JSON/
  * array functions — is covered Spark-first with plans that scale.
  *
  * Conventions (driven by the DuckDB oracle compare):
  *  - Every double-typed SUM goes through a DECIMAL cast first: decimal
  *    addition is exact and associative, so Spark (any partitioning /
  *    shuffle order) and DuckDB produce bit-identical results. Plain
  *    double sums are order-dependent and would flake the hash compare.
  *  - Decimal stays INTERNAL: every decimal-typed output column is cast
  *    to DOUBLE (`outd`) on both the Spark and oracle sides. The driver's
  *    hash renders Spark parquet decimals at declared scale ("506627.00")
  *    but DuckDB results through a float path ("506627.0"), so a decimal
  *    output column hash-mismatches on any value with a trailing zero
  *    even when bit-identical (diagnosed in VERDICT r2). The exact sum
  *    has already happened by then; one terminal decimal→double cast is
  *    deterministic and identical on both engines (n/10^s with n < 2^53
  *    at gate scale is correctly rounded in both).
  *  - Ratios are computed by casting the exact decimal sums to double and
  *    doing ONE double division — deterministic on both engines.
  *  - Every ORDER BY ... LIMIT has a unique-key tiebreaker so top-k sets
  *    are deterministic.
  *
  * Scale notes: filters sit directly on the parquet scans (pushdown +
  * column pruning verified via .explain in RelationalQueriesSpec); small
  * dimension tables (region/nation/part/supplier/customer at this star
  * schema's proportions) are broadcast explicitly; everything else is a
  * shuffle on the join/group key, which AQE re-plans at runtime.
  */
object RelationalQueries {

  /** Exact-sum cast: see class doc. 18,2 holds TPC-H money/quantity. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Terminal output cast: decimal math is internal-only (class doc). */
  private def outd(c: Column): Column = c.cast(DoubleType)
  private def ts(lit0: String): Column = lit(java.sql.Timestamp.valueOf(lit0))

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: scan + filter + hash aggregate
    * (partial/final, no shuffle beyond the 6-group exchange). */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        outd(sum(dec(col("l_quantity")))).as("sum_qty"),
        outd(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        outd(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))).as("sum_disc_price"),
        outd(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")) * dec(lit(1) + col("l_tax")))).as("sum_charge"),
        count(lit(1)).as("count_order"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** TPC-H Q6-style forecast revenue: tight scan-side filters (all pushed
    * to parquet) + single scalar aggregate. */
  def q02FilterSum(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
              col("l_shipdate") <  ts("1997-01-01 00:00:00") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(outd(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
           count(lit(1)).as("n_rows"))

  val q02Sql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3-style shipping priority: 3-way join (broadcast the filtered
    * customer side, shuffle join orders⋈lineitem on orderkey) + top-10. */
  def q03JoinTopRevenue(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < ts("1998-06-30 00:00:00"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > ts("1998-06-30 00:00:00"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(outd(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q03Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-30'
      |  AND l_shipdate > TIMESTAMP '1998-06-30'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q04
  /** TPC-H Q4-style: LEFT SEMI join (EXISTS) with a cross-table predicate,
    * then aggregate. Semi join avoids materializing the multiplicity. */
  def q04SemiJoin(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
              col("o_orderdate") <  ts("1997-01-01 00:00:00"))
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li, ord("o_orderkey") === li("l_orderkey") &&
                 li("l_shipdate") > ord("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q04Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q05
  /** TPC-H Q14-style promo revenue: broadcast-hash join against the part
    * dimension; exact decimal sums, one final double division. */
  def q05BroadcastPromo(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-09-01 00:00:00") &&
              col("l_shipdate") <  ts("1997-10-01 00:00:00"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val pt = Tables.part(s, d).select("p_partkey", "p_type")
    val joined = li.join(broadcast(pt), li("l_partkey") === pt("p_partkey"))
    val discPrice = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    joined.agg(
        outd(sum(when(col("p_type") === "PROMO", discPrice).otherwise(dec(lit(0))))).as("promo_revenue"),
        outd(sum(discPrice)).as("total_revenue"))
      .withColumn("promo_ratio",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  val q05Sql: String =
    """SELECT
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
      |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_ratio
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin

  // ---------------------------------------------------------------- q06
  /** LEFT ANTI join (NOT EXISTS): customers with no 2001 order, counted
    * per market segment. */
  def q06AntiJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("2001-01-01 00:00:00"))
      .select("o_custkey")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_not_recent"))
  }

  val q06Sql: String =
    """SELECT c_mktsegment, count(*) AS n_not_recent
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q07
  /** SQL window functions: ranking (row_number) + analytic (partition sum)
    * in one pass over a single shuffle on the partition key. */
  def q07WindowTopOrder(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cust_total",
        outd(sum(dec(col("o_totalprice"))).over(Window.partitionBy(col("o_custkey")))))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  val q07Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, cust_total FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total
      |  FROM orders) t
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- q08
  /** ROLLUP aggregate (grand total + per-flag subtotals + leaf groups). */
  def q08Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(outd(sum(dec(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n_rows"))

  val q08Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Set operations: INTERSECT + EXCEPT over projected key sets. */
  def q09SetOps(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    def buyers(y: Int): DataFrame = ord
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    buyers(1995).intersect(buyers(1996)).except(buyers(2001))
  }

  val q09Sql: String =
    """(SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Global sort + limit (top-k): TakeOrderedAndProject, no full sort. */
  def q10TopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)

  val q10Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q11
  /** String + date scalar functions inside an aggregate. */
  def q11StringDate(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        substring(col("o_orderpriority"), 1, 1).as("prio_class"),
        concat(col("o_orderstatus"), lit("-"), upper(col("o_orderstatus"))).as("status_tag"))
      .agg(count(lit(1)).as("n_orders"),
           outd(sum(dec(col("o_totalprice")))).as("sum_totalprice"))

  val q11Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  substr(o_orderpriority, 1, 1) AS prio_class,
      |  concat(o_orderstatus, '-', upper(o_orderstatus)) AS status_tag,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
      |FROM orders GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q12
  /** JSON extraction (get_json_object) + aggregate on the parsed value. */
  def q12Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
           count(lit(1)).as("n_events"))

  val q12Sql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Array functions: split + explode (lateral unnest) + top-20 word
    * frequency with deterministic tiebreak. */
  def q13Explode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_word"))
      .orderBy(col("n_word").desc, col("word").asc)
      .limit(20)

  val q13Sql: String =
    """SELECT word, count(*) AS n_word FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word ORDER BY n_word DESC, word ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Conditional aggregation (CASE WHEN inside SUM — manual pivot). */
  def q14ConditionalAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        outd(sum(when(col("l_returnflag") === "R", dec(col("l_quantity"))).otherwise(dec(lit(0))))).as("qty_returned"),
        outd(sum(when(col("l_returnflag") === "N", dec(col("l_quantity"))).otherwise(dec(lit(0))))).as("qty_normal"),
        sum(when(col("l_returnflag") === "A", lit(1L)).otherwise(lit(0L))).as("n_a"),
        count(lit(1)).as("n_rows"))

  val q14Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_returned,
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_normal,
      |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Tumbling 5-minute window aggregate over the event stream table —
    * the batch twin of the streaming flagship query. Bucket math stays
    * integral in int64 MICROS (exact — doubles would lose precision at
    * 1.7e18 ns, and DuckDB truncates parquet ns-timestamps to µs). */
  def q15EventsTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("bucket_start", expr("(ts_ns div 1000) div 300000000").cast(LongType) * 300L)
      .groupBy(col("bucket_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           outd(sum(dec(col("value")))).as("sum_value"),
           outd(max(dec(col("value")))).as("max_value"))

  val q15Sql: String =
    """SELECT CAST((epoch_us(ts) // 300000000) * 300 AS BIGINT) AS bucket_start, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q16
  /** TPC-H Q5-style star join: two broadcast dims (region⋈nation) + three
    * shuffle joins co-partitioned on their keys; local-supplier predicate. */
  def q16StarJoin(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d).join(broadcast(Tables.region(s, d)),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
              col("o_orderdate") <  ts("1998-01-01 00:00:00"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
                            cust("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(outd(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))).as("revenue"))
  }

  val q16Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------- q17
  /** CUBE aggregate over event type × day. */
  def q17Cube(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", to_date(col("ts")))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))

  val q17Sql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))""".stripMargin

  // ---------------------------------------------------------------- q18
  /** As-of join: each purchase matched to the latest signup at-or-before
    * it by the same user. Spark lacks ASOF JOIN; rather than an O(n·m)
    * range join, this uses the scalable union+window formulation: one
    * shuffle on user_id, one sort, last(ignoreNulls) carry-forward —
    * exactly the plan a 100 TB as-of join wants (no row explosion).
    * DuckDB oracle uses its native ASOF JOIN. */
  def q18AsOfJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val withUs = ev.withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = withUs.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), lit(1).as("is_p"),
              lit(null).cast(LongType).as("s_ts"))
    val signups = withUs.filter(col("event_type") === "signup")
      .select(lit(null).cast(LongType).as("event_id"), col("user_id"), col("ts_us"),
              lit(0).as("is_p"), col("ts_us").as("s_ts"))
    // At equal ts the signup sorts first (is_p asc) so `ts >= s_ts` holds.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("is_p").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(signups)
      .withColumn("signup_ts_us", last(col("s_ts"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("signup_ts_us"))
  }

  val q18Sql: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, epoch_us(s.ts) AS signup_ts_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Outer join with null-aware counting: parts vs a heavily filtered
    * lineitem slice; count(col) skips nulls, count(*) does not. */
  def q19OuterJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("2001-10-01 00:00:00"))
      .select("l_partkey", "l_quantity")
    Tables.part(s, d).select("p_partkey", "p_brand")
      .join(li, col("p_partkey") === li("l_partkey"), "left_outer")
      .groupBy(col("p_brand"))
      .agg(count(col("l_partkey")).as("n_shipped"),
           count(lit(1)).as("n_rows"),
           sum(when(col("l_partkey").isNull, 1L).otherwise(0L)).as("n_unshipped"))
  }

  val q19Sql: String =
    """SELECT p_brand,
      |  count(l_partkey) AS n_shipped,
      |  count(*) AS n_rows,
      |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unshipped
      |FROM part LEFT JOIN (SELECT l_partkey, l_quantity FROM lineitem
      |                     WHERE l_shipdate >= TIMESTAMP '2001-10-01') li
      |  ON p_partkey = li.l_partkey
      |GROUP BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Scalar math functions kept exact for cross-engine compare: sqrt is
    * IEEE-correctly-rounded on both engines; the double result is cast to
    * decimal BEFORE the order-sensitive sum. */
  def q20Math(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy((col("p_size") - (col("p_size") % 10)).cast(LongType).as("size_bucket"))
      .agg(
        outd(sum(sqrt(col("p_retailprice")).cast(DecimalType(18, 6)))).as("sum_sqrt_price"),
        outd(sum(abs(col("p_retailprice") - 1000.0).cast(DecimalType(18, 6)))).as("sum_abs_dev"),
        max(floor(col("p_retailprice"))).as("max_floor_price"),
        min(ceil(col("p_retailprice"))).as("min_ceil_price"),
        count(lit(1)).as("n_parts"))

  val q20Sql: String =
    """SELECT CAST(p_size - (p_size % 10) AS BIGINT) AS size_bucket,
      |  CAST(sum(CAST(sqrt(p_retailprice) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sqrt_price,
      |  CAST(sum(CAST(abs(p_retailprice - 1000.0) AS DECIMAL(18,6))) AS DOUBLE) AS sum_abs_dev,
      |  max(CAST(floor(p_retailprice) AS BIGINT)) AS max_floor_price,
      |  min(CAST(ceil(p_retailprice) AS BIGINT)) AS min_ceil_price,
      |  count(*) AS n_parts
      |FROM part GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Exact DISTINCT aggregation alongside plain aggregates (expands to
    * a two-phase plan; the distinct shuffle is on (group, value)). */
  def q21Distinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
           countDistinct(col("l_partkey")).as("n_part"),
           count(lit(1)).as("n_rows"))

  val q21Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT l_partkey) AS n_part,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Correlated-style aggregate filter (HAVING over a join aggregate):
    * customers whose order count exceeds a threshold, TPC-H Q22 spirit. */
  def q22Having(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           outd(sum(dec(col("o_totalprice")))).as("spend"))
      .filter(col("n_orders") >= 15)
      .orderBy(col("spend").desc, col("o_custkey").asc)
      .limit(50)

  val q22Sql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
      |ORDER BY spend DESC, o_custkey ASC LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q23
  /** GROUPING SETS (the remaining multi-grouping flavor beyond q08's
    * rollup and q17's cube): per-(returnflag,linestatus), per-returnflag,
    * and grand-total aggregates in one pass. Spark expands the sets into
    * a single Expand + hash aggregate — one scan, one shuffle, same as a
    * plain groupBy at scale. */
  def q23GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(outd(sum(dec(col("l_quantity")))).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast(LongType).as("gid"))

  val q23Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_rows,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Skew-salted aggregation: the two-phase pattern for hot keys at
    * scale. Phase 1 pre-aggregates on (key, salt) — the hot key's rows
    * spread over SALT reducers instead of one — phase 2 merges the salt
    * buckets. Results are identical to a direct groupBy (the oracle IS
    * the direct groupBy); decimal sums make the two-phase merge exact.
    * l_returnflag has only 3 values — a genuinely skewed key. */
  def q24SaltedSkewAgg(s: SparkSession, d: String): DataFrame = {
    val Salt = 16
    Tables.lineitem(s, d)
      .withColumn("salt", (col("l_orderkey") % Salt).cast(IntegerType))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(dec(col("l_quantity"))).as("q1"),
        count(lit(1)).as("c1"))
      .groupBy(col("l_returnflag"))
      .agg(outd(sum(col("q1"))).as("sum_qty"), sum(col("c1")).as("n_rows"))
  }

  val q24Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Exact per-group percentiles via percentile_disc — discrete
    * percentiles SELECT actual data elements (no interpolation), so the
    * values are engine-exact and oracle-comparable where interpolated
    * quantiles would differ in the last ulp. Spark computes these with a
    * per-group sort-based aggregate — one shuffle on the group key; at
    * scale, t-digest/approx_percentile is the sketch alternative (not
    * oracle-exact, hence not gated). Also exercises the spark.sql()
    * entry path over a registered view. */
  def q25Percentiles(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("q25_lineitem")
    s.sql("""
      SELECT l_returnflag,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
        percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
        percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95,
        min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM q25_lineitem GROUP BY l_returnflag""")
  }

  val q25Sql: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, 0.25) AS p25,
      |  quantile_disc(l_extendedprice, 0.5) AS p50,
      |  quantile_disc(l_extendedprice, 0.75) AS p75,
      |  quantile_disc(l_extendedprice, 0.95) AS p95,
      |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Binned range join — the scale pattern for time-range joins. Naive
    * range joins (ON u.id = v.id AND v.ts BETWEEN u.ts-W AND u.ts) give
    * Spark no equi-key for the range part and degrade to per-key row
    * explosion. Bucketing time by the window width W restores a fully
    * selective equi-join key: a click at time t can only serve purchases
    * in bucket(t) or bucket(t)+1, so each click is exploded into exactly
    * those two keys, the join runs hash-partitioned on (user, bucket),
    * and the exact range predicate filters inside the aggregate. Join
    * fan-out is bounded by true matches + one-bucket slop — no cross
    * product at any scale. Counts clicks in the 60s before each purchase
    * (attribution); purchases with zero clicks kept via left join. */
  def q26RangeJoinBinned(s: SparkSession, d: String): DataFrame = {
    val W = 60L * 1000000L // 60s in integral micros (ts is ns-exact)
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_ts"))
      .withColumn("bucket", expr(s"p_ts div $W"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts"))
      .withColumn("bucket",
        explode(array(expr(s"c_ts div $W"), expr(s"c_ts div $W") + lit(1L))))
    purchases.join(clicks, Seq("user_id", "bucket"), "left")
      .groupBy(col("event_id"), col("user_id"), col("p_ts"))
      .agg(sum(when(col("c_ts") > col("p_ts") - W &&
        col("c_ts") <= col("p_ts"), 1L).otherwise(0L)).as("n_clicks_60s"))
  }

  val q26Sql: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_ts,
      |  count(c.user_id) AS n_clicks_60s
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND epoch_us(c.ts) > epoch_us(p.ts) - 60000000
      | AND epoch_us(c.ts) <= epoch_us(p.ts)
      |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q27
  /** SQL window frames: per-customer running total (UNBOUNDED PRECEDING)
    * and 4-row moving sum (3 PRECEDING..CURRENT ROW) over the order
    * history. One shuffle on o_custkey; both frames and row_number reuse
    * the same sort, so Spark plans a single Window operator. Ordering is
    * unique (o_orderdate, o_orderkey), so frame contents — and decimal
    * sums over them — are deterministic on both engines. */
  def q27WindowFrames(s: SparkSession, d: String): DataFrame = {
    val w    = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val run  = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov4 = w.rowsBetween(-3, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("rn"),
        outd(sum(dec(col("o_totalprice"))).over(run)).as("run_spend"),
        outd(sum(dec(col("o_totalprice"))).over(mov4)).as("mov4_spend"))
  }

  val q27Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov4_spend
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Gap-based sessionization — the batch form of session windows: a
    * 30-minute inactivity gap starts a new session; sessions are then
    * aggregated (count / bounds / exact spend). Classic training-data
    * pipeline op (user activity segmentation). Scale shape: ONE shuffle
    * on user_id serves the lag window, the running-sum window, AND the
    * final groupBy — hash(user_id) already clusters (user_id, sess_id),
    * so Spark adds no further exchange. Timestamps stay integral µs
    * (int64) throughout; see q15 for why. */
  def q28Sessionize(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w     = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) <= gapUs, 0L).otherwise(1L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        outd(sum(dec(col("value")))).as("sum_value"))
  }

  val q28Sql: String =
    """SELECT user_id, sess_id, count(*) AS n_events,
      |  min(ts_us) AS start_us, max(ts_us) AS end_us,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT user_id, event_id, value, ts_us,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM (
      |    SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
      |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) <= 1800000000
      |           THEN 0 ELSE 1 END AS new_sess
      |    FROM events) flags) sessed
      |GROUP BY user_id, sess_id""".stripMargin

  // ---------------------------------------------------------------- q71
  /** NATIVE session windows — `session_window(ts, gap)`, the Spark-4
    * operator form of q28's hand-built gaps-and-islands: the engine
    * merges events whose timestamps fall within the 30-minute gap and
    * emits [start, last+gap) windows per user. The oracle replays the
    * islands relationally with the operator's OWN boundary rule —
    * sessions merge on diff < gap, STRICT (two events exactly one gap
    * apart do NOT merge; q28's manual form uses <=, so the two gates
    * pin both boundary conventions) — plus the end = last + gap
    * arithmetic. Timestamps ride as integral µs into timestamp_micros
    * and back out through unix_micros, so the hash is exact.
    *
    * Scale shape: one shuffle on user_id; the session merge is a
    * per-key sorted pass inside the aggregation — no self-join, no
    * window-function second pass. The same operator is the streaming
    * sessionizer (amqp_stream_session's relative), so batch and stream
    * share semantics. */
  def q71SessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("value"),
        expr("timestamp_micros(ts_ns div 1000)").as("ts"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), outd(sum(dec(col("value")))).as("sum_value"))
      .select(col("user_id"),
        expr("unix_micros(sw.start)").as("start_us"),
        expr("unix_micros(sw.end)").as("end_us"),
        col("n_events"), col("sum_value"))

  val q71Sql: String =
    """SELECT user_id, min(ts_us) AS start_us,
      |  max(ts_us) + 1800000000 AS end_us,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT user_id, value, ts_us,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM (
      |    SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
      |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) < 1800000000
      |           THEN 0 ELSE 1 END AS new_sess
      |    FROM events) flags) sessed
      |GROUP BY user_id, sess_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** The VARIANT type (Spark 4's semi-structured column): props JSON is
    * parsed ONCE into the binary variant encoding with `parse_json`,
    * then fields extract with `variant_get` path expressions — the
    * shredded-JSON path that replaces per-query string re-parsing
    * (q12's get_json_object reparses the text for every extraction; a
    * variant column parses at ingest and every downstream read is a
    * binary field probe). The oracle replays the extraction with
    * DuckDB's JSON reader.
    *
    * Scale shape: parse-once-read-many is the 100 TB win — a variant
    * column in parquet stores the binary encoding, so N dashboard
    * queries pay N binary probes instead of N text parses; extraction
    * stays inside whole-stage codegen. */
  def q72VariantJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  val q72Sql: String =
    """SELECT event_type,
      |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Exact DISCRETE percentiles per group (`percentile_disc ... WITHIN
    * GROUP`, SQL:2008): p50/p90/p99 of order value in integer cents —
    * the latency/size distribution readout every operational dashboard
    * runs. DISC (not CONT) is deliberate: the answer is an actual data
    * value picked by the standard's cume_dist>=q rule, so int64 survives
    * and the hash is engine-exact, where CONT's interpolation arithmetic
    * (a + (b-a)·f vs (1-f)·a + f·b) can differ in the last ulp across
    * engines. At 100 TB the same readout typically runs approximate
    * (approx_percentile's mergeable sketch — q33's territory); the exact
    * form here is also the audit the sketch is judged against.
    *
    * Scale shape: one groupBy shuffle; percentile_disc buffers per-group
    * values — fine for bounded groups (5 priorities), the documented
    * reason the sketch path exists for high-cardinality keys. */
  def q74PercentileDisc(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_pctl_v")
    s.sql(
      """SELECT o_orderpriority,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p50_cents,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p90_cents,
        |  CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p99_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT o_orderpriority,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |      FROM orders_pctl_v)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  val q74Sql: String =
    """SELECT o_orderpriority,
      |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p50_cents,
      |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p90_cents,
      |  CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p99_cents,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT o_orderpriority,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders) t
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q75
  /** RECURSIVE CTE (Spark 4's UnionLoop, SQL:1999 WITH RECURSIVE): a
    * hierarchy walk — each customer's parent is c_custkey DIV 2 (a
    * synthesized binary tree, disclosed like the URL/media syntheses),
    * and the recursion computes every customer's DEPTH from the root,
    * reported as the per-depth population histogram. The iterative-
    * driver loops (BFS, CC, LPA) hand-roll this shape; this gate pins
    * the DECLARATIVE form the SQL surface now supports, against
    * DuckDB's native WITH RECURSIVE.
    *
    * Scale shape: each recursion level is one equi-join of the frontier
    * against the (pruned) customer scan — identical physics to the
    * hand-rolled BFS, with the planner owning lineage and termination;
    * depth is O(log n) levels for this tree, and the final aggregate is
    * |depths|-sized. */
  def q75RecursiveCte(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_rec_v")
    s.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
        |  FROM customer_rec_v WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT CAST(c.c_custkey AS BIGINT), w.depth + 1
        |  FROM customer_rec_v c JOIN walk w ON c.c_custkey DIV 2 = w.k
        |)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
        |FROM walk GROUP BY depth""".stripMargin)
  }

  val q75Sql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
      |  FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT CAST(c.c_custkey AS BIGINT), w.depth + 1
      |  FROM customer c JOIN walk w ON c.c_custkey // 2 = w.k
      |)
      |SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
      |FROM walk GROUP BY depth""".stripMargin

  // ---------------------------------------------------------------- q76
  /** The OBSERVE API (`Dataset.observe` + `Observation`): named metrics
    * collected ON THE SCAN as the query runs — the in-flight
    * row-count/invariant assertions a production pipeline attaches to
    * every stage (Delta Live Tables' expectations are this mechanism).
    * The gate funnels the observed values back out as the RESULT, so
    * the observation plumbing itself (metric expressions riding
    * CollectMetricsExec, driver-side retrieval after the action) sits
    * on the oracle hash path: a metric computed over the wrong rows, or
    * dropped by a plan rewrite, breaks it.
    *
    * Scale shape: observe metrics are partial-aggregated alongside the
    * scan (no second pass, no extra shuffle) — the whole point of the
    * API over running a separate audit query. */
  def q76ObserveMetrics(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation(s"gate_obs_${System.nanoTime()}")
    val li = Tables.lineitem(s, d)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"))
    // the action the metrics ride on: any full-scan aggregate
    li.groupBy().count().collect()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_qty").asInstanceOf[Double],
      m("n_returned").asInstanceOf[Long], m("min_okey").asInstanceOf[Long],
      m("max_okey").asInstanceOf[Long]))
      .toDF("n_rows", "sum_qty", "n_returned", "min_okey", "max_okey")
  }

  val q76Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS n_returned,
      |  CAST(min(l_orderkey) AS BIGINT) AS min_okey,
      |  CAST(max(l_orderkey) AS BIGINT) AS max_okey
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q77
  /** LISTAGG (SQL:2023, Spark 4's `listagg ... WITHIN GROUP`): ordered
    * string concatenation per group — the report/export shape (one row
    * per region listing its nations in name order). Deterministic ONLY
    * because the WITHIN GROUP ordering is explicit and total; an
    * unordered listagg is shuffle-order-dependent and could never sit
    * under a cross-engine hash, which is exactly why the gate pins the
    * ordered form.
    *
    * Scale shape: one groupBy shuffle; each group's payload is the
    * concatenation itself, so this is for bounded groups (dimension
    * rollups, per-key label lists) — an unbounded-group listagg at
    * 100 TB is a design smell the doc calls out, not an operator
    * deficiency. */
  def q77Listagg(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation_la_v")
    Tables.region(s, d).createOrReplaceTempView("region_la_v")
    s.sql(
      """SELECT r.r_name AS region,
        |  listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
        |  CAST(count(*) AS BIGINT) AS n_nations
        |FROM nation_la_v n JOIN region_la_v r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin)
  }

  val q77Sql: String =
    """SELECT r.r_name AS region,
      |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
      |  CAST(count(*) AS BIGINT) AS n_nations
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name""".stripMargin

  // ---------------------------------------------------------------- q78
  /** AQE SKEW-JOIN SPLIT under the oracle hash — the runtime re-plan
    * q24 avoids by author-side salting, here left to the ENGINE: a
    * derived hot key (half of lineitem lands on k=0) drives a
    * sort-merge join against a per-key dim frame with broadcast
    * disabled and the skew thresholds scaled to gate size, and the
    * query `require`s `skew=true` in the FINAL adaptive plan — so both
    * the re-plan firing AND its exactness (counts, integer cents,
    * dim-weighted sums across the split+duplicated partitions) sit on
    * the gate path. Until now skew-split was spec-only (AqeSkewSpec);
    * this puts it under the DuckDB hash.
    *
    * The final aggregate keys on l_returnflag, NOT k — deliberately:
    * OptimizeSkewedJoin refuses any split that breaks a partitioning a
    * parent still needs, so a groupBy(k) downstream would veto the
    * split; the returnflag rollup forces its own exchange and leaves
    * the join free to split (the 100 TB lesson: keep skew-handled
    * joins out of partitioning-reuse chains).
    *
    * Scale shape: this is AQE doing at runtime what q24's salt does at
    * plan time — no code change as skew drifts; split granularity
    * follows advisoryPartitionSizeInBytes. */
  def q78AqeSkewJoin(s: SparkSession, d: String): DataFrame = {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // gate-scale thresholds: "skewed" = 2x the median AND > 16 KB,
      // split target 8 KB — sized so the hot partition clears the bar
      // at EVERY gate SF (the spec drives this query at sf0.001 too;
      // production defaults are 5x / 256 MB / 64 MB — the MECHANISM
      // under test is identical)
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the SMJ
      "spark.sql.shuffle.partitions" -> "8")
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // repartition(16) stands in for a real table's many input splits:
      // a skewed REDUCE partition is split by grouping its MAP outputs,
      // so a single-file gate-scale scan (one map task) is structurally
      // unsplittable however skewed — at 100 TB the map side is
      // thousands of tasks and this repartition disappears
      val li = Tables.lineitem(s, d).repartition(16)
        .withColumn("k", when(col("l_orderkey") % 2 === 0, 0L)
          .otherwise(col("l_orderkey") % 1000))
      // The dim frame is MATERIALIZED and re-read (the production shape:
      // dim tables live in storage) — load-bearing for the split, too:
      // a groupBy(k) feeding the join directly leaves the final
      // aggregate between the shuffle stage and the join's sort, and
      // OptimizeSkewedJoin only matches Sort(ShuffleQueryStage) on both
      // sides, so the fused form can never split. Fresh scans on both
      // sides shuffle directly under their sorts.
      // per-invocation scratch: a dataset-keyed fixed path would let a
      // concurrent run (parallel spec + gate) overwrite the dim parquet
      // while this run's join scans it
      val dimPath = s"${graft.Scratch.dir("q78_dim")}/dim"
      li.groupBy(col("k")).agg(count(lit(1)).as("dim_n"))
        .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath)
      val joined = li.join(dim, Seq("k"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum((col("l_quantity").cast(DecimalType(18, 2)) * 100)
            .cast(LongType)).as("qty_cents"),
          sum(col("dim_n")).as("dim_sum"))
      // collect() finalizes THIS queryExecution's adaptive plan; the
      // require makes the runtime split load-bearing, not incidental
      val rows = joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("skew=true"),
        s"AQE skew-join split did not fire:\n${plan.take(1500)}")
      import s.implicits._
      rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toDF("l_returnflag", "n_rows", "qty_cents", "dim_sum")
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val q78Sql: String =
    """WITH f AS (
      |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
      |              ELSE l_orderkey % 1000 END AS k,
      |    l_returnflag,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |dim AS (SELECT k, count(*) AS dim_n FROM f GROUP BY k)
      |SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS qty_cents,
      |  CAST(sum(dim_n) AS BIGINT) AS dim_sum
      |FROM f JOIN dim USING (k)
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q79
  /** RUNTIME BLOOM-FILTER join pruning under the oracle hash — the
    * row-group-level sibling of fmt_dpp_join's partition-level pruning,
    * until now spec-only (RuntimeFilterSpec): a selective dim-side
    * filter makes Catalyst inject `bloom_filter_agg` over the dim's
    * join keys and a `might_contain` probe on the FACT side's scan, so
    * fact rows that cannot join die at the scan instead of crossing
    * the shuffle. The query `require`s the injected filter in the
    * optimized plan, so BOTH the injection firing and its exactness
    * (the probe is a may-contain — false positives re-filtered by the
    * join, never false negatives) sit on the gate path.
    *
    * Scale shape: at 100 TB this is the difference between shuffling
    * the whole fact table and shuffling the ~join-surviving fraction;
    * thresholds here are scaled to gate size, the mechanism is
    * identical. */
  def q79RuntimeBloom(s: SparkSession, d: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // gate-scale thresholds: any shuffle-joined side qualifies
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT") // selective
        .select(col("o_orderkey"), col("o_orderpriority"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum((col("l_quantity").cast(DecimalType(18, 2)) * 100)
            .cast(LongType)).as("qty_cents"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      require(optimized.contains("bloom_filter_agg") ||
          optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n${optimized.take(1500)}")
      val rows = joined.collect()
      import s.implicits._
      rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("l_returnflag", "n_rows", "qty_cents")
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val q79Sql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS qty_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q80
  /** RELATIONAL PIVOT (`groupBy().pivot(col, values).agg(...)` — the
    * engine operator, not q13's manual CASE-WHEN emulation): one output
    * column per pivoted value, produced by Spark's PivotFirst path.
    * Values are EXPLICIT ('A','N','R') — the two-pass value-discovery
    * form is a driver-side distinct scan the doc steers away from at
    * scale, and explicit values keep the output schema static for the
    * cross-engine hash. A (status, flag) pair absent from the data
    * yields NULL in both engines.
    *
    * Scale shape: pivot compiles to one hash aggregate whose buffer
    * holds |values| slots per group — map-side partial, one shuffle,
    * no per-value pass; the wide frame is |groups| x |values|, a
    * report-sized result by construction. */
  def q80Pivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("cents",
        (col("l_quantity").cast(DecimalType(18, 2)) * 100).cast(LongType))
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("cents")))

  val q80Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag = 'A'
      |    THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS "A",
      |  CAST(sum(CASE WHEN l_returnflag = 'N'
      |    THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS "N",
      |  CAST(sum(CASE WHEN l_returnflag = 'R'
      |    THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS "R"
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q81
  /** UNPIVOT / melt (`Dataset.unpivot`, SQL UNPIVOT — the inverse of
    * q80): three integer measures per lineitem row melt into
    * (id, measure, value) long form, then a per-measure profile
    * (count / sum / min / max) consumes the melted shape — the
    * wide-to-long reshape every feature-store export and per-metric
    * quality report runs. Measure names and the exact fixed-point
    * values sit under the hash, so a dropped measure column, a name
    * drift, or a null-handling difference breaks it.
    *
    * Scale shape: unpivot is a projection-time explode (k output rows
    * per input row, no shuffle of its own); the profile is one
    * |measures|-group aggregate — map-side partial over k·N rows. */
  def q81Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("qty_cents"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("price_cents"),
        (col("l_discount").cast(DecimalType(18, 4)) * 10000)
          .cast(LongType).as("disc_bp"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("qty_cents"), col("price_cents"), col("disc_bp")),
        "measure", "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  val q81Sql: String =
    """WITH u AS (
      |  SELECT 'qty_cents' AS measure,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS value
      |  FROM lineitem
      |  UNION ALL SELECT 'price_cents',
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |  FROM lineitem
      |  UNION ALL SELECT 'disc_bp',
      |    CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
      |  FROM lineitem)
      |SELECT measure, count(*) AS n_rows,
      |  CAST(sum(value) AS BIGINT) AS sum_value,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM u GROUP BY measure""".stripMargin

  // ---------------------------------------------------------------- q82
  /** LATERAL correlated subquery (SQL:1999 LATERAL, Spark's
    * DecorrelateInnerQuery path): each nation row drives a correlated
    * aggregate over its customers — the "for each row, run this
    * subquery" shape analysts write, which the optimizer must
    * DECORRELATE into a join + aggregate rather than execute per row.
    * The gate hashes the decorrelated result against DuckDB's native
    * LATERAL execution, so a decorrelation bug (dropped empty groups,
    * mis-scoped correlation) breaks it; nations with zero matching
    * customers surface with zero/NULL aggregates (LATERAL is an inner
    * join against a one-row-per-invocation subquery — COUNT gives 0,
    * SUM gives NULL, and the row SURVIVES).
    *
    * Scale shape: after decorrelation this is one aggregate over
    * customer shuffled by nationkey + one broadcast-sized join back to
    * nation — per-row subquery syntax, set-based execution. */
  def q82Lateral(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation_lat_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_lat_v")
    s.sql(
      """SELECT n.n_name, t.n_custs, t.acct_cents
        |FROM nation_lat_v n,
        |LATERAL (
        |  SELECT CAST(count(*) AS BIGINT) AS n_custs,
        |    CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS acct_cents
        |  FROM customer_lat_v c
        |  WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0
        |) t""".stripMargin)
  }

  val q82Sql: String =
    """SELECT n.n_name, t.n_custs, t.acct_cents
      |FROM nation n,
      |LATERAL (
      |  SELECT CAST(count(*) AS BIGINT) AS n_custs,
      |    CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS acct_cents
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0
      |) t""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Sketch with a verified error bound: HyperLogLog++ distinct-user
    * counts per event type, gated against the exact count. The output
    * exposes the EXACT count (hash-compared with the oracle) plus a
    * boolean asserting the sketch landed within ±5% — the oracle emits
    * TRUE, so a drifting sketch fails the gate. rsd=0.01 keeps HLL in
    * sparse (exact) mode for small cardinalities and ≲3σ≈3% beyond.
    * At 100 TB the sketch path is the point: partial HLL registers merge
    * map-side, so the shuffle carries fixed-size sketches instead of
    * user_id sets (the exact branch here is the audit, not the plan). */
  def q29SketchBounds(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.01).as("hll"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("hll") - col("exact_users")) <=
          col("exact_users").cast(DoubleType) * 0.05).as("hll_within_5pct"))

  val q29Sql: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS hll_within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Correlated scalar subquery: orders priced above 1.5× their own
    * customer's average. Written as SQL to exercise the decorrelation
    * path — Catalyst rewrites the correlated aggregate into a
    * groupBy(o_custkey) + equi-join, so the plan is one shuffle agg and
    * one join on the same key (no per-row subquery execution, which is
    * what makes the construct survive 100 TB). The average is a single
    * double division of an exact decimal sum (see class doc). */
  def q30CorrelatedSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o.o_orderkey, o.o_custkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |FROM orders_v o
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) >
        |  1.5 * (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |                  / count(*)
        |         FROM orders_v i WHERE i.o_custkey = o.o_custkey)""".stripMargin)
  }

  val q30Sql: String =
    """SELECT o.o_orderkey, o.o_custkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
      |FROM orders o
      |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) >
      |  1.5 * (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |                  / count(*)
      |         FROM orders i WHERE i.o_custkey = o.o_custkey)""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Custom typed UDAF: quantity-weighted average price per return flag
    * via [[graft.functions.WeightedAvgAggregator]] — the UDAF face of
    * the engine's extension surface (native codegen Expressions cover
    * scalars; this covers aggregates). The Aggregator's decimal buffer
    * makes it partial-aggregation-safe: Spark splits it map-side/final
    * like any built-in agg, so the shuffle carries one small buffer per
    * group, not rows. */
  def q31UdafWavg(s: SparkSession, d: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvgAggregator,
      org.apache.spark.sql.Encoders.product[graft.functions.WavgIn])
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        wavg(dec(col("l_extendedprice")).cast(DecimalType(38, 18)),
             dec(col("l_quantity")).cast(DecimalType(38, 18))).as("wavg_price"),
        count(lit(1)).as("n_rows"))
  }

  val q31Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Relational pivot: quantity by return flag, columns pivoted on line
    * status. Values are enumerated explicitly — with a known value list
    * Spark skips the extra distinct-collection job and the plan is a
    * single hash aggregate with conditional sums (identical shape to
    * the oracle's CASE columns), one row-group shuffle. */
  def q32Pivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("O", "F"))
      .agg(sum(dec(col("l_quantity"))))
      .select(col("l_returnflag"), outd(col("O")).as("qty_open"), outd(col("F")).as("qty_finished"))

  val q32Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
      |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_finished
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Quantile sketch with a verified bound — q29's pattern applied to
    * quantiles: approx_percentile (Spark's positional-error sketch,
    * accuracy 10000 ⇒ rank error ≤ 0.01%) gated against the exact
    * discrete p45..p55 band. The output hash-compares the EXACT median
    * and a boolean the oracle expects TRUE, so a drifting sketch fails
    * the gate. At 100 TB the sketch branch is the plan — fixed-size
    * sketch state merges map-side where the exact branch must sort each
    * group (the exact branch here is the audit, as in q29). */
  def q33QuantileSketch(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("q33_events")
    s.sql("""
      SELECT event_type,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS exact_p50,
        (approx_percentile(value, 0.5, 10000)
           BETWEEN percentile_disc(0.45) WITHIN GROUP (ORDER BY value)
               AND percentile_disc(0.55) WITHIN GROUP (ORDER BY value)) AS sketch_in_band
      FROM q33_events GROUP BY event_type""")
  }

  val q33Sql: String =
    """SELECT event_type,
      |  quantile_disc(value, 0.5) AS exact_p50,
      |  TRUE AS sketch_in_band
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Unpivot (melt) — the inverse of q32: the wide per-flag aggregate
    * goes back to long form with Dataset.unpivot, which Spark plans as
    * an Expand node (each input row fans out to one row per value
    * column, map-side, no shuffle beyond the aggregate's own). Wide→long
    * reshapes are routine at the reporting edge of a pipeline; Expand
    * keeps them scan-local at any scale. */
  def q34Unpivot(s: SparkSession, d: String): DataFrame =
    q32Pivot(s, d)
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("qty_open"), col("qty_finished")),
        variableColumnName = "status",
        valueColumnName = "qty")

  val q34Sql: String =
    s"""WITH wide AS ($q32Sql)
       |SELECT l_returnflag, 'qty_open' AS status, qty_open AS qty FROM wide
       |UNION ALL
       |SELECT l_returnflag, 'qty_finished' AS status, qty_finished AS qty FROM wide""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Sequential event funnel (the ClickHouse-windowFunnel-style op):
    * how deep do users get through view → click → purchase within 24
    * hours of the first step? Semantics are min-first-match, so the
    * result is deterministic: step 1 is the user's EARLIEST view; step
    * k+1 is the earliest qualifying event strictly after step k and
    * within the window of step 1. Output is the funnel histogram
    * (level 0 = active users with no view at all).
    *
    * Scale shape: three conditional min-aggregates, each one user_id
    * shuffle over an events subset that shrinks with funnel depth (the
    * step-2 scan only joins users who completed step 1, via a user-
    * keyed equi-join — no windows, no per-user sort, and the final
    * histogram is a 4-row aggregate. At 100 TB each pass is a filtered
    * scan + hash agg; AQE collapses the later tiny joins to broadcast. */
  def q35EventFunnel(s: SparkSession, d: String): DataFrame = {
    val winUs = 86400L * 1000000
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("ts_us"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts_us") > col("t1") && col("ts_us") <= col("t1") + winUs)
      .groupBy(col("user_id")).agg(min(col("t1")).as("t1"), min(col("ts_us")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts_us") > col("t2") && col("ts_us") <= col("t1") + winUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    val levels = ev.select(col("user_id")).distinct()
      .join(s1.select(col("user_id"), lit(1).as("r1")), Seq("user_id"), "left")
      .join(s2.select(col("user_id"), lit(1).as("r2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), lit(1).as("r3")), Seq("user_id"), "left")
      .select(col("user_id"),
        (coalesce(col("r1"), lit(0)) + coalesce(col("r2"), lit(0)) +
          coalesce(col("r3"), lit(0))).as("funnel_level"))
    levels.groupBy(col("funnel_level")).agg(count(lit(1)).as("n_users"))
  }

  val q35Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |s1 AS (
      |  SELECT user_id, min(ts_us) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT ev.user_id, min(t1) AS t1, min(ts_us) AS t2
      |  FROM ev JOIN s1 ON ev.user_id = s1.user_id
      |  WHERE event_type = 'click' AND ts_us > t1 AND ts_us <= t1 + 86400000000
      |  GROUP BY ev.user_id),
      |s3 AS (
      |  SELECT ev.user_id, min(ts_us) AS t3
      |  FROM ev JOIN s2 ON ev.user_id = s2.user_id
      |  WHERE event_type = 'purchase' AND ts_us > t2 AND ts_us <= t1 + 86400000000
      |  GROUP BY ev.user_id),
      |levels AS (
      |  SELECT u.user_id,
      |    (CASE WHEN s1.user_id IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END) AS funnel_level
      |  FROM (SELECT DISTINCT user_id FROM ev) u
      |  LEFT JOIN s1 ON u.user_id = s1.user_id
      |  LEFT JOIN s2 ON u.user_id = s2.user_id
      |  LEFT JOIN s3 ON u.user_id = s3.user_id)
      |SELECT funnel_level, CAST(count(*) AS BIGINT) AS n_users
      |FROM levels GROUP BY funnel_level""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Cohort retention triangle: users are cohorted by the day of their
    * first event; for each (cohort day, day offset) the count of users
    * active that many days later. Day arithmetic stays integral (µs div
    * 86.4e9) so both engines bucket identically.
    *
    * Scale shape: one user_id shuffle derives first-day cohorts, the
    * (user, day) activity set dedups map-side before its shuffle, and
    * the triangle is a (cohort, offset)-keyed count whose output is
    * bounded by days², independent of event volume. */
  def q36RetentionCohort(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400L * 1000000
    val act = Tables.events(s, d)
      .select(col("user_id"), expr(s"(ts_ns div 1000) div $dayUs").as("day"))
      .distinct()
    val cohort = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    act.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val q36Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM act JOIN cohort ON act.user_id = cohort.user_id
      |GROUP BY cohort_day, day - cohort_day""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Top user-journey paths: the 10 most frequent event-type trigrams
    * occurring INSIDE a session (2-hour inactivity gap — path analysis
    * wants coarser sessions than q28's 30-minute activity windows).
    * Deterministic top-10 by (count desc, path asc).
    *
    * Scale shape: the q28 trick extended — ONE user_id exchange serves
    * the lag flag, the running-sum session id, AND the trigram leads
    * (lead of both event_type and sess_id over the same window), so
    * path extraction adds zero shuffles; the histogram is a path-keyed
    * count whose cardinality is |event_types|³, and the final top-10 is
    * TakeOrdered over that bounded set. */
  def q37SessionPaths(s: SparkSession, d: String): DataFrame = {
    val gapUs = 2L * 3600 * 1000000
    val w     = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val sessed = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) <= gapUs, 0L).otherwise(1L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("s1", lead(col("sess_id"), 1).over(w))
      .withColumn("s2", lead(col("sess_id"), 2).over(w))
    sessed
      .filter(col("s1") === col("sess_id") && col("s2") === col("sess_id"))
      .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
  }

  val q37Sql: String =
    """WITH flags AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) <= 7200000000
      |         THEN 0 ELSE 1 END AS new_sess
      |  FROM events),
      |sessed AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flags),
      |tri AS (
      |  SELECT event_type || '>' || lead(event_type, 1) OVER w
      |           || '>' || lead(event_type, 2) OVER w AS path,
      |    sess_id, lead(sess_id, 1) OVER w AS s1, lead(sess_id, 2) OVER w AS s2
      |  FROM sessed
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT path, count(*) AS n
      |FROM tri WHERE s1 = sess_id AND s2 = sess_id
      |GROUP BY path
      |ORDER BY n DESC, path ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Event-time RANGE window frames: per-user trailing-10-minute event
    * count and exact spend at every event — the "activity in the last N
    * minutes" feature window (fraud velocity checks, rate features).
    * q27's ROWS frames count physical rows; RANGE frames bound the
    * frame by the ORDER-BY value itself, so tied timestamps enter as
    * peers and gaps shrink the frame — semantics ROWS cannot express.
    *
    * Determinism: the frame is keyed on integral µs (int64 — see q15),
    * so frame membership is exact on both engines regardless of tie
    * order, and the windowed sum is decimal. Scale shape: ONE shuffle
    * on user_id; both aggregates share the window spec, so Spark plans
    * a single Window operator over the one sort. */
  def q38TimeRangeFrames(s: SparkSession, d: String): DataFrame = {
    val trailUs = 10L * 60 * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-trailUs, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        expr("ts_ns div 1000").as("ts_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("trail_n"),
        outd(sum(dec(col("value"))).over(w)).as("trail_spend"))
  }

  val q38Sql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CAST(count(*) OVER w AS BIGINT) AS trail_n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_spend
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Event-time interval join — "purchase within 24h after a view" —
    * the batch analog of a stream-stream interval join and the classic
    * attribution/conversion query. Naive form is an inequality-only
    * self-join (nested loop). Here each view's timestamp is bucketed to
    * the window width W and exploded to buckets {b, b+1}; purchases
    * carry their single bucket. The join becomes an EQUI-join on
    * (user_id, bucket) — hashable, AQE-plannable — and a purchase at
    * lag ≤ W lands in exactly one of the view's two buckets, so the
    * exact interval filter afterwards loses nothing and each true pair
    * appears exactly once (the purchase's bucket is unique; q26 applies
    * the same trick to value ranges).
    *
    * Scale shape: shuffle keys are (user, time-bucket) so a hot user's
    * history spreads across time instead of hammering one reducer, and
    * candidate size tracks events within ≤2W of each other — not
    * views×purchases per user. Output is a per-user aggregate (pair
    * count, distinct converting views, exact integer µs lag bounds). */
  def q39IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val W = 24L * 3600 * 1000000 // µs
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
      col("event_id"), expr("ts_ns div 1000").as("t"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("t").as("vt"),
        explode(array(expr(s"t div $W"), expr(s"t div $W") + 1L)).as("b"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t").as("pt"), expr(s"t div $W").as("b"))
    views.join(purchases, Seq("user_id", "b"))
      .filter(col("pt") >= col("vt") && col("pt") <= col("vt") + W)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("view_id")).as("n_converted_views"),
        min(col("pt") - col("vt")).as("min_lag_us"),
        max(col("pt") - col("vt")).as("max_lag_us"))
  }

  val q39Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events)
      |SELECT v.user_id,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT v.event_id) AS BIGINT) AS n_converted_views,
      |  CAST(min(p.t - v.t) AS BIGINT) AS min_lag_us,
      |  CAST(max(p.t - v.t) AS BIGINT) AS max_lag_us
      |FROM e v JOIN e p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.t >= v.t AND p.t <= v.t + 86400000000
      |GROUP BY v.user_id""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Gaps-and-islands: per-user consecutive-active-day streaks — the
    * classic engagement/retention shape (longest streak, streak count,
    * largest inactivity gap). The island id is `day - row_number()`:
    * constant exactly across consecutive days, so streaks fall out of
    * one hash aggregate, no iterative logic.
    *
    * Scale shape: the day-distinct aggregate FIRST shrinks the stream
    * to ≤|days| rows per user, so the window sort ranks tiny per-user
    * day lists, not raw events; `row_number` and `lag` share one window
    * spec → a single user_id exchange and one sort serve both. All math
    * is integral epoch-days — exact on both engines. */
  def q40Streaks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val days = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct()
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
    islands.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), max(col("gap")).as("maxg"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        coalesce(max(col("maxg")) - 1, lit(0L)).as("max_gap_days"))
  }

  val q40Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |g AS (
      |  SELECT user_id, day,
      |    day - row_number() OVER w AS grp,
      |    day - lag(day) OVER w AS gap
      |  FROM days WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |st AS (
      |  SELECT user_id, grp, count(*) AS len, max(gap) AS maxg
      |  FROM g GROUP BY user_id, grp)
      |SELECT user_id,
      |  CAST(sum(len) AS BIGINT) AS active_days,
      |  CAST(count(*) AS BIGINT) AS n_streaks,
      |  CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(coalesce(max(maxg) - 1, 0) AS BIGINT) AS max_gap_days
      |FROM st GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Time-series resampling with gap filling: per-user hourly event
    * count + exact spend, densified to EVERY hour between the user's
    * first and last event (zero rows for silent hours) — the
    * densification step every downstream time-series model (forecasts,
    * anomaly baselines) needs, which a plain GROUP BY cannot produce.
    *
    * Scale shape: the raw stream is hour-aggregated FIRST (one
    * (user, hr) shuffle with map-side partial aggregation); the span
    * aggregate and the final left join both ride that already-tiny
    * hourly frame, and the dense grid is built by `sequence`+`explode`
    * per user — its volume is the output's intrinsic size, and no
    * global calendar table is materialized or shuffled. Hours are
    * integral epoch-hours, spend sums are decimal-exact. */
  def q41GapFill(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 3600000000000").as("hr"), col("value"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n_events"), outd(sum(dec(col("value")))).as("spend"))
    val dense = hourly.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
    dense.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("spend"), lit(0.0)).as("spend"))
  }

  val q41Sql: String =
    """WITH a AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM events GROUP BY user_id, hr),
      |span AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM a GROUP BY user_id),
      |dense AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM span)
      |SELECT d.user_id, d.hr,
      |  coalesce(a.n_events, 0) AS n_events,
      |  coalesce(a.spend, 0.0) AS spend
      |FROM dense d LEFT JOIN a ON d.user_id = a.user_id AND d.hr = a.hr""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Last-touch attribution: every purchase is attributed to the same
    * user's most recent PRIOR view or click — the marketing-attribution
    * join, expressed as a conditional `last(..., ignoreNulls) OVER
    * (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING)` window instead of a
    * self-join: the frame scans back past intervening purchases/errors
    * to the newest non-null source event, which an as-of join (q18)
    * against a pre-filtered side would need an extra shuffle to do.
    *
    * Determinism: the window orders by (ts_us, event_id) — a unique
    * total order — so the "most recent prior" pick is exact on both
    * engines, and lags are integral µs. Scale shape: ONE user_id
    * exchange serves the whole query; no join, no second pass. */
  def q42Attribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("attr_t_us",
        last(when(col("event_type").isin("view", "click"), col("ts_us")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("attr_t_us"), (col("ts_us") - col("attr_t_us")).as("lag_us"))
  }

  val q42Sql: String =
    """SELECT event_id, user_id, ts_us, attr_t_us, ts_us - attr_t_us AS lag_us
      |FROM (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |    last_value(CASE WHEN event_type IN ('view', 'click')
      |                    THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_t_us
      |  FROM events) t
      |WHERE event_type = 'purchase'""".stripMargin

  // ---------------------------------------------------------------- q43
  /** New-user growth curve: daily first-time users and the cumulative
    * distinct-user count. The naive form — COUNT(DISTINCT user) over an
    * expanding day window — rescans every prior day per output row
    * (quadratic, and un-mergeable state at scale). The first-seen
    * transform makes it linear: min(day) per user collapses the stream
    * to one row per user, daily news are a |days|-sized aggregate, and
    * the running total is a window over |days| rows.
    *
    * Scale shape: one user_id-keyed min aggregate (map-side partial) +
    * one day-keyed count; the unpartitioned cumulative window touches
    * only |days| rows — bounded by calendar time, not data volume. */
  def q43NewUsers(s: SparkSession, d: String): DataFrame = {
    val firstSeen = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
    firstSeen.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
  }

  val q43Sql: String =
    """WITH fs AS (
      |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
      |  FROM events GROUP BY user_id),
      |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY day)
      |SELECT day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM daily""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Market-basket affinity: the top part pairs co-purchased within an
    * order, ranked by rational lift (support·N² over the marginal
    * frequencies, the exponential of PMI — same zero-libm fixed-point
    * trick as txt_colloc) with a minimum-support floor.
    *
    * Scale shape: baskets are bounded (TPC-H orders hold ≤7 lines), so
    * the per-order pair self-join fans out Σ basket² — linear in
    * orders, never corpus². The marginals are part-keyed counts joined
    * back on the part key (broadcast while the part dimension fits,
    * shuffle beyond); totals ride a broadcast 1-row frame; the final
    * ranking is TakeOrderedAndProject over support-floored pairs. */
  private val BasketMinSupport = 2
  private val BasketK = 20
  private val BasketFpScale = 1000000L

  def q44MarketBasket(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct() // set semantics: a part repeated within an order counts once
    val df = li.groupBy(col("pkey")).agg(count(lit(1)).as("df"))
    val totals = li.select(countDistinct(col("okey")).as("n_orders"))
    val pairs = li.select(col("okey"), col("pkey").as("part_a"))
      .join(li.select(col("okey"), col("pkey").as("part_b")), Seq("okey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= BasketMinSupport)
    pairs
      .join(df.select(col("pkey").as("part_a"), col("df").as("df_a")), Seq("part_a"))
      .join(df.select(col("pkey").as("part_b"), col("df").as("df_b")), Seq("part_b"))
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("support"),
        expr(s"""CAST(support AS DECIMAL(38,0)) * n_orders * $BasketFpScale
                 div (CAST(df_a AS DECIMAL(38,0)) * df_b)""").as("lift_fp"))
      .orderBy(col("lift_fp").desc, col("part_a"), col("part_b"))
      .limit(BasketK)
  }

  val q44Sql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem),
       |df AS (SELECT pkey, CAST(count(*) AS BIGINT) AS df FROM li GROUP BY pkey),
       |tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM li),
       |pairs AS (
       |  SELECT a.pkey AS part_a, b.pkey AS part_b, CAST(count(*) AS BIGINT) AS support
       |  FROM li a JOIN li b ON a.okey = b.okey AND a.pkey < b.pkey
       |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)
       |SELECT part_a, part_b, support,
       |  CAST((CAST(support AS HUGEINT) * n_orders * $BasketFpScale)
       |       // (CAST(da.df AS HUGEINT) * db.df) AS BIGINT) AS lift_fp
       |FROM pairs, tot
       |JOIN df da ON pairs.part_a = da.pkey
       |JOIN df db ON pairs.part_b = db.pkey
       |ORDER BY lift_fp DESC, part_a ASC, part_b ASC
       |LIMIT $BasketK""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Revenue-concentration head (the Pareto report): the top 20
    * customers by lifetime order revenue, each with its rank and the
    * cumulative share of TOTAL corpus revenue its prefix captures.
    *
    * Scale shape: revenue collapses to one row per customer in a
    * map-side-partial hash aggregate; the head is TakeOrderedAndProject
    * (k rows cross the wire per partition, no global sort); the total
    * is a broadcast 1-row frame. The only unpartitioned window runs
    * over the 20-row head — constant, not data-sized. Sums are exact
    * DECIMAL; the share is a single terminal double division. */
  private val ParetoK = 20

  def q45Pareto(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
    val totals = rev.agg(sum(col("rev")).as("total"))
    val w = Window.orderBy(col("rev").desc, col("o_custkey"))
    rev.orderBy(col("rev").desc, col("o_custkey")).limit(ParetoK)
      .crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_share",
        outd(sum(col("rev")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          / outd(col("total")))
      .select(col("o_custkey"), col("rank"), outd(col("rev")).as("rev"),
        col("cum_share"))
  }

  val q45Sql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |  FROM orders GROUP BY o_custkey),
       |tot AS (SELECT sum(rev) AS total FROM rev),
       |head AS (SELECT * FROM rev ORDER BY rev DESC, o_custkey LIMIT $ParetoK)
       |SELECT o_custkey,
       |  CAST(row_number() OVER (ORDER BY rev DESC, o_custkey) AS INTEGER) AS rank,
       |  CAST(rev AS DOUBLE) AS rev,
       |  CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(total AS DOUBLE) AS cum_share
       |FROM head, tot""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Daily active users with an exact 7-day rolling distinct count.
    * The naive form — COUNT(DISTINCT user) over a 7-day RANGE window —
    * rescans a week of raw events per output day and cannot merge
    * partial state. The cover-set transform makes it one aggregate:
    * each (user, active-day) pair covers the 7 window-end days it
    * contributes to, and the rolling distinct count is a plain
    * count(*) per covered day after a (user, day)-level distinct.
    *
    * Scale shape: the raw stream first collapses to distinct
    * (user, day) — the fundamental reduction, map-side partial — then
    * fans out exactly 7× before the second distinct; every aggregate
    * merges. No RANGE re-scan, no per-day window state. */
  def q46RollingDau(s: SparkSession, d: String): DataFrame = {
    // cache(): the distinct (user, day) frame feeds the daily counts,
    // the bounds row, and the cover-set fan-out — three consumers with
    // no cross-branch CSE; cached it is the fundamental reduction of
    // the stream (tiny next to raw events).
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct()
      .cache()
    val daily = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val bounds = ud.agg(max(col("day")).as("dmax"))
    val roll = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("cday"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .filter(col("cday") <= col("dmax"))
      .groupBy(col("cday")).agg(count(lit(1)).as("dau7"))
    daily.join(roll, col("day") === col("cday"))
      .select(col("day"), col("dau"), col("dau7"))
  }

  val q46Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      |b AS (SELECT max(day) AS dmax FROM ud),
      |cover AS (
      |  SELECT DISTINCT user_id, day + g.x AS cday
      |  FROM ud, (SELECT unnest(range(0, 7)) AS x) g),
      |roll AS (
      |  SELECT cday, CAST(count(*) AS BIGINT) AS dau7
      |  FROM cover, b WHERE cday <= dmax GROUP BY cday)
      |SELECT d.day, d.dau, r.dau7
      |FROM daily d JOIN roll r ON d.day = r.cday""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Grouped top-k: the 3 highest-revenue parts per region (lineitem →
    * supplier → nation → region star join). The textbook form —
    * `row_number() OVER (PARTITION BY region ORDER BY rev)` — funnels
    * every (region, part) row through one reducer per region: with a
    * handful of regions that is a handful of tasks sorting the whole
    * aggregate at 100 TB. The bounded native [[graft.expressions.TopKAgg]] keeps ≤3
    * candidates per map task instead, so the final shuffle carries
    * 3·|regions| pairs and plans as HashAggregate, never Sort+Window.
    *
    * Determinism: revenue rides the aggregator as scale-4 fixed-point
    * int64 (exact while < 2^53 ≈ $9·10^11 per part-region — far above
    * any real aggregate; the oracle ranks the same integers), ties
    * break on part key ascending. */
  private val TopPerGroupK = 3

  def q47TopPerGroup(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
    rev.select(col("r_name"), col("l_partkey"),
        (col("rev") * 10000).cast(LongType).as("rev_fp"))
      .groupBy(col("r_name"))
      .agg(graft.expressions.TopKAgg.topKNative(s, TopPerGroupK,
        "cast(rev_fp as double)", "l_partkey").as("top"))
      .select(col("r_name"), posexplode(col("top.items")).as(Seq("pos", "t")))
      .select(col("r_name"), (col("pos") + 1).cast(LongType).as("rn"),
        col("t.vec_id").as("partkey"),
        (col("t.cos") / lit(10000.0)).as("rev"))
  }

  val q47Sql: String =
    s"""WITH rev AS (
       |  SELECT r.r_name, l.l_partkey,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS rev_fp
       |  FROM lineitem l
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  GROUP BY 1, 2)
       |SELECT r_name, CAST(rn AS BIGINT) AS rn, l_partkey AS partkey,
       |  CAST(rev_fp AS DOUBLE) / 10000 AS rev
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY r_name ORDER BY rev_fp DESC, l_partkey ASC) AS rn
       |      FROM rev)
       |WHERE rn <= $TopPerGroupK""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Conversion-latency report: one row summarizing the first-view →
    * first-purchase funnel — how many users viewed, how many converted
    * after a view, and the min/max/mean conversion lag. The per-user
    * stage is two conditional `min` aggregates (no sort, no window);
    * the corpus stage reduces |users| rows to one. Mean lag is integral
    * µs via `div` — exact integer division on both engines.
    *
    * Scale shape: ONE user_id-keyed aggregate with map-side partials,
    * then a single-row total — the same shape as q35's funnel, scoped
    * to the latency-distribution summary. */
  def q48ConversionLatency(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("ts_us"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("fv"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("fp"))
    perUser.agg(
      count(when(col("fv").isNotNull, 1)).as("n_viewers"),
      count(when(col("fp") > col("fv"), 1)).as("n_converted"),
      min(when(col("fp") > col("fv"), col("fp") - col("fv"))).as("min_lag_us"),
      max(when(col("fp") > col("fv"), col("fp") - col("fv"))).as("max_lag_us"),
      expr("""sum(CASE WHEN fp > fv THEN fp - fv END)
              div count(CASE WHEN fp > fv THEN 1 END)""").as("avg_lag_us"))
  }

  val q48Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
      |  FROM events GROUP BY user_id)
      |SELECT
      |  CAST(count(CASE WHEN fv IS NOT NULL THEN 1 END) AS BIGINT) AS n_viewers,
      |  CAST(count(CASE WHEN fp > fv THEN 1 END) AS BIGINT) AS n_converted,
      |  min(CASE WHEN fp > fv THEN fp - fv END) AS min_lag_us,
      |  max(CASE WHEN fp > fv THEN fp - fv END) AS max_lag_us,
      |  CAST(sum(CASE WHEN fp > fv THEN fp - fv END) AS BIGINT)
      |    // count(CASE WHEN fp > fv THEN 1 END) AS avg_lag_us
      |FROM u""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Month-over-month revenue growth: monthly revenue totals with the
    * growth rate vs the previous month in ppm fixed point — the
    * standing BI trend query. Growth is cents·1e6 div prev_cents − 1e6
    * with both revenues first shifted to integral CENTS: decimal `//`
    * in DuckDB is not exact integer division (observed ±1 vs Spark's
    * decimal `div` in either direction — it appears to route through
    * doubles), so the ratio must be computed on integers, where both
    * engines divide exactly. First month reports NULL growth.
    *
    * Scale shape: revenue collapses to |months| rows in one map-side-
    * partial aggregate; the lag window runs unpartitioned over a
    * calendar-bounded frame (same argument as q43's cumulative
    * window) — bounded by time, not data volume. */
  def q49MomGrowth(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast(LongType).as("mkey"),
        dec(col("o_totalprice")).as("p"))
      .groupBy(col("mkey")).agg(sum(col("p")).as("rev"))
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy(col("mkey"))))
      .select(col("mkey"), outd(col("rev")).as("rev"),
        expr("""CAST(CAST(rev * 100 AS DECIMAL(38,0)) * 1000000
                div CAST(prev * 100 AS DECIMAL(38,0)) - 1000000 AS BIGINT)""")
          .as("growth_fp"))
  }

  val q49Sql: String =
    """WITH m AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mkey,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT mkey, CAST(rev AS DOUBLE) AS rev,
      |  CAST(CAST(rev * 100 AS HUGEINT) * 1000000
      |       // CAST(lag(rev, 1) OVER (ORDER BY mkey) * 100 AS HUGEINT)
      |       - 1000000 AS BIGINT) AS growth_fp
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Session-shape histogram: sessions bucketed by event count (capped
    * at a 10+ bucket) with per-bucket session counts and mean/max
    * duration — the engagement-distribution readout on top of q28's
    * sessionization. Mean duration is integral-µs `div`.
    *
    * Scale shape: rides q28's single user_id exchange end-to-end; the
    * histogram is a ≤10-row aggregate with map-side partials. */
  def q50SessionHistogram(s: SparkSession, d: String): DataFrame =
    q28Sessionize(s, d)
      .select(least(col("n_events"), lit(10L)).as("ev_bucket"),
        (col("end_us") - col("start_us")).as("dur_us"))
      .groupBy(col("ev_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("sum(dur_us) div count(1)").as("mean_dur_us"),
        max(col("dur_us")).as("max_dur_us"))

  val q50Sql: String =
    s"""WITH sess AS (${q28Sql.replace("\n", "\n       ")})
       |SELECT least(n_events, 10) AS ev_bucket,
       |  CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(sum(end_us - start_us) AS BIGINT) // count(*) AS mean_dur_us,
       |  max(end_us - start_us) AS max_dur_us
       |FROM sess GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Weekday×hour activity profile: event count and spend for each of
    * the 7×24 calendar cells — the seasonality heat-map behind load
    * forecasting and anomaly baselines. Day-of-week is PURE integer
    * math on epoch days ((days+4) mod 7, epoch day 0 = Thursday) so
    * both engines agree without touching locale/timezone-dependent
    * dayofweek() built-ins.
    *
    * Scale shape: one scan → per-row integral bucketing → a 168-row
    * hash aggregate with map-side partials. */
  def q51WeekdayProfile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        outd(sum(dec(col("value")))).as("sum_value"))

  val q51Sql: String =
    """SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
      |  (epoch_us(ts) // 3600000000) % 24 AS hour,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Order-size distribution: orders histogrammed by line count, with
    * per-bucket distinct-part diversity and revenue — the basket-shape
    * readout behind q44's affinity mining.
    *
    * Scale shape: one orderkey-keyed aggregate collapses lineitem (the
    * fundamental reduction, map-side partial), then a ≤7-row histogram
    * (TPC-H orders hold 1-7 lines); exact DECIMAL revenue with one
    * terminal double cast. */
  def q52OrderSizeDist(s: SparkSession, d: String): DataFrame = {
    val perOrder = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"),
        sum(dec(col("l_extendedprice"))).as("rev"))
    perOrder.groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_parts")).as("total_parts"),
        outd(sum(col("rev"))).as("total_rev"))
  }

  val q52Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
      |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(n_parts) AS BIGINT) AS total_parts,
      |  CAST(sum(rev) AS DOUBLE) AS total_rev
      |FROM po GROUP BY n_lines""".stripMargin

  // ---------------------------------------------------------------- q53
  /** RFM customer segmentation: recency / frequency / monetary scores
    * from fixed business thresholds, rolled up to segment-level counts
    * and value. Threshold scoring (not ntile) on purpose: quantile
    * scoring needs a global sort and is tie-unstable across engines,
    * while fixed cutoffs are a pure map — and at 100 TB the cutoffs
    * would come from a previous profiling run anyway.
    *
    * Scale shape: one custkey-keyed aggregate collapses orders
    * (map-side partial), then per-row scoring and a ≤27-row segment
    * aggregate. Recency is integral day arithmetic against a fixed
    * anchor; monetary stays exact DECIMAL until the terminal cast. */
  def q53Rfm(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(datediff(lit(java.sql.Date.valueOf("2001-08-01")), max(col("o_orderdate"))).cast(LongType).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(dec(col("o_totalprice"))).as("monetary"))
    per.select(
        when(col("recency_days") <= 90, 3L).when(col("recency_days") <= 270, 2L).otherwise(1L).as("r_score"),
        when(col("frequency") >= 12, 3L).when(col("frequency") >= 9, 2L).otherwise(1L).as("f_score"),
        when(col("monetary") >= 3000000, 3L).when(col("monetary") >= 2200000, 2L).otherwise(1L).as("m_score"),
        col("frequency"), col("monetary"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("frequency")).as("total_orders"),
        outd(sum(col("monetary"))).as("total_monetary"))
  }

  val q53Sql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-08-01') AS BIGINT) AS recency_days,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY o_custkey),
      |scored AS (
      |  SELECT CASE WHEN recency_days <= 90 THEN 3 WHEN recency_days <= 270 THEN 2 ELSE 1 END AS r_score,
      |         CASE WHEN frequency >= 12 THEN 3 WHEN frequency >= 9 THEN 2 ELSE 1 END AS f_score,
      |         CASE WHEN monetary >= 3000000 THEN 3 WHEN monetary >= 2200000 THEN 2 ELSE 1 END AS m_score,
      |         frequency, monetary
      |  FROM per)
      |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(frequency) AS BIGINT) AS total_orders,
      |  CAST(sum(monetary) AS DOUBLE) AS total_monetary
      |FROM scored GROUP BY r_score, f_score, m_score""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Daily-volume anomaly detection: flags days whose event count
    * deviates from the mean daily count by more than 2σ — with the test
    * multiplied through by n² so it runs in exact integer arithmetic:
    * (n·x − S)² > 4·(n·Q − S²). No float mean or stddev ever exists,
    * so the flag is bit-identical on any engine and any shuffle order.
    *
    * Scale shape: a day-keyed count (map-side partial, |days| rows),
    * one single-row stats reduce, and the 1-row frame broadcast back
    * over the dailies. Squares run in DECIMAL(38,0): the test survives
    * per-day counts in the billions, where the int64 square overflows. */
  def q54AnomalyDays(s: SparkSession, d: String): DataFrame = {
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val daily = Tables.events(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val stats = daily.agg(count(lit(1)).as("n_days"),
      sum(col("n_events")).as("s"),
      sum(d38(col("n_events")) * d38(col("n_events"))).as("q"))
    val dev = d38(col("n_days")) * d38(col("n_events")) - d38(col("s"))
    daily.crossJoin(broadcast(stats))
      .select(col("day"), col("n_events"),
        (dev * dev > d38(lit(4)) * (d38(col("n_days")) * col("q") - d38(col("s")) * d38(col("s")))).as("is_anomaly"))
  }

  val q54Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(n_events) AS BIGINT) AS s,
      |    sum(CAST(n_events AS HUGEINT) * n_events) AS q
      |  FROM daily)
      |SELECT day, n_events,
      |  (CAST(n_days AS HUGEINT) * n_events - s)
      |    * (CAST(n_days AS HUGEINT) * n_events - s)
      |    > 4 * (CAST(n_days AS HUGEINT) * q - CAST(s AS HUGEINT) * s) AS is_anomaly
      |FROM daily CROSS JOIN stats""".stripMargin

  // ---------------------------------------------------------------- q55
  /** TPC-H Q7-style trade matrix: line revenue volume between supplier
    * nation and customer nation for 1996-97 shipments — the classic
    * two-dimension fact rollup.
    *
    * Scale shape: nation (25 rows) folds into supplier and customer via
    * broadcast; the supplier map is small enough to broadcast onto
    * lineitem at any scale (10k rows/SF), so the supp_nation tag is a
    * map-side lookup. The two real shuffles are lineitem ⋈ orders on
    * orderkey and ⋈ customer on custkey — customer is deliberately NOT
    * force-broadcast (it grows with SF; AQE picks broadcast while it
    * fits). Output is ≤|nations|² rows; exact DECIMAL revenue. */
  def q55TradeMatrix(s: SparkSession, d: String): DataFrame = {
    val nation = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
              col("l_shipdate") <  ts("1998-01-01 00:00:00"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(count(lit(1)).as("n_lines"),
        outd(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))).as("volume"))
  }

  val q55Sql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS volume
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY sn.n_name, cn.n_name""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Pearson correlation (quantity vs extended price per return flag)
    * with EXACT integral accumulators: both measures are fixed-pointed
    * to cents per row (IEEE multiply+floor — identical on any engine),
    * the five moment sums run in int64/DECIMAL(38,0), and floating
    * point appears only in the final single-expression combine. Spark's
    * built-in `corr` is a running double accumulator whose value
    * depends on partitioning and merge order — useless under a
    * cross-engine hash gate and irreproducible across cluster sizes;
    * this form gives the same bits at 1 or 1000 executors.
    *
    * Scale shape: one scan, map-side partial aggregation to 6 numbers
    * per group, |flags| output rows. The 38-digit sums survive ~10^12
    * rows of cent-squared magnitudes. */
  def q56CorrExact(s: SparkSession, d: String): DataFrame = {
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val t = Tables.lineitem(s, d).select(col("l_returnflag"),
      floor(col("l_quantity") * 100).cast(LongType).as("x"),
      floor(col("l_extendedprice") * 100).cast(LongType).as("y"))
    t.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy"))).cast(DoubleType)
          / sqrt((d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx"))).cast(DoubleType)
               * (d38(col("n")) * col("syy") - d38(col("sy")) * d38(col("sy"))).cast(DoubleType)))
          .as("corr_qty_price"))
  }

  val q56Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(floor(l_quantity * 100) AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM t GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |    AS corr_qty_price
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Latest-state snapshot (SCD type-1 / "current row" dedup): each
    * user's most recent event, with (ts, event_id) as the total order —
    * the tiebreak makes the argmax engine-portable even when two events
    * share a timestamp. Aggregated to a per-event-type census of
    * current states so the output is bounded.
    *
    * Scale shape: ONE user_id shuffle feeding a partial-aggregable
    * max-of-struct (max_by over a lexicographic key) — no window sort;
    * at 100 TB the map side already collapses each partition to one
    * candidate row per user. The struct-max form is what you want over
    * the row_number-window form: the window needs a full sort of every
    * user's history, the max needs one pass. */
  def q57LatestEvent(s: SparkSession, d: String): DataFrame = {
    // order on MICROsecond time: DuckDB timestamps are µs, so an
    // ns-resolution order here could crown a different same-µs winner
    val snap = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_id"),
        col("event_type"), col("value"))).as("last"))
    snap.groupBy(col("last.event_type").as("last_event_type"))
      .agg(count(lit(1)).as("n_users"),
        outd(sum(dec(col("last.value")))).as("sum_last_value"),
        max(col("last.ts_us")).as("max_ts_us"))
  }

  val q57Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT event_type AS last_event_type,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_last_value,
      |  CAST(max(ts_us) AS BIGINT) AS max_ts_us
      |FROM r WHERE rn = 1
      |GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Revenue share vs a GLOBAL total (TPC-H Q11/Q14 shape): per-brand
    * revenue and its parts-per-million share of all-lineitem revenue —
    * the "group vs grand total" pattern whose naive form re-scans the
    * fact table twice. Revenue is fixed-pointed to exact int64 cents
    * per line (decimal multiply + floor — bit-identical on any engine),
    * summed in DECIMAL(38,0), and the share is an integral division, so
    * the output is exact integers end to end.
    *
    * Scale shape: ONE lineitem scan, guaranteed by construction: the
    * grand total is an unpartitioned window over the PER-BRAND frame
    * (|brands| rows), so the "second pass" is a single-partition
    * exchange of ~|brands| rows — never a re-aggregation of the fact
    * table, and never dependent on ReuseExchange canonicalization
    * (which silently stops firing when column pruning de-dupes the
    * twin subtrees; spec-asserted single scan). part is broadcast onto
    * lineitem. At 100 TB the 38-digit sums absorb ~10^13 lines of
    * cent-scale revenue without overflow. */
  def q58RevenueShare(s: SparkSession, d: String): DataFrame = {
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val brand = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        floor(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")) * 100)
          .cast(LongType).as("cents"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"), sum(d38(col("cents"))).as("rev"))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.unboundedFollowing)
    brand.withColumn("tot", sum(col("rev")).over(whole))
      .select(col("p_brand"), col("n_lines"),
        col("rev").cast(LongType).as("rev_cents"),
        expr("(rev * 1000000) div tot AS share_ppm"))
  }

  val q58Sql: String =
    """WITH b AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
      |    CAST(sum(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * CAST(1 - l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)) AS HUGEINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand),
      |t AS (SELECT sum(rev) AS tot FROM b)
      |SELECT p_brand, n_lines, CAST(rev AS BIGINT) AS rev_cents,
      |  CAST(rev * 1000000 // tot AS BIGINT) AS share_ppm
      |FROM b CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Above-average DORMANT customers (TPC-H Q22's real spirit —
    * recency, not existence): customers whose balance beats the GLOBAL
    * average and who have placed no orders on/after 2000-01-01, rolled
    * up per nation. The average is never materialized as a float:
    * `bal > avg` is tested as `bal·n > total` in exact integer cents —
    * cross-multiplication beats a float threshold under a cross-engine
    * hash gate, where avg's last bit would flip members.
    *
    * Scale shape: the 1-row (n, total) aggregate broadcasts back over
    * the customer scan (second customer pass is map-side); dormancy is
    * a LEFT ANTI join on custkey against orders filtered on the
    * recency cutoff BEFORE the join (the date predicate pushes to the
    * parquet scan, shrinking the anti-join build side to only recent
    * orders) and projected to one column. Output is |nations| rows,
    * non-empty at every driver SF (7/23/25 nation rows at
    * sf0.001/0.01/0.1). */
  def q59DormantRich(s: SparkSession, d: String): DataFrame = {
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        floor(dec(col("c_acctbal")) * 100).cast(LongType).as("bal_cents"))
    val stats = broadcast(cust.agg(count(lit(1)).as("n_all"),
      sum(d38(col("bal_cents"))).as("tot_cents")))
    val recentOrders = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("2000-01-01 00:00:00"))
      .select(col("o_custkey"))
    cust.crossJoin(stats)
      .filter(d38(col("bal_cents")) * col("n_all") > col("tot_cents"))
      .join(recentOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("bal_cents")).as("sum_bal_cents"))
  }

  val q59Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT) AS bal_cents
      |  FROM customer),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
      |             CAST(sum(bal_cents) AS HUGEINT) AS tot_cents FROM c)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_custs,
      |  CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
      |FROM c CROSS JOIN s
      |WHERE CAST(bal_cents AS HUGEINT) * n_all > tot_cents
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Top supplier(s) by quarterly revenue (TPC-H Q15 shape): revenue
    * per supplier over one ship-date quarter, keeping every supplier
    * that ties the maximum — the max-of-an-aggregate self-reference
    * that Q15 expresses as a view joined to its own MAX. Revenue is
    * exact int64 cents so "ties the maximum" is exact equality, not a
    * float comparison.
    *
    * Scale shape: one filtered lineitem scan in the executed plan →
    * suppkey-keyed partial/final agg (|suppliers| rows); the 1-row MAX
    * broadcasts back over that frame, and the supplier name attaches
    * by broadcast. The rev frame is referenced twice (MAX + main
    * branch), so "no second fact scan" relies on ReuseExchange deduping
    * the identical aggregate subtrees (spec-asserted). No window, no
    * sort. */
  def q60TopSupplier(s: SparkSession, d: String): DataFrame = {
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    // The explicit isNotNull matches the constraint the supplier join
    // infers into the main branch; with it in the SHARED frame both
    // subtrees canonicalize equal and ReuseExchange dedupes the scan
    // (keys are non-null in the data, so semantics are unchanged).
    val rev = Tables.lineitem(s, d)
      .filter(col("l_suppkey").isNotNull &&
              col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
              col("l_shipdate") <  ts("1996-04-01 00:00:00"))
      .select(col("l_suppkey"),
        floor(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")) * 100)
          .cast(LongType).as("cents"))
      .groupBy(col("l_suppkey"))
      .agg(sum(d38(col("cents"))).cast(LongType).as("rev_cents"))
    val best = broadcast(rev.agg(max(col("rev_cents")).as("best")))
    rev.crossJoin(best)
      .filter(col("rev_cents") === col("best"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_cents"))
  }

  val q60Sql: String =
    """WITH r AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * CAST(1 - l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, rev_cents
      |FROM r JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_cents = (SELECT max(rev_cents) FROM r)""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Snapshot reconciliation (the nightly "what changed" diff): each
    * customer's order activity in the 1995 window vs the 1997 window —
    * FULL OUTER join of the two per-customer snapshots, every customer
    * classified added / removed / changed / unchanged, rolled up per
    * category with the net cent delta. The one join flavor the rest of
    * the surface never exercises end-to-end (full outer fact-fact),
    * and the operational pattern behind every data-migration /
    * replication audit.
    *
    * Determinism: snapshots aggregate exact int64 cents; "unchanged"
    * is exact integer equality; deltas coalesce missing sides to 0.
    *
    * Scale shape: two date-pruned orders scans (pushdown to parquet) →
    * custkey-keyed partial/final aggs (each |active customers| rows) →
    * one full-outer SortMergeJoin on custkey → a 4-row category
    * aggregate. At 100 TB both snapshot aggregates shuffle on the same
    * custkey, so the join reuses co-partitioning; bucketed order
    * tables would remove even that exchange (fmt_bucket_join shows
    * the layout). */
  def q61SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    def snap(from: String, until: String, tag: String): DataFrame =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts(from) && col("o_orderdate") < ts(until))
        .select(col("o_custkey"),
          floor(dec(col("o_totalprice")) * 100).cast(LongType).as("cents"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(s"${tag}_n"),
          sum(col("cents")).as(s"${tag}_c"))
        .withColumnRenamed("o_custkey", s"${tag}_key")
    val s1 = snap("1995-01-01 00:00:00", "1996-01-01 00:00:00", "a")
    val s2 = snap("1997-01-01 00:00:00", "1998-01-01 00:00:00", "b")
    s1.join(s2, col("a_key") === col("b_key"), "full_outer")
      .select(
        when(col("a_key").isNull, lit("added"))
          .when(col("b_key").isNull, lit("removed"))
          .when(col("a_n") === col("b_n") && col("a_c") === col("b_c"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("category"),
        (coalesce(col("b_c"), lit(0L)) - coalesce(col("a_c"), lit(0L)))
          .as("delta_cents"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("delta_cents")).as("net_delta_cents"))
  }

  val q61Sql: String =
    """WITH s1 AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY o_custkey),
      |s2 AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY o_custkey)
      |SELECT CASE WHEN s1.o_custkey IS NULL THEN 'added'
      |            WHEN s2.o_custkey IS NULL THEN 'removed'
      |            WHEN s1.n = s2.n AND s1.c = s2.c THEN 'unchanged'
      |            ELSE 'changed' END AS category,
      |  CAST(count(*) AS BIGINT) AS n_custs,
      |  CAST(sum(coalesce(s2.c, 0) - coalesce(s1.c, 0)) AS BIGINT)
      |    AS net_delta_cents
      |FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Calendar gap-fill with forward carry (the time-series densify +
    * LOCF every reporting/feature pipeline needs): per-nation monthly
    * order revenue on a DENSE month axis — every (nation, month) cell
    * from the corpus' first to last month exists, months with no orders
    * get n_orders = 0, and revenue carries forward from the nation's
    * last active month (NULL before its first). Months are integer
    * indexes ((year-1992)·12 + month-1): date arithmetic reduced to
    * int64, immune to engine date-function drift.
    *
    * Scale shape: the dense axis is |nations| × |months| — generated by
    * exploding a sequence against the distinct-nation frame, NEVER by
    * driver-side loops — and the left join back to the sparse monthly
    * aggregate is keyed on (nation, month). The carry-forward is a
    * running `last(ignoreNulls)` window per nation, ordered by month:
    * partitions are nation-sized, so the sort is bounded by the month
    * count, not the fact table. At 100 TB the fact aggregate shrinks
    * the data to |keys|·|months| rows BEFORE any window runs. */
  def q62GapFill(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nationkey"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast(LongType).as("mi"),
        floor(dec(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      .groupBy(col("nationkey"), col("mi"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents").cast(DecimalType(38, 0))).cast(LongType).as("rev_cents"))
    val span = broadcast(monthly.agg(max(col("mi")).as("max_mi")))
    val axis = monthly.select(col("nationkey")).distinct()
      .crossJoin(span)
      .select(col("nationkey"), explode(sequence(lit(0L), col("max_mi"))).as("mi"))
    val w = Window.partitionBy(col("nationkey")).orderBy(col("mi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    axis.join(monthly, Seq("nationkey", "mi"), "left")
      .select(col("nationkey"), col("mi"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        last(col("rev_cents"), ignoreNulls = true).over(w).as("filled_rev_cents"),
        col("rev_cents").isNull.cast(LongType).as("is_gap"))
  }

  val q62Sql: String =
    """WITH m AS (
      |  SELECT c_nationkey AS nationkey,
      |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mi,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT))
      |      AS BIGINT) AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |axis AS (
      |  SELECT nationkey, CAST(unnest(range((SELECT max(mi) + 1 FROM m))) AS BIGINT) AS mi
      |  FROM (SELECT DISTINCT nationkey FROM m))
      |SELECT a.nationkey, a.mi,
      |  CAST(coalesce(m.n_orders, 0) AS BIGINT) AS n_orders,
      |  last_value(m.rev_cents IGNORE NULLS) OVER (
      |    PARTITION BY a.nationkey ORDER BY a.mi
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_rev_cents,
      |  CAST(CASE WHEN m.rev_cents IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
      |FROM axis a LEFT JOIN m ON a.nationkey = m.nationkey AND a.mi = m.mi""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Peak concurrency by SWEEP-LINE (the interval-overlap aggregation
    * behind "max simultaneous sessions/connections/open orders"): each
    * order is an interval from its order date to its last lineitem's
    * ship date; per priority class, the maximum number of
    * simultaneously-open orders and the FIRST day that peak is reached.
    * The sweep reduces interval overlap — a quadratic self-join shape —
    * to +1/-1 boundary events, a day-keyed delta aggregate, and one
    * running sum: O(n log n), never O(n²).
    *
    * Determinism: days are integer indexes; the running sum is exact
    * int64; "first day at peak" is argmin over (−open, day) — a
    * partial-aggregable min(struct), no second window.
    *
    * Scale shape: the lineitem scan collapses to per-order max-ship
    * (orderkey-keyed, map-side partial); boundaries explode 2 rows per
    * order into a (priority, day) delta aggregate — |priorities|×|days|
    * rows — and the running-sum window partitions by priority with
    * day-count-bounded sorts. The fact tables never meet a window. */
  def q63PeakConcurrency(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1992-01-01").cast(DateType)
    val lastShip = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("ship_end"))
    val iv = Tables.orders(s, d)
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("o_orderdate").cast(DateType), epoch).cast(LongType).as("d0"),
        datediff(col("ship_end").cast(DateType), epoch).cast(LongType).as("draw"))
      // the testdata has orders whose last shipment predates the order
      // date; an order is open AT LEAST its order day, so the interval
      // end clamps to greatest(d0, ship) — without this the -1 boundary
      // would land BEFORE the +1 and the sweep would undercount
      .select(col("o_orderpriority"), col("d0"),
        greatest(col("d0"), col("draw")).as("d1"))
    val deltas = iv
      .select(col("o_orderpriority"), explode(array(
        struct(col("d0").as("day"), lit(1L).as("delta")),
        struct((col("d1") + 1L).as("day"), lit(-1L).as("delta")))).as("b"))
      .groupBy(col("o_orderpriority"), col("b.day").as("day"))
      .agg(sum(col("b.delta")).as("delta"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("open", sum(col("delta")).over(w))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("open")).as("peak_open"),
        min(struct((-col("open")).as("neg"), col("day").as("dy"))).as("am"))
      .select(col("o_orderpriority"), col("peak_open"),
        col("am.dy").as("peak_day"))
  }

  val q63Sql: String =
    """WITH ls AS (
      |  SELECT l_orderkey, max(l_shipdate) AS ship_end FROM lineitem GROUP BY 1),
      |iv AS (
      |  SELECT o_orderpriority, d0, greatest(d0, draw) AS d1 FROM (
      |    SELECT o_orderpriority,
      |      CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d0,
      |      CAST(date_diff('day', DATE '1992-01-01', CAST(ship_end AS DATE)) AS BIGINT) AS draw
      |    FROM orders JOIN ls ON o_orderkey = l_orderkey)),
      |b AS (
      |  SELECT o_orderpriority, d0 AS day, CAST(1 AS BIGINT) AS delta FROM iv
      |  UNION ALL
      |  SELECT o_orderpriority, d1 + 1 AS day, CAST(-1 AS BIGINT) AS delta FROM iv),
      |dl AS (
      |  SELECT o_orderpriority, day, CAST(sum(delta) AS BIGINT) AS delta
      |  FROM b GROUP BY 1, 2),
      |run AS (
      |  SELECT o_orderpriority, day,
      |    CAST(sum(delta) OVER (PARTITION BY o_orderpriority ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
      |  FROM dl)
      |SELECT o_orderpriority, max(open) AS peak_open,
      |  min(CASE WHEN open = m THEN day END) AS peak_day
      |FROM (SELECT *, max(open) OVER (PARTITION BY o_orderpriority) AS m FROM run)
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Customer order-count distribution (TPC-H Q13's shape): how many
    * customers placed 0, 1, 2, … orders inside the 1995 window — the
    * one aggregation pattern a plain inner join silently corrupts,
    * because the customers the histogram most needs (the ZEROS) have no
    * orders row to join to. The window predicate therefore lives in the
    * JOIN, not a WHERE: filtering after a left join would turn it back
    * into an inner join and erase the zero bucket.
    *
    * Determinism: pure integer counts end to end.
    *
    * Scale shape: orders is pre-collapsed to per-customer counts BEFORE
    * meeting customer (map-side partial agg; the join input is
    * |active customers| rows, not |orders| wide rows, and the date
    * predicate pushes to the parquet scan); the LEFT join preserves
    * zero-order customers via coalesce(cnt, 0); the final histogram is
    * a ≤|max orders per customer| row mergeable aggregate. Both the
    * pre-agg and the join key on custkey, so at 100 TB the join reuses
    * the aggregate's partitioning (one exchange serves both). */
  def q64OrderCountDist(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
        col("o_orderdate") < ts("1996-01-01 00:00:00"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    Tables.customer(s, d)
      .select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q64Sql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey
      |   AND o_orderdate >= TIMESTAMP '1995-01-01'
      |   AND o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Sole-late-supplier accounting (TPC-H Q21's shape): on orders that
    * involve at least two suppliers, count per supplier the orders
    * where THEY shipped late (>60 days after the order date) and every
    * other supplier was on time — the blame-assignment query whose
    * signature plan is a LEFT SEMI and a LEFT ANTI join over the same
    * key with an inequality residual (`other supplier ≠ this one`),
    * a shape no equi-join rewrite expresses.
    *
    * Determinism: lateness is an exact timestamp compare; everything
    * after is integer counts.
    *
    * Scale shape: lineitem collapses FIRST to one row per
    * (order, supplier) with a max(late) flag — orderkey-keyed partial
    * agg off a two-column scan (the orders join brings only
    * o_orderdate, broadcast-sized keys aside it shuffles once on
    * orderkey). The per-order tally (n_supp, n_late) keys on orderkey
    * too, so the aggregate and the late-probe join share one exchange
    * layout; the cached per-OS frame is |order×supplier| rows, ~4×
    * smaller than lineitem. Supplier names attach by broadcast
    * (10k rows/SF). Output ≤|suppliers|. */
  def q65SoleLateSupplier(s: SparkSession, d: String): DataFrame = {
    // cache(): the per-(order,supplier) frame feeds BOTH the per-order
    // tally aggregate and the late-filter probe; uncached the
    // lineitem⋈orders aggregate would run twice.
    val perOS = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max((col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAY")).cast("int")).as("late"))
      .cache()
    // Optimization round (guide §2.4 — remove shuffles outright): the
    // EXISTS / NOT-EXISTS pair used to run as a left-semi + left-anti
    // self-join, shuffling the per-(order,supplier) frame three times on
    // okey. Both predicates are per-ORDER tallies over that same frame —
    // EXISTS(other supplier) ⇔ n_supp > 1, NOT EXISTS(other late) ⇔
    // n_late = 1 given the probe row itself is late — so ONE okey-keyed
    // aggregate (map-side partials) + one join replaces both self-joins.
    // Equivalence is under the unchanged DuckDB oracle hash.
    val perO = perOS.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
    perOS.filter(col("late") === 1)
      .join(perO, Seq("l_orderkey"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("l_suppkey").as("skey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("skey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
  }

  val q65Sql: String =
    """WITH pos AS (
      |  SELECT l_orderkey AS okey, l_suppkey AS skey,
      |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |        THEN 1 ELSE 0 END) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM pos l1 JOIN supplier ON l1.skey = s_suppkey
      |WHERE l1.late = 1
      |  AND EXISTS (SELECT 1 FROM pos l2
      |              WHERE l2.okey = l1.okey AND l2.skey <> l1.skey)
      |  AND NOT EXISTS (SELECT 1 FROM pos l3
      |                  WHERE l3.okey = l1.okey AND l3.skey <> l1.skey
      |                    AND l3.late = 1)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Declarative top-k under the OPTIMIZER-REWRITE path: the query is
    * written exactly the way every SQL user writes per-group top-k —
    * `row_number().over(partitionBy(g).orderBy(score desc, id asc))`
    * then `rn <= 3` — and [[graft.plans.TopKRewrite]] (injected via
    * GraftExtensions, which Verify/Bench sessions enable) rewrites it
    * into the bounded [[graft.expressions.TopKAgg]] aggregate: no
    * Window operator, no per-group sort, k rows per group per map task
    * on the shuffle. The DuckDB oracle runs the literal window SQL, so
    * the gate proves the REWRITE preserves window semantics (including
    * double score ties broken on id) on real data — q47 gates the
    * aggregate called explicitly; this gates the plan transformation.
    *
    * The coalesce wrappers are the rule's nullability contract: window
    * NULLS-LAST ranking and the aggregate's null-skip diverge when a
    * group runs out of non-null rows, so the rewrite only fires on
    * provably non-null score/id. In a session without the extensions
    * the query still runs (as the window plan) and returns the same
    * rows. */
  def q66AutoTopK(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(
      col("c_nationkey"),
      coalesce(floor(dec(col("c_acctbal")) * 100).cast(DoubleType), lit(0.0))
        .as("bal_cents"),
      coalesce(col("c_custkey"), lit(-1L)).as("cust_id"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bal_cents").desc, col("cust_id").asc)
    c.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("bal_cents"), col("cust_id"),
        col("rn").cast(LongType).as("rn"))
  }

  val q66Sql: String =
    """SELECT c_nationkey, bal_cents, cust_id, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT c_nationkey, bal_cents, cust_id,
      |    row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY bal_cents DESC, cust_id ASC) AS rn
      |  FROM (
      |    SELECT c_nationkey,
      |      CAST(coalesce(floor(CAST(c_acctbal AS DECIMAL(18,2)) * 100), 0)
      |        AS DOUBLE) AS bal_cents,
      |      coalesce(c_custkey, -1) AS cust_id
      |    FROM customer))
      |WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- q67
  /** The SQL FRONT-END as the gated surface: one ANSI SQL string —
    * CTE, decimal/int casts, timestamp literal, join, conditional
    * aggregate, HAVING — registered-view tables, executed verbatim by
    * `spark.sql(...)` AND handed verbatim to DuckDB as its own oracle.
    * Every other gate exercises the DataFrame API; this one proves the
    * textual dialect both engines share parses AND evaluates
    * identically (a parser/analysis divergence — implicit cast rules,
    * HAVING scoping, CASE typing — breaks the hash even though the
    * physical plan is a plain broadcast-join aggregate).
    *
    * Scale shape: date filter pushes to the orders scan; the customer
    * join broadcasts at any SF where |customer| fits (AQE decides);
    * output ≤|nations|. */
  val q67Sql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents,
      |    o_orderpriority
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
      |SELECT c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN cents ELSE 0 END)
      |    AS BIGINT) AS urgent_cents,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM rev JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey
      |HAVING count(*) > 10""".stripMargin

  def q67SqlText(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q67Sql)
  }

  // ---------------------------------------------------------------- q73
  /** Correlated LATERAL subquery with LIMIT — SQL's per-row-subtable
    * join (`FROM c, LATERAL (SELECT ... WHERE key = c.key ORDER BY ...
    * LIMIT 2)`), the standard-SQL spelling of top-k-per-group that
    * q07/q47/q66 express with window functions or the native TopKAgg.
    * Catalyst must DECORRELATE the lateral (DecorrelateInnerQuery +
    * the per-group limit rewrite) instead of re-running the inner
    * query per outer row; both engines run the identical text, so the
    * correlation semantics, the per-group ORDER BY ... LIMIT cut, and
    * the tiebreak all sit under one hash. Customers with fewer than
    * two orders contribute fewer rows — the lateral's inner-join
    * semantics, also pinned.
    *
    * Scale shape: decorrelation turns this into a grouped top-k over
    * ONE orders shuffle — the same bounded shape as q47; per-row
    * re-execution (what a naive engine does with LATERAL) would be
    * |customers| × orders-scan. */
  val q73Sql: String =
    """SELECT c.c_custkey, o.o_orderkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin

  def q73LateralTopk(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q73Sql)
  }

  // ---------------------------------------------------------------- q68
  /** NOT IN through the NULL-AWARE anti-join path: SQL's `NOT IN
    * (subquery)` is NOT a plain anti join when the subquery column is
    * nullable — one NULL in the subquery makes every NOT IN evaluate
    * UNKNOWN and empties the result, so the engine must plan the
    * null-aware form (Spark: a LeftAnti whose condition carries an
    * `isnull` disjunct, because parquet custkeys are statically
    * nullable). This gate runs the textual NOT IN on both engines: the
    * subquery happens to contain no NULLs, so the correct answer is the
    * anti-join result — an engine that either botches the three-valued
    * logic OR over-applies it diverges.
    *
    * Scale shape: the subquery is date-pruned at the scan and
    * broadcast; at 100 TB one rewrites provably-non-null NOT IN to a
    * plain anti join (the NAAJ build side must fit in memory) — the
    * spec pins today's plan so that rewrite, when made, is a conscious
    * plan change. */
  val q68Sql: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_lapsed
      |FROM customer
      |WHERE c_custkey NOT IN (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2000-06-01')
      |GROUP BY c_nationkey""".stripMargin

  def q68NotInNulls(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q68Sql)
  }

  // ---------------------------------------------------------------- q69
  /** SCD TYPE-2 interval build: the event stream turned into validity
    * ranges — each user event opens an interval that closes at the
    * user's NEXT event (`lead`), the last one staying open — the
    * history-table construction behind every slowly-changing-dimension
    * warehouse load (q57 derives the "current row"; this builds the
    * full history). Rolled up per event type: interval count, open
    * (current) count, and total closed duration in whole seconds.
    *
    * Determinism: (µs ts, event_id) is a strict total order per user,
    * so every lead() is exact; durations are integer µs sums floored
    * to seconds once at the end.
    *
    * Scale shape: ONE user_id exchange feeds the lead window (per-user
    * sorts, bounded by a user's history) and the same pass feeds the
    * |event types|-sized final aggregate — the fact table meets no
    * second shuffle. */
  def q69Scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("next_us").isNull, 1L).otherwise(0L)).as("n_current"),
        // d38 before the sum: a raw long Σµs wraps silently around
        // ~10^8 user-lifetimes while the oracle's HUGEINT doesn't
        expr("CAST(coalesce(sum(CAST(next_us - ts_us AS DECIMAL(38,0))), 0)" +
          " div 1000000 AS BIGINT)").as("closed_seconds"))
  }

  val q69Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |iv AS (
      |  SELECT event_type, ts_us,
      |    lead(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS next_us
      |  FROM e)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
      |  CAST(count(*) FILTER (WHERE next_us IS NULL) AS BIGINT) AS n_current,
      |  CAST(coalesce(sum(next_us - ts_us), 0) // 1000000 AS BIGINT)
      |    AS closed_seconds
      |FROM iv GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q70
  /** MULTIPLE exact COUNT(DISTINCT) in one aggregate — the one
    * aggregation plan shape nothing else on the surface exercises:
    * Spark cannot fold three different distinct-key sets into one hash
    * aggregate, so Catalyst plans an EXPAND (each input row replicated
    * once per distinct-aggregate with a grouping-id lane, here 3×),
    * a first aggregate de-duplicating each lane, and a final aggregate
    * folding lanes back together. Per return flag: distinct parts,
    * distinct suppliers, distinct orders, and the plain row count.
    *
    * Scale shape: the Expand multiplies the shuffle by the number of
    * distinct aggregates — the plan's intrinsic cost, and exactly why
    * q29's HLL sketch exists as the approximate alternative at 100 TB;
    * gating both pins the exact/approx trade explicitly. The spec
    * asserts the Expand is really in the plan. */
  def q70MultiDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  val q70Sql: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q70_multi_distinct"  -> (q70MultiDistinct _),
    "q69_scd2_intervals"  -> (q69Scd2Intervals _),
    "q68_not_in_nulls"    -> (q68NotInNulls _),
    "q67_sql_text"        -> (q67SqlText _),
    "q66_auto_topk"       -> (q66AutoTopK _),
    "q64_order_count_dist" -> (q64OrderCountDist _),
    "q65_sole_late_supplier" -> (q65SoleLateSupplier _),
    "q63_peak_concurrency" -> (q63PeakConcurrency _),
    "q62_gap_fill"        -> (q62GapFill _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_sum"      -> (q02FilterSum _),
    "q03_join_top_revenue"-> (q03JoinTopRevenue _),
    "q04_semi_join"       -> (q04SemiJoin _),
    "q05_broadcast_promo" -> (q05BroadcastPromo _),
    "q06_anti_join"       -> (q06AntiJoin _),
    "q07_window_top_order"-> (q07WindowTopOrder _),
    "q08_rollup"          -> (q08Rollup _),
    "q09_set_ops"         -> (q09SetOps _),
    "q10_top_k"           -> (q10TopK _),
    "q11_string_date"     -> (q11StringDate _),
    "q12_json"            -> (q12Json _),
    "q13_explode_words"   -> (q13Explode _),
    "q14_conditional_agg" -> (q14ConditionalAgg _),
    "q15_events_tumbling" -> (q15EventsTumbling _),
    "q16_star_join"       -> (q16StarJoin _),
    "q17_cube"            -> (q17Cube _),
    "q18_asof_join"       -> (q18AsOfJoin _),
    "q19_outer_join"      -> (q19OuterJoin _),
    "q20_math"            -> (q20Math _),
    "q21_distinct"        -> (q21Distinct _),
    "q22_having"          -> (q22Having _),
    "q23_grouping_sets"   -> (q23GroupingSets _),
    "q24_salted_skew_agg" -> (q24SaltedSkewAgg _),
    "q25_percentiles"     -> (q25Percentiles _),
    "q26_range_join_binned" -> (q26RangeJoinBinned _),
    "q27_window_frames"   -> (q27WindowFrames _),
    "q28_sessionize"      -> (q28Sessionize _),
    "q71_session_window"  -> (q71SessionWindow _),
    "q72_variant_json"    -> (q72VariantJson _),
    "q73_lateral_topk"    -> (q73LateralTopk _),
    "q74_percentile_disc" -> (q74PercentileDisc _),
    "q75_recursive_cte"   -> (q75RecursiveCte _),
    "q76_observe_metrics" -> (q76ObserveMetrics _),
    "q77_listagg"         -> (q77Listagg _),
    "q78_aqe_skew_join"   -> (q78AqeSkewJoin _),
    "q79_runtime_bloom"   -> (q79RuntimeBloom _),
    "q80_pivot"           -> (q80Pivot _),
    "q81_unpivot"         -> (q81Unpivot _),
    "q82_lateral"         -> (q82Lateral _),
    "q29_sketch_bounds"   -> (q29SketchBounds _),
    "q30_correlated_subquery" -> (q30CorrelatedSubquery _),
    "q31_udaf_wavg"       -> (q31UdafWavg _),
    "q32_pivot"           -> (q32Pivot _),
    "q33_quantile_sketch" -> (q33QuantileSketch _),
    "q34_unpivot"         -> (q34Unpivot _),
    "q35_event_funnel"    -> (q35EventFunnel _),
    "q36_retention_cohort" -> (q36RetentionCohort _),
    "q37_session_paths"   -> (q37SessionPaths _),
    "q38_time_range_frames" -> (q38TimeRangeFrames _),
    "q39_interval_join"   -> (q39IntervalJoin _),
    "q40_streaks"         -> (q40Streaks _),
    "q41_gap_fill"        -> (q41GapFill _),
    "q42_attribution"     -> (q42Attribution _),
    "q43_new_users"       -> (q43NewUsers _),
    "q44_market_basket"   -> (q44MarketBasket _),
    "q45_pareto_head"     -> (q45Pareto _),
    "q46_rolling_dau"     -> (q46RollingDau _),
    "q47_top_per_group"   -> (q47TopPerGroup _),
    "q48_conversion_latency" -> (q48ConversionLatency _),
    "q49_mom_growth"      -> (q49MomGrowth _),
    "q50_session_histogram" -> (q50SessionHistogram _),
    "q51_weekday_profile" -> (q51WeekdayProfile _),
    "q52_order_size_dist" -> (q52OrderSizeDist _),
    "q53_rfm"             -> (q53Rfm _),
    "q54_anomaly_days"    -> (q54AnomalyDays _),
    "q55_trade_matrix"    -> (q55TradeMatrix _),
    "q56_corr_exact"      -> (q56CorrExact _),
    "q57_latest_event"    -> (q57LatestEvent _),
    "q58_revenue_share"   -> (q58RevenueShare _),
    "q59_dormant_rich"    -> (q59DormantRich _),
    "q60_top_supplier"    -> (q60TopSupplier _),
    "q61_snapshot_diff"   -> (q61SnapshotDiff _),
  )

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_sum"      -> q02Sql,
    "q03_join_top_revenue"-> q03Sql,
    "q04_semi_join"       -> q04Sql,
    "q05_broadcast_promo" -> q05Sql,
    "q06_anti_join"       -> q06Sql,
    "q07_window_top_order"-> q07Sql,
    "q08_rollup"          -> q08Sql,
    "q09_set_ops"         -> q09Sql,
    "q10_top_k"           -> q10Sql,
    "q11_string_date"     -> q11Sql,
    "q12_json"            -> q12Sql,
    "q13_explode_words"   -> q13Sql,
    "q14_conditional_agg" -> q14Sql,
    "q15_events_tumbling" -> q15Sql,
    "q16_star_join"       -> q16Sql,
    "q17_cube"            -> q17Sql,
    "q18_asof_join"       -> q18Sql,
    "q19_outer_join"      -> q19Sql,
    "q20_math"            -> q20Sql,
    "q21_distinct"        -> q21Sql,
    "q22_having"          -> q22Sql,
    "q23_grouping_sets"   -> q23Sql,
    "q24_salted_skew_agg" -> q24Sql,
    "q25_percentiles"     -> q25Sql,
    "q26_range_join_binned" -> q26Sql,
    "q27_window_frames"   -> q27Sql,
    "q28_sessionize"      -> q28Sql,
    "q71_session_window"  -> q71Sql,
    "q72_variant_json"    -> q72Sql,
    "q73_lateral_topk"    -> q73Sql,
    "q74_percentile_disc" -> q74Sql,
    "q75_recursive_cte"   -> q75Sql,
    "q76_observe_metrics" -> q76Sql,
    "q77_listagg"         -> q77Sql,
    "q78_aqe_skew_join"   -> q78Sql,
    "q79_runtime_bloom"   -> q79Sql,
    "q80_pivot"           -> q80Sql,
    "q81_unpivot"         -> q81Sql,
    "q82_lateral"         -> q82Sql,
    "q29_sketch_bounds"   -> q29Sql,
    "q30_correlated_subquery" -> q30Sql,
    "q31_udaf_wavg"       -> q31Sql,
    "q32_pivot"           -> q32Sql,
    "q33_quantile_sketch" -> q33Sql,
    "q34_unpivot"         -> q34Sql,
    "q35_event_funnel"    -> q35Sql,
    "q36_retention_cohort" -> q36Sql,
    "q37_session_paths"   -> q37Sql,
    "q38_time_range_frames" -> q38Sql,
    "q39_interval_join"   -> q39Sql,
    "q40_streaks"         -> q40Sql,
    "q41_gap_fill"        -> q41Sql,
    "q42_attribution"     -> q42Sql,
    "q43_new_users"       -> q43Sql,
    "q44_market_basket"   -> q44Sql,
    "q45_pareto_head"     -> q45Sql,
    "q46_rolling_dau"     -> q46Sql,
    "q47_top_per_group"   -> q47Sql,
    "q48_conversion_latency" -> q48Sql,
    "q49_mom_growth"      -> q49Sql,
    "q50_session_histogram" -> q50Sql,
    "q51_weekday_profile" -> q51Sql,
    "q52_order_size_dist" -> q52Sql,
    "q53_rfm"             -> q53Sql,
    "q54_anomaly_days"    -> q54Sql,
    "q55_trade_matrix"    -> q55Sql,
    "q56_corr_exact"      -> q56Sql,
    "q57_latest_event"    -> q57Sql,
    "q58_revenue_share"   -> q58Sql,
    "q59_dormant_rich"    -> q59Sql,
    "q60_top_supplier"    -> q60Sql,
    "q61_snapshot_diff"   -> q61Sql,
    "q62_gap_fill"        -> q62Sql,
    "q63_peak_concurrency" -> q63Sql,
    "q64_order_count_dist" -> q64Sql,
    "q66_auto_topk"       -> q66Sql,
    "q67_sql_text"        -> q67Sql,
    "q68_not_in_nulls"    -> q68Sql,
    "q69_scd2_intervals"  -> q69Sql,
    "q70_multi_distinct"  -> q70Sql,
    "q65_sole_late_supplier" -> q65Sql,
  )
}
