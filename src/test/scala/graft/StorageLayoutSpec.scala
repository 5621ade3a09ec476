package graft

import org.apache.spark.sql.functions._

/** Storage-layout strategies for the 100 TB deployment, demonstrated at
  * test scale: bucketed tables that co-locate a join (no exchange on
  * either side at read time), and partitioned layouts whose partition
  * filters prune the scan to the asked-for slice. These are the two
  * write-side levers the SURVEY's scale plan leans on (§2.3 Exchange /
  * scans rows); the specs pin the plan shapes so a regression in either
  * lever is caught by `sbt test`, not by a cluster bill.
  */
class StorageLayoutSpec extends SparkSpecBase {

  test("bucketed tables co-locate the orders-lineitem join: zero exchanges") {
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
      Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderdate", "o_custkey")
        .write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
      val joined = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      // both sides arrive pre-hashed by the bucket function: the join —
      // and even the first aggregate, keyed under it — need no shuffle
      // of the fact tables (the only allowed exchange is the final
      // single-partition/date-keyed agg exchange)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
        !plan.contains("Exchange hashpartitioning(l_orderkey"),
        "bucketed join still shuffles a fact table:\n" + plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
    }
  }

  test("partitioned layout prunes the scan to the asked-for slice") {
    val dir = Scratch.dir("graft-part").toString
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .parquet(dir)
    val years = spark.read.parquet(dir)
      .select(col("o_year")).distinct().collect().map(_.getInt(0)).sorted
    assert(years.length > 1, s"need >1 partition for a pruning test: ${years.toSeq}")
    val one = spark.read.parquet(dir).filter(col("o_year") === years.head)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("o_year"), plan)
    // the pruned count must match the unpruned predicate count
    val full = spark.read.parquet(dir).collect().count(_.getAs[Int]("o_year") == years.head)
    assert(one.count() == full)
  }
}
