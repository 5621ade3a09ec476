package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2.3 "File formats": the reference has no file I/O; Spark's
  * built-in parquet/csv/json come free with the engine. Evidence that
  * the same relation survives a round-trip through each format with
  * values intact (exact decimal checksum, not just counts).
  */
class FileFormatsSpec extends SparkSpecBase {

  private def checksum(df: org.apache.spark.sql.DataFrame) =
    df.agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("s"),
           count(lit(1)).as("n")).collect().head

  test("csv and json round-trip a lineitem slice losslessly") {
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val want = checksum(src)

    val dir = Scratch.dir("graft-fmt").toString
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    src.write.mode("overwrite").json(s"$dir/json")

    val csvBack = spark.read.option("header", "true").schema(src.schema).csv(s"$dir/csv")
    val jsonBack = spark.read.schema(src.schema).json(s"$dir/json")
    assert(checksum(csvBack) == want)
    assert(checksum(jsonBack) == want)
  }
}
