package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). Every operator query in [[SparkEntry]]
  * reads through here so that column pruning / filter pushdown reach the
  * parquet scan uniformly.
  *
  * At cluster scale these would be catalog tables (ideally bucketed on
  * their join keys); the loaders keep the access path declarative so
  * Catalyst's pushdown works the same either way.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Bytes of a table path: a file's length, or the summed lengths of a
    * directory-style table's part files. */
  private[graft] def fileBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(_.length()).sum
    else f.length()
  }

  /** Parallelism floor for the CPU-heavy DERIVATION tables (optimization
    * guide §2.6 idle capacity, §6 input split size). documents.parquet /
    * embeddings.parquet arrive as one small file with a single row group
    * — below maxPartitionBytes, so the scan plans as ONE split and all
    * post-scan per-row work (tokenization, shingling, n-gram hashing,
    * 64-dim vector math) serializes on one core while the rest of the
    * session idles. Measured at sf0.1: the embeddings derive stage ran
    * as 1 task, 2.7 s wall / 1.9 s CPU on one core of 32 — the READ-side
    * twin of the single-threaded text-format write round 9 fixed with
    * writeParts. The floor derives from file bytes over a per-table
    * work target (sized so one task carries tens of milliseconds of
    * derive work at the measured per-byte cost), capped at the session's
    * scheduling parallelism, and is SKIPPED when the scan already has
    * that many native splits — at 100 TB these inputs arrive in
    * thousands of row groups and this is a no-op; the rule spreads work
    * at any scale, it is not a constant tuned to one host. Round-robin
    * repartition is content-neutral here: every consumer aggregates or
    * joins by key and every limit in the families is total-ordered; the
    * full oracle surface is re-proven after the change. */
  private def parallelized(s: SparkSession, df: DataFrame, path: String,
      bytesPerTask: Long): DataFrame = {
    val want = math.min(s.sparkContext.defaultParallelism.toLong,
      (fileBytes(path) + bytesPerTask - 1) / bytesPerTask).toInt
    if (want <= 1 || df.rdd.getNumPartitions >= want) df
    else df.repartition(want)
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.parquet` has shipped `ts` in two encodings across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (readable only as a
    * raw long via spark.sql.legacy.parquet.nanosAsLong) and plain µs
    * TIMESTAMP (surfaced as TIMESTAMP_NTZ). Both are normalized to the
    * same two columns every query reads: `ts_ns` (exact int64 nanos —
    * they do not fit a double, so bucketing math stays integral) and
    * `ts` (a proper µs TimestampType instant; NTZ→instant is exact
    * under the UTC session timezone all entry points pin).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) generation
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // µs generation (NTZ or instant)
        raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
    // Canonical column order, identical regardless of which testdata
    // generation produced the file — positional consumers (select *,
    // parquet dumps compared positionally) must not depend on the branch.
    val others = normalized.columns.filterNot(c => c == "ts" || c == "ts_ns")
    normalized.select((others :+ "ts" :+ "ts_ns").map(col): _*)
  }
  // ~16 KB of compressed text (~130 docs at gate SF) per tokenize task;
  // ~32 KB of packed float arrays (~80 vectors) per vector-math task.
  def documents(s: SparkSession, d: String): DataFrame =
    parallelized(s, table(s, d, "documents"), s"$d/documents.parquet", 16L << 10)
  def embeddings(s: SparkSession, d: String): DataFrame =
    parallelized(s, table(s, d, "embeddings"), s"$d/embeddings.parquet", 32L << 10)
}
