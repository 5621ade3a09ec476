package graft

import org.apache.spark.sql.SparkSession

/** The session the harness mains (Bench, Verify, Measure) run on, with
  * the tuning a production deployment would set:
  *  - the graft extensions (native functions + TopKRewrite);
  *  - `local[cpus]` and shuffle.partitions = cpus (not the 200 default);
  *  - AQE on (runtime coalescing + skew-join splitting);
  *  - UTC session time zone;
  *  - ICU case mappings OFF: Spark 4's collation-aware case mapping pays
  *    a ~90 s one-time static init on first upper()/lower(); the JVM
  *    case mapping is identical for this (ASCII) data;
  *  - uncompressed columnar cache: cached signature frames are tiny, and
  *    dictionary compression of cache batches profiled as a hot spot;
  *  - no UI.
  * Each caller picks its own `cpus` default; `extraConf` is applied last
  * and wins. */
object GraftSession {
  def apply(cpus: String, extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up on dedicated throwaway plans, never one of the
    * timed queries. It exercises the execution machinery end to end —
    * parquet scan, shuffle agg, window functions, explode, broadcast
    * join, cache write/read, array columns — because the first query
    * otherwise absorbs ~60 s of one-time cost (janino + whole-stage
    * codegen JIT, shuffle/agg classloading, heap page-faulting).
    * Measured: dedup_embedding_cosine 66 s as the first timed query vs
    * 6.3 s warm, same plan, same data. Failures are logged under `tag`,
    * never thrown. */
  def warmUp(spark: SparkSession, sfDir: String, tag: String): Unit =
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("s"), countDistinct("l_suppkey").as("d"))
        .collect()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").limit(500).cache()
      val tok = docs.select(col("doc_id"),
        posexplode(split(trim(col("text")), " +")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      tok.withColumn("nx", lead(col("tok"), 1).over(w))
        .groupBy(col("doc_id")).agg(min(hash(col("tok"))).as("h"))
        .join(broadcast(docs.select(col("doc_id"))), "doc_id")
        .count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "x")))
        .groupBy(col("vec_id")).agg(sum(col("x") * col("x")).as("n2"))
        .count()
      spark.catalog.clearCache()
      System.err.println(f"[$tag] warmup done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    } catch { case e: Throwable => System.err.println(s"[$tag] warmup: $e") }
}
