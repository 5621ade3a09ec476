package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness (round 1 died to the driver's hard timeout and scored {}):
  *  - oracle_sql.json is written FIRST, so a partial run still gets
  *    per-query credit for everything dumped before the kill;
  *  - each query runs under a watchdog (SPARK_GRAFT_VERIFY_Q_TIMEOUT_S,
  *    default 150s): on expiry its Spark jobs are cancelled and the run
  *    moves on instead of hanging the whole gate.
  */
object Verify {
  /** Gates that may legitimately return 0 rows at the gate's scale factor.
    * Every entry MUST name the spec that proves the operator on planted
    * (non-empty) data — an empty-vs-empty hash match verifies only that
    * both engines parse the query, so an empty gate without a backing
    * spec is vacuous and gets flagged below.
    */
  val legitimatelyEmpty: Map[String, String] = Map.empty
  // (was: dedup_embedding_cosine — its gate now emits ranked candidate
  // pairs with an is_dup verdict, non-empty at every SF, so no gate on
  // the board is allowed to be empty anymore.)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — local dev
    // subset runs (the driver always runs the full surface).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Default to the machine's cores: the driver's gate may not set
    // SPARK_GRAFT_CPUS, and local[4] nearly triples the wall-clock of a
    // 50-query dump — needless hard-timeout exposure.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val qTimeoutS = sys.env.getOrElse("SPARK_GRAFT_VERIFY_Q_TIMEOUT_S", "150").toLong
    val spark = GraftSession(cpus)
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "verify-query"); t.setDaemon(true); t
    }
    val vacuous = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val fut = pool.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      })
      try {
        fut.get(qTimeoutS, TimeUnit.SECONDS)
        // Vacuity audit: a 0-row result makes the downstream hash gate
        // compare empty-to-empty, which passes no matter what the
        // operator computes. Reading the freshly-written parquet count
        // is metadata-only (footer row counts), so this costs ~nothing.
        val rows = spark.read.parquet(s"$outDir/$name").count()
        if (rows == 0 && !legitimatelyEmpty.contains(name)) {
          vacuous += name
          System.err.println(s"[verify] $name WARNING: 0 rows — gate is " +
            "VACUOUS (empty-vs-empty hash). Make the query non-empty at " +
            "this SF or register it in Verify.legitimatelyEmpty with a " +
            "planted-fixture spec.")
        } else if (rows == 0) {
          System.err.println(s"[verify] $name is empty by design; backed " +
            s"by ${legitimatelyEmpty(name)}")
        }
        System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          fut.cancel(true)
          System.err.println(s"[verify] $name TIMED OUT after ${qTimeoutS}s — cancelled")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    if (vacuous.nonEmpty)
      System.err.println(s"[verify] VACUOUS GATES (0 rows, no backing " +
        s"spec): ${vacuous.sorted.mkString(", ")}")
    spark.stop()
  }
}
