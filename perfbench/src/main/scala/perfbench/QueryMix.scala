package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** query_mix: one client running fixed passes over one query per
  * operator family, each pass in a seed-permuted order, on seeded
  * tables. Every result is hashed and compared with the set-up pass's
  * result, whose parquet dump the runner checks against DuckDB running
  * `SparkEntry.oracleSql`. The AMQP layers do no work here. */
object QueryMix {
  /** One query per operator family (relational/plans, dedup, similarity,
    * text, corpus): in each family, one that takes well under a second
    * on the sf0.1-sized tables and spends most of it in tasks, so a run
    * makes enough passes for a steady median of operator work. */
  val Queries: Seq[String] = Seq("q66_auto_topk", "dedup_substring", "sim_sq8_topk",
    "txt_readability", "corpus_chunk")
  val Tables: Seq[String] = Seq("customer", "documents", "embeddings")
  /** Set-up rounds; the first (cold JIT) is not part of `setup_s`. */
  val SetupRounds = 4
  val MinPasses = 3

  /** Order-independent hash of a result's rows. */
  def resultHash(rows: Seq[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case other => other
    }))

  def run(ctx: Ctx): Outcome = {
    val dir = ctx.data.getOrElse(throw new IllegalArgumentException("query_mix needs --data"))
    val spark = ctx.spark
    val sc = spark.sparkContext
    val rng = new java.util.Random(Inputs.mix(ctx.seed, 78L))
    ctx.tasks.enabled = false
    val reference = scala.collection.mutable.Map[String, Int]()
    val passes = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val mismatched = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

    def runQuery(name: String): Double = {
      sc.setLocalProperty(TaskLedger.TagKey, name)
      try {
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, dir).collect().toSeq
        val dt = (System.nanoTime() - t0) / 1e9
        val h = resultHash(rows)
        passes(name) += 1
        if (reference.getOrElseUpdate(name, h) != h) mismatched(name) += 1
        dt
      } finally sc.setLocalProperty(TaskLedger.TagKey, null)
    }

    /** One pass in a freshly permuted order: per-query seconds. */
    def pass(): Map[String, Double] = {
      val order = Queries.toArray
      java.util.Collections.shuffle(java.util.Arrays.asList(order: _*), rng)
      order.map(n => n -> runQuery(n)).toMap
    }

    // set-up: table load (schema + row counts) and one warm-up pass,
    // repeated; the first also dumps every result for the oracle check.
    // `setup_s` is the median of the warm rounds: the cold one is mostly
    // JIT compilation, and its time swung with the host's load
    val dumps = ctx.work.resolve("qm-results")
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      pass()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i == 1) Queries.foreach { n =>
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(dumps.resolve(n).toString)
      }
      dt
    }
    java.nio.file.Files.writeString(ctx.work.resolve("oracle_sql.json"),
      Json.obj(Queries.map(n => n -> SparkEntry.oracleSql(n))))

    def passesFor(seconds: Double): Vector[Map[String, Double]] = {
      val until = System.nanoTime() + (seconds * 1e9).toLong
      val ps = Vector.newBuilder[Map[String, Double]]
      var n = 0
      while (n < MinPasses || System.nanoTime() < until) { ps += pass(); n += 1 }
      ps.result()
    }
    // queries per second of a pass made of each query's median time: one
    // slow execution moves its query's median, not the whole pass
    def rate(ps: Seq[Map[String, Double]]) =
      Queries.length / Queries.map(q => Stats.median(ps.map(_(q)))).sum

    val plain = passesFor(ctx.untracedSeconds)
    val throughput = rate(plain)
    System.err.println("[perfbench] query_mix median seconds: " + Queries.map(q =>
      f"$q=${Stats.median(plain.map(_(q)))}%.3f").mkString(" ") + " (set-up s: " +
      setups.map(s => f"$s%.2f").mkString(" ") + ")")
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        ctx.tasks.clear()
        ctx.tasks.enabled = true
        val traced = passesFor(ctx.tracedSeconds)
        Thread.sleep(200) // let the listener bus deliver the last task ends
        ctx.tasks.enabled = false
        val n = traced.length.toDouble
        val tasks = ctx.tasks.tasks.asScala.toVector
        val jobs = ctx.tasks.jobs.asScala.toVector
        Queries.flatMap { q =>
          val ts = tasks.filter(_.tag == q)
          Seq(
            s"query.$q.s" -> Stats.median(traced.map(_(q))),
            s"query.$q.jobs" -> jobs.count(_._1 == q) / n,
            s"query.$q.stages" -> ts.map(_.stageId).toSet.size / n,
            s"query.$q.task_s" -> ts.map(_.runMs).sum / 1000.0 / n,
            s"query.$q.shuffle_bytes" -> ts.map(_.shuffleWriteBytes).sum / n,
            s"query.$q.spill_bytes" -> ts.map(_.spillBytes).sum / n)
        }.toMap ++ Map("trace.overhead" -> (throughput / rate(traced) - 1.0)) ++ probes(ctx, dir)
      }
    val attempted = passes.values.sum
    val failed = mismatched.values.sum
    Outcome(attempted, failed,
      Map("setup_s" -> Stats.median(setups.tail), "throughput_per_s" -> throughput), layers,
      Map("passes" -> passes.toMap, "mismatched" -> mismatched.toMap,
        "dumps" -> dumps.toString, "oracle_sql" -> ctx.work.resolve("oracle_sql.json").toString))
  }

  /** Expression probes on the mix's own tables: document texts and
    * embeddings. The AMQP layers are left idle (they read 0 here). */
  private def probes(ctx: Ctx, dir: String): Map[String, Double] = {
    val texts = ctx.spark.read.parquet(s"$dir/documents.parquet").select("text")
      .collect().toIndexedSeq.map(_.getString(0))
    val vecs = ctx.spark.read.parquet(s"$dir/embeddings.parquet").select("embedding")
      .collect().toIndexedSeq.map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Probes.expressions(texts, vecs)
  }
}
