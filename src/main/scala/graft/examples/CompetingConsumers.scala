package graft.examples

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.{Amqp10Server, AmqpEndpointRegistry, AmqpMessage, AmqpValueBody, InMemoryAmqpBroker}

/** The consumer-fleet topology the reference's broker deployments run
  * (README.md:5-9 in /root/reference — many workers on one queue),
  * expressed with the engine's SHARED SUBSCRIPTION: N streaming queries
  * naming the same `sharedGroup` on one address work-share its backlog,
  * each message delivered to exactly one of them, with lease-based
  * redelivery if a worker dies (see
  * [[graft.streaming.AmqpSharedMicroBatchStream]]).
  *
  * Runs self-contained: a producer pumps a job queue over a real
  * amqp10:// socket, two "workers" drain it concurrently, and the demo
  * prints each worker's share plus the union's exactly-once proof.
  *
  * Usage: sbt "runMain graft.examples.CompetingConsumers"
  */
object CompetingConsumers {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("competing-consumers")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val server = new Amqp10Server(new InMemoryAmqpBroker)
    val endpoint = s"amqp10://127.0.0.1:${server.port}"
    println(s"[demo] broker listening on $endpoint")
    val dir = java.nio.file.Files.createTempDirectory("competing-consumers")
    try run(spark, endpoint, dir)
    finally {
      spark.stop()
      AmqpEndpointRegistry.reset(endpoint)
      server.close()
      JavaUtils.deleteRecursively(dir.toFile)
    }
  }

  private def run(spark: SparkSession, endpoint: String, dir: java.nio.file.Path): Unit = {
    val producer = AmqpEndpointRegistry.endpoint(endpoint)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    def worker(idx: Int) =
      spark.readStream.format("amqp")
        .option("endpoint", endpoint).option("address", "jobs")
        .option("sharedGroup", "workers")
        .option("maxMessagesPerTrigger", "64") // small bites: visible sharing
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/worker-$idx")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => emitted.add(idx -> r.getAs[String]("message_id")))
          ()
        }
        .start()

    val w1 = worker(1)
    val w2 = worker(2)
    try {
      (1 to 500).foreach { i =>
        producer.send("jobs", AmqpMessage(messageId = Some(s"job-$i"),
          body = AmqpValueBody(s"payload-$i")))
      }
      w1.processAllAvailable(); w2.processAllAvailable()
      w1.processAllAvailable(); w2.processAllAvailable()
    } finally { w1.stop(); w2.stop() }

    import scala.jdk.CollectionConverters._
    val got = emitted.asScala.toSeq
    val split = got.groupBy(_._1).view.mapValues(_.size).toMap
    println(s"[demo] worker split: $split")
    val ids = got.map(_._2)
    println(s"[demo] union: ${ids.size} jobs, ${ids.distinct.size} distinct " +
      s"(exactly-once: ${ids.size == 500 && ids.distinct.size == 500})")

    // Act 2 — the POISON JOB: one job crashes its worker on every
    // delivery. With a max-delivery ceiling + DLQ configured, the
    // broker routes it to the dead-letter queue after 2 failed
    // deliveries while the rest of the backlog keeps draining —
    // a crashing fleet converges instead of looping forever.
    producer.send("jobs", AmqpMessage(messageId = Some("job-poison"),
      body = AmqpValueBody("malformed payload")))
    (501 to 520).foreach { i =>
      producer.send("jobs", AmqpMessage(messageId = Some(s"job-$i"),
        body = AmqpValueBody(s"payload-$i")))
    }
    val survived = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def fragileWorker(run: Int, perTrigger: Int) = {
      val q = spark.readStream.format("amqp")
        .option("endpoint", endpoint).option("address", "jobs")
        .option("sharedGroup", "workers")
        .option("sharedLeaseMillis", "1000")
        .option("sharedMaxDeliveries", "2")
        .option("sharedDeadLetterAddress", "jobs-dlq")
        .option("maxMessagesPerTrigger", perTrigger.toString)
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/fragile-$run") // fresh owner
        .foreachBatch { (b: DataFrame, _: Long) =>
          val jobs = b.collect().map(_.getAs[String]("message_id"))
          if (jobs.contains("job-poison"))
            throw new RuntimeException("worker crashed on job-poison")
          jobs.foreach(survived.add)
          ()
        }
        .start()
      try {
        if (run <= 2) {
          try { q.awaitTermination(60000); () }
          catch { case e: Exception =>
            println(s"[demo] fragile worker $run died: ${e.getCause match {
              case null => e.getMessage; case c => c.getMessage }}")
          }
        } else q.processAllAvailable()
      } finally q.stop()
      if (run <= 2) Thread.sleep(1400) // the orphan lease lapses
    }
    fragileWorker(1, perTrigger = 1)
    fragileWorker(2, perTrigger = 1)
    fragileWorker(3, perTrigger = 8) // ceiling fires: poison -> DLQ, rest drains
    val dlq = spark.read.format("amqp")
      .option("endpoint", endpoint).option("address", "jobs-dlq").load()
      .select("message_id", "message_annotations").collect()
    println(s"[demo] survivors drained: ${survived.size}/20")
    dlq.foreach { r =>
      println(s"[demo] dead-lettered: ${r.getString(0)} " +
        s"annotations=${r.getMap[String, String](1)}")
    }
  }
}
