package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.IntegerType

import graft.streaming.{Amqp10Server, AmqpConverters, AmqpEndpointRegistry, AmqpMessage, AmqpValueBody, InMemoryAmqpBroker}

/** The reference's flagship example, re-expressed Spark-first: an IoT
  * temperature stream aggregated with a 5-second windowed max and
  * printed to the console.
  *
  * Reference mapping (examples/.../AMQPTemperature.scala in
  * /root/reference):
  *  - `AMQPUtils.createStream(...)` (:92-95) → `readStream.format("amqp")`
  *  - custom `Message => Option[Int]` converter (:69-82) →
  *    `amqp_body` cast to INT (AmqpConverters.amqpBodyAs)
  *  - `reduceByWindow(max, Seconds(5), Seconds(5))` (:97) →
  *    `groupBy(window($"ingest_timestamp", "5 seconds")).agg(max(...))`
  *  - `print()` (:99) → `writeStream.format("console")`
  *  - `StreamingContext.getOrCreate` checkpointing (:61) →
  *    `option("checkpointLocation", ...)`
  *
  * Runs self-contained (zero-egress environment): a producer plays the
  * sensor, and the query drains with Trigger.AvailableNow so the demo
  * terminates. By default the whole path crosses a real AMQP 1.0
  * socket (an in-JVM [[Amqp10Server]]) — the same wire the reference
  * speaks via Proton; pass `mem` to pin the in-process endpoint.
  *
  * Usage: sbt "runMain graft.examples.AmqpTemperature [amqp10|mem]"
  */
object AmqpTemperature {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("amqp-temperature")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val endpoint =
      if (args.headOption.contains("mem")) "mem://temperature-demo"
      else {
        val server = new Amqp10Server(new InMemoryAmqpBroker)
        println(s"[demo] AMQP 1.0 server listening on 127.0.0.1:${server.port}")
        s"amqp10://127.0.0.1:${server.port}"
      }
    val producer = AmqpEndpointRegistry.endpoint(endpoint)

    // the sensor: temperatures 20..24 cycling, one reading per second
    // of event time across two 5s windows
    val base = 1000L * 1000000L
    for (i <- 0 until 10)
      producer.send("temperature",
        AmqpMessage(body = AmqpValueBody((20 + i % 5).toString)),
        timestampMicros = base + i * 1000000L)

    val q = spark.readStream.format("amqp")
      .option("endpoint", endpoint)
      .option("address", "temperature")
      .load()
      .select(AmqpConverters.amqpBodyAs(IntegerType).as("temperature"),
        col("ingest_timestamp"))
      .groupBy(window(col("ingest_timestamp"), "5 seconds"))
      .agg(max(col("temperature")).as("max_temperature"))
      .orderBy("window")
      .writeStream.format("console")
      .outputMode("complete")
      .option("checkpointLocation", graft.Scratch.dir("amqp-temp-ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    spark.stop()
  }
}
