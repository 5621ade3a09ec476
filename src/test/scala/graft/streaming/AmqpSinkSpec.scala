package graft.streaming

import scala.concurrent.duration._

import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** End-to-end tests of the DSv2 AMQP sink — the write-side counterpart
  * the reference only sketches as raw ProtonSender loops in fixtures
  * (AMQPTestUtils.scala:110-120, AMQPTemperature.scala:161-180 in
  * /root/reference): batch + streaming publishes, envelope round-trip
  * through source→sink→source, and exactly-once epoch commit. */
class AmqpSinkSpec extends SparkSpecBase {

  private def poll[T](f: => T): T =
    eventually(timeout(30.seconds), interval(500.millis))(f)

  private def freshEndpoint(name: String): (String, InMemoryAmqpBroker) = {
    val ep = s"mem://sink-$name"
    AmqpEndpointRegistry.reset(ep)
    (ep, AmqpEndpointRegistry.broker(ep))
  }

  test("batch write publishes one message per row (bare string column)") {
    val (ep, broker) = freshEndpoint("batch")
    import spark.implicits._
    (1 to 7).map(i => s"payload-$i").toDF("value")
      .write.format("amqp").option("endpoint", ep).option("address", "out").mode("append").save()
    assert(broker.latestSeq("out") == 7)
    val bodies = broker.fetch("out", 0, 7).map(_._2.body).collect {
      case AmqpValueBody(s: String) => s
    }
    assert(bodies.toSet == (1 to 7).map(i => s"payload-$i").toSet)
  }

  test("envelope columns map to message fields; properties survive") {
    val (ep, broker) = freshEndpoint("envelope")
    import spark.implicits._
    Seq(("id-1", "sub", "hello"))
      .toDF("message_id", "subject", "body")
      .withColumn("application_properties",
        map(lit("k1"), lit("v1"), lit("k2"), lit("v2")))
      .write.format("amqp").option("endpoint", ep).option("address", "out").mode("append").save()
    val Seq((_, m, _)) = broker.fetch("out", 0, 1)
    assert(m.messageId.contains("id-1"))
    assert(m.subject.contains("sub"))
    assert(m.body == AmqpValueBody("hello"))
    assert(m.applicationProperties.toMap == Map("k1" -> "v1", "k2" -> "v2"))
  }

  test("routeByTo off (default): to column rides as metadata, all rows land on the address") {
    val (ep, broker) = freshEndpoint("route-off")
    import spark.implicits._
    Seq(("a", "q-a"), ("b", "q-b"), ("c", null))
      .toDF("body", "to")
      .write.format("amqp").option("endpoint", ep).option("address", "out")
      .mode("append").save()
    assert(broker.latestSeq("out") == 3, "everything on the default address")
    assert(broker.latestSeq("q-a") == 0 && broker.latestSeq("q-b") == 0)
    val tos = broker.fetch("out", 0, 3).map(_._2.to)
    assert(tos.toSet == Set(Some("q-a"), Some("q-b"), None), "to kept as metadata")
  }

  test("routeByTo: each row publishes to its own to address, null falls back") {
    val (ep, broker) = freshEndpoint("route-on")
    import spark.implicits._
    Seq(("a1", "q-a"), ("a2", "q-a"), ("b1", "q-b"), ("f1", null))
      .toDF("body", "to")
      .write.format("amqp").option("endpoint", ep).option("address", "fallback")
      .option("routeByTo", "true").mode("append").save()
    def bodies(a: String) = broker.fetch(a, 0, broker.latestSeq(a)).map(_._2.body)
      .collect { case AmqpValueBody(s: String) => s }.toSet
    assert(bodies("q-a") == Set("a1", "a2"))
    assert(bodies("q-b") == Set("b1"))
    assert(bodies("fallback") == Set("f1"), "null to falls back to the address option")
  }

  test("routed commit is epoch-idempotent across ALL target queues") {
    val (ep, broker) = freshEndpoint("route-replay")
    val msgs = Seq(
      AmqpMessage(to = Some("r-a"), body = AmqpValueBody("x")),
      AmqpMessage(to = Some("r-b"), body = AmqpValueBody("y")),
      AmqpMessage(body = AmqpValueBody("z")))
    broker.stage("txn-1", 0, msgs)
    assert(broker.commitStaged("txn-1", "q", 5L, "r-def", 1000L, routeByTo = true) == 3)
    // a replayed epoch (restart) publishes NOTHING anywhere, even though
    // the commit ledger is keyed by the default address only
    broker.stage("txn-1b", 0, msgs)
    assert(broker.commitStaged("txn-1b", "q", 5L, "r-def", 1000L, routeByTo = true) == -1)
    assert(broker.latestSeq("r-a") == 1 && broker.latestSeq("r-b") == 1 &&
      broker.latestSeq("r-def") == 1)
    // the next epoch lands normally
    broker.stage("txn-2", 0, Seq(AmqpMessage(to = Some("r-a"), body = AmqpValueBody("w"))))
    assert(broker.commitStaged("txn-2", "q", 6L, "r-def", 1000L, routeByTo = true) == 1)
    assert(broker.latestSeq("r-a") == 2)
  }

  test("concurrent routed commits with overlapping target sets: no deadlock, dense ledgers, no loss") {
    val (_, broker) = freshEndpoint("route-race")
    // 8 writers, each committing a routed transaction across an
    // overlapping 3-queue subset of 4 queues — every pair of writers
    // shares at least one target, so an unordered lock acquisition
    // would deadlock here and a non-atomic publish would interleave
    val queues = (0 until 4).map(i => s"rq-$i")
    val perTxn = 25
    val writers = (0 until 8).map { w =>
      new Thread(() => {
        val targets = (0 until 3).map(j => queues((w + j) % queues.length))
        val msgs = (0 until perTxn).map { i =>
          AmqpMessage(to = Some(targets(i % targets.length)),
            body = AmqpValueBody(s"w$w-m$i"))
        }
        broker.stage(s"race-$w", 0, msgs)
        val n = broker.commitStaged(s"race-$w", s"q$w", 0L, queues.head, 1000L,
          routeByTo = true)
        require(n == perTxn, s"writer $w published $n of $perTxn")
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(30000))
    assert(writers.forall(!_.isAlive), "a writer is stuck: lock-order deadlock")
    // nothing lost, nothing doubled, ledgers dense
    val total = queues.map(q => broker.latestSeq(q)).sum
    assert(total == 8L * perTxn, s"published $total of ${8 * perTxn}")
    queues.foreach { q =>
      val n = broker.latestSeq(q)
      val bodies = broker.fetch(q, 0, n).map(_._2.body)
        .collect { case AmqpValueBody(s: String) => s }
      assert(bodies.length == n, s"$q ledger has gaps")
      assert(bodies.distinct.length == bodies.length, s"$q has duplicates")
    }
  }

  test("routeByTo routes over the amqp10 wire transport too") {
    val server = new Amqp10Server(new InMemoryAmqpBroker)
    val ep = s"amqp10://127.0.0.1:${server.port}"
    try {
      import spark.implicits._
      Seq(("w1", "wq-a"), ("w2", "wq-b"))
        .toDF("body", "to")
        .write.format("amqp").option("endpoint", ep).option("address", "wq-def")
        .option("routeByTo", "true").mode("append").save()
      val client = AmqpEndpointRegistry.endpoint(ep)
      def bodies(a: String) = client.fetch(a, 0, client.latestSeq(a)).map(_._2.body)
        .collect { case AmqpValueBody(s: String) => s }.toSet
      assert(bodies("wq-a") == Set("w1") && bodies("wq-b") == Set("w2"))
      assert(client.latestSeq("wq-def") == 0, "nothing leaked to the fallback")
    } finally server.close()
  }

  test("source → sink → source round-trips the envelope, including JSON bodies") {
    val (epIn, brokerIn) = freshEndpoint("rt-in")
    val (epOut, _) = freshEndpoint("rt-out")
    brokerIn.send("my_address", AmqpMessage(messageId = Some("m1"),
      body = AmqpValueBody(Seq("field_a" -> "a string", "field_b" -> 1))))
    brokerIn.send("my_address", AmqpMessage(messageId = Some("m2"),
      body = AmqpValueBody("{looks like json but is a string")))
    brokerIn.send("my_address", AmqpMessage(messageId = Some("m3"),
      body = AmqpDataBody("bytes!".getBytes("UTF-8"))))
    // batch read of the replayable window → batch write
    spark.read.format("amqp").option("endpoint", epIn).option("address", "my_address")
      .load()
      .write.format("amqp").option("endpoint", epOut).option("address", "my_address").mode("append").save()
    // read the copy back and compare the body union tags + content
    val copied = spark.read.format("amqp")
      .option("endpoint", epOut).option("address", "my_address").load()
      .select("message_id", "body_type", "body", "body_binary")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(copied == Map("m1" -> "amqpValueJson", "m2" -> "amqpValue", "m3" -> "data"))
    val m1 = AmqpEndpointRegistry.broker(epOut).fetch("my_address", 0, 3)
      .find(_._2.messageId.contains("m1")).get._2
    assert(m1.body == AmqpJsonBody("""{"field_a":"a string","field_b":1}"""))
    val m2 = AmqpEndpointRegistry.broker(epOut).fetch("my_address", 0, 3)
      .find(_._2.messageId.contains("m2")).get._2
    assert(m2.body == AmqpValueBody("{looks like json but is a string"))
  }

  test("streaming write: each micro-batch publishes exactly once") {
    val (epIn, brokerIn) = freshEndpoint("s-in")
    val (epOut, brokerOut) = freshEndpoint("s-out")
    (1 to 5).foreach(i =>
      brokerIn.send("my_address", AmqpMessage(body = AmqpValueBody(s"m-$i"))))
    val ckpt = graft.Scratch.dir("amqp-sink-ckpt").toString
    val q = spark.readStream.format("amqp")
      .option("endpoint", epIn).option("address", "my_address").load()
      .writeStream.format("amqp")
      .option("endpoint", epOut).option("address", "copied")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      poll { assert(brokerOut.latestSeq("copied") == 5) }
      (6 to 8).foreach(i =>
        brokerIn.send("my_address", AmqpMessage(body = AmqpValueBody(s"m-$i"))))
      q.processAllAvailable()
      poll { assert(brokerOut.latestSeq("copied") == 8) }
      val bodies = brokerOut.fetch("copied", 0, 8).map(_._2.body).collect {
        case AmqpValueBody(s: String) => s
      }
      assert(bodies.toSet == (1 to 8).map(i => s"m-$i").toSet)
      // the sink face of the observability story (ReportsSinkMetrics):
      // committed epochs + broker-accepted rows ride sink.metrics in
      // StreamingQueryProgress — and nothing was replayed or aborted
      poll {
        val m = q.lastProgress.sink.metrics
        assert(m.get("publishedMessagesTotal").toLong == 8, m.toString)
        assert(m.get("committedEpochsTotal").toLong >= 2, m.toString)
        assert(m.get("replayedEpochsTotal") == "0" &&
          m.get("abortedEpochsTotal") == "0", m.toString)
      }
    } finally q.stop()
  }

  test("full topology: AMQP source → windowed aggregate → AMQP sink") {
    // The complete user pipeline the reference's example sketches
    // (sensor → reduceByWindow(max) → output, AMQPTemperature.scala in
    // /root/reference, with its result re-published via ProtonSender in
    // the example's responder): ingest an AMQP temperature stream,
    // aggregate a 5-second windowed max in update mode, publish each
    // window's result back out as an AMQP message.
    val (epIn, brokerIn) = freshEndpoint("topo-in")
    val (epOut, brokerOut) = freshEndpoint("topo-out")
    val base = 500L * 1000000L
    for ((t, at) <- Seq((21, 0L), (24, 1L), (19, 2L), (30, 6L), (28, 7L)))
      brokerIn.send("my_address",
        AmqpMessage(body = AmqpValueBody(t.toString)),
        timestampMicros = base + at * 1000000L)
    val ckpt = graft.Scratch.dir("amqp-topo-ckpt").toString
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.IntegerType
    val q = spark.readStream.format("amqp")
      .option("endpoint", epIn).option("address", "my_address").load()
      .select(AmqpConverters.amqpBodyAs(IntegerType).as("t"), col("ingest_timestamp"))
      .withWatermark("ingest_timestamp", "1 second")
      .groupBy(window(col("ingest_timestamp"), "5 seconds"))
      .agg(max(col("t")).as("max_t"))
      .select(
        col("window.start").cast("long").cast("string").as("subject"),
        col("max_t").cast("string").as("body"))
      .writeStream.format("amqp")
      .option("endpoint", epOut).option("address", "window_max")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      poll {
        val out = brokerOut.fetch("window_max", 0, brokerOut.latestSeq("window_max"))
          .map(_._2)
        // update mode re-publishes a window when its max advances; the
        // LAST message per window carries the final max
        val finalPerWindow = out.groupBy(_.subject.get)
          .map { case (w, ms) => w -> ms.last.body }
        assert(finalPerWindow == Map(
          "500" -> AmqpValueBody("24"), "505" -> AmqpValueBody("30")),
          s"got $finalPerWindow")
      }
    } finally q.stop()
  }

  test("epoch replay is idempotent: a committed epoch publishes nothing twice") {
    val (ep, broker) = freshEndpoint("idem")
    val msgs = Seq(AmqpMessage(body = AmqpValueBody("once")))
    broker.stage("q1#7", 0, msgs)
    assert(broker.commitStaged("q1#7", "q1", 7L, "out") == 1)
    // replayed epoch after a restart: same query, same epoch, re-staged
    broker.stage("q1#7", 0, msgs)
    assert(broker.commitStaged("q1#7", "q1", 7L, "out") == -1)
    assert(broker.latestSeq("out") == 1)
    // the next epoch goes through
    broker.stage("q1#8", 0, msgs)
    assert(broker.commitStaged("q1#8", "q1", 8L, "out") == 1)
    assert(broker.latestSeq("out") == 2)
  }

  test("task retry is idempotent: re-staging a partition replaces, not appends") {
    val (ep, broker) = freshEndpoint("retry")
    val attempt1 = Seq(AmqpMessage(body = AmqpValueBody("a")),
      AmqpMessage(body = AmqpValueBody("b")))
    broker.stage("q2#1", 3, attempt1)
    broker.stage("q2#1", 3, attempt1) // speculative duplicate of partition 3
    broker.stage("q2#1", 4, Seq(AmqpMessage(body = AmqpValueBody("c"))))
    assert(broker.commitStaged("q2#1", "q2", 1L, "out") == 3)
    assert(broker.latestSeq("out") == 3)
  }

  test("abort discards the staged transaction") {
    val (ep, broker) = freshEndpoint("abort")
    broker.stage("q3#1", 0, Seq(AmqpMessage(body = AmqpValueBody("x"))))
    broker.abortStaged("q3#1")
    assert(broker.commitStaged("q3#1", "q3", 1L, "out") == 0)
    assert(broker.latestSeq("out") == 0)
  }

  test("sink propertyColumns lifts string columns to application properties") {
    val (ep, broker) = freshEndpoint("proplift")
    import spark.implicits._
    // a map column AND lifted columns: a lifted column OWNS its key —
    // it overrides the same-keyed map entry, and a NULL lifted value
    // means ABSENT even when the map carries that key (the map entry
    // must not leak through)
    Seq(
      ("m1", "click", "r1", "b1"),
      ("m2", "view", null, "b2"))
      .toDF("message_id", "kind", "region", "body")
      .withColumn("application_properties",
        map(lit("kind"), lit("stale"), lit("region"), lit("stale2"), lit("extra"), lit("kept")))
      .write.format("amqp").option("endpoint", ep).option("address", "out")
      .option("propertyColumns", "kind,region")
      .mode("append").save()
    val byId = broker.fetch("out", 0, 2)
      .map(m => m._2.messageId.get -> m._2.applicationProperties.toMap).toMap
    assert(byId("m1") == Map("extra" -> "kept", "kind" -> "click", "region" -> "r1"),
      s"lifted values must override the map entry: ${byId("m1")}")
    assert(byId("m2") == Map("extra" -> "kept", "kind" -> "view"),
      s"NULL lifted value must mean absent (no map leak-through): ${byId("m2")}")
    // source-side lift reads them straight back as columns
    val back = spark.read.format("amqp")
      .option("endpoint", ep).option("address", "out")
      .option("propertyColumns", "kind,region").load()
      .select(col("message_id"), col("kind"), col("region"))
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(back == Set(("m1", "click", Some("r1")), ("m2", "view", None)))
    // shadowing an envelope column refuses on the sink too
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq
    val e = intercept[Exception] {
      Seq(("x", "y")).toDF("subject", "body")
        .write.format("amqp").option("endpoint", ep).option("address", "out2")
        .option("propertyColumns", "subject").mode("append").save()
    }
    assert(chain(e).exists(_.contains("shadow")), chain(e).mkString("\n"))
    // a configured property column missing from the schema (typo) or of
    // the wrong type refuses loudly — silently writing every message
    // without the property would be quiet data loss
    val typo = intercept[Exception] {
      Seq(("click", "y")).toDF("kind", "body")
        .write.format("amqp").option("endpoint", ep).option("address", "out2")
        .option("propertyColumns", "kinds").mode("append").save()
    }
    assert(chain(typo).exists(_.contains("not present")), chain(typo).mkString("\n"))
  }
}
