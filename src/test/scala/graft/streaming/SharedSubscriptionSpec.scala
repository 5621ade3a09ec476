package graft.streaming

import graft.SparkSpecBase

/** Shared subscription (competing consumers): the claim-lease dispatch
  * ledger in the broker, the work-sharing micro-batch stream over it,
  * and the failure contracts — redelivery on consumer death, rescue on
  * replay, loud loss on a re-dispatched claim.
  */
class SharedSubscriptionSpec extends SparkSpecBase {

  private def freshBroker(name: String): (String, InMemoryAmqpBroker) = {
    val ep = s"mem://$name"
    AmqpEndpointRegistry.reset(ep)
    (ep, AmqpEndpointRegistry.broker(ep))
  }

  private def pump(b: InMemoryAmqpBroker, address: String, n: Int, from: Int = 1): Unit =
    (from until from + n).foreach { i =>
      assert(b.send(address, AmqpMessage(messageId = Some(s"m$i"),
        body = AmqpValueBody(i.toString))) > 0)
    }

  test("claim ledger: dispatch, lease expiry, redelivery, rescue, loss, idempotent settle") {
    val (_, b) = freshBroker("claims")
    var now = 1000L
    b.clockMillis = () => now
    pump(b, "q", 100)

    // disjoint dispatch to two owners
    val a1 = b.claim("q", "g", "A", 30, leaseMillis = 5000)
    val b1 = b.claim("q", "g", "B", 30, leaseMillis = 5000)
    assert(a1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((0L, 30L)))
    assert(b1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((30L, 60L)))
    assert(a1.head.claimId != b1.head.claimId)

    // A settles; B dies (never settles). After B's lease lapses its
    // slice is REDELIVERED — and redeliveries outrank fresh backlog.
    b.settleClaims("q", "g", a1.map(_.claimId))
    now += 6000
    val c1 = b.claim("q", "g", "C", 35, leaseMillis = 5000)
    assert(c1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((30L, 60L), (60L, 65L)),
      s"dead consumer's slice redelivers first, then fresh rows; got $c1")

    // budget SPLITS a redeliverable slice; the remainder stays queued
    now += 6000 // C died too: (30,60] and (60,65] both redeliverable
    val d1 = b.claim("q", "g", "D", 10, leaseMillis = 5000)
    assert(d1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((30L, 40L)))
    val d2 = b.claim("q", "g", "D", 100, leaseMillis = 5000)
    assert(d2.map(c => (c.fromExclusive, c.toInclusive)) ==
      Seq((40L, 60L), (60L, 65L), (65L, 100L)))

    // renew extends a live lease (no loss), rescues an expired-but-
    // undispatched claim, and reports a re-dispatched one LOST
    assert(b.renewClaims("q", "g", "D", d1 ++ d2, 5000).isEmpty)
    now += 6000 // all of D's leases lapse
    assert(b.renewClaims("q", "g", "D", d1, 5000).isEmpty,
      "expired but undispatched: rescued under the original id")
    now += 6000 // the rescued claim re-expires — re-queued BEHIND older slices
    val e1 = b.claim("q", "g", "E", 10, leaseMillis = 5000)
    assert(e1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((40L, 50L)),
      s"redelivery follows expiry order, got $e1")

    // loss + idempotent settle, on a fresh address (one consuming group
    // per address is the contract — settlement deletes messages)
    pump(b, "q2", 20)
    val f1 = b.claim("q2", "g", "F", 10, leaseMillis = 1000)
    assert(f1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((0L, 10L)))
    now += 2000 // F dies; its slice re-dispatches to G
    val g1 = b.claim("q2", "g", "G", 10, leaseMillis = 5000)
    assert(g1.map(c => (c.fromExclusive, c.toInclusive)) == Seq((0L, 10L)))
    assert(b.renewClaims("q2", "g", "F", f1, 5000) == f1.map(_.claimId),
      "re-dispatched claim must report lost")

    // settle is idempotent and deletes exactly the claim's slice
    b.settleClaims("q2", "g", g1.map(_.claimId))
    b.settleClaims("q2", "g", g1.map(_.claimId)) // replayed commit: no-op
    val left = b.fetch("q2", 0, 20).map(_._1)
    assert(left.forall(_ > 10), "settled slice is gone")
    assert(left.exists(s => s > 10 && s <= 20), "unsettled rows remain")
    assert(b.settledUpTo("q2") == 10L, "the address floor advances over the settled prefix")
  }

  test("poison-message ceiling: a slice at max deliveries routes to the DLQ, annotated") {
    val (_, b) = freshBroker("poison")
    var now = 1000L
    b.clockMillis = () => now
    pump(b, "q", 10)
    b.configureGroupPolicy("q", "g", maxDeliveries = 3, Some("q-dlq"))
    // the whole backlog is claimed and the consumer dies — three times
    (1 to 3).foreach { i =>
      val cs = b.claim("q", "g", s"crash-$i", 100, leaseMillis = 1000)
      assert(cs.map(_.rows).sum == 10, s"attempt $i re-claims the backlog: $cs")
      now += 2000 // consumer dies; the lease lapses
    }
    // 4th dispatch: the ceiling fires — everything routes to the DLQ,
    // nothing is redelivered, the healthy claim gets an empty answer
    assert(b.claim("q", "g", "healthy", 100, leaseMillis = 1000).isEmpty)
    val dlq = b.fetch("q-dlq", 0, b.latestSeq("q-dlq"))
    assert(dlq.size == 10, s"poison lands in the DLQ: ${dlq.size}")
    val anns = dlq.head._2.messageAnnotations.toMap
    assert(anns.get("x-opt-dlq-reason").contains("max-deliveries") &&
      anns.get("x-opt-dlq-source").contains("q") &&
      anns.get("x-opt-dlq-deliveries").contains(3), anns.toString)
    assert(dlq.map(_._2.messageId.get).toSet == (1 to 10).map(i => s"m$i").toSet)
    // the source address is RESOLVED: ledger clean, backlog gone
    val st = b.groupStats("q", "g")
    assert(st.redeliverableRows == 0 && st.outstandingRows == 0, st.toString)
    assert(b.fetch("q", 0, b.latestSeq("q")).isEmpty)
    // a rescue keeps the expiry-time count (a rescue is the same
    // delivery resuming, not a new dispatch)
    pump(b, "q2", 4)
    b.configureGroupPolicy("q2", "g", maxDeliveries = 2, Some("q2-dlq"))
    val c1 = b.claim("q2", "g", "A", 10, leaseMillis = 1000) // deliveries=1
    now += 2000
    assert(b.renewClaims("q2", "g", "A", c1, 1000).isEmpty, "rescued")
    now += 2000 // lapse again: still deliveries=1 in the queue
    val c2 = b.claim("q2", "g", "B", 10, leaseMillis = 1000) // deliveries=2
    assert(c2.map(_.rows).sum == 4, "rescue must not have burned a delivery")
    now += 2000
    assert(b.claim("q2", "g", "C", 10, leaseMillis = 1000).isEmpty,
      "ceiling fires on the dispatch AFTER max deliveries")
    assert(b.fetch("q2-dlq", 0, b.latestSeq("q2-dlq")).size == 4)
    // a ceiling without a DLQ refuses — silent drop is never a default
    intercept[IllegalArgumentException](b.configureGroupPolicy("q", "g", 2, None))
  }

  test("claim surface round-trips the amqp10:// wire (probe-attach RPC framing)") {
    val backing = new InMemoryAmqpBroker
    pump(backing, "q", 40)
    val server = new Amqp10Server(backing)
    val client = new Amqp10Endpoint("127.0.0.1", server.port)
    try {
      // claim: redeliveries-first dispatch crosses the wire as triples
      val cs = client.claim("q", "g", "worker-1", 15, 60000)
      assert(cs.map(c => (c.fromExclusive, c.toInclusive)) == Seq((0L, 15L)))
      // an empty claim is an EMPTY LIST echo, not a missing extension
      assert(client.claim("q", "g", "worker-1", 0, 60000).isEmpty)
      // renew: live lease extends; another owner's renew reports lost
      assert(client.renewClaims("q", "g", "worker-1", cs, 60000).isEmpty)
      assert(client.renewClaims("q", "g", "worker-2", cs, 60000) == cs.map(_.claimId))
      // stats snapshot crosses as the 5-field list
      val st = client.groupStats("q", "g")
      assert(st == backing.groupStats("q", "g") &&
        st.outstandingRows == 15 && st.headSeq == 40, st.toString)
      // settle deletes exactly the claim's slice; replay is a no-op
      client.settleClaims("q", "g", cs.map(_.claimId))
      client.settleClaims("q", "g", cs.map(_.claimId))
      assert(client.fetch("q", 0, 40).map(_._1).forall(_ > 15))
      assert(client.settledUpTo("q") == 15L)
      // the poison policy rides a probe attach too; a refused policy
      // comes back as the broker's refusal, and the connection survives
      client.configureGroupPolicy("q", "g", 7, Some("q-dlq"))
      val refused = intercept[IllegalArgumentException](
        client.configureGroupPolicy("q", "g", 5, None))
      assert(refused.getMessage.contains("dead-letter address"), refused.getMessage)
      assert(client.groupStats("q", "g") == backing.groupStats("q", "g"))
      // a transport without the surface fails loudly, never degrades
      val bare: AmqpEndpoint = new AmqpEndpoint {
        def send(address: String, msg: AmqpMessage, timestampMicros: Long): Long = 0L
        def latestSeq(address: String): Long = 0L
        def fetch(address: String, fromExclusive: Long, toInclusive: Long): Seq[(Long, AmqpMessage, Long)] = Nil
        def settle(address: String, upTo: Long): Unit = ()
        def settledUpTo(address: String): Long = 0L
        def stage(txn: String, partitionId: Int, msgs: Seq[AmqpMessage]): Unit = ()
        def commitStaged(txn: String, queryId: String, epochId: Long, address: String,
            timestampMicros: Long, routeByTo: Boolean): Int = 0
        def abortStaged(txn: String): Unit = ()
      }
      intercept[UnsupportedOperationException](bare.claim("q", "g", "o", 1, 1000))
    } finally { client.close(); server.close() }
  }

  test("shared-offset JSON round-trips, including escaped addresses") {
    val off = AmqpSharedOffset("workers", 42L, Seq(
      "a\"weird\\addr" -> AmqpClaim(7, 10, 20),
      "plain" -> AmqpClaim(8, 0, 5)))
    val back = AmqpSharedOffset.fromJson(off.json())
    assert(back == off.copy(claims = off.claims.sortBy { case (a, c) => (a, c.claimId) }))
    val empty = AmqpSharedOffset("g", 0, Nil)
    assert(AmqpSharedOffset.fromJson(empty.json()) == empty)
  }

  test("two concurrent consuming streams work-share one address exactly once") {
    val (ep, broker) = freshBroker("shared-e2e")
    val dir = graft.Scratch.dir("shared-e2e")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    def consumer(idx: Int) = {
      spark.readStream.format("amqp")
        .option("endpoint", ep).option("address", "jobs")
        .option("sharedGroup", "workers")
        .option("maxMessagesPerTrigger", "25") // several batches each
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt$idx")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => emitted.add(
            (idx, r.getAs[String]("message_id"))))
          ()
        }
        .start()
    }
    pump(broker, "jobs", 200)
    val q1 = consumer(1)
    val q2 = consumer(2)
    try {
      q1.processAllAvailable()
      q2.processAllAvailable()
      // after both drained: re-check each once more (a claim raced the
      // other's processAllAvailable)
      q1.processAllAvailable()
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = emitted.asScala.toSeq
      val ids = got.map(_._2)
      assert(ids.size == 200 && ids.distinct.size == 200,
        s"union must be exactly-once: ${ids.size} rows, ${ids.distinct.size} distinct")
      assert(ids.toSet == (1 to 200).map(i => s"m$i").toSet)
      val byConsumer = got.groupBy(_._1).view.mapValues(_.size).toMap
      assert(byConsumer.keySet == Set(1, 2) && byConsumer.values.forall(_ > 0),
        s"both consumers must share the work, got split $byConsumer")
      // the stream reports the GROUP's ledger view per trigger: fully
      // drained, nothing is undispatched or awaiting redelivery; the
      // FINAL batches' leases may still be live (settlement lags one
      // batch, like Kafka offset commits) but never exceed two
      // consumers' trigger budgets
      val m = q1.lastProgress.sources.head.metrics
      assert(m.get("undispatchedMessages") == "0" &&
        m.get("redeliverableMessages") == "0",
        s"drained group must report zero dispatchable backlog: $m")
      assert(m.get("leasedMessages").toLong <= 2L * 25,
        s"leases must be at most the final batches' settle-lag: $m")
      // this CONSUMER's contribution rides the same progress metrics:
      // it claimed part of the backlog (never more than all of it) and
      // settled at least its earlier batches (settlement lags one)
      val claimed = m.get("claimedRowsTotal").toLong
      assert(claimed > 0 && claimed <= 200,
        s"member contribution must show in progress metrics: $m")
      assert(m.get("settledClaimsTotal").toLong > 0, m.toString)
    } finally { q1.stop(); q2.stop() }
  }

  test("a consumer's death hands its backlog to the group; the survivor finishes the queue") {
    val (ep, broker) = freshBroker("shared-death")
    val dir = graft.Scratch.dir("shared-death")
    pump(broker, "jobs", 60)
    // consumer A claims a slice directly (standing in for a query that
    // died between claiming and processing — deterministic, where
    // killing a live query mid-batch is a race)
    val doomed = broker.claim("jobs", "workers", s"$dir/ckptA", 20, leaseMillis = 2000)
    assert(doomed.nonEmpty && broker.outstandingClaims("jobs", "workers") == 1)
    Thread.sleep(2500) // A is dead; its lease lapses
    // consumer B drains everything that remains dispatchable — which
    // must INCLUDE A's redelivered slice
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("amqp")
      .option("endpoint", ep).option("address", "jobs")
      .option("sharedGroup", "workers")
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckptB")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => emitted.add(r.getAs[String]("message_id")))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet == (1 to 60).map(i => s"m$i").toSet,
        "the survivor must consume the dead consumer's redelivered slice too")
    } finally q.stop()
  }

  test("groupStats snapshots the dispatch ledger atomically, expiry applied first") {
    val (_, b) = freshBroker("group-stats")
    var now = 1000L
    b.clockMillis = () => now
    pump(b, "q", 40)
    val a1 = b.claim("q", "g", "A", 10, leaseMillis = 5000)
    b.claim("q", "g", "B", 10, leaseMillis = 1000) // B will die
    b.settleClaims("q", "g", a1.map(_.claimId))
    now += 2000 // B's lease lapses; A settled; 20 rows never dispatched
    val st = b.groupStats("q", "g")
    assert(st == AmqpGroupStats(headSeq = 40, dispatchedUpTo = 20,
      outstandingClaims = 0, outstandingRows = 0, redeliverableRows = 10), st)
    // and over the amqp10:// wire, the same snapshot crosses the socket
    val server = new Amqp10Server(b)
    val client = new Amqp10Endpoint("127.0.0.1", server.port)
    try assert(client.groupStats("q", "g") == st)
    finally { client.close(); server.close() }
  }

  test("shared stream honors maxMessagesPerSecond in its claim admission") {
    val (ep, b) = freshBroker("shared-rate")
    pump(b, "q", 1000)
    val cfg = AmqpSourceConfig(ep, "q", Seq("q"),
      maxPerTrigger = 10000, maxPerSecond = 100, sharedGroup = Some("g"))
    val stream = new AmqpSharedMicroBatchStream(cfg, "owner-1")
    var now = 0L
    stream.nanoClock = () => now
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    def admit(start: AmqpSharedOffset): AmqpSharedOffset =
      stream.latestOffset(start, ReadLimit.maxRows(10000))
        .asInstanceOf[AmqpSharedOffset]
    // first trigger claims one second's budget, NOT the trigger cap
    val o1 = admit(AmqpSharedOffset("g", 0, Nil))
    assert(o1.rows == 100, s"rate budget must cap the claim: ${o1.rows}")
    // 500ms later: half a second's budget
    now += 500L * 1000 * 1000
    val o2 = admit(o1)
    assert(o2.rows - o1.rows == 50, s"elapsed-time budget: ${o2.rows - o1.rows}")
    // the unclaimed backlog stays dispatchable to OTHER group members
    assert(b.claim("q", "g", "other", 10000, 60000).map(_.rows).sum == 850)
  }

  test("shared stream min-rows floor: hold below, fire at the delay ceiling, leave backlog claimable") {
    val (ep, b) = freshBroker("shared-minrows")
    val cfg = AmqpSourceConfig(ep, "q", Seq("q"),
      maxPerTrigger = 100, maxPerSecond = 0, sharedGroup = Some("g"),
      minPerTrigger = 5, maxTriggerDelayMillis = 10000)
    val stream = new AmqpSharedMicroBatchStream(cfg, "owner-min")
    var now = 1000L
    stream.wallClock = () => now
    val limit = stream.getDefaultReadLimit
    def admit(start: AmqpSharedOffset): AmqpSharedOffset =
      stream.latestOffset(start, limit).asInstanceOf[AmqpSharedOffset]
    val o0 = AmqpSharedOffset("g", 0, Nil)
    pump(b, "q", 3) // below the floor of 5
    now += 2000
    val held = admit(o0)
    assert(held eq o0, "below the floor: claim NOTHING")
    assert(b.groupStats("q", "g").dispatchedUpTo == 0,
      "held rows stay dispatchable to the rest of the group")
    pump(b, "q", 3, from = 4) // 6 total: floor reached
    val fired = admit(o0)
    assert(fired.rows == 6, s"floor reached: claim all, got ${fired.rows}")
    stream.commit(fired)
    // a sub-floor trickle fires once the delay ceiling lapses
    pump(b, "q", 1, from = 7)
    now += 9000
    assert(admit(fired).rows == fired.rows, "inside the re-anchored window: hold")
    now += 2000
    assert(admit(fired).rows == fired.rows + 1, "ceiling reached: fire below the floor")
  }

  test("sharedGroup refuses Trigger.AvailableNow with a targeted error") {
    val (ep, broker) = freshBroker("shared-avnow")
    pump(broker, "jobs", 10)
    val dir = graft.Scratch.dir("shared-avnow")
    val q = spark.readStream.format("amqp")
      .option("endpoint", ep).option("address", "jobs")
      .option("sharedGroup", "workers")
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000); ()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains(
      "sharedGroup does not support Trigger.AvailableNow")),
      s"refusal must be targeted, got: ${messages(e)}")
    // nothing was claimed by the refused query — the backlog is intact
    assert(broker.groupStats("jobs", "workers").dispatchedUpTo == 0L)
  }

  test("sharedGroup refuses contradictory modes") {
    val (ep, _) = freshBroker("shared-refuse")
    def load(opts: (String, String)*): Unit = {
      var r = spark.readStream.format("amqp")
        .option("endpoint", ep).option("address", "q").option("sharedGroup", "g")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load()
    }
    intercept[IllegalArgumentException](load("browse" -> "true"))
    intercept[IllegalArgumentException](load("startingTimestampMicros" -> "1"))
    intercept[IllegalArgumentException](load("respectTtl" -> "true"))
    // the poison policy options go together and need a group
    intercept[IllegalArgumentException](load("sharedMaxDeliveries" -> "3"))
    intercept[IllegalArgumentException](load("sharedDeadLetterAddress" -> "dlq"))
  }

  test("addressPattern composes with sharedGroup: discovery feeds the work-sharing claims") {
    val (ep, broker) = freshBroker("shared-pattern")
    val dir = graft.Scratch.dir("shared-pattern")
    // two queues exist up front; a third is created MID-STREAM
    (1 to 20).foreach(i => assert(broker.send("fleet-a",
      AmqpMessage(messageId = Some(s"a$i"), body = AmqpValueBody(s"$i"))) > 0))
    (1 to 15).foreach(i => assert(broker.send("fleet-b",
      AmqpMessage(messageId = Some(s"b$i"), body = AmqpValueBody(s"$i"))) > 0))
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("amqp")
      .option("endpoint", ep)
      .option("addressPattern", "fleet-*")
      .option("sharedGroup", "workers")
      .option("maxMessagesPerTrigger", "10")
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => emitted.add(r.getAs[String]("message_id")))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet ==
        ((1 to 20).map(i => s"a$i") ++ (1 to 15).map(i => s"b$i")).toSet,
        "both discovered queues drain exactly once")
      // a queue created mid-stream joins the shared subscription
      (1 to 5).foreach(i => assert(broker.send("fleet-c",
        AmqpMessage(messageId = Some(s"c$i"), body = AmqpValueBody(s"$i"))) > 0))
      q.processAllAvailable()
      assert(emitted.asScala.count(_.startsWith("c")) == 5,
        "the mid-stream queue's rows land exactly once")
      // the decoy outside the glob is never touched
      assert(broker.send("other-q", AmqpMessage(body = AmqpValueBody("x"))) > 0)
      q.processAllAvailable()
      assert(emitted.asScala.size == 40, "no rows beyond the pattern's queues")
      assert(broker.groupStats("other-q", "workers").dispatchedUpTo == 0)
    } finally q.stop()
  }
}
