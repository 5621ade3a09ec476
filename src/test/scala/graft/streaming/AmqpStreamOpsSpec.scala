package graft.streaming

import scala.concurrent.duration._

import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}

import graft.SparkSpecBase

/** Stateful operators over the AMQP stream: bounded-state dedup by
  * message id, and the flatMapGroupsWithState running-max change-log
  * (the stateful generalization of the reference's reduceByWindow(max)
  * demo). */
class AmqpStreamOpsSpec extends SparkSpecBase {

  private def poll[T](f: => T): T =
    eventually(timeout(30.seconds), interval(500.millis))(f)

  private def freshEndpoint(name: String): (String, InMemoryAmqpBroker) = {
    val ep = s"mem://ops-$name"
    AmqpEndpointRegistry.reset(ep)
    (ep, AmqpEndpointRegistry.broker(ep))
  }

  private def stream(ep: String) =
    spark.readStream.format("amqp")
      .option("endpoint", ep).option("address", "my_address").load()

  test("lagReport: lag tracks the backlog, returns to zero after catch-up, refuses a virgin checkpoint") {
    val (ep, broker) = freshEndpoint("lag")
    val ckpt = graft.Scratch.dir("ops-lag-ckpt").toString
    // a checkpoint with no committed batch is a refusal, not a zero row
    intercept[IllegalArgumentException] {
      AmqpStreamOps.lagReport(spark, ep, ckpt)
    }
    (1 to 7).foreach(i => broker.send("my_address",
      AmqpMessage(body = AmqpValueBody(s"a-$i"))))
    def drain(): Unit = {
      val q = stream(ep).groupBy().count()
        .writeStream.format("memory").queryName("ops_lag")
        .option("checkpointLocation", ckpt).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(60000)) finally q.stop()
    }
    drain()
    (1 to 3).foreach(i => broker.send("my_address",
      AmqpMessage(body = AmqpValueBody(s"b-$i"))))
    val r1 = AmqpStreamOps.lagReport(spark, ep, ckpt).collect()
    assert(r1.length == 1)
    assert(r1(0).getAs[String]("address") == "my_address")
    assert(r1(0).getAs[Long]("head_seq") == 10 &&
      r1(0).getAs[Long]("committed_seq") == 7 && r1(0).getAs[Long]("lag") == 3)
    drain() // catch up: the consumer's position advances to the head
    val r2 = AmqpStreamOps.lagReport(spark, ep, ckpt).collect()
    assert(r2(0).getAs[Long]("committed_seq") == 10 && r2(0).getAs[Long]("lag") == 0)
  }

  test("topKLeaderboardTws: cross-batch merge, below-floor arrivals stay quiet") {
    val (ep, broker) = freshEndpoint("board")
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Int])]
      val env = stream(ep).withColumn("v",
        org.apache.spark.sql.functions.col("body").cast("int"))
      val q = AmqpStreamOps.topKLeaderboardTws(env, "subject", "v", 2)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[AmqpStreamOps.LeaderboardUpdate], _: Long) =>
          val got = b.collect().map(u => (u.key, u.top))
          emitted.synchronized { emitted ++= got }
          ()
        }.start()
      def send(v: Int): Unit = broker.send("my_address",
        AmqpMessage(subject = Some("k"), body = AmqpValueBody(v.toString)))
      try {
        send(10); send(30)
        q.processAllAvailable()
        assert(emitted.toSeq == Seq(("k", Seq(30, 10))), s"initial board: $emitted")
        send(5) // below the floor: state read, board unchanged, no emission
        q.processAllAvailable()
        assert(emitted.length == 1, s"below-floor arrival must stay quiet: $emitted")
        send(20) // displaces 10 — the cross-batch merge against RocksDB state
        q.processAllAvailable()
        assert(emitted.toSeq.last == (("k", Seq(30, 20))), s"merged board: $emitted")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  test("dedupByMessageId drops redelivered ids within the watermark") {
    val (ep, broker) = freshEndpoint("dedup")
    val base = 100L * 1000000L
    def send(id: String, atSec: Long): Unit =
      broker.send("my_address",
        AmqpMessage(messageId = Some(id), body = AmqpValueBody(id)),
        timestampMicros = base + atSec * 1000000L)
    send("m-1", 0); send("m-2", 1); send("m-1", 2) // m-1 redelivered
    val q = AmqpStreamOps.dedupByMessageId(stream(ep))
      .select("message_id")
      .writeStream.format("memory").queryName("ops_dedup").outputMode("append").start()
    try {
      q.processAllAvailable()
      send("m-2", 3); send("m-3", 4) // second batch: m-2 is a dup
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_dedup").collect().map(_.getString(0)).toSeq
        assert(got.sorted == Seq("m-1", "m-2", "m-3"))
      }
    } finally q.stop()
  }

  test("stateful agg runs on the RocksDB state store (the large-state path)") {
    // At 100 TB the streaming state (dedup ids, window partials,
    // session state) outgrows the executor heap; the deployment answer
    // is the RocksDB state store provider (bundled with Spark). This
    // pins that our stateful operators run unchanged on it — same
    // results, state off-heap/on-disk.
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (ep, broker) = freshEndpoint("rocks")
    val base = 100L * 1000000L
    def send(id: String, atSec: Long): Unit =
      broker.send("my_address",
        AmqpMessage(messageId = Some(id), body = AmqpValueBody(id)),
        timestampMicros = base + atSec * 1000000L)
    send("r-1", 0); send("r-2", 1); send("r-1", 2)
    val q = AmqpStreamOps.dedupByMessageId(stream(ep))
      .select("message_id")
      .writeStream.format("memory").queryName("ops_rocks").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.customMetrics.containsKey("rocksdbGetCount")),
        "query must actually be running on the RocksDB provider")
      poll {
        val got = spark.table("ops_rocks").collect().map(_.getString(0)).toSeq
        assert(got.sorted == Seq("r-1", "r-2"))
      }
    } finally {
      q.stop()
      before match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch sink: epoch-keyed idempotent writes (foreachRDD parity)") {
    // SURVEY §2.2: the reference's tests collect via foreachRDD; the
    // Structured Streaming mapping is foreachBatch, with the batchId as
    // the idempotence key (overwrite-by-epoch = exactly-once on retry).
    val (ep, broker) = freshEndpoint("feb")
    val out = graft.Scratch.dir("graft-feb").toString
    (1 to 8).foreach(i => broker.send("my_address",
      AmqpMessage(body = AmqpValueBody(s"m-$i")), timestampMicros = i * 1000000L))
    val q = stream(ep).selectExpr("CAST(body AS STRING) AS body")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/epoch=$id")
      }
      .option("checkpointLocation",
        graft.Scratch.dir("graft-feb-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      poll {
        val got = spark.read.parquet(out).collect().map(_.getString(0)).toSet
        assert(got == (1 to 8).map(i => s"m-$i").toSet)
      }
    } finally q.stop()
  }

  test("console sink runs the print() demo end-to-end") {
    // SURVEY §2.2: AMQPTemperature.scala's print() maps to the console
    // sink; assert the query processes the stream without error.
    val (ep, broker) = freshEndpoint("console")
    (1 to 3).foreach(i => broker.send("my_address",
      AmqpMessage(body = AmqpValueBody(i.toString)), timestampMicros = i * 1000000L))
    val q = stream(ep).selectExpr("CAST(body AS STRING) AS body")
      .writeStream.format("console").option("numRows", 5).start()
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(q.recentProgress.exists(_.numInputRows > 0))
    } finally q.stop()
  }

  test("incremental corpus dedup: stream-static anti-join on content hash") {
    // The streaming face of dedup_exact: documents arriving on the wire
    // are dropped when their content hash already exists in the static
    // corpus — at scale the corpus side is a bucketed/Bloom-backed
    // table; the anti-join shape is identical.
    val (ep, broker) = freshEndpoint("incdedup")
    import spark.implicits._
    val known = Seq("seen before").toDF("text")
      .selectExpr("md5(text) AS content_hash")
    Seq("seen before", "brand new", "also new").zipWithIndex.foreach { case (t, i) =>
      broker.send("my_address", AmqpMessage(body = AmqpValueBody(t)),
        timestampMicros = i * 1000000L)
    }
    val q = stream(ep)
      .selectExpr("CAST(body AS STRING) AS text", "md5(CAST(body AS STRING)) AS content_hash")
      .join(known, Seq("content_hash"), "left_anti")
      .writeStream.format("memory").queryName("ops_incdedup").outputMode("append").start()
    try {
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_incdedup").collect().map(_.getString(1)).toSet
        assert(got == Set("brand new", "also new"))
      }
    } finally q.stop()
  }

  test("stream-static join: envelope stream enriched against a broadcast dimension") {
    val (ep, broker) = freshEndpoint("enrich")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // static dimension: device -> site (tiny → broadcast side)
    val sites = Seq(("dev-a", "berlin"), ("dev-b", "oslo")).toDF("device", "site")
    Seq("dev-a" -> "20", "dev-b" -> "30", "dev-c" -> "40").foreach { case (dev, t) =>
      broker.send("my_address", AmqpMessage(subject = Some(dev),
        body = AmqpValueBody(t)))
    }
    val q = stream(ep)
      .select(col("subject").as("device"),
        AmqpConverters.amqpBodyAs(org.apache.spark.sql.types.IntegerType).as("t"))
      .join(broadcast(sites), Seq("device"), "left")
      .writeStream.format("memory").queryName("ops_enrich").outputMode("append").start()
    try {
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_enrich").collect()
          .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
        assert(got == Set(("dev-a", 20, Some("berlin")), ("dev-b", 30, Some("oslo")),
          ("dev-c", 40, None)))
      }
    } finally q.stop()
  }

  test("stream-stream interval join: two AMQP streams correlated within ±5s") {
    val (epL, brokerL) = freshEndpoint("ss-left")
    val (epR, brokerR) = freshEndpoint("ss-right")
    import org.apache.spark.sql.functions._
    val base = 100L * 1000000L
    def send(b: InMemoryAmqpBroker, dev: String, v: String, atSec: Long): Unit =
      b.send("my_address", AmqpMessage(subject = Some(dev), body = AmqpValueBody(v)),
        timestampMicros = base + atSec * 1000000L)
    send(brokerL, "dev-a", "p1", 10); send(brokerL, "dev-b", "p2", 20)
    send(brokerR, "dev-a", "c1", 8)   // within 5s of p1 → joins
    send(brokerR, "dev-a", "c2", 30)  // 20s away → no match
    send(brokerR, "dev-b", "c3", 23)  // within 5s of p2 → joins
    val left = stream(epL)
      .select(col("subject").as("dev"), AmqpConverters.amqpBody.as("l_val"),
        col("ingest_timestamp").as("l_ts"))
      .withWatermark("l_ts", "30 seconds")
    val right = stream(epR)
      .select(col("subject").as("r_dev"), AmqpConverters.amqpBody.as("r_val"),
        col("ingest_timestamp").as("r_ts"))
      .withWatermark("r_ts", "30 seconds")
    val q = left.join(right, expr(
        "dev = r_dev AND r_ts BETWEEN l_ts - INTERVAL 5 SECONDS AND l_ts + INTERVAL 5 SECONDS"))
      .select("l_val", "r_val")
      .writeStream.format("memory").queryName("ops_ssjoin").outputMode("append").start()
    try {
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_ssjoin").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(got == Set("p1" -> "c1", "p2" -> "c3"))
      }
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join null-pads unmatched rows after watermark eviction") {
    // The hard stream-stream case: an outer join can only emit the
    // null-padded side once the watermark proves no match can still
    // arrive — state eviction, not just correlation.
    val (epL, brokerL) = freshEndpoint("sso-left")
    val (epR, brokerR) = freshEndpoint("sso-right")
    import org.apache.spark.sql.functions._
    val base = 100L * 1000000L
    def send(b: InMemoryAmqpBroker, dev: String, v: String, atSec: Long): Unit =
      b.send("my_address", AmqpMessage(subject = Some(dev), body = AmqpValueBody(v)),
        timestampMicros = base + atSec * 1000000L)
    send(brokerL, "dev-a", "m1", 10) // matched by c1
    send(brokerL, "dev-b", "m2", 12) // never matched → null-padded row
    send(brokerR, "dev-a", "c1", 11)
    val left = stream(epL)
      .select(col("subject").as("dev"), AmqpConverters.amqpBody.as("l_val"),
        col("ingest_timestamp").as("l_ts"))
      .withWatermark("l_ts", "5 seconds")
    val right = stream(epR)
      .select(col("subject").as("r_dev"), AmqpConverters.amqpBody.as("r_val"),
        col("ingest_timestamp").as("r_ts"))
      .withWatermark("r_ts", "5 seconds")
    val q = left.join(right, expr(
        "dev = r_dev AND r_ts BETWEEN l_ts - INTERVAL 2 SECONDS AND l_ts + INTERVAL 2 SECONDS"),
        "leftOuter")
      .select("l_val", "r_val")
      .writeStream.format("memory").queryName("ops_ssouter").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance BOTH watermarks far past m2's join window so the state
      // store can prove no partner will arrive and emits the padded row
      send(brokerL, "dev-z", "late-l", 60)
      send(brokerR, "dev-z", "late-r", 90)
      q.processAllAvailable()
      send(brokerR, "dev-z2", "later-r", 120) // second advance to flush
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_ssouter").collect()
          .map(r => (r.getString(0), Option(r.getString(1)))).toSet
        assert(got.contains(("m1", Some("c1"))), s"inner match missing: $got")
        assert(got.contains(("m2", None)),
          s"unmatched left row must surface null-padded after eviction: $got")
      }
    } finally q.stop()
  }

  test("runningMaxChangelog emits only when a key's max advances") {
    val (ep, broker) = freshEndpoint("runmax")
    def send(device: String, temp: Int): Unit =
      broker.send("my_address", AmqpMessage(subject = Some(device),
        body = AmqpValueBody(temp.toString)))
    send("dev-a", 20); send("dev-a", 25); send("dev-b", 30)
    val q = AmqpStreamOps.runningMaxChangelog(stream(ep), "subject", "body")
      .writeStream.format("memory").queryName("ops_runmax").outputMode("append").start()
    try {
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_runmax").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSet
        assert(got == Set("dev-a" -> 25, "dev-b" -> 30))
      }
      // batch 2: lower temps emit nothing; a new high emits one row
      send("dev-a", 24); send("dev-b", 31)
      q.processAllAvailable()
      poll {
        val got = spark.table("ops_runmax").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSet
        assert(got == Set("dev-a" -> 25, "dev-b" -> 30, "dev-b" -> 31))
      }
    } finally q.stop()
  }

  test("transformWithState running max matches the flatMapGroupsWithState operator") {
    // Spark 4's new arbitrary-state API only runs on the RocksDB state
    // store; scope the provider to this query and restore after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (ep, broker) = freshEndpoint("runmaxtws")
      def send(device: String, temp: Int): Unit =
        broker.send("my_address", AmqpMessage(subject = Some(device),
          body = AmqpValueBody(temp.toString)))
      send("dev-a", 20); send("dev-a", 25); send("dev-b", 30)
      val q = AmqpStreamOps.runningMaxChangelogTws(stream(ep), "subject", "body")
        .writeStream.format("memory").queryName("ops_runmax_tws")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        poll {
          val got = spark.table("ops_runmax_tws").collect()
            .map(r => (r.getString(0), r.getInt(1))).toSet
          assert(got == Set("dev-a" -> 25, "dev-b" -> 30))
        }
        // identical advance-only semantics as the old-API operator:
        // stale reading emits nothing, a new high emits exactly one row
        send("dev-a", 24); send("dev-b", 31)
        q.processAllAvailable()
        poll {
          val got = spark.table("ops_runmax_tws").collect()
            .map(r => (r.getString(0), r.getInt(1))).toSet
          assert(got == Set("dev-a" -> 25, "dev-b" -> 30, "dev-b" -> 31))
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a late within-watermark event cannot shrink the session timer (no premature split)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (ep, broker) = freshEndpoint("sesslate")
      val base = 100000L * 1000000L
      def send(k: String, v: Int, atSec: Long): Unit =
        broker.send("my_address", AmqpMessage(subject = Some(k),
          body = AmqpValueBody(v.toString)),
          timestampMicros = base + atSec * 1000000L)
      // 2h watermark delay keeps the late event deliverable; 60s gap
      send("sess-x", 1, 1000); send("sess-x", 2, 1010) // timer -> 1070s
      val q = AmqpStreamOps.sessionFlushTws(stream(ep), "subject", "body",
          gapMs = 60000L, watermarkDelay = "2 hours")
        .writeStream.format("memory").queryName("ops_sesslate")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // LATE (but within-watermark) event: ts below the session's max.
        // A buggy re-arm to 950+60=1010s would fire at the next step.
        send("sess-x", 4, 950)
        q.processAllAvailable()
        // watermark -> 8250-7200 = 1050s: between the buggy deadline
        // (1010s) and the correct one (1070s)
        send("anchor", 1, 8250)
        q.processAllAvailable(); q.processAllAvailable()
        assert(spark.table("ops_sesslate")
          .filter(org.apache.spark.sql.functions.col("key") === "sess-x").count() == 0,
          "session flushed prematurely: a late event shrank the timer")
        // far anchor flushes the intact session exactly once with all 3 events
        send("anchor2", 1, 20000)
        q.processAllAvailable(); q.processAllAvailable()
        poll {
          val got = spark.table("ops_sesslate")
            .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
            .filter(_._1 == "sess-x")
          assert(got.toSeq == Seq(("sess-x", 3, 7)), got.mkString(","))
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("one batch spanning an idle gap splits into event-time islands (batch invariance)") {
    // A deep-backlog replay (Trigger.AvailableNow) lands a key's whole
    // timeline in ONE batch; sessions must still be the event-time
    // islands — not one merged mega-session — or output would depend on
    // where the micro-batch planner happened to cut batches.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (ep, broker) = freshEndpoint("sessisland")
      val base = 100000L * 1000000L
      def send(k: String, v: Int, atSec: Long): Unit =
        broker.send("my_address", AmqpMessage(subject = Some(k),
          body = AmqpValueBody(v.toString)),
          timestampMicros = base + atSec * 1000000L)
      // ALL in one batch, DELIBERATELY out of ts order: three islands
      // of sess-i (gap 60s): [0,10], [100,130], [300]
      send("sess-i", 1, 100); send("sess-i", 2, 0); send("sess-i", 4, 300)
      send("sess-i", 8, 10); send("sess-i", 16, 130)
      val q = AmqpStreamOps.sessionFlushTws(stream(ep), "subject", "body",
          gapMs = 60000L)
        .writeStream.format("memory").queryName("ops_sessisland")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // the two COMPLETED islands flushed in-line from the data batch
        poll {
          val got = spark.table("ops_sessisland").collect()
            .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
          assert(got == Set(("sess-i", 2, 10), ("sess-i", 2, 17)), got.toString)
        }
        // the tail island [300] stays OPEN under its timer until the
        // watermark passes 360s
        send("anchor", 1, 10000)
        q.processAllAvailable(); q.processAllAvailable()
        poll {
          val got = spark.table("ops_sessisland").collect()
            .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
            .filter(_._1 == "sess-i").toSet
          assert(got == Set(("sess-i", 2, 10), ("sess-i", 2, 17), ("sess-i", 1, 4)),
            got.toString)
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("event-time timers flush idle sessions exactly once (transformWithState)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (ep, broker) = freshEndpoint("sessflush")
      val base = 1000L * 1000000L // µs epoch anchor
      def send(k: String, v: Int, atSec: Long): Unit =
        broker.send("my_address", AmqpMessage(subject = Some(k),
          body = AmqpValueBody(v.toString)),
          timestampMicros = base + atSec * 1000000L)
      // sessions: A gets two events, B one; 60s idle gap flushes
      send("sess-a", 10, 0); send("sess-a", 15, 10); send("sess-b", 7, 5)
      val q = AmqpStreamOps.sessionFlushTws(stream(ep), "subject", "body",
          gapMs = 60000L)
        .writeStream.format("memory").queryName("ops_sessflush")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // nothing idle yet: watermark sits at t=10s, timers at 70s/65s
        assert(spark.table("ops_sessflush").count() == 0)
        // an anchor 10 minutes later pushes the watermark past both
        // timers: A and B flush; the anchor's own session stays open
        send("anchor", 1, 600)
        q.processAllAvailable()
        q.processAllAvailable() // no-data batch executes expired timers
        poll {
          val got = spark.table("ops_sessflush").collect()
            .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
          assert(got == Set(("sess-a", 2, 25), ("sess-b", 1, 7)), got.toString)
        }
        // a second far-future anchor flushes the first anchor's session
        send("anchor2", 1, 1800)
        q.processAllAvailable()
        q.processAllAvailable()
        poll {
          val got = spark.table("ops_sessflush").collect()
            .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
          assert(got == Set(("sess-a", 2, 25), ("sess-b", 1, 7), ("anchor", 1, 1)),
            got.toString)
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
