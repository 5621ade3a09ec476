package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase

/** State TTL + RocksDB changelog checkpointing — the two
  * `transformWithState` operational claims SURVEY §2.3 makes for
  * long-running pipelines, pinned here at spec level (the oracle gate
  * `amqp_stream_dedup_ttl` drives the same operator end-to-end):
  *
  *  - a TTL'd register SUPPRESSES within its window, including across
  *    micro-batch boundaries (the timing-sensitive half the gate
  *    deliberately leaves to this spec, using a TTL far longer than any
  *    batch gap);
  *  - an expired register EVICTS and the key RE-ADMITS;
  *  - changelog checkpointing writes real `.changelog` files into the
  *    checkpoint's state directory, and a restarted query recovers its
  *    registers from them.
  */
class TtlStateSpec extends SparkSpecBase {

  private def freshEndpoint(name: String): (String, InMemoryAmqpBroker) = {
    val ep = s"mem://$name"
    AmqpEndpointRegistry.reset(ep)
    (ep, AmqpEndpointRegistry.broker(ep))
  }

  private def withRocksDbChangelog[T](f: => T): T = {
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One AvailableNow drain of the TTL'd dedup over `ep`, collecting
    * emitted ids into `sink`. */
  private def drain(ep: String, ckpt: String, ttl: java.time.Duration,
      sink: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val env: DataFrame = spark.readStream.format("amqp")
      .option("endpoint", ep).option("address", "my_address").load()
    val q = AmqpStreamOps.dedupByIdTtlTws(env, ttl)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[AmqpStreamOps.TtlDedupEmit], _: Long) =>
          val got = b.collect().map(_.message_id)
          sink.synchronized { sink ++= got }
          ()
      }
      // Trigger.Once, NOT AvailableNow: in ProcessingTime time mode
      // TransformWithStateExec.shouldRunAnotherBatch stays true (so
      // processing-time timers/TTL can keep advancing), which makes an
      // AvailableNow run re-trigger forever; Once runs exactly one
      // batch — also the determinism the assertions want.
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    try assert(q.awaitTermination(120000), "ttl dedup query hung")
    finally q.stop()
  }

  test("TTL'd register suppresses across micro-batches within the window, evicts and re-admits after it") {
    val (ep, broker) = freshEndpoint("ttl-dedup")
    val ckpt = graft.Scratch.dir("ttl-dedup-ckpt").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    withRocksDbChangelog {
      // batch 1: ids a,b admitted
      broker.send("my_address", AmqpMessage(messageId = Some("a"), body = AmqpValueBody("1")))
      broker.send("my_address", AmqpMessage(messageId = Some("b"), body = AmqpValueBody("2")))
      drain(ep, ckpt, java.time.Duration.ofMinutes(10), emitted)
      assert(emitted.sorted == Seq("a", "b"))
      // batch 2 (separate run = separate micro-batch, restart from the
      // checkpoint): copies arrive well inside the 10-minute TTL — the
      // register, recovered via changelog replay, suppresses BOTH
      broker.send("my_address", AmqpMessage(messageId = Some("a"), body = AmqpValueBody("1")))
      broker.send("my_address", AmqpMessage(messageId = Some("b"), body = AmqpValueBody("2")))
      broker.send("my_address", AmqpMessage(messageId = Some("c"), body = AmqpValueBody("3")))
      drain(ep, ckpt, java.time.Duration.ofMinutes(10), emitted)
      assert(emitted.sorted == Seq("a", "b", "c"),
        s"within-TTL copies must stay suppressed across batches AND a restart, got $emitted")
    }
    // eviction: a SHORT-TTL register lapses, the id re-admits
    val (ep2, broker2) = freshEndpoint("ttl-dedup-evict")
    val ckpt2 = graft.Scratch.dir("ttl-dedup-evict-ckpt").toString
    val emitted2 = scala.collection.mutable.ArrayBuffer.empty[String]
    withRocksDbChangelog {
      broker2.send("my_address", AmqpMessage(messageId = Some("x"), body = AmqpValueBody("1")))
      drain(ep2, ckpt2, java.time.Duration.ofSeconds(1), emitted2)
      assert(emitted2.toSeq == Seq("x"))
      Thread.sleep(2500) // 2.5x the TTL
      broker2.send("my_address", AmqpMessage(messageId = Some("x"), body = AmqpValueBody("1")))
      drain(ep2, ckpt2, java.time.Duration.ofSeconds(1), emitted2)
      assert(emitted2.toSeq == Seq("x", "x"),
        s"an evicted register must re-admit its id, got $emitted2")
    }
  }

  test("changelog checkpointing writes .changelog files into the checkpoint state dir") {
    val (ep, broker) = freshEndpoint("ttl-changelog")
    val ckpt = graft.Scratch.dir("ttl-changelog-ckpt").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    withRocksDbChangelog {
      (1 to 5).foreach(i => broker.send("my_address",
        AmqpMessage(messageId = Some(s"m$i"), body = AmqpValueBody(i.toString))))
      drain(ep, ckpt, java.time.Duration.ofMinutes(10), emitted)
    }
    assert(emitted.size == 5)
    // the state dir must contain version changelogs — the per-batch
    // delta uploads that replace whole-store snapshots; their absence
    // would mean the conf never reached the provider and every claim
    // about changelog-checkpointed recovery upstream is untested
    val stateDir = java.nio.file.Paths.get(ckpt, "state")
    assert(Files.exists(stateDir), s"no state dir under $ckpt")
    val changelogs = Files.walk(stateDir).iterator()
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    while (changelogs.hasNext) {
      val p = changelogs.next()
      if (p.toString.endsWith(".changelog")) found += p.toString
    }
    assert(found.nonEmpty,
      "changelog checkpointing enabled but no .changelog file exists under state/")
  }
}
