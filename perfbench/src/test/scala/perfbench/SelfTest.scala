package perfbench

import graft.streaming.{Amqp10Codec, AmqpMessage, AmqpValueBody, InMemoryAmqpBroker}

/** Tests of the benchmark's own code. Run with
  * `python3 perfbench/build.py test`; exits non-zero on any failure. */
object SelfTest {
  private var passed = 0
  private var failed = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def assertTrue(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    percentiles()
    stalledGenerator()
    selfTime()
    timingBrokerPassThrough()
    gates()
    println(s"== $passed pass / $failed fail ==")
    sys.exit(if (failed == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    val xs = (1 to 1000).map(_.toDouble)
    check("p99 of 1000 samples leaves exactly 10 beyond and is supported") {
      assertEq(Stats.beyond(1000, 99.0), 10, "beyond")
      assertEq(Stats.supported(xs, 99.0), (990.01, 10, true), "p99")
    }
    check("p99 of 999 samples lacks support; p95 has it") {
      val ys = xs.take(999)
      assertEq(Stats.supported(ys, 99.0)._2, 9, "beyond p99")
      assertEq(Stats.supported(ys, 99.0)._3, false, "p99 supported")
      assertEq(Stats.supported(ys, 95.0)._3, true, "p95 supported")
    }
    check("quantiles interpolate like numpy") {
      assertEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "median")
      assertEq(Stats.quantile(xs, 0.99), 990.01, "p99")
    }
  }

  /** A generator whose send stalls 100 ms on the batch holding id 50: the
    * stall must show in that message's latency, in the latency of every
    * message that fell due during it, and in the generator's lateness. */
  def stalledGenerator(): Unit = check("a stalled generator's stall lands in later latencies") {
    val period = 1000000L // 1 ms
    val schedule = Schedule(System.nanoTime() + 20000000L, period, 300)
    val ledger = new LatencyLedger(schedule, measureFrom = 0)
    var stalled = false
    val gen = new Generator(schedule, ids => {
      if (!stalled && ids.contains(50L)) { stalled = true; Thread.sleep(100) }
      val now = System.nanoTime()
      ids.foreach(ledger.arrived(_, now))
      ids.map(_ => true)
    })
    gen.run()
    val lat = ledger.arrivals.zip(ledger.latenciesMs).toMap
    assertEq(ledger.arrivals.sorted, (0L until 300L).toVector, "every id sent once")
    assertTrue(lat(50L) >= 95.0, s"stalled message latency ${lat(50L)} ms")
    // id 100 fell due 50 ms into the stall: it waited the remaining ~50 ms
    assertTrue(lat(100L) >= 40.0, s"message due mid-stall waited ${lat(100L)} ms")
    assertTrue(lat(290L) < 40.0, s"after catch-up latency ${lat(290L)} ms")
    assertTrue(gen.lateMaxNs >= 40000000L, s"late_ms_max ${gen.lateMaxNs / 1e6}")
    assertEq(gen.refusedSends, 0L, "refused")
  }

  def selfTime(): Unit = {
    check("self time subtracts the union of child intervals") {
      val root = Span(1, "root", 0, 100)
      val a = Span(2, "a", 10, 40, cause = 1)
      val b = Span(3, "b", 30, 60, cause = 1) // overlaps a: a second slot
      val g = Span(4, "g", 15, 20, cause = 2)
      val late = Span(5, "late", 90, 130, cause = 1) // clipped to the root
      val self = Trace.selfNs(Seq(root, a, b, g, late))
      assertEq(self(1), 100L - 50L - 10L, "root")
      assertEq(self(2), 25L, "a")
      assertEq(self(3), 30L, "b")
      assertEq(self(4), 5L, "g")
      assertEq(Trace.selfByName(Seq(root, a, b, g))("root"), 50L, "by name")
    }
    check("coverage leaves out time inside triggers and addBatch that no layer explains") {
      // a 100 ns round: 10 query start, a 80 ns trigger with a 10 ns
      // named phase and a 60 ns addBatch whose two overlapping tasks
      // cover 40 ns of it; 10 ns of the round lie outside both
      val spans = Seq(Span(1, "drain.round", 0, 100), Span(2, "query.start", 0, 10, cause = 1),
        Span(3, "trigger", 10, 90, cause = 1), Span(4, "trigger.latest_offset", 10, 20, cause = 3),
        Span(5, "trigger.add_batch", 20, 80, cause = 3),
        Span(6, "reader.task", 25, 55, cause = 5), Span(7, "reader.task", 35, 65, cause = 5),
        Span(8, "broker.fetch", 30, 40, cause = 6))
      // unexplained: round 10 + trigger 10 + addBatch 20 = 40 of 100
      assertEq(WireDrain.coverage(spans), 0.6, "coverage")
    }
    check("union counts overlaps once") {
      assertEq(Trace.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))), 25L, "union")
      assertEq(Trace.unionNs(Nil), 0L, "empty")
    }
    check("server spans link to the client call by address and window") {
      val clients = Seq(Span(10, "endpoint.fetch", 100, 200, address = "q", seqLo = 0, seqHi = 50),
        Span(11, "endpoint.fetch", 300, 400, address = "q", seqLo = 50, seqHi = 90))
      val servers = Seq(Span(20, "broker.fetch", 120, 150, address = "q", seqLo = 0, seqHi = 50),
        Span(21, "broker.fetch", 310, 330, address = "q", seqLo = 50, seqHi = 90),
        Span(22, "broker.fetch", 310, 330, address = "other", seqLo = 50, seqHi = 90))
      assertEq(Trace.linkByWindow(clients, servers).map(_.cause), Seq(10L, 11L, 0L), "causes")
    }
    check("time links pick the innermost accepting container") {
      val parents = Seq(Span(1, "trigger", 0, 100), Span(2, "trigger.add_batch", 10, 50, cause = 1))
      val linked = Trace.linkByTime(parents, Seq(Span(3, "x", 20, 30), Span(4, "y", 60, 70),
        Span(5, "z", 200, 210)))
      assertEq(linked.map(_.cause), Seq(2L, 1L, 0L), "causes")
    }
  }

  /** Drive a plain broker and a recording timing broker through the same
    * calls: every result must be byte-identical. */
  def timingBrokerPassThrough(): Unit = check("timing broker returns what the plain broker returns") {
    val rec = new SpanRecorder(true)
    val brokers = Seq(new InMemoryAmqpBroker, new TimingBroker(rec))
    val msgs = Inputs.drainBacklog(7L, 1, 3000).head
    def bytes(r: Seq[(Long, AmqpMessage, Long)]): Seq[Seq[Byte]] =
      r.map { case (s, m, ts) => (Amqp10Codec.encodeTransferPayload(Seq("s" -> s, "t" -> ts), m)).toSeq }
    val results = brokers.map { b =>
      val sends = msgs.map(m => b.send("a", m, 5L))
      val f1 = bytes(b.fetch("a", 0, 1000))
      val sends2 = msgs.take(10).map(m => b.send("a", m, 6L))
      b.settle("a", 400)
      val f2 = bytes(b.fetch("a", 0, 2000))
      b.stage("t1", 0, msgs.take(5))
      b.stage("t1", 1, msgs.slice(5, 8))
      val c1 = b.commitStaged("t1", "q", 0L, "out", 9L, false)
      val c2 = b.commitStaged("t1", "q", 0L, "out", 9L, false) // replayed epoch
      val f3 = bytes(b.fetch("out", 0, b.latestSeq("out")))
      (sends, f1, sends2, f2, c1, c2, f3, b.settledUpTo("a"), b.latestSeq("a"))
    }
    assertEq(results(1), results(0), "results")
    assertTrue(results(0)._1.count(_ < 0) > 0, "the credit window refused some sends")
    val names = rec.all.map(_.name).toSet
    assertEq(names, Set("broker.send", "broker.fetch", "broker.settle", "broker.stage",
      "broker.commit_staged"), "recorded spans")
  }

  def gates(): Unit = {
    val expected = (0L until 100L).toSet
    check("exactly-once audit passes a clean delivery") {
      assertEq(Gates.audit(expected, 100, 0L until 100L).failures, 0L, "failures")
    }
    check("exactly-once audit rejects a planted duplicate") {
      val a = Gates.audit(expected, 100, (0L until 100L) :+ 42L)
      assertEq((a.duplicated, a.failures), (1L, 1L), "duplicate")
    }
    check("exactly-once audit rejects a lost id and an unknown id") {
      val a = Gates.audit(expected, 100, (0L until 100L).filter(_ != 7L) :+ 1000L)
      assertEq((a.lost, a.unknown, a.failures), (1L, 1L, 2L), "lost + unknown")
    }
    check("drain checksum rejects a lost and a duplicated message") {
      val msgs = Inputs.drainBacklog(3L, 2, 500).flatten
      val want = Inputs.checksum(msgs)
      assertTrue(Inputs.checksum(msgs.tail) != want, "lost message undetected")
      assertTrue(Inputs.checksum(msgs :+ msgs(3)) != want, "duplicate undetected")
      // a swap of one id for another keeps the count but not the sums
      val swapped = msgs.updated(0, msgs(1))
      assertTrue(Inputs.checksum(swapped) != want, "substituted message undetected")
      assertEq(Inputs.checksum(msgs.reverse), want, "order independence")
    }
    check("inputs are a pure function of the seed") {
      val a = Inputs.drainBacklog(11L, 2, 100)
      val b = Inputs.drainBacklog(11L, 2, 100)
      assertEq(Inputs.checksum(a.flatten), Inputs.checksum(b.flatten), "same seed")
      assertTrue(Inputs.checksum(Inputs.drainBacklog(12L, 2, 100).flatten) !=
        Inputs.checksum(a.flatten), "another seed")
      assertEq(Inputs.relayMessage(5L, 9L).body, Inputs.relayMessage(5L, 9L).body, "relay")
      assertTrue(Inputs.relayMessage(5L, 9L).body.isInstanceOf[AmqpValueBody], "relay body")
    }
  }
}
