package graft.streaming

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The streamed `amqp10://` drain ([[Amqp10Endpoint.drain]]): the server
  * keeps no per-delivery state beyond one borrow of a pooled reader
  * connection, a drain survives a server bounce without duplicates or
  * gaps, a reader that stops early leaves a connection the next borrower
  * can use, and an open drain owns its connection.
  */
class Amqp10DrainSpec extends AnyFunSuite {

  private def withServer[T](f: (InMemoryAmqpBroker, Amqp10Server, String) => T): T = {
    val backing = new InMemoryAmqpBroker
    val server = new Amqp10Server(backing)
    val ep = s"amqp10://127.0.0.1:${server.port}"
    try f(backing, server, ep)
    finally { AmqpEndpointRegistry.reset(ep); server.close() }
  }

  /** Messages 1..n (id `m<i>`, timestamp i) straight into the broker,
    * fetching, never settling, whenever the credit window fills: the
    * backlog stays replayable. */
  private def preload(b: InMemoryAmqpBroker, address: String, n: Int,
      msg: Int => AmqpMessage = i => AmqpMessage(body = AmqpValueBody(s"b$i"))): Unit = {
    var fetched = 0L
    (1 to n).foreach { i =>
      val m = msg(i).copy(messageId = Some(s"m$i"))
      while (b.send(address, m, i.toLong) < 0) {
        b.fetch(address, fetched, b.latestSeq(address))
        fetched = b.latestSeq(address)
      }
    }
  }

  test("bounded ledger: 20 unsettled fetches on one pooled reader connection hold one borrow") {
    withServer { (backing, server, ep) =>
      preload(backing, "led", 500)
      var first: AmqpEndpoint = null
      (1 to 20).foreach { i =>
        val c = AmqpEndpointRegistry.readerEndpoint(ep)
        if (first == null) first = c
        assert(c eq first, "the pool hands back the one connection")
        assert(c.fetch("led", 0, 500).map(_._1) == (1L to 500L), s"fetch $i")
        assert(server.unsettledDeliveries == 500, s"during borrow $i")
        AmqpEndpointRegistry.releaseReaderEndpoint(ep, c)
        assert(server.unsettledDeliveries <= 500,
          s"after ${i * 500} pushed deliveries, none settled")
      }
      assert(backing.settledUpTo("led") == 0L, "readers never settle")
    }
  }

  test("a server bounce mid-drain re-dials once and resumes: the slice exactly once") {
    val backing = new InMemoryAmqpBroker
    // large enough that most of the slice is still unsent at the bounce
    preload(backing, "bounce", 20000, _ => AmqpMessage(body = AmqpValueBody("x" * 1000)))
    val server = new Amqp10Server(backing)
    val port = server.port
    val client = new Amqp10Endpoint("127.0.0.1", port)
    var server2: Amqp10Server = null
    try {
      val drain = client.drain("bounce", 0L, 20000L)
      val got = mutable.ArrayBuffer[(Long, String)]()
      def take(): Unit = {
        val (seq, m, ts) = drain.next()
        assert(ts == seq, "timestamps travel with their message")
        got += ((seq, m.messageId.get))
      }
      (1 to 500).foreach(_ => take())
      server.close() // severs the live connection
      // the old listener's port frees once its acceptor thread has left
      // accept(); retry the bind until it has
      val deadline = System.nanoTime() + 10000000000L
      while (server2 == null) {
        try server2 = new Amqp10Server(backing, bindPort = port)
        catch { case e: java.net.BindException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(50)
        }
      }
      while (drain.hasNext) take()
      assert(got.map(_._1) == (1L to 20000L), "no duplicate, no gap")
      assert(got.forall { case (seq, id) => id == s"m$seq" })
      assert(server2.unsettledDeliveries > 0 && server2.unsettledDeliveries < 20000,
        "the rest of the slice came from the second server")
      assert(client.latestSeq("bounce") == 20000L, "the drain has ended")
    } finally {
      client.close(); server.close()
      if (server2 != null) server2.close()
    }
  }

  test("a reader stopped early by a pushed LIMIT leaves a connection the next borrow reads") {
    withServer { (backing, server, ep) =>
      preload(backing, "lim", 3000, i => AmqpMessage(
        subject = Some(if (i % 10 == 0) "hit" else "miss"), body = AmqpValueBody(s"b$i")))
      def rows(r: AmqpPartitionReader): Seq[String] = {
        val out = mutable.ArrayBuffer[String]()
        try while (r.next()) out += r.get().getUTF8String(0).toString
        finally r.close()
        out.toSeq
      }
      val limited = new AmqpPartitionReader(AmqpInputPartition(ep, "lim", 0L, 3000L),
        Array("message_id"), AmqpPushedFilters(stringEq = Seq("subject" -> "hit")),
        chunkRows = 3000L, survivorLimit = Some(3))
      assert(rows(limited) == Seq("m10", "m20", "m30"))
      assert(AmqpEndpointRegistry.readerPoolSize(ep) == 1, "the early stop pooled its connection")
      val pooled = AmqpEndpointRegistry.readerEndpoint(ep)
      AmqpEndpointRegistry.releaseReaderEndpoint(ep, pooled)
      val full = new AmqpPartitionReader(AmqpInputPartition(ep, "lim", 0L, 3000L),
        Array("message_id"), chunkRows = 1000L)
      assert(rows(full) == (1 to 3000).map(i => s"m$i"))
      assert(AmqpEndpointRegistry.readerPoolSize(ep) == 1)
      assert(AmqpEndpointRegistry.readerEndpoint(ep) eq pooled, "the same connection both times")
      // the release's end + begin are answered before the next call runs
      assert(pooled.latestSeq("lim") == 3000L)
      assert(server.unsettledDeliveries == 0, "each release ended its session")
    }
  }

  test("fetch on the shared client holds it: another thread's calls wait, none fails") {
    withServer { (backing, _, ep) =>
      preload(backing, "shared", 20000, _ => AmqpMessage(body = AmqpValueBody("x" * 200)))
      val client = AmqpEndpointRegistry.endpoint(ep)
      @volatile var fetching = true
      var seen = 0
      var failure: Throwable = null
      val other = new Thread(() =>
        try while (fetching) {
          assert(client.latestSeq("shared") == 20000L)
          seen += 1
        } catch { case e: Throwable => failure = e })
      other.start()
      try (1 to 5).foreach { i =>
        assert(client.fetch("shared", 0L, 20000L).map(_._1) == (1L to 20000L), s"fetch $i")
      } finally { fetching = false; other.join() }
      assert(failure == null, s"the other thread's call failed: $failure")
      assert(seen > 0)
    }
  }

  test("while a drain is open, every other operation on its connection throws") {
    withServer { (backing, _, ep) =>
      preload(backing, "own", 200)
      val client = new Amqp10Endpoint("127.0.0.1", ep.split(':').last.toInt)
      try {
        val drain = client.drain("own", 0L, 200L)
        assert(drain.next()._1 == 1L)
        val msg = AmqpMessage(body = AmqpValueBody("x"))
        val calls: Seq[(String, () => Any)] = Seq(
          "send" -> (() => client.send("own", msg, 1L)),
          "sendMany" -> (() => client.sendMany("own", Seq((msg, 1L)))),
          "latestSeq" -> (() => client.latestSeq("own")),
          "settledUpTo" -> (() => client.settledUpTo("own")),
          "timestampWindow" -> (() => client.timestampWindow("own", 0L, 10L)),
          "listAddresses" -> (() => client.listAddresses("o*")),
          "fetch" -> (() => client.fetch("own", 0L, 1L)),
          "drain" -> (() => client.drain("own", 0L, 1L)),
          "settle" -> (() => client.settle("own", 1L)),
          "claim" -> (() => client.claim("own", "g", "o", 10L, 1000L)),
          "groupStats" -> (() => client.groupStats("own", "g")),
          "stage" -> (() => client.stage("t#1", 0, Seq(msg))),
          "commitStaged" -> (() => client.commitStaged("t#1", "q", 1L, "own", 1L, false)),
          "abortStaged" -> (() => client.abortStaged("t#1")),
          "recycleSession" -> (() => client.recycleSession()))
        calls.foreach { case (name, call) =>
          val e = intercept[IllegalStateException](call())
          assert(e.getMessage.contains("drain is open"), name)
        }
        assert(drain.toVector.map(_._1) == (2L to 200L), "the drain itself is undisturbed")
        assert(client.latestSeq("own") == 200L, "its end frees the connection")
        val again = client.drain("own", 0L, 200L)
        assert(again.next()._1 == 1L)
        again.close() // early: reads the rest off the wire
        assert(client.fetch("own", 198L, 200L).map(_._1) == Seq(199L, 200L))
      } finally client.close()
      assert(backing.latestSeq("own") == 200L, "no refused call reached the broker")
    }
  }
}
