package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{CharFoldHash, VectorDot, WordShingleSet}
import graft.streaming._

/** Single-layer probes, run on the workload's own generated inputs.
  * Each probe runs untimed warm-up repetitions first (so the JIT has
  * compiled the path, as `graft.streaming.WireProfile` does) and reports
  * the median of its timed repetitions. */
object Probes {
  val Warm = 3
  val Reps = 5

  /** Median wall time of `Reps` runs of `body`, after `Warm` untimed runs. */
  def medianNs(body: => Unit): Double = {
    (1 to Warm).foreach(_ => body)
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })
  }

  /** `Amqp10Codec.encodeTransferPayload` / `decodeTransferPayload`. */
  def codec(msgs: IndexedSeq[AmqpMessage]): Map[String, Double] = {
    def anns(i: Int) = Seq("x-opt-perfbench-seq" -> i.toLong)
    val payloads = msgs.indices.map(i => Amqp10Codec.encodeTransferPayload(anns(i), msgs(i)))
    var sink = 0L
    val enc = medianNs {
      var i = 0
      while (i < msgs.length) { sink += Amqp10Codec.encodeTransferPayload(anns(i), msgs(i)).length; i += 1 }
    }
    val dec = medianNs {
      var i = 0
      while (i < payloads.length) { sink += Amqp10Codec.decodeTransferPayload(payloads(i))._2.length; i += 1 }
    }
    require(sink != 0L)
    Map("codec.encode_ns_per_msg" -> enc / msgs.length,
      "codec.decode_ns_per_msg" -> dec / msgs.length)
  }

  /** Consume link credit in-process so the next sends are admitted. */
  private def consumeCredit(b: InMemoryAmqpBroker, address: String): Unit = {
    val to = b.latestSeq(address)
    b.fetch(address, b.settledUpTo(address), to)
    b.settle(address, to)
  }

  /** Load `msgs` onto `address` straight into the broker (no wire),
    * consuming credit whenever the window fills. The backlog stays
    * replayable: nothing is settled. */
  def preload(b: InMemoryAmqpBroker, address: String, msgs: Seq[AmqpMessage]): Unit = {
    var fetched = b.latestSeq(address)
    val it = msgs.iterator
    var m = if (it.hasNext) it.next() else null
    while (m != null) {
      if (b.send(address, m, 1000L) >= 0) m = if (it.hasNext) it.next() else null
      else {
        val to = b.latestSeq(address)
        b.fetch(address, fetched, to)
        fetched = to
      }
    }
  }

  /** `Amqp10Endpoint.sendMany/fetch` against a timing broker behind a
    * real `Amqp10Server`, on the same messages: the client time minus the
    * broker time it caused is the wire (codec + framing + socket)
    * overhead. */
  def wire(msgs: IndexedSeq[AmqpMessage], chunk: Int): Map[String, Double] = {
    val rec = new SpanRecorder(true)
    val broker = new TimingBroker(rec)
    val server = new Amqp10Server(broker)
    val client = new Amqp10Endpoint("127.0.0.1", server.port)
    try {
      val n = msgs.length
      val stamped = msgs.map(m => (m, 1000L))
      var rep = 0
      val clientSpans = new SpanRecorder(true)
      def sendAll(): Unit = {
        val address = s"probe-send-$rep"
        rep += 1
        stamped.grouped(500).foreach { batch =>
          rec.paused = true
          consumeCredit(broker, address)
          rec.paused = false
          val t0 = System.nanoTime()
          val seqs = client.sendMany(address, batch)
          val t1 = System.nanoTime()
          require(seqs.forall(_ >= 0), "probe sends must not be refused")
          clientSpans.record("endpoint.send", t0, t1, address = address,
            seqLo = seqs.min - 1, seqHi = seqs.max, n = seqs.length.toLong)
        }
      }
      (1 to Warm).foreach(_ => sendAll())
      rec.clear(); clientSpans.clear()
      (1 to Reps).foreach(_ => sendAll())
      val sendClient = clientSpans.all
      val sendBroker = Trace.linkByWindow(sendClient, rec.all.filter(_.name == "broker.send"))
        .filter(_.cause != 0L)
      val sendNs = sendClient.map(_.durNs).sum.toDouble / (Reps * n)
      val sendBrokerNs = sendBroker.map(_.durNs).sum.toDouble / (Reps * n)

      rec.paused = true
      preload(broker, "probe-fetch", msgs)
      rec.paused = false
      def fetchAll(): Unit = {
        var from = 0L
        while (from < n) {
          val to = math.min(n.toLong, from + chunk)
          val t0 = System.nanoTime()
          val got = client.fetch("probe-fetch", from, to)
          val t1 = System.nanoTime()
          require(got.length == to - from, s"probe fetch returned ${got.length} of ${to - from}")
          clientSpans.record("endpoint.fetch", t0, t1, address = "probe-fetch",
            seqLo = from, seqHi = to, n = got.length.toLong)
          from = to
        }
      }
      (1 to Warm).foreach(_ => fetchAll())
      rec.clear(); clientSpans.clear()
      (1 to Reps).foreach(_ => fetchAll())
      val fetchClient = clientSpans.all
      val fetchBroker = Trace.linkByWindow(fetchClient, rec.all.filter(_.name == "broker.fetch"))
        .filter(_.cause != 0L)
      val fetchNs = fetchClient.map(_.durNs).sum.toDouble / (Reps * n)
      val fetchBrokerNs = fetchBroker.map(_.durNs).sum.toDouble / (Reps * n)
      Map(
        "endpoint.send_ns_per_msg" -> sendNs,
        "wire.send_overhead_ns_per_msg" -> (sendNs - sendBrokerNs),
        "endpoint.fetch_ns_per_msg" -> fetchNs,
        "wire.fetch_overhead_ns_per_msg" -> (fetchNs - fetchBrokerNs),
        "probe.broker_fetch_ns_per_msg" -> fetchBrokerNs,
        "probe.broker_send_ns_per_msg" -> sendBrokerNs)
    } finally { client.close(); server.close() }
  }

  /** `AmqpPartitionReader` next/get over a `mem://` link holding `msgs`,
    * minus the broker fetch of the same slice: the envelope → row cost. */
  def reader(msgs: IndexedSeq[AmqpMessage], tag: String): Map[String, Double] = {
    val ep = s"mem://perfbench-probe-$tag"
    AmqpEndpointRegistry.reset(ep)
    val broker = AmqpEndpointRegistry.broker(ep)
    try {
      preload(broker, "r", msgs)
      val n = msgs.length.toLong
      val fields = Array("message_id", "body", "body_binary", "k0")
      val props = Seq("k0" -> (StringType: org.apache.spark.sql.types.DataType))
      var rows = 0L
      val readNs = medianNs {
        val r = new AmqpPartitionReader(AmqpInputPartition(ep, "r", 0L, n), fields,
          propertyCols = props, chunkRows = 50000L)
        try while (r.next()) { r.get(); rows += 1 } finally r.close()
      }
      require(rows == n * (Warm + Reps), s"reader probe read $rows rows")
      val fetchNs = medianNs {
        var from = 0L
        while (from < n) { val to = math.min(n, from + 50000L); broker.fetch("r", from, to); from = to }
      }
      Map("reader.envelope_ns_per_row" -> (readNs - fetchNs) / n)
    } finally AmqpEndpointRegistry.reset(ep)
  }

  /** The three graft expressions, evaluated row by row. */
  def expressions(texts: IndexedSeq[String], vecs: IndexedSeq[Array[Double]]): Map[String, Double] = {
    val textRows: IndexedSeq[InternalRow] =
      texts.map(t => new GenericInternalRow(Array[Any](UTF8String.fromString(t))))
    val vecRows: IndexedSeq[InternalRow] = vecs.indices.map { i =>
      val a = vecs(i); val b = vecs((i + 1) % vecs.length)
      new GenericInternalRow(Array[Any](new GenericArrayData(a.map(x => x: Any)),
        new GenericArrayData(b.map(x => x: Any))))
    }
    val str = BoundReference(0, StringType, nullable = true)
    val arrT = ArrayType(DoubleType, containsNull = false)
    val fold = CharFoldHash(str)
    val shingle = WordShingleSet(str, 3)
    val dot = VectorDot(BoundReference(0, arrT, nullable = true), BoundReference(1, arrT, nullable = true))
    var sink = 0L
    def per(rows: IndexedSeq[InternalRow])(f: InternalRow => Any): Double =
      medianNs {
        var i = 0
        while (i < rows.length) { if (f(rows(i)) != null) sink += 1; i += 1 }
      } / rows.length
    val res = Map(
      "expr.char_fold_hash_ns_per_row" -> per(textRows)(fold.eval),
      "expr.word_shingle_set_ns_per_row" -> per(textRows)(shingle.eval),
      "expr.vec_dot_ns_per_row" -> per(vecRows)(dot.eval))
    require(sink > 0)
    res
  }

  /** A 64-dim vector derived from a message body, for the vector probe
    * on AMQP workloads. */
  def vectorOf(bytes: Array[Byte]): Array[Double] =
    Array.tabulate(64)(i => if (bytes.isEmpty) 0.0 else (bytes(i % bytes.length) & 0xff) / 255.0)
}
