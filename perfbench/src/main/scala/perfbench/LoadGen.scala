package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.streaming.{Amqp10Endpoint, AmqpMessage}

/** Open-loop send schedule: message `i` is due at `t0Ns + i * periodNs`,
  * whatever the system under test is doing. */
final case class Schedule(t0Ns: Long, periodNs: Long, total: Long) {
  def due(id: Long): Long = t0Ns + id * periodNs
  def endNs: Long = due(total)
}

/** Sends the schedule's messages as they fall due. Each pass sends every
  * due message (refused ones first, in id order) in one `send` call; a
  * refused message is retried on the next pass. Passes are at least
  * `tickNs` apart, so the generator costs the host a bounded number of
  * round trips per second whatever the rate. Lateness is measured from
  * the due time, so a stalled pass shows up both here and in the
  * latency of every message that fell due during the stall.
  *
  * `send` returns, per id, whether the endpoint accepted it. */
final class Generator(schedule: Schedule, send: Seq[Long] => Seq[Boolean], tickNs: Long = 0L) {
  import Generator.{GiveUpNs, MaxBatch}
  @volatile var accepted: Long = 0L
  var attempts: Long = 0L
  var refusedSends: Long = 0L
  /** Ids still refused when the generator gave up. */
  var unlanded: Seq[Long] = Nil
  /** Largest (send start - due) over ids at or above `lateFrom`. */
  var lateMaxNs: Long = 0L
  val acceptedIds = new mutable.ArrayBuffer[Long]()
  @volatile var done = false

  def run(lateFrom: Long = 0L): Unit = {
    var next = 0L
    val pending = mutable.Queue.empty[Long]
    var running = true
    while (running) {
      val now = System.nanoTime()
      val batch = mutable.ArrayBuffer.empty[Long]
      while (pending.nonEmpty && batch.length < MaxBatch) batch += pending.dequeue()
      while (next < schedule.total && schedule.due(next) <= now && batch.length < MaxBatch) {
        batch += next; next += 1
      }
      if (batch.nonEmpty) {
        val ok = send(batch.toSeq)
        attempts += batch.length
        var i = 0
        while (i < batch.length) {
          val id = batch(i)
          if (ok(i)) {
            accepted += 1
            acceptedIds += id
            if (id >= lateFrom) lateMaxNs = math.max(lateMaxNs, now - schedule.due(id))
          } else { refusedSends += 1; pending.enqueue(id) }
          i += 1
        }
      }
      if (next >= schedule.total && pending.isEmpty) running = false
      else if (next >= schedule.total && System.nanoTime() > schedule.endNs + GiveUpNs) {
        unlanded = pending.toVector
        running = false
      } else {
        val wake =
          if (pending.nonEmpty) System.nanoTime() + math.max(1000000L, tickNs)
          else if (next < schedule.total) math.max(schedule.due(next), now + tickNs)
          else System.nanoTime()
        val wait = wake - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
      }
    }
    done = true
  }
}

object Generator {
  /** Most ids one `send` call carries. */
  val MaxBatch = 500
  /** How long after the schedule ends refused ids are still retried. */
  val GiveUpNs = 5000000000L
}

/** Arrival side of the open loop: latency of message `id` is its
  * arrival time minus its due time. Only ids at or above `measureFrom`
  * are latency samples; every arrival is kept for the exactly-once
  * audit. */
final class LatencyLedger(schedule: Schedule, measureFrom: Long) {
  val arrivals = new mutable.ArrayBuffer[Long]()
  val latenciesMs = new mutable.ArrayBuffer[Double]()

  def arrived(id: Long, atNs: Long): Unit = {
    arrivals += id
    if (id >= measureFrom) latenciesMs += (atNs - schedule.due(id)) / 1e6
  }
}

/** The live relay load process: one generator thread sending to `in`,
  * one consumer thread draining and settling `out`, each on its own
  * AMQP 1.0 connection (two threads, two connections). Run as its own
  * JVM so the load keeps its schedule when the Spark JVM pauses.
  *
  * Args: host port seed ratePerSec warmupSec measureSec spansFile|-
  * Message ids run from 0. Prints one JSON object on stdout when done. */
object LoadGen {
  val In = "in"
  val Out = "out"
  /** Send pass and `out` poll period: a few ms of latency resolution in
    * exchange for 200 instead of 1,000 round trips per second each, which
    * would otherwise compete with the relay for the host's four cores. */
  val TickNs = 5000000L

  def main(args: Array[String]): Unit = {
    val Array(host, portS, seedS, rateS, warmS, measS, spansFile) = args
    val seed = seedS.toLong
    // the bench JVM holds our stdin: when it goes away, so do we
    val orphanWatch = new Thread(() => { while (System.in.read() >= 0) (); sys.exit(3) })
    orphanWatch.setDaemon(true)
    orphanWatch.start()
    val rate = rateS.toDouble
    val period = math.round(1e9 / rate)
    val warmCount = math.round(warmS.toDouble * rate)
    val total = warmCount + math.round(measS.toDouble * rate)
    val rec = new SpanRecorder(spansFile != "-", idBase = 1L << 40)
    val sender = new Amqp10Endpoint(host, portS.toInt)
    val receiver = new Amqp10Endpoint(host, portS.toInt)
    // connect both links before the schedule starts; earlier traffic on
    // `out` is not this run's
    sender.latestSeq(In)
    val outStart = receiver.latestSeq(Out)
    val schedule = Schedule(System.nanoTime() + 200000000L, period, total)
    var sendNs = 0L
    val gen = new Generator(schedule, ids => {
      val msgs = ids.map(i => (Inputs.relayMessage(seed, i), System.currentTimeMillis() * 1000L))
      val t0 = System.nanoTime()
      val seqs = sender.sendMany(In, msgs)
      val t1 = System.nanoTime()
      sendNs += t1 - t0
      val ok = seqs.filter(_ >= 0)
      rec.record("endpoint.send", t0, t1, address = In,
        seqLo = if (ok.isEmpty) 0L else ok.min - 1, seqHi = if (ok.isEmpty) 0L else ok.max,
        n = ok.length.toLong)
      seqs.map(_ >= 0)
    }, tickNs = TickNs)
    val ledger = new LatencyLedger(schedule, warmCount)
    var fetchNs = 0L
    var fetchCalls = 0L
    val consumer = new Thread(() => {
      var from = outStart
      var quietSince = 0L
      var running = true
      while (running) {
        val latest = receiver.latestSeq(Out)
        if (latest > from) {
          val t0 = System.nanoTime()
          val got = receiver.fetch(Out, from, latest)
          val t1 = System.nanoTime()
          fetchNs += t1 - t0
          fetchCalls += 1
          rec.record("consumer.fetch", t0, t1, address = Out, seqLo = from, seqHi = latest,
            n = got.length.toLong)
          got.foreach { case (_, m, _) => ledger.arrived(Inputs.idOf(m), t1) }
          receiver.settle(Out, latest)
          from = latest
          quietSince = 0L
        } else {
          val now = System.nanoTime()
          // finished: the generator is done and every kept id arrived, or
          // nothing has arrived for long after the generator finished
          if (gen.done) {
            val want = gen.acceptedIds.count(i => Inputs.relayKeeps(seed, i))
            if (quietSince == 0L) quietSince = now
            if (ledger.arrivals.length >= want && now - quietSince > 300000000L) running = false
            if (now - quietSince > 10000000000L) running = false
          }
          LockSupport.parkNanos(TickNs)
        }
      }
    }, "perfbench-consumer")
    consumer.start()
    gen.run(lateFrom = warmCount)
    consumer.join()
    val keep = gen.acceptedIds.filter(i => Inputs.relayKeeps(seed, i)).toSet
    val audit = Gates.audit(keep.contains, keep.size.toLong, ledger.arrivals)
    if (rec.enabled) Trace.write(java.nio.file.Paths.get(spansFile), rec.all)
    val lat = ledger.latenciesMs.toVector
    val arrivedMsgs = ledger.arrivals.length.max(1)
    println(Json.obj(Seq(
      "t0_ns" -> schedule.t0Ns, "period_ns" -> period, "total" -> total,
      "warm_count" -> warmCount, "offered" -> gen.attempts, "accepted" -> gen.accepted,
      "refused_sends" -> gen.refusedSends, "unlanded" -> gen.unlanded.length,
      "late_ms_max" -> gen.lateMaxNs / 1e6,
      "lost" -> audit.lost, "duplicated" -> audit.duplicated, "unknown" -> audit.unknown,
      "expected" -> audit.expected,
      "latencies_ms" -> lat,
      "send_ns_per_msg" -> sendNs.toDouble / math.max(1L, gen.accepted),
      "fetch_ns_per_msg" -> fetchNs.toDouble / arrivedMsgs,
      "fetch_calls" -> fetchCalls)))
    sender.close()
    receiver.close()
  }
}
