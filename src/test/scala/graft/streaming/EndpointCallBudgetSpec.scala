package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase

/** Pins how many endpoint calls the driver and the readers make per
  * scan. On `amqp10://` each `latestSeq`, `settledUpTo` and
  * `timestampWindow` is a synchronous round trip, so a refactor of the
  * planning code that adds a probe per trigger slows every stream
  * without failing any result check. A counting `mem://` broker records
  * the calls of four runs: an AvailableNow drain, a min-rows hold, a
  * share-group stream and a timestamp-anchored batch read.
  */
class EndpointCallBudgetSpec extends SparkSpecBase {

  private val Counted =
    Seq("latestSeq", "settledUpTo", "timestampWindow", "listAddresses", "fetch", "settle", "claim")

  private final class CountingBroker extends InMemoryAmqpBroker {
    private val calls = new ConcurrentHashMap[String, AtomicLong]
    private def hit(m: String): Unit =
      calls.computeIfAbsent(m, _ => new AtomicLong).incrementAndGet()
    /** Per-method counts since the last call, every counted method listed. */
    def take(): Map[String, Long] = {
      val got = Counted.map(m => m -> Option(calls.get(m)).map(_.get).getOrElse(0L)).toMap
      calls.clear()
      got
    }
    override def latestSeq(address: String): Long = { hit("latestSeq"); super.latestSeq(address) }
    override def settledUpTo(address: String): Long = { hit("settledUpTo"); super.settledUpTo(address) }
    override def timestampWindow(address: String, loMicros: Long,
        hiMicros: Long): Option[(Long, Long)] = {
      hit("timestampWindow"); super.timestampWindow(address, loMicros, hiMicros)
    }
    override def listAddresses(pattern: String): Option[Seq[String]] = {
      hit("listAddresses"); super.listAddresses(pattern)
    }
    override def fetch(address: String, fromExclusive: Long,
        toInclusive: Long): Seq[(Long, AmqpMessage, Long)] = {
      hit("fetch"); super.fetch(address, fromExclusive, toInclusive)
    }
    override def settle(address: String, upTo: Long): Unit = { hit("settle"); super.settle(address, upTo) }
    override def claim(address: String, group: String, owner: String, maxRows: Long,
        leaseMillis: Long): Seq[AmqpClaim] = {
      hit("claim"); super.claim(address, group, owner, maxRows, leaseMillis)
    }
  }

  private def countingBroker(name: String): (String, CountingBroker) = {
    val ep = s"mem://$name"
    AmqpEndpointRegistry.reset(ep)
    val b = new CountingBroker
    AmqpEndpointRegistry.registerBroker(ep, b)
    (ep, b)
  }

  private def pump(b: InMemoryAmqpBroker, address: String, n: Int): Unit =
    (1 to n).foreach { i =>
      assert(b.send(address, AmqpMessage(messageId = Some(s"$address-$i"),
        body = AmqpValueBody(i.toString)), timestampMicros = i * 1000L) > 0)
    }

  /** Reads every partition whole, as an executor would. */
  private def read(parts: Array[InputPartition],
      factory: org.apache.spark.sql.connector.read.PartitionReaderFactory): Long =
    parts.map { p =>
      val r = factory.createReader(p)
      var n = 0L
      try while (r.next()) n += 1 finally r.close()
      n
    }.sum

  private def expect(got: Map[String, Long], want: (String, Long)*): Unit = {
    val full = Counted.map(m => m -> 0L).toMap ++ want
    assert(got == full, s"endpoint calls: got $got")
  }

  test("an AvailableNow drain of 2 pattern-discovered links over 3 triggers") {
    val (ep, b) = countingBroker("budget-avnow")
    pump(b, "cb-a", 30)
    pump(b, "cb-b", 30)
    b.take()
    val q = spark.readStream.format("amqp")
      .option("endpoint", ep).option("addressPattern", "cb-*")
      .option("maxMessagesPerTrigger", "20")
      .load()
      .writeStream.format("noop")
      .option("checkpointLocation", s"${graft.Scratch.dir("budget-avnow")}/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000L), "drain hung")
    finally q.stop()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(20L, 20L, 20L))
    expect(b.take(), "latestSeq" -> 34L, "settledUpTo" -> 12L, "listAddresses" -> 15L,
      "fetch" -> 6L, "settle" -> 4L)
  }

  test("a min-rows stream is held, then fires at its delay ceiling") {
    val (ep, b) = countingBroker("budget-minrows")
    pump(b, "m", 3)
    b.take()
    val stream = new AmqpMicroBatchStream(
      AmqpSourceConfig(ep, "m", Seq("m"), maxPerTrigger = 100, maxPerSecond = 50,
        minPerTrigger = 5, maxTriggerDelayMillis = 10000))
    var now = 1000L
    stream.wallClock = () => now
    stream.nanoClock = () => now * 1000000L
    val limit = stream.getDefaultReadLimit
    val start = stream.initialOffset()
    assert(stream.latestOffset(start, limit) == start, "below the floor: hold")
    now += 11000
    val end = stream.latestOffset(start, limit)
    assert(end.asInstanceOf[AmqpOffset].seqOf("m") == 3L, "delay ceiling: fire")
    assert(read(stream.planInputPartitions(start, end), stream.createReaderFactory()) == 3L)
    stream.commit(end)
    expect(b.take(), "latestSeq" -> 3L, "settledUpTo" -> 2L, "fetch" -> 1L, "settle" -> 1L)
  }

  test("a share-group stream claims, reads and settles two triggers") {
    val (ep, b) = countingBroker("budget-shared")
    pump(b, "s", 25)
    b.take()
    val stream = new AmqpSharedMicroBatchStream(
      AmqpSourceConfig(ep, "s", Seq("s"), maxPerTrigger = 20, maxPerSecond = 0,
        sharedGroup = Some("g")), "owner-budget")
    var off = stream.initialOffset()
    var rows = 0L
    (1 to 2).foreach { _ =>
      val end = stream.latestOffset(off, stream.getDefaultReadLimit)
      rows += read(stream.planInputPartitions(off, end), stream.createReaderFactory())
      stream.commit(end)
      off = end
    }
    assert(rows == 25L)
    expect(b.take(), "claim" -> 2L, "fetch" -> 2L)
  }

  test("a startingTimestamp batch read plus count(*)") {
    val (ep, b) = countingBroker("budget-batch")
    pump(b, "t", 40)
    b.take()
    def load(opts: (String, String)*) = spark.read.format("amqp")
      .option("endpoint", ep).option("address", "t")
      .option("maxRowsPerPartition", "8")
      .options(opts.toMap).load()
    val anchored = load("startingTimestampMicros" -> "25000")
      .select(col("message_id")).collect().map(_.getString(0)).toSet
    assert(anchored == (25 to 40).map(i => s"t-$i").toSet)
    assert(load().count() == 40L)
    expect(b.take(), "latestSeq" -> 4L, "settledUpTo" -> 4L, "timestampWindow" -> 4L,
      "fetch" -> 2L)
  }
}
