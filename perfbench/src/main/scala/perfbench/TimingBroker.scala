package perfbench

import graft.streaming.{AmqpMessage, InMemoryAmqpBroker}

/** The broker an `Amqp10Server` serves, timed from outside: every
  * send/fetch/settle/stage/commitStaged is bracketed by a span and the
  * result is passed through unchanged. With a disabled recorder it is
  * the plain broker plus one branch per call. */
class TimingBroker(rec: SpanRecorder) extends InMemoryAmqpBroker {

  private def timed[T](name: String, address: String, window: T => (Long, Long),
      n: T => Long)(body: => T): T =
    if (!rec.enabled || rec.paused) body
    else {
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      val (lo, hi) = window(r)
      rec.record(name, t0, t1, address = address, seqLo = lo, seqHi = hi, n = n(r))
      r
    }

  override def send(address: String, msg: AmqpMessage, timestampMicros: Long): Long =
    timed[Long]("broker.send", address, s => (s - 1, s), s => if (s >= 0) 1L else 0L) {
      super.send(address, msg, timestampMicros)
    }

  override def fetch(address: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, AmqpMessage, Long)] =
    timed[Seq[(Long, AmqpMessage, Long)]]("broker.fetch", address,
      _ => (fromExclusive, toInclusive), _.length.toLong) {
      super.fetch(address, fromExclusive, toInclusive)
    }

  override def settle(address: String, upTo: Long): Unit =
    timed[Unit]("broker.settle", address, _ => (0L, upTo), _ => 0L) {
      super.settle(address, upTo)
    }

  override def stage(txn: String, partitionId: Int, msgs: Seq[AmqpMessage]): Unit =
    timed[Unit]("broker.stage", txn, _ => (0L, 0L), _ => msgs.length.toLong) {
      super.stage(txn, partitionId, msgs)
    }

  override def commitStaged(txn: String, queryId: String, epochId: Long, address: String,
      timestampMicros: Long, routeByTo: Boolean): Int =
    timed[Int]("broker.commit_staged", address, _ => (0L, 0L), n => math.max(n, 0).toLong) {
      super.commitStaged(txn, queryId, epochId, address, timestampMicros, routeByTo)
    }
}
