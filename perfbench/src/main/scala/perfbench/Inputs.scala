package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.streaming.{AmqpBody, AmqpDataBody, AmqpMessage, AmqpValueBody}

/** Seeded inputs. Everything a workload feeds the program is a pure
  * function of the bench seed, so one seed gives one input set. */
object Inputs {

  /** SplitMix64 finalizer: a well-mixed hash of (seed, index). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz0123456789 "

  private def text(r: java.util.SplittableRandom, len: Int): String = {
    val b = new StringBuilder(len)
    var i = 0
    while (i < len) { b.append(Letters.charAt(r.nextInt(Letters.length))); i += 1 }
    b.toString
  }

  // ------------------------------------------------------------ wire_drain

  /** The wire_drain backlog, one vector per link. Message ids are global
    * (`link * perLink + i`, carried as `message_id = d<id>`). Bodies are
    * 80% string amqp-value of 8-200 chars and 20% binary `data` of
    * 16-256 bytes; each message carries 0-4 application properties
    * (k0 string, k1 long, k2 string, k3 long — a prefix of that list). */
  def drainBacklog(seed: Long, links: Int, perLink: Int): Vector[Vector[AmqpMessage]] =
    Vector.tabulate(links) { l =>
      val r = new java.util.SplittableRandom(mix(seed, 1000L + l))
      Vector.tabulate(perLink) { i =>
        val id = l.toLong * perLink + i
        val body: AmqpBody =
          if (r.nextInt(5) == 0) {
            val bs = new Array[Byte](16 + r.nextInt(241))
            r.nextBytes(bs)
            AmqpDataBody(bs)
          } else AmqpValueBody(text(r, 8 + r.nextInt(193)))
        val nProps = r.nextInt(5)
        val props = Vector[(String, Any)](
          "k0" -> text(r, 1 + r.nextInt(12)), "k1" -> r.nextLong(1000000L),
          "k2" -> text(r, 4), "k3" -> r.nextLong(100L)).take(nProps)
        AmqpMessage(messageId = Some(s"d$id"), applicationProperties = props, body = body)
      }
    }

  /** What the drain query's observed metrics must add up to. */
  final case class Checksum(count: Long, idSum: Long, idSqSum: Long, crcSum: Long,
      k0Chars: Long) {
    def +(o: Checksum): Checksum = Checksum(count + o.count, idSum + o.idSum,
      idSqSum + o.idSqSum, crcSum + o.crcSum, k0Chars + o.k0Chars)
  }

  def bodyBytes(m: AmqpMessage): Array[Byte] = m.body match {
    case AmqpValueBody(s: String) => s.getBytes(UTF_8)
    case AmqpDataBody(bs) => bs
    case other => throw new IllegalArgumentException(s"unexpected bench body $other")
  }

  def idOf(m: AmqpMessage): Long = m.messageId.get.substring(1).toLong

  def checksum(msgs: Seq[AmqpMessage]): Checksum = msgs.foldLeft(Checksum(0, 0, 0, 0, 0)) {
    (acc, m) =>
      val crc = new java.util.zip.CRC32()
      crc.update(bodyBytes(m))
      val id = idOf(m)
      val k0 = m.applicationProperties.collectFirst { case ("k0", v: String) => v.length }
      acc + Checksum(1, id, id * id, crc.getValue, k0.getOrElse(0).toLong)
  }

  // ------------------------------------------------------------ live relay

  private val RelayBodies = 512

  /** Message `id` of the live relay stream: `message_id = r<id>`, a
    * `prio` property 0-9 (the relay keeps prio >= 1, ~90%) and a string
    * body of 16-160 chars drawn from a seeded pool. */
  def relayMessage(seed: Long, id: Long): AmqpMessage = {
    val h = mix(seed, id)
    val r = new java.util.SplittableRandom(mix(seed, -1L - (id % RelayBodies)))
    AmqpMessage(messageId = Some(s"r$id"),
      applicationProperties = Vector("prio" -> java.lang.Math.floorMod(h, 10L)),
      body = AmqpValueBody(text(r, 16 + r.nextInt(145))))
  }

  def relayKeeps(seed: Long, id: Long): Boolean = java.lang.Math.floorMod(mix(seed, id), 10L) >= 1
}

/** Exactly-once accounting over message ids. */
object Gates {
  final case class IdAudit(expected: Long, lost: Long, duplicated: Long, unknown: Long) {
    def failures: Long = lost + duplicated + unknown
  }

  /** Compare the ids that arrived with the ids that should have. Every
    * id must arrive exactly once; an arrival outside `expected` is an
    * unknown id. */
  def audit(expected: Long => Boolean, expectedCount: Long, arrived: Iterable[Long]): IdAudit = {
    val seen = new scala.collection.mutable.LongMap[Int]()
    var unknown = 0L
    arrived.foreach { id =>
      if (!expected(id)) unknown += 1
      else seen.update(id, seen.getOrElse(id, 0) + 1)
    }
    val dup = seen.valuesIterator.map(c => (c - 1).toLong).sum
    IdAudit(expectedCount, expectedCount - seen.size, dup, unknown)
  }
}
