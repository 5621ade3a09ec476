package graft.streaming

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import Amqp10Codec._

/** ScalaCheck round-trip properties for the AMQP 1.0 codec — the
  * evidence behind Amqp10Codec's "round-trips its own output
  * bit-for-bit" contract. Three layers:
  *
  *  1. value model: decode(encode(v)) is structurally equal to v, and
  *     re-encoding the decoded value reproduces the exact bytes
  *     (bit-for-bit idempotence);
  *  2. framing: encodeFrame/decodeFrame preserve type, channel,
  *     performative, and payload;
  *  3. bare messages: encodeMessage/decodeMessage preserve the
  *     [[AmqpMessage]] envelope across every body kind, including the
  *     JSON-body provenance annotation and multi-section ordering.
  *
  * Generators deliberately cross the small/large encoding boundaries
  * (str8/str32 at 255 bytes, list8/list32, map8/map32, vbin8/vbin32,
  * smallint/int, smalllong/long, smalluint/uint) so both constructor
  * arms of every variable-width type are exercised.
  */
class Amqp10CodecPropertySpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 400): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** Structural equality over the decoded value model (Array[Byte] by
    * content, containers recursively). */
  private def deepEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => deepEq(u, v) }
    case (AmqpWireMap(xs), AmqpWireMap(ys)) =>
      xs.length == ys.length && xs.zip(ys).forall {
        case ((k1, v1), (k2, v2)) => deepEq(k1, k2) && deepEq(v1, v2)
      }
    case (Described(d1, v1), Described(d2, v2)) => deepEq(d1, d2) && deepEq(v1, v2)
    case (x: Float, y: Float) =>
      java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  // ------------------------------------------------------------ generators
  // strings/symbols crossing the 255-UTF-8-byte str8/str32 boundary
  private val genStr: Gen[String] = Gen.frequency(
    6 -> Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('"', '\\', '\u0000', '\n', ' '),
      1 -> Gen.oneOf('é', 'λ', '中'))).map(_.mkString),
    1 -> Gen.chooseNum(250, 300).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString)))

  private val genBytes: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
    1 -> Gen.chooseNum(250, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))

  private val genScalar: Gen[Any] = Gen.oneOf(
    Gen.const(null),
    Gen.oneOf(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE),
    Gen.chooseNum(0, 255).map(UByte(_)),
    Gen.chooseNum(0, 65535).map(UShort(_)),
    Gen.frequency(2 -> Gen.chooseNum(0L, 255L), 1 -> Gen.const(0L),
      2 -> Gen.chooseNum(256L, 0xffffffffL)).map(UInt(_)),
    Gen.frequency(2 -> Gen.chooseNum(0L, 255L), 1 -> Gen.const(0L),
      2 -> Gen.chooseNum(Long.MinValue, Long.MaxValue)).map(ULong(_)),
    Gen.frequency(2 -> Gen.chooseNum(-128, 127),
      2 -> Gen.chooseNum(Int.MinValue, Int.MaxValue)),
    Gen.frequency(2 -> Gen.chooseNum(-128L, 127L),
      2 -> Gen.chooseNum(Long.MinValue, Long.MaxValue)),
    Gen.chooseNum(Float.MinValue, Float.MaxValue),
    Gen.frequency(
      3 -> Gen.chooseNum(Double.MinValue, Double.MaxValue),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, 0.0, -0.0)),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(Ts(_)),
    Gen.uuid,
    genBytes,
    genStr,
    genStr.map(Sym(_)))

  private def genValue(depth: Int): Gen[Any] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      5 -> genScalar,
      1 -> Gen.frequency(
        5 -> Gen.chooseNum(0, 5),
        1 -> Gen.chooseNum(40, 70)) // crosses list8→list32 with nested content
        .flatMap(n => Gen.listOfN(n, genValue(depth - 1)).map(_.toVector)),
      1 -> Gen.chooseNum(0, 4).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.oneOf(genStr, genStr.map(Sym(_))), genValue(depth - 1)))
          .map(es => AmqpWireMap(es.toVector))),
      1 -> Gen.zip(Gen.chooseNum(0L, 0xffL).map(ULong(_)), genValue(depth - 1))
        .map { case (d, v) => Described(d, v) })

  test("value model: decode(encode(v)) == v, forAll nested values") {
    check(Prop.forAll(genValue(3)) { v => deepEq(decode(encode(v)), v) })
  }

  test("value model: re-encode is bit-for-bit stable (encode∘decode∘encode = encode)") {
    check(Prop.forAll(genValue(3)) { v =>
      val bytes = encode(v)
      java.util.Arrays.equals(encode(decode(bytes)), bytes)
    })
  }

  test("frames: encodeFrame/decodeFrame preserve type, channel, performative, payload") {
    val genFrame = for {
      ftype <- Gen.oneOf(FrameTypeAmqp, FrameTypeSasl)
      channel <- Gen.chooseNum(0, 65535)
      code <- Gen.chooseNum(0x10L, 0x18L)
      fields <- Gen.listOfN(3, genValue(1))
      payload <- genBytes
    } yield Frame(ftype, channel, described(code, fields: _*), payload)
    check(Prop.forAll(genFrame) { f =>
      val g = decodeFrame(encodeFrame(f))
      g.frameType == f.frameType && g.channel == f.channel &&
        deepEq(g.performative, f.performative) &&
        java.util.Arrays.equals(g.payload, f.payload)
    }, n = 200)
  }

  // ------------------------------------------------------- message layer
  // application-property / annotation values live in the model domain the
  // envelope surfaces (wireToAny output): String, Int, Long, Boolean.
  private val genPropVal: Gen[Any] = Gen.oneOf(
    genStr,
    Gen.chooseNum(Int.MinValue, Int.MaxValue),
    Gen.chooseNum(Long.MinValue, Long.MaxValue),
    Gen.oneOf(true, false))

  private val genProps: Gen[Seq[(String, Any)]] =
    Gen.listOfN(3, Gen.zip(Gen.identifier, genPropVal)).map(_.distinctBy(_._1))

  private val genBody: Gen[AmqpBody] = Gen.oneOf(
    genStr.map(AmqpValueBody(_)),
    Gen.listOfN(3, genPropVal).map(xs => AmqpValueBody(xs.toVector)),
    genStr.map(s => AmqpJsonBody("{\"k\":" + (AmqpEnvelope.quote(s)) + "}")),
    genBytes.map(AmqpDataBody(_)),
    Gen.const(AmqpOtherBody))

  private val genMessage: Gen[AmqpMessage] = for {
    mid <- Gen.option(genStr)
    to <- Gen.option(genStr)
    subj <- Gen.option(genStr)
    rto <- Gen.option(genStr)
    cid <- Gen.option(genStr)
    appProps <- genProps
    anns <- genProps.map(_.filterNot(_._1 == JsonBodyAnnotation))
    body <- genBody
    ttl <- Gen.option(Gen.chooseNum(0L, 0xFFFFFFFFL))
  } yield AmqpMessage(mid, to, subj, rto, cid, appProps, anns, body, ttl)

  private def bodyEq(a: AmqpBody, b: AmqpBody): Boolean = (a, b) match {
    case (AmqpDataBody(x), AmqpDataBody(y)) => java.util.Arrays.equals(x, y)
    case (AmqpValueBody(x), AmqpValueBody(y)) => deepEq(x, y)
    case _ => a == b
  }

  test("messages: encodeMessage/decodeMessage round-trip the envelope, forAll") {
    check(Prop.forAll(genMessage) { m =>
      val d = decodeMessage(encodeMessage(m))
      d.messageId == m.messageId && d.to == m.to && d.subject == m.subject &&
        d.replyTo == m.replyTo && d.correlationId == m.correlationId &&
        d.applicationProperties == m.applicationProperties &&
        d.messageAnnotations == m.messageAnnotations &&
        bodyEq(d.body, m.body) && d.ttlMillis == m.ttlMillis
    })
  }

  test("messages: a ttl-carrying bare message leads with the header section") {
    check(Prop.forAll(genMessage, Gen.chooseNum(0L, 0xFFFFFFFFL)) { (m0, t) =>
      val bs = encodeMessage(m0.copy(ttlMillis = Some(t)))
      // §3.2: header precedes every other section — the bare message
      // must open with the described-value marker (0x00) and the
      // header descriptor as smallulong (0x53 0x70)
      bs.length >= 3 && bs(0) == 0x00.toByte && bs(1) == 0x53.toByte &&
        bs(2) == 0x70.toByte &&
        decodeMessage(bs).ttlMillis.contains(t)
    }, n = 60)
  }

  test("messages: delivery annotations ride the transfer payload, not the bare message") {
    check(Prop.forAll(genMessage, Gen.chooseNum(0L, Long.MaxValue)) { (m, seq) =>
      val payload = encodeDeliveryAnnotations(
        Seq(Amqp10Wire.SeqAnnotation -> seq)) ++ encodeMessage(m)
      val (d, danns) = decodeTransferPayload(payload)
      danns == Vector(Amqp10Wire.SeqAnnotation -> seq) &&
        d.messageAnnotations == m.messageAnnotations && bodyEq(d.body, m.body)
    }, n = 150)
  }

  test("messages: a ttl-carrying TRANSFER payload keeps §3.2 section order") {
    check(Prop.forAll(genMessage, Gen.chooseNum(0L, 0xFFFFFFFFL),
        Gen.chooseNum(0L, Long.MaxValue)) { (m0, t, seq) =>
      val bs = encodeTransferPayload(Seq(Amqp10Wire.SeqAnnotation -> seq),
        m0.copy(ttlMillis = Some(t)))
      // header (0x00 0x53 0x70) must LEAD the payload, ahead of the
      // delivery-annotations section (descriptor 0x71) — a compliant
      // peer parses sections in order and would drop a late header
      val (d, danns) = decodeTransferPayload(bs)
      bs.length >= 3 && bs(0) == 0x00.toByte && bs(1) == 0x53.toByte &&
        bs(2) == 0x70.toByte &&
        d.ttlMillis.contains(t) &&
        danns == Vector(Amqp10Wire.SeqAnnotation -> seq)
    }, n = 60)
  }

  test("messages: a str32 body sized past the payload's end throws, forAll") {
    val text = "b" * 300
    check(Prop.forAll(genMessage, Gen.chooseNum(1, 1 << 20)) { (m0, over) =>
      val bs = encodeTransferPayload(Seq(Amqp10Wire.SeqAnnotation -> 1L),
        m0.copy(body = AmqpValueBody(text)))
      // the body is the last section: 00 53 77 b1 size32, then the text
      java.nio.ByteBuffer.wrap(bs).putInt(bs.length - text.length - 4, text.length + over)
      scala.util.Try(decodeTransferPayload(bs)) match {
        case scala.util.Failure(_: IllegalArgumentException) => true
        case _ => false
      }
    }, n = 100)
  }

  test("messages: JSON-body provenance survives a wire hop (sink → source)") {
    val m = AmqpMessage(body = AmqpJsonBody("""{"a":[1,2],"b":"x"}"""),
      messageAnnotations = Seq("user-ann" -> "kept"))
    val d = decodeMessage(encodeMessage(m))
    assert(d.body == m.body, "body_type provenance must not degrade to amqpValue")
    assert(d.messageAnnotations == Seq("user-ann" -> "kept"),
      "the provenance annotation is transport-internal and must be stripped")
  }

  test("messages: amqp-sequence body keeps the message, omits body content") {
    // Reference parity: AMQPJsonFunction.scala:149-154 in /root/reference
    // (any other section → no body content, message still delivered).
    val m = AmqpMessage(messageId = Some("seq-1"), body = AmqpOtherBody)
    val d = decodeMessage(encodeMessage(m))
    assert(d.messageId.contains("seq-1"))
    assert(d.body == AmqpOtherBody)
  }

  // ------------------------------------------------------- live-wire layer
  test("wire: random envelopes survive sendMany -> drain fetch over a live server, forAll") {
    // the codec properties above are loopback; this one crosses a real
    // socket — framing, pipelined transfers, credit grants, drain-mode
    // flow, and both codec directions on both peers sit under the fuzz
    val backing = new InMemoryAmqpBroker
    val server = new Amqp10Server(backing)
    val client = new Amqp10Endpoint("127.0.0.1", server.port)
    val ctr = new java.util.concurrent.atomic.AtomicLong()
    try {
      check(Prop.forAll(Gen.listOfN(5, genMessage),
          Gen.chooseNum(0L, 1L << 40)) { (ms, ts0) =>
        val addr = s"fuzz-${ctr.incrementAndGet()}"
        val seqs = client.sendMany(addr,
          ms.zipWithIndex.map { case (m, i) => (m, ts0 + i) })
        val got = client.fetch(addr, 0L, client.latestSeq(addr))
        seqs.forall(_ > 0) && got.length == ms.length &&
          got.zip(ms.zipWithIndex).forall { case ((_, g, ts), (w, i)) =>
            ts == ts0 + i &&
              g.messageId == w.messageId && g.to == w.to &&
              g.subject == w.subject && g.replyTo == w.replyTo &&
              g.correlationId == w.correlationId &&
              g.ttlMillis == w.ttlMillis &&
              g.applicationProperties == w.applicationProperties &&
              g.messageAnnotations == w.messageAnnotations &&
              bodyEq(g.body, w.body)
          }
      }, n = 60)
    } finally {
      try client.close() finally server.close()
    }
  }
}
