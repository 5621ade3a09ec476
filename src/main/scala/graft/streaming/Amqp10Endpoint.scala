package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import Amqp10Codec._
import Amqp10Wire._

/** Client side of the `amqp10://` transport: an [[AmqpEndpoint]] whose
  * operations are AMQP 1.0 performative exchanges with an
  * [[Amqp10Server]] (see [[Amqp10Wire]] for the mapping). One
  * connection, one session; sender links are cached per address,
  * receiver links are attached per operation (probe / drain-fetch) and
  * detached after, like the reference's per-receiver link lifecycle
  * (AMQPReceiver.scala:97-118 in /root/reference).
  *
  * Disconnect parity: on IO failure the client re-dials — re-running
  * the header/SASL/open/begin handshake and re-attaching links lazily —
  * then retries the interrupted operation once. SASL refusal throws
  * SecurityException and is never retried (failed-SASL-connect
  * restart-with-cause, AMQPReceiver.scala:92).
  */
class Amqp10Endpoint(host: String, port: Int,
    username: Option[String] = None, password: Option[String] = None,
    saslMechanism: String = "PLAIN",
    tls: Option[javax.net.ssl.SSLContext] = None)
    extends AmqpEndpoint with AutoCloseable {

  /** Most transfers a [[pipelined]] chunk puts in flight. */
  private val PipelineDepth = 500

  private val SessionBegin = described(Desc.Begin, null, UInt(0L), UInt(65535L), UInt(65535L))

  private var sock: Socket = _
  private var in: DataInputStream = _
  private var out: BufferedOutputStream = _
  private var nextHandle = 0L
  private var nextDeliveryId = 0L
  private var serverPayloadChunk = MaxPayloadChunk
  private val senderLinks = mutable.Map[String, Long]()  // address -> handle
  private var stagingHandle = -1L
  private var coordinatorHandle = -1L
  private val declaredTxns = mutable.Set[String]()
  /** Deliveries received on THIS session and not yet settled: the
    * settlement ledger. Per address, seqs are recorded strictly rising. */
  private val received = new DeliveryLedger
  /** The drain in progress, if any: while one is open every other
    * operation on this connection is refused. */
  private var openDrain: Drain = _
  /** [[recycleSession]] sent end + begin; their echoes are still unread. */
  private var sessionEchoesDue = false

  // ------------------------------------------------------------ transport
  /** Every AMQP-layer frame is written here first. The pipelined produce
    * paths emit hundreds of transfer frames back-to-back, and a flush
    * (= syscall + packet under TCP_NODELAY) per ~70-byte frame was the
    * produce bottleneck (profiled: flushes, not encode, dominate), so
    * frames collect until [[flushFrames]]. Callers MUST flush before
    * awaiting any response or the peer never sees the request. */
  private val frames = new Writer(WriteChunk)

  private def flushFrames(): Unit = {
    frames.drainTo(out)
    out.flush()
  }

  private def sendFrame(perf: Described): Unit = {
    endFrame(frames, beginFrame(frames, FrameTypeAmqp, 0, perf))
    flushFrames()
  }

  private def connect(): Unit = {
    sock = tls match {
      case Some(ctx) => ctx.getSocketFactory.createSocket(host, port)
      case None => new Socket(host, port)
    }
    sock.setTcpNoDelay(true)
    // a drain reads the server's 64 KiB pushes: one read call each
    in = new DataInputStream(new BufferedInputStream(sock.getInputStream, WriteChunk))
    out = new BufferedOutputStream(sock.getOutputStream)
    frames.truncate(0) // frames a dead connection never sent
    forgetSession()
    if (username.isDefined) {
      writeAll(out, HeaderSasl)
      val serverHeader = readHeader(in)
      require(java.util.Arrays.equals(serverHeader, HeaderSasl), "no SASL layer offered")
      val mechs = readFrame(in) // sasl-mechanisms
      require(descriptorCode(mechs.performative) == Desc.SaslMechanisms)
      if (saslMechanism == Scram.Mechanism) {
        val offered = field(mechs.performative, 0) match {
          case v: Vector[_] => v.collect { case Sym(n) => n }
          case Sym(n) => Vector(n)
          case _ => Vector.empty[String]
        }
        if (!offered.contains(Scram.Mechanism)) {
          close()
          throw new SecurityException(
            s"server does not offer ${Scram.Mechanism} (offered: ${offered.mkString(",")})")
        }
        // RFC 5802: client-first -> challenge (server-first) -> response
        // (client-final with proof) -> outcome (server-final "v=...").
        // The password never rides the wire, and the client REFUSES a
        // server that cannot prove it holds ServerKey (mutual auth).
        val cnonce = Scram.freshNonce()
        val bare = Scram.clientFirstBare(username.getOrElse(""), cnonce)
        writeAll(out, encodeFrame(Frame(FrameTypeSasl, 0,
          described(Desc.SaslInit, Sym(Scram.Mechanism),
            (Scram.Gs2Header + bare).getBytes(UTF_8)), Array.emptyByteArray)))
        val chal = readFrame(in)
        require(descriptorCode(chal.performative) == Desc.SaslChallenge,
          "expected sasl-challenge")
        val sf = new String(field(chal.performative, 0).asInstanceOf[Array[Byte]], UTF_8)
        val attrs = Scram.parseAttrs(sf)
        val combined = attrs.getOrElse("r", "")
        // the server must EXTEND the client nonce (RFC 5802 §5.1 r=):
        // an exact echo would let a replaying peer reuse old transcripts
        if (!combined.startsWith(cnonce) || combined.length <= cnonce.length) {
          close()
          throw new SecurityException("server did not extend the client nonce")
        }
        val salt = Scram.unb64(attrs.getOrElse("s", ""))
        // RFC 5802's client floor: a low iteration count is a downgrade
        // attack (the proof becomes cheap to brute-force offline) —
        // refuse BEFORE computing any proof over the weak parameters
        val iters = attrs.get("i").map(_.toInt).getOrElse {
          close(); throw new SecurityException("sasl-challenge missing iteration count")
        }
        if (iters < 4096) {
          close()
          throw new SecurityException(
            s"server iteration count $iters below the 4096 floor (downgrade?)")
        }
        val withoutProof = Scram.clientFinalWithoutProof(combined)
        val authMsg = Scram.authMessage(bare, sf, withoutProof)
        val salted = Scram.saltedPassword(password.getOrElse(""), salt, iters)
        val clientFinal = withoutProof + ",p=" + Scram.b64(Scram.clientProof(salted, authMsg))
        writeAll(out, encodeFrame(Frame(FrameTypeSasl, 0,
          described(Desc.SaslResponse, clientFinal.getBytes(UTF_8)), Array.emptyByteArray)))
        val outcome = readFrame(in)
        require(descriptorCode(outcome.performative) == Desc.SaslOutcome)
        val authed = field(outcome.performative, 0) match {
          case UByte(0) => true
          case _ => false
        }
        val serverFinal = field(outcome.performative, 1) match {
          case bs: Array[Byte] => new String(bs, UTF_8)
          case _ => ""
        }
        if (!authed) {
          close()
          throw new SecurityException(
            s"AMQP SASL authentication failed for user ${username.getOrElse("<anonymous>")}")
        }
        if (serverFinal != "v=" + Scram.b64(Scram.serverSignature(salted, authMsg))) {
          close()
          throw new SecurityException(
            "SCRAM mutual authentication failed: server signature mismatch")
        }
      } else {
        // RFC 4616 PLAIN initial response: authzid NUL authcid NUL passwd
        val response = ("\u0000" + username.getOrElse("") +
          "\u0000" + password.getOrElse("")).getBytes(UTF_8)
        writeAll(out, encodeFrame(Frame(FrameTypeSasl, 0,
          described(Desc.SaslInit, Sym("PLAIN"), response), Array.emptyByteArray)))
        val outcome = readFrame(in)
        require(descriptorCode(outcome.performative) == Desc.SaslOutcome)
        field(outcome.performative, 0) match {
          case UByte(0) => ()
          case _ =>
            close()
            throw new SecurityException(
              s"AMQP SASL authentication failed for user ${username.getOrElse("<anonymous>")}")
        }
      }
    }
    writeAll(out, HeaderAmqp)
    val serverHeader = readHeader(in)
    require(java.util.Arrays.equals(serverHeader, HeaderAmqp), "bad server AMQP header")
    sendFrame(described(Desc.Open, s"graft-client-${System.identityHashCode(this)}",
      null, UInt(MaxFrameSize.toLong)))
    val serverOpen = await(Desc.Open)
    // §2.7.1: our outgoing frames must fit the SERVER's max-frame-size
    serverPayloadChunk = negotiatedPayloadChunk(field(serverOpen.performative, 2))
    sendFrame(SessionBegin)
    await(Desc.Begin)
  }

  /** Client state scoped to the session: handles, delivery-ids, links. */
  private def forgetSession(): Unit = {
    sessionEchoesDue = false
    nextHandle = 0L; nextDeliveryId = 0L
    senderLinks.clear(); received.clear(); declaredTxns.clear()
    stagingHandle = -1L; coordinatorHandle = -1L
  }

  /** Close the socket without a handshake; the next operation re-dials. */
  private def dropSocket(): Unit = {
    if (sock != null) try sock.close() catch { case _: Throwable => () }
    sock = null
  }

  /** End the session and begin a fresh one on the same connection. §2.5
    * session end drops the session's unsettled deliveries on both peers,
    * so a pooled reader connection (readers never settle) carries no
    * delivery state from one borrower to the next. Both frames go out in
    * one write and their echoes are read by the next operation, so the
    * release costs no round trip. An IO failure drops the socket
    * instead, which the next operation re-dials. */
  private[streaming] def recycleSession(): Unit = synchronized {
    requireNoDrain()
    if (sock != null) {
      try {
        awaitSessionEchoes()
        endFrame(frames, beginFrame(frames, FrameTypeAmqp, 0, described(Desc.End)))
        sendFrame(SessionBegin)
        forgetSession()
        sessionEchoesDue = true
      } catch { case scala.util.control.NonFatal(_) => dropSocket() }
    }
  }

  private def awaitSessionEchoes(): Unit =
    if (sessionEchoesDue) {
      await(Desc.End)
      await(Desc.Begin)
      sessionEchoesDue = false
    }

  /** Read frames until one with the wanted performative arrives; credit
    * flow frames may interleave and are skipped (their grants are
    * informational — the broker's per-transfer disposition is the
    * authoritative admission answer). */
  private def await(code: Long): Frame = {
    var f = readFrame(in)
    while (descriptorCode(f.performative) != code) {
      require(descriptorCode(f.performative) == Desc.Flow,
        f"unexpected performative 0x${descriptorCode(f.performative)}%02x awaiting 0x$code%02x")
      f = readFrame(in)
    }
    f
  }

  private def call[T](op: => T): T = synchronized {
    requireNoDrain()
    if (sock == null) connect()
    try { awaitSessionEchoes(); op }
    catch {
      case e: SecurityException => throw e
      case _: java.io.IOException =>
        dropSocket()
        connect()
        op
    }
  }

  private def requireNoDrain(): Unit =
    if (openDrain != null) throw new IllegalStateException(
      "a drain is open on this connection: read it to its end or close it first")

  // ---------------------------------------------------------------- links
  private def attachSender(target: Any): Long = {
    val handle = nextHandle
    nextHandle += 1
    sendFrame(described(Desc.Attach, s"graft-snd-$handle", UInt(handle),
      java.lang.Boolean.FALSE, null, null, null, target))
    await(Desc.Attach)
    handle
  }

  private def senderLink(address: String): Long =
    senderLinks.getOrElseUpdate(address,
      attachSender(described(Desc.Target, address)))

  private def stagingLink(): Long = {
    if (stagingHandle < 0)
      stagingHandle = attachSender(described(Desc.Target, StagingTarget))
    stagingHandle
  }

  private def coordinatorLink(): Long = {
    if (coordinatorHandle < 0)
      coordinatorHandle = attachSender(described(Desc.Coordinator))
    coordinatorHandle
  }

  /** Write one transfer's frames (chunked to the negotiated frame size)
    * WITHOUT waiting for its disposition: [[pipelined]] flushes once per
    * chunk before draining. */
  private def transferFrames(handle: Long, txnId: Option[String])(
      payload: Writer => Unit): Unit = {
    val did = nextDeliveryId
    nextDeliveryId += 1
    val state = txnId
      .map(t => described(Desc.TransactionalState, t.getBytes(UTF_8)))
      .orNull
    val tag = did.toString.getBytes(UTF_8)
    writeDelivery(frames, 0, serverPayloadChunk, more =>
      described(Desc.Transfer, UInt(handle), UInt(did), tag, UInt(0L),
        java.lang.Boolean.FALSE, java.lang.Boolean.valueOf(more), null, state))(payload)
    if (frames.size >= WriteChunk) frames.drainTo(out)
  }

  /** Pipelined transfers (§2.6.7: many unsettled deliveries in flight):
    * each payload of `chunk` becomes one transfer on `handle`, the chunk
    * goes out in as few packets as the buffer allows, and then its
    * dispositions are drained. Returns each transfer's disposition
    * state, in order — one round-trip per chunk, not per message.
    *
    * A chunk holds at most [[PipelineDepth]] transfers: the server writes
    * dispositions while we are still writing transfers, and an unbounded
    * chunk could fill both socket buffers with neither side reading —
    * the classic pipelining deadlock.
    *
    * Inside one [[call]] the chunk's delivery-ids are consecutive, so a
    * disposition range is clipped to the chunk and matched by index.
    * §2.6.12 lets a broker coalesce ranges or restate earlier
    * deliveries: foreign ids are ignored, and a hostile range like
    * [0, 2^32] costs no per-id loop beyond the chunk. */
  private def pipelined(handle: Long, txnId: Option[String],
      chunk: Seq[Writer => Unit]): IndexedSeq[Described] = {
    require(chunk.length <= PipelineDepth, s"chunk of ${chunk.length} > $PipelineDepth")
    val base = nextDeliveryId
    chunk.foreach(transferFrames(handle, txnId))
    flushFrames()
    val states = new Array[Described](chunk.length)
    var missing = chunk.length
    while (missing > 0) {
      val disp = await(Desc.Disposition).performative
      val first = asLong(field(disp, 1))
      val last = field(disp, 2) match { case null => first; case v => asLong(v) }
      val state = field(disp, 4).asInstanceOf[Described]
      var i = math.min(math.max(first - base, 0L), chunk.length.toLong).toInt
      val end = math.min(last - base, chunk.length - 1L)
      while (i <= end) {
        if (states(i) == null) missing -= 1
        states(i) = state
        i += 1
      }
    }
    states.toIndexedSeq
  }

  /** Transfer one message and return the broker's disposition state. */
  private def transfer(handle: Long, txnId: Option[String] = None)(
      payload: Writer => Unit): Described =
    pipelined(handle, txnId, Seq(payload)).head

  // ------------------------------------------------------------ operations
  /** At-least-once under reconnect: [[call]] re-dials and retries the
    * operation once after an IOException, so if the broker applied the
    * transfer but the connection died before the disposition was read,
    * the retry enqueues the message a second time under a new seq.
    * Producers needing exactly-once must use the transactional path
    * ([[stage]]/[[commitStaged]]), whose epoch-idempotent discharge
    * makes replays no-ops. */
  override def send(address: String, msg: AmqpMessage, timestampMicros: Long): Long =
    call {
      sendOutcome(transfer(senderLink(address)) { w =>
        writeTransferPayload(w, Seq(TsAnnotation -> timestampMicros), msg)
      })
    }

  /** Pipelined bulk produce ([[pipelined]]): throughput is
    * bandwidth-bound instead of round-trip-bound. Each chunk is its own
    * [[call]]; once a chunk sees a credit refusal the remaining messages
    * are refused without touching the wire (credit replenishes only via
    * fetch, never mid-send, so they could not be accepted anyway — the
    * refused SUFFIX contract holds across chunks).
    *
    * Same at-least-once reconnect contract as [[send]], amplified:
    * an IOException mid-chunk replays that whole chunk. */
  override def sendMany(address: String, msgs: Seq[(AmqpMessage, Long)]): Seq[Long] = {
    val results = Vector.newBuilder[Long]
    var refused = false
    msgs.grouped(PipelineDepth).foreach { chunk =>
      if (refused) results ++= Vector.fill(chunk.length)(-1L)
      else {
        val rs = call {
          pipelined(senderLink(address), None, chunk.map { case (m, ts) =>
            (w: Writer) => writeTransferPayload(w, Seq(TsAnnotation -> ts), m)
          }).map(sendOutcome)
        }
        results ++= rs
        refused = rs.lastOption.contains(-1L)
      }
    }
    results.result()
  }

  /** A produce disposition's answer: the assigned seq, or -1 refused. */
  private def sendOutcome(state: Described): Long = descriptorCode2(state) match {
    case Right(EnqueuedOutcome) => asLong(field(state, 0))
    case Left(Desc.Rejected) => -1L
    case _ => throw new IllegalStateException(s"unexpected send outcome: $state")
  }

  /** Descriptor as numeric code (Left) or symbol name (Right). */
  private def descriptorCode2(d: Described): Either[Long, String] = d.descriptor match {
    case ULong(c) => Left(c)
    case UInt(c) => Left(c)
    case Sym(s) => Right(s)
    case other => throw new IllegalArgumentException(s"bad descriptor: $other")
  }

  private def probe(address: String, props: AmqpWireMap): AmqpWireMap = {
    val handle = nextHandle
    nextHandle += 1
    // attach fields (§2.7.3): 0 name, 1 handle, 2 role, 3/4 settle
    // modes, 5 source, 6 target, 7 unsettled, 8 incomplete-unsettled,
    // 9 initial-delivery-count, 10 max-message-size,
    // 11/12 capabilities, 13 properties
    sendFrame(described(Desc.Attach, s"graft-rcv-$handle", UInt(handle),
      java.lang.Boolean.TRUE, null, null,
      described(Desc.Source, address), null, null, null,
      null, null, null, null, props))
    val echo = await(Desc.Attach)
    if (field(echo.performative, 5) == null) {
      // refused (§2.6.3): the server's detach carries the reason; answer
      // it to close the link and surface the refusal as the broker's own
      // IllegalArgumentException — the connection stays usable
      val detach = await(Desc.Detach)
      sendFrame(described(Desc.Detach, UInt(handle), java.lang.Boolean.TRUE))
      val why = field(detach.performative, 2) match {
        case err: Described => String.valueOf(field(err, 1))
        case _ => "no reason given"
      }
      throw new IllegalArgumentException(s"broker refused the request on '$address': $why")
    }
    val echoProps = field(echo.performative, 13) match {
      case m: AmqpWireMap => m
      case _ => AmqpWireMap(Vector.empty)
    }
    sendFrame(described(Desc.Detach, UInt(handle), java.lang.Boolean.TRUE))
    await(Desc.Detach)
    echoProps
  }

  override def latestSeq(address: String): Long = call {
    probe(address, amqpWireMap(Sym(ProbeProp) -> true))
      .get(Sym(LatestProp)).map(asLong).getOrElse(0L)
  }

  override def settledUpTo(address: String): Long = call {
    probe(address, amqpWireMap(Sym(ProbeProp) -> true))
      .get(Sym(SettledProp)).map(asLong).getOrElse(0L)
  }

  /** Timestamp-window probe over the wire (scan predicate pushdown): a
    * probe attach carrying lo/hi; a server without the extension omits
    * the echo props and this returns None — callers fall back to the
    * full replayable window, so talking to an older peer degrades the
    * pruning, never the results. */
  override def timestampWindow(address: String, loMicros: Long,
      hiMicros: Long): Option[(Long, Long)] = call {
    val echo = probe(address, amqpWireMap(Sym(ProbeProp) -> true,
      Sym(TsWinLoProp) -> loMicros, Sym(TsWinHiProp) -> hiMicros))
    for {
      f <- echo.get(Sym(TsWinFromProp)).map(asLong)
      t <- echo.get(Sym(TsWinToProp)).map(asLong)
    } yield (f, t)
  }

  /** Address-discovery probe (pattern subscription): a probe attach on
    * a reserved pseudo-address carrying the glob; the echo's list of
    * matching addresses comes back as a wire list. A server without the
    * extension omits the echo and this returns None — the source then
    * fails the pattern subscription loudly instead of reading nothing. */
  override def listAddresses(pattern: String): Option[Seq[String]] = call {
    probe("graft:discovery", amqpWireMap(Sym(ProbeProp) -> true,
      Sym(AddrPatternProp) -> pattern))
      .get(Sym(AddrListProp)).map {
        case xs: Seq[_] => xs.map(_.toString)
        case other =>
          throw new IllegalStateException(s"bad address-list echo: $other")
      }
  }

  // ------------------------------------ shared subscription (work-sharing)
  // The four claim-ledger RPCs ride probe attaches (request in
  // attach.properties, reply in the echo) — see Amqp10Wire.ShareGroupProp
  // for the framing. A peer without the extension omits the echo prop and
  // the accessor below FAILS LOUDLY: a shared subscription silently
  // degrading to prefix settlement would double-read, exactly the
  // contract of the transport-less default in [[AmqpEndpoint.claim]].
  private def shareEcho(echo: AmqpWireMap, prop: String): Any =
    echo.get(Sym(prop)).getOrElse(throw new UnsupportedOperationException(
      s"this AMQP peer has no shared-subscription claim surface " +
        s"(probe attach echoed no $prop)"))

  private def decodeClaims(v: Any): Seq[AmqpClaim] = v match {
    case xs: Seq[_] => xs.map {
      case c: Seq[_] if c.length == 3 =>
        AmqpClaim(asLong(c(0)), asLong(c(1)), asLong(c(2)))
      case other => throw new IllegalStateException(s"bad share-claim echo: $other")
    }
    case other => throw new IllegalStateException(s"bad share-claim echo: $other")
  }

  /** Reconnect contract of [[call]] applied to claims: a retried
    * claim whose first reply was lost self-heals via lease expiry
    * (nobody reads the orphan's slices); renew/settle are idempotent
    * broker-side. */
  override def claim(address: String, group: String, owner: String,
      maxRows: Long, leaseMillis: Long): Seq[AmqpClaim] = call {
    decodeClaims(shareEcho(probe(address, amqpWireMap(
      Sym(ShareGroupProp) -> group, Sym(ShareOwnerProp) -> owner,
      Sym(ShareMaxRowsProp) -> maxRows, Sym(ShareLeaseMsProp) -> leaseMillis)),
      ShareClaimsProp))
  }

  override def renewClaims(address: String, group: String, owner: String,
      claims: Seq[AmqpClaim], leaseMillis: Long): Seq[Long] = call {
    val triples: Vector[Any] = claims.toVector.map(c =>
      Vector(c.claimId, c.fromExclusive, c.toInclusive))
    shareEcho(probe(address, amqpWireMap(
      Sym(ShareGroupProp) -> group, Sym(ShareOwnerProp) -> owner,
      Sym(ShareLeaseMsProp) -> leaseMillis, Sym(ShareRenewProp) -> triples)),
      ShareLostProp) match {
      case xs: Seq[_] => xs.map(asLong)
      case other => throw new IllegalStateException(s"bad share-lost echo: $other")
    }
  }

  override def settleClaims(address: String, group: String,
      claimIds: Seq[Long]): Unit = call {
    shareEcho(probe(address, amqpWireMap(
      Sym(ShareGroupProp) -> group,
      Sym(ShareSettleProp) -> (claimIds.toVector: Any))), ShareSettleProp)
    ()
  }

  override def configureGroupPolicy(address: String, group: String,
      maxDeliveries: Int, deadLetterAddress: Option[String]): Unit = call {
    shareEcho(probe(address, amqpWireMap((Vector[(Any, Any)](
      Sym(ShareGroupProp) -> group,
      Sym(SharePolicyMaxProp) -> maxDeliveries.toLong) ++
      deadLetterAddress.map(d => (Sym(SharePolicyDlqProp): Any) -> (d: Any))): _*)),
      SharePolicyMaxProp)
    ()
  }

  override def groupStats(address: String, group: String): AmqpGroupStats = call {
    shareEcho(probe(address, amqpWireMap(
      Sym(ShareGroupProp) -> group, Sym(ShareStatsProp) -> true)),
      ShareStatsEchoProp) match {
      case xs: Seq[_] if xs.length == 5 =>
        AmqpGroupStats(asLong(xs(0)), asLong(xs(1)), asLong(xs(2)),
          asLong(xs(3)), asLong(xs(4)))
      case other => throw new IllegalStateException(s"bad share-stats echo: $other")
    }
  }

  /** The slice, read whole: [[drain]] run to its end under the
    * connection's monitor, so other threads calling this connection
    * (the JVM's one cached client serializes all its callers) wait for
    * the fetch instead of meeting its open drain. */
  override def fetch(address: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, AmqpMessage, Long)] = synchronized {
    drain(address, fromExclusive, toInclusive).toVector
  }

  /** Open a pull-based drain of the slice (fromExclusive, toInclusive].
    * Nothing is read until the caller asks: each `hasNext` reads the
    * frames of one delivery and decodes it, so the caller's work
    * overlaps the server's push and the heap holds the socket buffer,
    * not a decoded slice. The drain is a receiver link resuming at the
    * requested seq (source filter) and one drain-mode flow for exactly
    * the slice's credit; the server's flow echo ends it.
    *
    * Until the drain ends — read to its end or closed — every other
    * operation on this connection throws IllegalStateException. Closing
    * a drain before its end reads the rest of the slice off the wire
    * without decoding it, up to the flow echo, so the connection stays
    * usable.
    *
    * One-retry contract of [[call]]: on an IO failure the drain re-dials
    * once and resumes after the last seq it handed out, so the caller
    * sees each message of the slice once. */
  override def drain(address: String, fromExclusive: Long,
      toInclusive: Long): Drain = synchronized {
    requireNoDrain()
    val d = new Drain(address, fromExclusive, toInclusive)
    if (toInclusive > fromExclusive) openDrain = d
    d
  }

  final class Drain private[Amqp10Endpoint] (address: String, fromExclusive: Long,
      toInclusive: Long) extends Iterator[(Long, AmqpMessage, Long)] with AutoCloseable {
    /** The last seq handed out: where a re-dialed drain resumes. */
    private var last = fromExclusive
    private var handle = -1L
    private var redialed = false
    private var done = toInclusive <= fromExclusive
    private var ready: (Long, AmqpMessage, Long) = _
    private val head = new TransferHead
    private val anns = new TransportAnnotations
    // a delivery split over several frames (§2.6.14), collected here
    private var partial: Writer = _
    private var partialId = -1L
    // deliveries are recorded for settlement only when their seq rises
    private var recordedUpTo = Long.MinValue
    // closed early: the rest of the slice is read, not decoded
    private var skipping = false

    def hasNext: Boolean = ready != null || (!done && advance())

    def next(): (Long, AmqpMessage, Long) = {
      if (!hasNext) throw new NoSuchElementException("drain exhausted")
      val r = ready
      ready = null
      r
    }

    /** End the drain: what is left of the slice is read up to the flow
      * echo and dropped. A failure on the way drops the socket. */
    def close(): Unit = Amqp10Endpoint.this.synchronized {
      ready = null
      if (handle < 0) end()
      else if (!done) {
        skipping = true
        try { while (pull()) () }
        catch { case scala.util.control.NonFatal(_) => abandon() }
      }
    }

    private def end(): Unit = {
      done = true
      if (openDrain eq this) openDrain = null
    }

    /** End the drain by dropping the socket (the next operation re-dials). */
    private[Amqp10Endpoint] def abandon(): Unit = {
      end()
      ready = null
      dropSocket()
    }

    private def advance(): Boolean = Amqp10Endpoint.this.synchronized {
      try pull()
      catch {
        case _: java.io.IOException if !redialed =>
          redialed = true
          dropSocket()
          handle = -1L
          partial = null
          try pull() catch { case e: Throwable => abandon(); throw e }
        case e: Throwable => abandon(); throw e
      }
    }

    private def attach(): Unit = {
      if (sock == null) connect()
      awaitSessionEchoes()
      recordedUpTo = received.lastSeq(address)
      handle = nextHandle
      nextHandle += 1
      sendFrame(described(Desc.Attach, s"graft-rcv-$handle", UInt(handle),
        java.lang.Boolean.TRUE, null, null,
        Described(ULong(Desc.Source), Vector(address, null, null, null,
          java.lang.Boolean.FALSE, null, null,
          amqpWireMap(Sym(FromSeqFilter) -> last)))))
      await(Desc.Attach)
      sendFrame(described(Desc.Flow, UInt(0L), UInt(65535L), UInt(0L),
        UInt(65535L), UInt(handle), UInt(0L),
        UInt(toInclusive - last), UInt(0L), java.lang.Boolean.TRUE))
    }

    /** Read up to the next whole delivery and decode it into `ready`;
      * false at the flow echo that ends the slice. */
    private def pull(): Boolean = {
      if (handle < 0) attach()
      while (true) {
        val bs = readFrameBytes(in)
        val th = head
        val payloadEnd = bs.length
        val isTransfer = readTransferHead(bs, th) || {
          val f = decodeFrame(bs)
          descriptorCode(f.performative) match {
            case Desc.Transfer =>
              th.handle = asLong(field(f.performative, 0))
              th.deliveryId = field(f.performative, 1) match { case null => -1L; case v => asLong(v) }
              th.more = asBool(field(f.performative, 5))
              th.payloadStart = payloadEnd - f.payloadLength
              true
            case Desc.Flow =>
              sendFrame(described(Desc.Detach, UInt(handle), java.lang.Boolean.TRUE))
              await(Desc.Detach)
              end()
              return false
            case other =>
              throw new IllegalStateException(f"unexpected 0x$other%02x during drain")
          }
        }
        if (isTransfer && !skipping) {
          if (th.handle != handle)
            throw new IllegalStateException(s"transfer on handle ${th.handle} during a drain on $handle")
          if (partial == null && !th.more) {
            deliver(th.deliveryId, new Reader(bs, th.payloadStart, payloadEnd))
            return true
          }
          if (partial == null) {
            partial = new Writer((payloadEnd - th.payloadStart) * 2)
            partialId = th.deliveryId
          }
          partial.raw(bs, th.payloadStart, payloadEnd - th.payloadStart)
          if (!th.more) {
            val whole = partial
            partial = null
            deliver(partialId, whole.reader)
            return true
          }
        }
      }
      false
    }

    private def deliver(did: Long, payload: Reader): Unit = {
      val msg = anns.decode(payload)
      if (!anns.hasSeq) throw new IllegalStateException("transfer without seq annotation")
      val seq = anns.seq
      if (seq > recordedUpTo) { received.add(address, did, seq); recordedUpTo = seq }
      last = seq
      ready = (seq, msg, if (anns.hasTs) anns.ts else 0L)
    }
  }

  override def settle(address: String, upTo: Long): Unit = call {
    // dispositions for the delivery-ids this connection received (the
    // wire-native path); contiguous did runs become one frame each
    val highest = received.settle(address, upTo, (first, last) =>
      sendFrame(described(Desc.Disposition, java.lang.Boolean.TRUE,
        UInt(first), UInt(last), java.lang.Boolean.TRUE, described(Desc.Accepted))))
    // restart fallback: seqs delivered on a previous connection have no
    // delivery-id here — an attach-property settle covers the remainder
    if (highest < upTo)
      probe(address, amqpWireMap(Sym(SettleUpToProp) -> upTo))
    ()
  }

  // ------------------------------------------------------- transactions
  private def declare(txn: String): Unit =
    if (!declaredTxns.contains(txn)) {
      val state = transfer(coordinatorLink())(writeMessage(_, AmqpMessage(
        body = AmqpValueBody(described(Desc.Declare, txn)))))
      require(descriptorCode2(state) == Left(Desc.Declared),
        s"declare refused: $state")
      declaredTxns += txn
    }

  /** Pipelined staging ([[pipelined]]): one round-trip per chunk
    * instead of per message. The FIRST transfer carries the
    * partition-reset annotation, so it opens a new attempt and a replayed
    * stage REPLACES the earlier one broker-side (task-retry idempotence).
    * An empty stage is that reset alone, marked as carrying no message.
    * The whole stage is one [[call]]: a re-dial replays it from the
    * reset, on the new connection that then owns the attempt. */
  override def stage(txn: String, partitionId: Int, msgs: Seq[AmqpMessage]): Unit = call {
    declare(txn)
    val handle = stagingLink()
    val transfers =
      if (msgs.isEmpty) Iterator.single(AmqpMessage(messageAnnotations = Seq(
        PartitionAnnotation -> partitionId, PartitionResetAnnotation -> true,
        EmptyStageAnnotation -> true)))
      else msgs.iterator.zipWithIndex.map { case (m, i) =>
        m.copy(messageAnnotations = m.messageAnnotations ++
          Seq(PartitionAnnotation -> partitionId) ++
          (if (i == 0) Seq(PartitionResetAnnotation -> true) else Nil))
      }
    transfers.grouped(PipelineDepth).foreach { chunk =>
      pipelined(handle, Some(txn), chunk.map(m => (w: Writer) => writeMessage(w, m)))
        .foreach(s => require(descriptorCode2(s) == Left(Desc.Accepted), s"stage refused: $s"))
    }
  }

  private def discharge(txn: String, fail: Boolean,
      anns: Seq[(String, Any)]): Described = {
    declare(txn)
    transfer(coordinatorLink())(writeMessage(_, AmqpMessage(
      messageAnnotations = anns,
      body = AmqpValueBody(described(Desc.Discharge, txn.getBytes(UTF_8),
        java.lang.Boolean.valueOf(fail))))))
  }

  override def commitStaged(txn: String, queryId: String, epochId: Long,
      address: String, timestampMicros: Long, routeByTo: Boolean): Int = call {
    // RouteAnnotation always rides with its REAL boolean value (an
    // explicit false, not absence): the server checks the value, so
    // every non-routed wire commit exercises that check, and the
    // annotation's semantics match the in-memory transport's boolean
    val state = discharge(txn, fail = false, Seq(
      QueryAnnotation -> queryId, EpochAnnotation -> epochId,
      AddressAnnotation -> address, TsAnnotation -> timestampMicros,
      RouteAnnotation -> routeByTo))
    declaredTxns -= txn
    descriptorCode2(state) match {
      case Right(CommittedOutcome) => asLong(field(state, 0)).toInt
      case other => throw new IllegalStateException(s"commit refused: $state")
    }
  }

  override def abortStaged(txn: String): Unit = call {
    discharge(txn, fail = true, Nil)
    declaredTxns -= txn
    ()
  }

  /** Close the connection; an open drain ends with it (no close
    * handshake then: the rest of its slice is still on the wire). */
  override def close(): Unit = synchronized {
    if (openDrain != null) openDrain.abandon()
    else if (sock != null) {
      try { awaitSessionEchoes(); sendFrame(described(Desc.Close)); await(Desc.Close) }
      catch { case _: Throwable => () }
      dropSocket()
    }
  }
}
