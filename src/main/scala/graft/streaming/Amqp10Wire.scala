package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import Amqp10Codec._

/** AMQP 1.0 wire transport (`amqp10://host:port` endpoints): real framed
  * performatives over TCP — the protocol the reference speaks through
  * Vert.x Proton (AMQPReceiver.scala:59-97 in /root/reference:
  * connect → open → attach → flow credit → transfer → disposition).
  *
  * Connection lifecycle (both sides):
  *   protocol header [SASL header + mechanisms/init/outcome when
  *   credentialed] → open/open → begin/begin → attach per link.
  *
  * Operation mapping onto the performative subset:
  *  - produce: sender link attached to `target=address`; each message is
  *    a transfer (delivery annotations carry the producer timestamp);
  *    the broker answers with a disposition whose state is the custom
  *    outcome `graft:enqueued:list` [seq] on success — symbolic
  *    descriptors are the spec's extension point (§2.7.x) — or
  *    `rejected(amqp:resource-limit-exceeded)` when the link-credit
  *    window is exhausted (the credit-refusal surface).
  *  - consume: receiver link attached with a `source.filter` entry
  *    `x-graft-from-seq` (the attach-time resume-point idiom real
  *    brokers use for offset filters), then `flow(link-credit=n,
  *    drain=true)`; the broker pushes transfers — delivery annotations
  *    carry `x-graft-seq` / `x-graft-ts-us` — and terminates the drain
  *    with a flow echo (§2.6.10 drain semantics).
  *  - probe: receiver attach with `x-graft-probe` in attach.properties;
  *    the broker's attach echo returns latest-seq / settled-up-to in its
  *    properties (the attach-properties extension real brokers use for
  *    sequence metadata).
  *  - settle: disposition (role=receiver, settled=true, accepted) over
  *    the delivery-ids this connection has received; a restart fallback
  *    (`x-graft-settle-up-to` attach property) covers seqs delivered on
  *    a previous connection.
  *  - exactly-once publish: AMQP transactions (§4.5) — a sender link to
  *    the `coordinator`; `declare` (global-id = engine txn key) answered
  *    by `declared[txn-id]`; staged messages are transfers carrying
  *    `transactional-state[txn-id]` to the staging target; `discharge`
  *    (fail=false, commit metadata in message annotations) atomically
  *    publishes and answers with `graft:committed:list` [n] — the
  *    broker's epoch-idempotence makes a replayed discharge a no-op.
  */
private[streaming] object Amqp10Wire {
  val MaxFrameSize = 65536
  /** Max transfer payload bytes per frame (frame header + transfer
    * performative overhead kept conservatively under MaxFrameSize). */
  val MaxPayloadChunk: Int = MaxFrameSize - 512

  val FromSeqFilter = "x-graft-from-seq"
  val SeqAnnotation = "x-graft-seq"
  val TsAnnotation = "x-graft-ts-us"
  val ProbeProp = "x-graft-probe"
  val LatestProp = "x-graft-latest-seq"
  val SettledProp = "x-graft-settled-up-to"
  /** Timestamp-window probe (scan predicate pushdown): a probe attach
    * carrying lo/hi (micros) is answered with the tightest replayable
    * sequence window containing every message timestamped in [lo, hi]
    * (from/to echo props, from exclusive). A server without the
    * extension simply omits the echo — the client then reads the full
    * window, so the pushdown degrades instead of corrupting. */
  val TsWinLoProp = "x-graft-ts-lo-us"
  val TsWinHiProp = "x-graft-ts-hi-us"
  val TsWinFromProp = "x-graft-ts-from-seq"
  val TsWinToProp = "x-graft-ts-to-seq"
  val SettleUpToProp = "x-graft-settle-up-to"
  /** Address-discovery probe (pattern subscription): a probe attach
    * carrying a glob pattern is answered with the list of existing
    * addresses matching it (a wire list of strings in the echo). A
    * server without the extension omits the echo — pattern subscription
    * then FAILS LOUDLY client-side (a silent zero-queue match would
    * read an empty table forever). */
  val AddrPatternProp = "x-graft-addr-pattern"
  val AddrListProp = "x-graft-addr-list"
  /** SHARED-SUBSCRIPTION claim surface over the wire: the four ledger
    * RPCs (claim / renewClaims / settleClaims / groupStats) ride probe
    * attaches — request fields in attach.properties, reply in the
    * attach echo's properties — the same §2.7.3 extension discipline as
    * the discovery and timestamp-window probes, so a fleet of real
    * AMQP 1.0 consumers can work-share one address through the
    * interoperable transport. `x-graft-share-group` selects the group
    * and gates the branch; exactly one op prop picks the RPC (settle >
    * renew > stats > claim). Claims travel as a wire list of
    * [claim-id, from-exclusive, to-inclusive] triples. A server without
    * the extension omits the echo prop — the client then FAILS LOUDLY
    * (a shared subscription silently degrading to prefix settlement
    * would double-read; same contract as the transport-less default in
    * [[AmqpEndpoint.claim]]). */
  val ShareGroupProp = "x-graft-share-group"
  val ShareOwnerProp = "x-graft-share-owner"
  val ShareMaxRowsProp = "x-graft-share-max-rows"
  val ShareLeaseMsProp = "x-graft-share-lease-ms"
  /** Claim reply: list of [id, from, to] triples (empty = nothing
    * dispatchable — still present, distinguishing "no work" from "no
    * extension"). */
  val ShareClaimsProp = "x-graft-share-claims"
  /** Renew request: list of [id, from, to] triples to re-assert. */
  val ShareRenewProp = "x-graft-share-renew"
  /** Renew reply: list of LOST claim ids (re-dispatched or settled). */
  val ShareLostProp = "x-graft-share-lost"
  /** Settle request: list of claim ids; echoed back as an ack count. */
  val ShareSettleProp = "x-graft-share-settle"
  /** Stats request marker; reply is [head, dispatched-up-to,
    * outstanding-claims, outstanding-rows, redeliverable-rows]. */
  val ShareStatsProp = "x-graft-share-stats"
  val ShareStatsEchoProp = "x-graft-share-stats-echo"
  /** Poison-message policy (configureGroupPolicy): max-deliveries +
    * dead-letter address ride one probe attach; the echo acks with the
    * applied ceiling. A policy the broker refuses is answered by a
    * source-less attach echo and a detach carrying the reason
    * (§2.6.3 link refusal), which the client raises as an
    * IllegalArgumentException. */
  val SharePolicyMaxProp = "x-graft-share-max-deliveries"
  val SharePolicyDlqProp = "x-graft-share-dlq"
  val PartitionAnnotation = "x-graft-partition"
  val PartitionResetAnnotation = "x-graft-partition-reset"
  val EmptyStageAnnotation = "x-graft-stage-empty"
  val QueryAnnotation = "x-graft-query"
  val EpochAnnotation = "x-graft-epoch"
  val AddressAnnotation = "x-graft-address"
  /** Presence-only marker on the discharge: route each staged message by
    * its own properties.to (fallback = AddressAnnotation's address). */
  val RouteAnnotation = "x-graft-route-by-to"
  val StagingTarget = "graft:staging"
  val EnqueuedOutcome = "graft:enqueued:list"
  val CommittedOutcome = "graft:committed:list"

  def writeAll(out: OutputStream, bs: Array[Byte]): Unit = { out.write(bs); out.flush() }

  /** Read one frame (4-byte size prefix + body). Empty frames — a bare
    * 8-byte header with no body, the §2.4.5 keepalive real brokers emit
    * under an idle-timeout — carry no performative and are skipped. */
  def readFrame(in: DataInputStream): Frame = decodeFrame(readFrameBytes(in))

  /** One non-empty frame's bytes, size prefix included, undecoded. */
  def readFrameBytes(in: DataInputStream): Array[Byte] = {
    while (true) {
      val size = in.readInt()
      require(size >= 8 && size <= MaxFrameSize * 2, s"bad frame size $size")
      val all = new Array[Byte](size)
      all(0) = (size >>> 24).toByte; all(1) = (size >>> 16).toByte
      all(2) = (size >>> 8).toByte; all(3) = size.toByte
      in.readFully(all, 4, size - 4)
      val doff = all(4) & 0xff
      if (size > doff * 4) return all // non-empty body: a real performative
    }
    throw new IllegalStateException("unreachable")
  }

  private val SeqKey = SeqAnnotation.getBytes(UTF_8)
  private val TsKey = TsAnnotation.getBytes(UTF_8)

  /** The two delivery annotations the transport reads per message,
    * [[SeqAnnotation]] and [[TsAnnotation]], taken from the section by
    * comparing key bytes: no entry vector and no key string is built.
    * Other entries are read and dropped. One instance serves a whole
    * stream of deliveries; [[decode]] resets it per message. */
  final class TransportAnnotations extends (Reader => Unit) {
    var seq = 0L
    var hasSeq = false
    var ts = 0L
    var hasTs = false

    /** The payload's message; its transport annotations land here. */
    def decode(payload: Reader): AmqpMessage = {
      hasSeq = false
      hasTs = false
      decodeSections(payload, this)
    }

    def apply(r: Reader): Unit = {
      var pairs = readMapPairs(r)
      while (pairs > 0) {
        if (r.takeKey(SeqKey)) { seq = readLong(r); hasSeq = true }
        else if (r.takeKey(TsKey)) { ts = readLong(r); hasTs = true }
        else { readValue(r); readValue(r) }
        pairs -= 1
      }
    }
  }

  /** Unsettled deliveries of one session in delivery-id order, as runs:
    * each run holds an address, its first delivery-id and the seqs sent
    * under the ids that follow. Eight bytes a delivery, nothing boxed.
    * Within a run ids are consecutive and seqs rise; [[add]] opens a new
    * run when either would break. */
  final class DeliveryLedger {
    private final class Run(val address: String, var firstId: Long) {
      var seqs = new Array[Long](64)
      var from = 0 // seqs before this index are settled and dropped
      var n = 0
      def nextId: Long = firstId + n - from
    }
    private val runs = mutable.ArrayBuffer[Run]()
    private var count = 0L

    /** Deliveries held. */
    def size: Long = count

    def add(address: String, id: Long, seq: Long): Unit = {
      var r = if (runs.isEmpty) null else runs.last
      if (r == null || r.address != address || r.nextId != id || r.seqs(r.n - 1) >= seq) {
        r = new Run(address, id)
        runs += r
      }
      if (r.n == r.seqs.length) r.seqs = java.util.Arrays.copyOf(r.seqs, r.n * 2)
      r.seqs(r.n) = seq
      r.n += 1
      count += 1
    }

    /** Highest seq of `address` recorded, or Long.MinValue. */
    def lastSeq(address: String): Long = {
      var i = runs.length - 1
      while (i >= 0) {
        val r = runs(i)
        if (r.address == address) return r.seqs(r.n - 1)
        i -= 1
      }
      Long.MinValue
    }

    /** Per address, the highest seq delivered under an id in
      * [first, last]. */
    def highestIn(first: Long, last: Long): Map[String, Long] = {
      var out = Map.empty[String, Long]
      runs.foreach { r =>
        val lo = math.max(first, r.firstId)
        val hi = math.min(last, r.nextId - 1)
        if (lo <= hi) {
          val s = r.seqs(r.from + (hi - r.firstId).toInt)
          if (out.get(r.address).forall(_ < s)) out += r.address -> s
        }
      }
      out
    }

    /** Drop the deliveries of `address` with seq <= `upTo`. Their ids go
      * to `ids` as ranges of consecutive ids (first, last), in order.
      * Answers the highest seq dropped, or Long.MinValue. */
    def settle(address: String, upTo: Long,
        ids: (Long, Long) => Unit = (_, _) => ()): Long = {
      var highest = Long.MinValue
      var first, last = -2L
      runs.foreach { r =>
        if (r.address == address && r.seqs(r.from) <= upTo) {
          var k = r.from
          while (k < r.n && r.seqs(k) <= upTo) k += 1
          highest = math.max(highest, r.seqs(k - 1))
          if (r.firstId != last + 1) {
            if (first >= 0) ids(first, last)
            first = r.firstId
          }
          last = r.firstId + (k - r.from) - 1
          count -= k - r.from
          r.firstId = last + 1
          r.from = k
        }
      }
      if (first >= 0) ids(first, last)
      runs.filterInPlace(r => r.from < r.n)
      highest
    }

    def clear(): Unit = { runs.clear(); count = 0L }
  }

  def readHeader(in: DataInputStream): Array[Byte] = {
    val h = new Array[Byte](8)
    in.readFully(h)
    h
  }

  /** Resumable frame reader for a socket with SO_TIMEOUT set: [[poll]]
    * accumulates one frame across as many timeouts as it takes and
    * returns None whenever the read stalls — never losing bytes,
    * because every pull is a single array read (which either transfers
    * >= 1 byte or throws BEFORE consuming anything; a DataInputStream
    * readInt/readFully would drop its partial bytes on timeout).
    *
    * This is what lets the server flush buffered replies while a
    * peer's frame is still in flight: the serve loop polls, and a None
    * is its cue that it is ABOUT TO BLOCK — the moment any deferred
    * disposition must reach the wire. A blocking readFrame would hold
    * those replies hostage for as long as a slow (or crashed-mid-
    * frame) writer keeps the tail bytes from arriving. Keepalives
    * (empty frames, §2.4.5) are skipped, like [[readFrame]]. */
  final class FramePoller(in: InputStream) {
    private var buf = new Array[Byte](4)
    private var have = 0
    private var size = -1
    def poll(): Option[Frame] = {
      try {
        while (true) {
          if (size < 0) {
            val n = in.read(buf, have, 4 - have)
            if (n < 0) throw new EOFException("peer closed mid-frame")
            have += n
            if (have == 4) {
              size = ((buf(0) & 0xff) << 24) | ((buf(1) & 0xff) << 16) |
                ((buf(2) & 0xff) << 8) | (buf(3) & 0xff)
              require(size >= 8 && size <= MaxFrameSize * 2, s"bad frame size $size")
              val full = new Array[Byte](size)
              System.arraycopy(buf, 0, full, 0, 4)
              buf = full
            }
          } else {
            val n = in.read(buf, have, size - have)
            if (n < 0) throw new EOFException("peer closed mid-frame")
            have += n
            if (have == size) {
              val all = buf
              val s = size
              buf = new Array[Byte](4); have = 0; size = -1
              val doff = all(4) & 0xff
              if (s > doff * 4) return Some(decodeFrame(all))
              // else: empty-body keepalive — keep pulling
            }
          }
        }
        None // unreachable
      } catch { case _: java.net.SocketTimeoutException => None }
    }
  }

  def amqpWireMap(entries: (Any, Any)*): AmqpWireMap = AmqpWireMap(entries.toVector)

  /** Bytes of frames a writer collects before they go to the socket. */
  val WriteChunk: Int = 1 << 16

  /** Write one delivery into `w` as transfer frames on `channel`. The
    * payload is encoded once, straight after a single-frame transfer
    * performative (`transfer(false)`). Only a payload larger than
    * `maxPayload` is copied out and re-cut into continuation frames,
    * `transfer(true)` on all but the last. A payload that fails to
    * encode leaves `w` as it was. */
  def writeDelivery(w: Writer, channel: Int, maxPayload: Int,
      transfer: Boolean => Described)(payload: Writer => Unit): Unit = {
    val start = w.size
    var from = start
    try {
      beginFrame(w, FrameTypeAmqp, channel, transfer(false))
      from = w.size
      payload(w)
    } catch { case e: Throwable => w.truncate(start); throw e }
    if (w.size - from <= maxPayload) endFrame(w, start)
    else {
      val bytes = w.copyRange(from, w.size)
      w.truncate(start)
      var off = 0
      while (off < bytes.length) {
        val end = math.min(off + maxPayload, bytes.length)
        val frame = beginFrame(w, FrameTypeAmqp, channel, transfer(end < bytes.length))
        w.raw(bytes, off, end - off)
        endFrame(w, frame)
        off = end
      }
    }
  }

  /** Payload bytes per transfer frame given the peer's announced
    * max-frame-size (§2.7.1; null = unlimited). 128 bytes covers the
    * frame header + transfer performative; 512 is the spec's floor, so
    * the result never drops below 512-128. Shared by both sides so the
    * chunking limits cannot drift apart. */
  def negotiatedPayloadChunk(maxFrameSize: Any): Int = maxFrameSize match {
    case null => MaxPayloadChunk
    case mfs => math.max(512 - 128,
      math.min(MaxPayloadChunk.toLong, Amqp10Codec.asLong(mfs) - 128L).toInt)
  }
}

/** Serves an [[InMemoryAmqpBroker]] over real AMQP 1.0 framing. With
  * `credentials` set, connections must pass SASL-PLAIN; anonymous
  * connections are offered ANONYMOUS (reference parity:
  * AMQPReceiver.scala:70-78). Thread-per-connection, like one Proton
  * event loop per peer. */
class Amqp10Server(backing: InMemoryAmqpBroker, bindPort: Int = 0,
    credentials: Option[(String, String)] = None,
    tls: Option[javax.net.ssl.SSLContext] = None) {
  import Amqp10Wire._

  // with a TLS context, every connection (header included) runs inside
  // the TLS session — AMQP §5.2's pure-TLS profile, no STARTTLS
  private val server: ServerSocket = tls match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket()
    case None => new ServerSocket()
  }
  server.setReuseAddress(true)
  server.bind(new InetSocketAddress(bindPort))
  private val running = new AtomicBoolean(true)

  def port: Int = server.getLocalPort

  /** Live connection sockets, so [[close]] can sever them immediately
    * instead of leaving each thread to notice `running` on its next
    * poll — a killed broker must look DOWN to its peers at once (and
    * the port frees for a restart without lingering half-open peers). */
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** Every live session's ledger of pushed, unsettled deliveries. */
  private val ledgers = java.util.concurrent.ConcurrentHashMap.newKeySet[DeliveryLedger]()

  /** Deliveries pushed and not yet settled, over every live session:
    * all the per-delivery state this server holds (test hook). */
  private[streaming] def unsettledDeliveries: Long = {
    var n = 0L
    ledgers.forEach(l => n += l.size)
    n
  }

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        conns.add(sock)
        // close() may have run between accept() and add(): its sweep
        // would then have missed this socket, so sever it here — the
        // re-check after add() closes the race (double-close is a no-op)
        if (!running.get()) { try sock.close() catch { case _: Throwable => () } }
        val t = new Thread(() => try serve(sock) finally conns.remove(sock),
          s"amqp10-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch { case _: Throwable if !running.get() => () }
    }
  }, "amqp10-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running.set(false)
    server.close()
    conns.forEach(s => try s.close() catch { case _: Throwable => () })
  }

  // ------------------------------------------------------ per-connection
  private sealed trait Link
  private case class ProducerLink(address: String) extends Link
  private case class ConsumerLink(address: String, fromSeq: Long) extends Link
  private case object CoordinatorLink extends Link
  private case object StagingLink extends Link

  private def serve(sock: Socket): Unit = {
    // close(error) is only meaningful once the AMQP layer is up — a
    // failure during the header exchange or SASL must not push AMQP
    // frames at a peer still in (or never in) an earlier layer
    var amqpLayerUp = false
    // hoisted so the close(error) path can flush replies still sitting
    // in the lazy-flushed buffer before announcing the close
    val out = new BufferedOutputStream(sock.getOutputStream)
    // per session (channel): the deliveries pushed and not yet settled.
    // Ids are session-scoped (§2.5), so a session's end drops its ledger.
    val pushed = mutable.Map[Int, DeliveryLedger]()
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      // Lazy flush: under pipelined produce the client has the next
      // transfer already buffered when we reply, so flushing each
      // disposition individually (syscall + packet per ~40-byte frame)
      // just fragments the ack stream — defer while input is pending,
      // flush the moment the peer has nothing more queued (it is then
      // awaiting our replies). `replyDirty` tracks deferred replies so
      // the serve loop can guarantee none is ever held across a
      // stalled read (see the poller below).
      var replyDirty = false
      // every frame this connection sends is written here first
      val frames = new Writer(WriteChunk)
      def send(f: Frame): Unit = {
        f.writeTo(frames)
        frames.drainTo(out)
        if (in.available() == 0) { out.flush(); replyDirty = false }
        else replyDirty = true
      }
      // session frames answer on the channel they arrived on (§2.5.6:
      // one session per channel; a peer may run several concurrently)
      def amqpOn(ch: Int)(perf: Described, payload: Array[Byte] = Array.emptyByteArray): Unit =
        send(Frame(FrameTypeAmqp, ch, perf, payload))

      // ---- protocol header exchange (SASL layer first when credentialed)
      var header = readHeader(in)
      if (java.util.Arrays.equals(header, HeaderSasl)) {
        writeAll(out, HeaderSasl)
        // SCRAM needs a password on file, so an anonymous server only
        // advertises the mechanisms it can actually complete
        val offered =
          if (credentials.isDefined)
            Vector(Sym(Scram.Mechanism), Sym("PLAIN"), Sym("ANONYMOUS"))
          else Vector(Sym("PLAIN"), Sym("ANONYMOUS"))
        send(Frame(FrameTypeSasl, 0, described(Desc.SaslMechanisms, offered),
          Array.emptyByteArray))
        val init = readFrame(in)
        require(descriptorCode(init.performative) == Desc.SaslInit, "expected sasl-init")
        val mech = field(init.performative, 0).asInstanceOf[Sym].name
        val response = field(init.performative, 1) match {
          case bs: Array[Byte] => bs
          case null => Array.emptyByteArray
        }
        // server-final "v=..." for SCRAM rides sasl-outcome's
        // additional-data field (§5.3.3.5) — absent for PLAIN/ANONYMOUS
        var outcomeExtra: Array[Byte] = Array.emptyByteArray
        val ok = credentials match {
          case None => true // anonymous server accepts both mechanisms
          case Some((cu, cp)) if mech == Scram.Mechanism =>
            // RFC 5802 flow: server-first via sasl-challenge, client-final
            // via sasl-response. The password never rides the wire; the
            // proof binds both nonces, the salt, and the iteration count.
            val clientFirst = new String(response, UTF_8)
            if (!clientFirst.startsWith(Scram.Gs2Header)) false // no channel binding
            else {
              val bare = clientFirst.drop(Scram.Gs2Header.length)
              val attrs = Scram.parseAttrs(bare)
              val cnonce = attrs.getOrElse("r", "")
              val salt = new Array[Byte](16)
              new java.security.SecureRandom().nextBytes(salt)
              val combined = cnonce + Scram.freshNonce()
              val sf = Scram.serverFirst(combined, salt, Scram.Iterations)
              send(Frame(FrameTypeSasl, 0,
                described(Desc.SaslChallenge, sf.getBytes(UTF_8)), Array.emptyByteArray))
              out.flush()
              val resp = readFrame(in)
              require(descriptorCode(resp.performative) == Desc.SaslResponse,
                "expected sasl-response")
              val clientFinal = new String(
                field(resp.performative, 0).asInstanceOf[Array[Byte]], UTF_8)
              val fa = Scram.parseAttrs(clientFinal)
              val cut = clientFinal.lastIndexOf(",p=")
              val salted = Scram.saltedPassword(cp, salt, Scram.Iterations)
              val stored = Scram.storedKey(Scram.clientKey(salted))
              val authMsg = if (cut > 0)
                Scram.authMessage(bare, sf, clientFinal.substring(0, cut)) else ""
              val proofOk = cut > 0 &&
                attrs.get("n").contains(Scram.saslName(cu)) &&
                fa.get("c").contains(Scram.Gs2B64) && fa.get("r").contains(combined) &&
                Scram.verifyClientProof(stored, authMsg,
                  Scram.unb64(fa.getOrElse("p", "")))
              if (proofOk) {
                // mutual auth: prove WE hold ServerKey (client verifies v)
                outcomeExtra =
                  ("v=" + Scram.b64(Scram.serverSignature(salted, authMsg))).getBytes(UTF_8)
              }
              proofOk
            }
          case Some((cu, cp)) =>
            mech == "PLAIN" && {
              // RFC 4616 PLAIN: authzid NUL authcid NUL passwd
              val parts = new String(response, UTF_8).split("\u0000", -1)
              parts.length == 3 && parts(1) == cu && parts(2) == cp
            }
        }
        send(Frame(FrameTypeSasl, 0,
          described(Desc.SaslOutcome, UByte(if (ok) 0 else 1),
            if (outcomeExtra.isEmpty) null else outcomeExtra), Array.emptyByteArray))
        out.flush()
        if (!ok) { sock.close(); return }
        header = readHeader(in) // the AMQP-layer header restart
      } else if (credentials.isDefined) {
        sock.close(); return // credentialed server refuses a SASL-less dial
      }
      require(java.util.Arrays.equals(header, HeaderAmqp), "bad AMQP header")
      writeAll(out, HeaderAmqp)
      amqpLayerUp = true

      // ---- connection state. Link handles and delivery-ids are scoped
      // to their SESSION (§2.5/§2.6): everything keys on (channel, …) so
      // two sessions reusing handle 0 or delivery-id 0 never collide.
      val links = mutable.Map[(Int, Long), Link]()
      // links this server refused (attach answered by detach(error)):
      // the peer's answering detach closes them without another echo
      val refused = mutable.Set[(Int, Long)]()
      def ledger(ch: Int): DeliveryLedger = pushed.getOrElseUpdate(ch, {
        val l = new DeliveryLedger
        ledgers.add(l)
        l
      })
      val nextOutgoingIds = mutable.Map[Int, Long]().withDefaultValue(0L)
      // multi-frame transfer reassembly (keyed by (channel, handle) —
      // §2.6.14 lets a peer interleave multi-frame deliveries across
      // links; continuation frames carry the handle but may omit the
      // delivery-id). Single-frame transfers never touch the buffer (the
      // produce hot path). Staged messages are not kept here: each
      // staging transfer goes straight to the broker, which owns them.
      val pending = mutable.Map[(Int, Long), (Described, Writer)]()

      // §2.7.1: the peer's open announces ITS max-frame-size; frames we
      // send must fit it (spec floor is 512). Until open arrives, assume
      // our own limit.
      var peerPayloadChunk = MaxPayloadChunk

      // Drop ledger entries for pushes the broker has now settled — a
      // re-fetch of an already-ledgered seq gets a NEW delivery-id the
      // receiver never settles by id, so settlement by address is the
      // only bound that keeps the ledgers from growing with re-reads.
      def pruneSettled(a: String): Unit = {
        val upTo = backing.settledUpTo(a)
        pushed.values.foreach(_.settle(a, upTo))
      }
      val transportAnns = new TransportAnnotations

      def pushTransfers(ch: Int, handle: Long, address: String, from: Long, to: Long): Unit = {
        val unsettled = ledger(ch)
        var nextId = nextOutgoingIds(ch)
        backing.fetch(address, from, to).foreach { case (seq, msg, ts) =>
          val did = nextId
          nextId += 1
          unsettled.add(address, did, seq)
          val tag = seq.toString.getBytes(UTF_8)
          writeDelivery(frames, ch, peerPayloadChunk, more =>
            described(Desc.Transfer, UInt(handle), UInt(did), tag, UInt(0L),
              java.lang.Boolean.FALSE, java.lang.Boolean.valueOf(more))) { w =>
            writeTransferPayload(w, Seq(SeqAnnotation -> seq, TsAnnotation -> ts), msg)
          }
          // unflushed: a drain slice is thousands of ~70-byte frames,
          // and a flush (syscall + packet under TCP_NODELAY) per frame
          // was the drain-push bottleneck — frames go out in 64 KiB
          // writes, the flush below seals the slice
          if (frames.size >= WriteChunk) frames.drainTo(out)
        }
        nextOutgoingIds(ch) = nextId
        frames.drainTo(out)
        out.flush()
      }

      var open = true
      def handleFrame(f: Frame): Unit = {
        val perf = f.performative
        val ch = f.channel
        def amqp(perf: Described, payload: Array[Byte] = Array.emptyByteArray): Unit =
          amqpOn(ch)(perf, payload)
        descriptorCode(perf) match {
          case Desc.Open =>
            field(perf, 2) match {
              case null => () // absent: keep the current limit (a
                // duplicate open must not widen an announced cap)
              case mfs => peerPayloadChunk = negotiatedPayloadChunk(mfs)
            }
            amqp(described(Desc.Open, "graft-broker", null, UInt(MaxFrameSize.toLong)))
          case Desc.Begin =>
            amqp(described(Desc.Begin, UShort(f.channel), UInt(0L),
              UInt(65535L), UInt(65535L)))
          case Desc.Attach =>
            val name = field(perf, 0).asInstanceOf[String]
            val handle = asLong(field(perf, 1))
            val clientIsReceiver = asBool(field(perf, 2))
            if (!clientIsReceiver) {
              // client sender: target is an address, the coordinator, or
              // the transactional staging pseudo-node
              val link = field(perf, 6) match {
                case t: Described if descriptorCode(t) == Desc.Coordinator =>
                  CoordinatorLink
                case t: Described if descriptorCode(t) == Desc.Target =>
                  field(t, 0) match {
                    case StagingTarget => StagingLink
                    case a: String => ProducerLink(a)
                    case other => throw new IllegalStateException(s"bad target: $other")
                  }
                case other => throw new IllegalStateException(s"bad target: $other")
              }
              links((ch, handle)) = link
              amqp(described(Desc.Attach, name, UInt(handle), java.lang.Boolean.TRUE))
              link match {
                case ProducerLink(a) =>
                  // a real credit grant: the flow-controller window
                  amqp(described(Desc.Flow, UInt(0L), UInt(65535L), UInt(0L),
                    UInt(65535L), UInt(handle), UInt(0L),
                    UInt(math.max(0L, backing.flowController(a).creditsAvailable))))
                case _ => ()
              }
            } else {
              // client receiver: source address + optional filter/props
              val sourceAddr = field(perf, 5) match {
                case s: Described if descriptorCode(s) == Desc.Source =>
                  field(s, 0).asInstanceOf[String]
                case other => throw new IllegalStateException(s"bad source: $other")
              }
              val filter = field(perf, 5) match {
                case s: Described => field(s, 7) match {
                  case m: AmqpWireMap => m
                  case _ => AmqpWireMap(Vector.empty)
                }
                case _ => AmqpWireMap(Vector.empty)
              }
              val props = field(perf, 13) match {
                case m: AmqpWireMap => m
                case _ => AmqpWireMap(Vector.empty)
              }
              val fromSeq = filter.get(Sym(FromSeqFilter)).map(asLong).getOrElse(0L)
              links((ch, handle)) = ConsumerLink(sourceAddr, fromSeq)
              // shared-subscription ledger RPCs: see the ShareGroupProp
              // doc — op selection is settle > renew > stats > claim
              def shareClaimList(v: Any): Seq[AmqpClaim] = v match {
                case xs: Seq[_] => xs.map {
                  case c: Seq[_] if c.length == 3 =>
                    AmqpClaim(asLong(c(0)), asLong(c(1)), asLong(c(2)))
                  case other =>
                    throw new IllegalStateException(s"bad share-claim triple: $other")
                }
                case other =>
                  throw new IllegalStateException(s"bad share-claim list: $other")
              }
              def shareIdList(v: Any): Seq[Long] = v match {
                case xs: Seq[_] => xs.map(asLong)
                case other =>
                  throw new IllegalStateException(s"bad share-id list: $other")
              }
              var refusal: Option[String] = None
              val echoProps =
                if (props.get(Sym(ShareGroupProp)).isDefined) {
                  val group = String.valueOf(props.get(Sym(ShareGroupProp)).get)
                  def owner = String.valueOf(props.get(Sym(ShareOwnerProp)).getOrElse(
                    throw new IllegalStateException("share RPC without owner")))
                  def lease = props.get(Sym(ShareLeaseMsProp)).map(asLong).getOrElse(
                    throw new IllegalStateException("share RPC without lease"))
                  if (props.get(Sym(SharePolicyMaxProp)).isDefined) {
                    val maxDel = asLong(props.get(Sym(SharePolicyMaxProp)).get).toInt
                    val dlq = props.get(Sym(SharePolicyDlqProp)).map(String.valueOf(_))
                    try {
                      backing.configureGroupPolicy(sourceAddr, group, maxDel, dlq)
                      amqpWireMap(Sym(SharePolicyMaxProp) -> maxDel.toLong)
                    } catch { case e: IllegalArgumentException =>
                      refusal = Some(e.getMessage); null
                    }
                  } else props.get(Sym(ShareSettleProp)) match {
                    case Some(ids) =>
                      val claimIds = shareIdList(ids)
                      backing.settleClaims(sourceAddr, group, claimIds)
                      pruneSettled(sourceAddr)
                      amqpWireMap(Sym(ShareSettleProp) -> claimIds.length.toLong)
                    case None => props.get(Sym(ShareRenewProp)) match {
                      case Some(cs) =>
                        val lost = backing.renewClaims(sourceAddr, group, owner,
                          shareClaimList(cs), lease)
                        amqpWireMap(Sym(ShareLostProp) -> lost.toVector)
                      case None if props.get(Sym(ShareStatsProp)).isDefined =>
                        val st = backing.groupStats(sourceAddr, group)
                        amqpWireMap(Sym(ShareStatsEchoProp) -> Vector(
                          st.headSeq, st.dispatchedUpTo, st.outstandingClaims,
                          st.outstandingRows, st.redeliverableRows))
                      case None =>
                        val maxRows = props.get(Sym(ShareMaxRowsProp)).map(asLong)
                          .getOrElse(throw new IllegalStateException(
                            "share claim without max-rows"))
                        val cs = backing.claim(sourceAddr, group, owner, maxRows, lease)
                        amqpWireMap(Sym(ShareClaimsProp) -> cs.toVector.map(c =>
                          Vector(c.claimId, c.fromExclusive, c.toInclusive)))
                    }
                  }
                } else if (props.get(Sym(ProbeProp)).isDefined) {
                  val tsWin = for {
                    lo <- props.get(Sym(TsWinLoProp)).map(asLong)
                    hi <- props.get(Sym(TsWinHiProp)).map(asLong)
                    w <- backing.timestampWindow(sourceAddr, lo, hi)
                  } yield w
                  val addrList = props.get(Sym(AddrPatternProp))
                    .flatMap(p => backing.listAddresses(p.toString))
                  amqpWireMap((Vector[(Any, Any)](
                    Sym(LatestProp) -> backing.latestSeq(sourceAddr),
                    Sym(SettledProp) -> backing.settledUpTo(sourceAddr)) ++
                    tsWin.toVector.flatMap { case (f, t) => Vector[(Any, Any)](
                      Sym(TsWinFromProp) -> f, Sym(TsWinToProp) -> t) } ++
                    addrList.toVector.map(as =>
                      (Sym(AddrListProp): Any) -> (as.toVector: Any))): _*)
                } else props.get(Sym(SettleUpToProp)) match {
                  case Some(upTo) =>
                    backing.settle(sourceAddr, asLong(upTo))
                    pruneSettled(sourceAddr)
                    amqpWireMap(Sym(SettledProp) -> backing.settledUpTo(sourceAddr))
                  case None => null
                }
              // §2.7.3 attach fields: ..., 6 target, 7 unsettled,
              // 8 incomplete-unsettled, 9 initial-delivery-count,
              // 10 max-message-size, 11/12 capabilities, 13 properties
              refusal match {
                case None =>
                  amqp(described(Desc.Attach, name, UInt(handle),
                    java.lang.Boolean.FALSE, null, null,
                    described(Desc.Source, sourceAddr), null, null, null,
                    UInt(0L), null, null, null, echoProps))
                case Some(why) =>
                  // the broker refused the request (§2.6.3 link refusal):
                  // an attach echo without a source, then detach(closed)
                  // carrying the reason — the connection stays up
                  links.remove((ch, handle))
                  refused += ((ch, handle))
                  amqp(described(Desc.Attach, name, UInt(handle),
                    java.lang.Boolean.FALSE))
                  amqp(described(Desc.Detach, UInt(handle), java.lang.Boolean.TRUE,
                    described(Desc.Error, Sym("amqp:invalid-field"), why)))
              }
            }
          case Desc.Flow =>
            // drain-mode credit on a consumer link: push the slice, then
            // confirm the drain with a flow echo (credit exhausted)
            val handle = field(perf, 4)
            if (handle != null) links.get((ch, asLong(handle))) match {
              case Some(ConsumerLink(a, fromSeq)) =>
                val credit = asLong(field(perf, 6))
                val to = math.min(backing.latestSeq(a), fromSeq + credit)
                if (to > fromSeq) pushTransfers(ch, asLong(handle), a, fromSeq, to)
                links((ch, asLong(handle))) = ConsumerLink(a, to)
                amqp(described(Desc.Flow, UInt(0L), UInt(65535L),
                  UInt(nextOutgoingIds(ch)), UInt(65535L), UInt(asLong(handle)),
                  UInt(to - fromSeq), UInt(0L)))
              case _ => () // credit for producer links: informational
            }
          case Desc.Transfer =>
            val handle = asLong(field(perf, 0))
            val more = asBool(field(perf, 5))
            val (first, payload) = pending.get((ch, handle)) match {
              case Some((p, b)) =>
                f.appendPayload(b)
                if (more) (null, null)
                else { pending.remove((ch, handle)); (p, b.reader) }
              case None =>
                if (!more) (perf, f.payloadReader) // fast path: decoded in place
                else {
                  val b = new Writer(f.payloadLength * 2)
                  f.appendPayload(b)
                  pending((ch, handle)) = (perf, b)
                  (null, null)
                }
            }
            if (!more) {
              val did = asLong(field(first, 1))
              val msg = transportAnns.decode(payload)
              val tsUs =
                if (transportAnns.hasTs) transportAnns.ts else System.currentTimeMillis() * 1000L
              val txnState = field(first, 7) match {
                case d: Described if descriptorCode(d) == Desc.TransactionalState =>
                  Some(new String(field(d, 0).asInstanceOf[Array[Byte]], UTF_8))
                case _ => None
              }
              links((ch, handle)) match {
                case ProducerLink(a) =>
                  val seq = backing.send(a, msg, tsUs)
                  val state =
                    if (seq >= 0) Described(Sym(EnqueuedOutcome), Vector(seq))
                    else described(Desc.Rejected, described(Desc.Error,
                      Sym("amqp:resource-limit-exceeded"), "link credit exhausted"))
                  amqp(described(Desc.Disposition, java.lang.Boolean.TRUE,
                    UInt(did), UInt(did), java.lang.Boolean.TRUE, state))
                case StagingLink =>
                  val txn = txnState.getOrElse(
                    throw new IllegalStateException("staging transfer without txn state"))
                  val pid = msg.messageAnnotations
                    .collectFirst { case (PartitionAnnotation, v) => asLong(v).toInt }
                    .getOrElse(0)
                  val reset = msg.messageAnnotations.exists(_._1 == PartitionResetAnnotation)
                  // the empty-stage marker is a reset that carries no message
                  val staged =
                    if (msg.messageAnnotations.exists(_._1 == EmptyStageAnnotation)) None
                    else Some(msg.copy(messageAnnotations = msg.messageAnnotations
                      .filterNot(e => e._1 == PartitionAnnotation || e._1 == PartitionResetAnnotation)))
                  backing.stageTransfer(txn, pid, sock, reset, staged)
                  amqp(described(Desc.Disposition, java.lang.Boolean.TRUE,
                    UInt(did), UInt(did), java.lang.Boolean.TRUE,
                    described(Desc.Accepted)))
                case CoordinatorLink =>
                  val bodyDescribed = msg.body match {
                    case AmqpValueBody(d: Described) => d
                    case other => throw new IllegalStateException(s"bad coordinator body: $other")
                  }
                  descriptorCode(bodyDescribed) match {
                    case Desc.Declare =>
                      // txn-id := the engine's transaction key (declare's
                      // global-id), making redeclare idempotent
                      val txnKey = field(bodyDescribed, 0) match {
                        case s: String => s
                        case bs: Array[Byte] => new String(bs, UTF_8)
                        case null => java.util.UUID.randomUUID().toString
                      }
                      amqp(described(Desc.Disposition, java.lang.Boolean.TRUE,
                        UInt(did), UInt(did), java.lang.Boolean.TRUE,
                        described(Desc.Declared, txnKey.getBytes(UTF_8))))
                    case Desc.Discharge =>
                      val txn = new String(field(bodyDescribed, 0).asInstanceOf[Array[Byte]], UTF_8)
                      val fail = asBool(field(bodyDescribed, 1))
                      val anns = msg.messageAnnotations.toMap
                      val state =
                        if (fail) {
                          backing.abortStaged(txn)
                          described(Desc.Accepted)
                        } else {
                          val n = backing.commitStaged(txn,
                            String.valueOf(anns(QueryAnnotation)),
                            asLong(anns(EpochAnnotation)),
                            String.valueOf(anns(AddressAnnotation)),
                            asLong(anns(TsAnnotation)),
                            // the annotation carries a real boolean (like
                            // the in-memory transport's argument): an
                            // explicit `false` must not route per-message,
                            // so test the VALUE, not mere presence
                            anns.get(RouteAnnotation).exists(asBool(_)))
                          Described(Sym(CommittedOutcome), Vector(n))
                        }
                      amqp(described(Desc.Disposition, java.lang.Boolean.TRUE,
                        UInt(did), UInt(did), java.lang.Boolean.TRUE, state))
                    case other =>
                      throw new IllegalStateException(s"bad coordinator message: $other")
                  }
                case ConsumerLink(_, _) =>
                  throw new IllegalStateException("transfer on a consumer link")
              }
            }
          case Desc.Disposition =>
            // receiver settles a delivery-id range: settle each address's
            // highest covered sequence (cumulative-prefix contract)
            if (asBool(field(perf, 0)) && asBool(field(perf, 3))) {
              val first = asLong(field(perf, 1))
              val last = field(perf, 2) match { case null => first; case v => asLong(v) }
              pushed.get(ch).foreach(_.highestIn(first, last).foreach { case (a, seq) =>
                backing.settle(a, seq)
                // also clears stale ids that re-fetches assigned to old seqs
                pruneSettled(a)
              })
            }
          case Desc.Detach =>
            val handle = asLong(field(perf, 0))
            links.remove((ch, handle))
            if (!refused.remove((ch, handle)))
              amqp(described(Desc.Detach, UInt(handle), java.lang.Boolean.TRUE))
          case Desc.End =>
            // the whole session dies with its channel: links, half-read
            // transfers, the outgoing-delivery ledger, AND the transfer-id
            // counter — a re-begun session on this channel starts at
            // delivery-id 0, which is what the begin echo announces
            links.filterInPlace { case ((c, _), _) => c != ch }
            refused.filterInPlace { case (c, _) => c != ch }
            pending.filterInPlace { case ((c, _), _) => c != ch }
            pushed.remove(ch).foreach(ledgers.remove)
            nextOutgoingIds.remove(ch)
            amqp(described(Desc.End))
          case Desc.Close =>
            amqp(described(Desc.Close))
            open = false
          case other =>
            throw new IllegalStateException(f"unexpected performative 0x$other%02x")
        }
      }

      // The read loop never holds a reply across a stalled read: the
      // available()==0 check flushes in the common about-to-block case,
      // and the SO_TIMEOUT-driven poller bounds the residue — if a
      // frame's tail bytes are in flight when the reply is written
      // (the timing window a bare blocking readFrame leaves open), the
      // poll times out within 250 ms and the deferred replies go out
      // while the poller resumes the partial frame losslessly. A peer
      // that crashes mid-frame therefore still receives every
      // disposition it was owed, instead of them stranding in the
      // buffer until the error path.
      sock.setSoTimeout(250)
      val poller = new FramePoller(in)
      while (open && running.get()) {
        if (replyDirty && in.available() == 0) { out.flush(); replyDirty = false }
        poller.poll() match {
          case Some(f) => handleFrame(f)
          case None => if (replyDirty) { out.flush(); replyDirty = false }
        }
      }
    } catch {
      case _: java.io.IOException => () // peer closed / transport died
      case e if scala.util.control.NonFatal(e) && amqpLayerUp =>
        // Any protocol error from a live peer — unexpected performative
        // (IllegalState), malformed fields (ClassCast/Match), unknown
        // handle (NoSuchElement), bad sizes (IllegalArgument) — answers
        // with close(error) (§2.7.9) instead of a bare TCP reset, so a
        // compliant peer can log WHY.
        try {
          // through the SAME buffered stream the replies rode: any
          // dispositions the lazy flush is still holding reach the
          // peer BEFORE the close, not never
          writeAll(out, encodeFrame(Frame(FrameTypeAmqp, 0,
            described(Desc.Close, described(Desc.Error,
              Sym("amqp:internal-error"),
              s"${e.getClass.getSimpleName}: ${e.getMessage}")),
            Array.emptyByteArray)))
        } catch { case _: Throwable => () }
      case _: Throwable => () // pre-AMQP-layer failure: just close
    }
    finally {
      pushed.values.foreach(ledgers.remove)
      sock.close()
    }
  }
}
