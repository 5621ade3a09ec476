package graft.streaming

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

/** SHARED SUBSCRIPTION (competing consumers) — the work-sharing dispatch
  * mode the single-consumer source cannot express: N consuming streams
  * naming the same `sharedGroup` on one address jointly partition its
  * backlog, each message delivered to EXACTLY ONE of them.
  *
  * Why a separate stream: the default source's offsets are per-link
  * sequence positions and its settlement a per-link PREFIX
  * ([[AmqpMicroBatchStream.commit]]) — structurally single-consumer (a
  * second consuming query on the address is correctly detected as data
  * loss). The reference is equally single-consumer (one link per
  * receiver, AMQPReceiver.scala:38-46 in /root/reference); this mode is
  * beyond-parity, covering the consumer-fleet-on-one-queue topology its
  * broker deployments (README.md:5-9 in /root/reference) run.
  *
  * Mechanics (JMS 2.0 shared-consumer / Kafka consumer-group semantics,
  * re-expressed for Structured Streaming's replay contract):
  *
  *  - ADMISSION ([[latestOffset(start*]]): the driver atomically CLAIMS
  *    up to the trigger budget from the broker's share-group ledger —
  *    lease-expired redeliveries first, then fresh backlog. The batch's
  *    end offset carries exactly its own claims, so offsets stay
  *    replayable without growing with history; a trigger that claims
  *    nothing returns the start offset unchanged (no empty batches).
  *  - REPLAY SAFETY ([[planInputPartitions]]): before reading — first
  *    run or WAL replay after a crash — the driver re-asserts ownership
  *    (renewClaims): a lease-expired-but-undispatched claim is rescued,
  *    a re-dispatched one fails the query LOUDLY (processing it would
  *    double-read another consumer's slice; size `sharedLeaseMillis`
  *    above the restart gap).
  *  - SETTLEMENT ([[commit]]): settle-after-durable-commit, per CLAIM
  *    instead of per prefix — claims of batch N are settled exactly
  *    once; replayed commits are idempotent broker-side.
  *  - DEATH ([[AmqpEndpoint.claim]]): a consumer that dies holding
  *    unsettled claims has them redelivered to the group when the lease
  *    lapses — at-least-once across consumer death, exactly-once while
  *    consumers live (the gate `amqp_shared_consumers` hashes the union
  *    of two concurrent consumers against the oracle).
  *
  * Owner identity = the query's checkpoint location: stable across
  * restarts, unique per query, requiring no broker-side registration.
  *
  * Admission (read limits, min-rows hold, rate budget, per-link share),
  * the partition cut and the reader factory come from the same
  * [[AmqpScanPlanner]] as the default stream's.
  *
  * Scale shape: claims are O(1) ledger arithmetic per trigger on the
  * driver (one RPC per address), slices split into bounded partitions
  * exactly like the default stream, and the broker holds per-group
  * state proportional to LIVE claims, not history. Transports: mem://
  * and the interoperable amqp10:///amqps:// wire (claim RPCs ride
  * probe attaches — [[Amqp10Wire.ShareGroupProp]]) all carry the
  * claim surface; a transport without it fails loudly at the first
  * claim.
  */
class AmqpSharedMicroBatchStream(cfg: AmqpSourceConfig, checkpointLocation: String,
    fields: Array[String] = AmqpEnvelope.schema.fieldNames,
    pushed: AmqpPushedFilters = AmqpPushedFilters())
    extends AmqpPlannedStream(cfg, fields, pushed) {

  private val group = cfg.sharedGroup.get
  private val owner = checkpointLocation

  /** Targeted refusal, not support: "the data available now" is not a
    * well-defined per-consumer set under work-sharing — the group's
    * backlog is contended (another consumer's lease can lapse back into
    * it after this consumer's snapshot), so a run-to-completion trigger
    * would either under-read the group or over-read its snapshot.
    * Implementing the interface makes the refusal precise; without it
    * Spark's generic wrapper would call the no-arg [[latestOffset]] and
    * die with an unrelated planner error (or worse, CLAIM rows in a
    * snapshot probe). Use a continuous trigger and stop on the lag
    * report, or the single-consumer source for drain-and-stop jobs. */
  override def prepareForTriggerAvailableNow(): Unit =
    throw new UnsupportedOperationException(
      "sharedGroup does not support Trigger.AvailableNow: a work-sharing " +
        "group's available set is contended across consumers. Run with a " +
        "ProcessingTime trigger and stop on the share-group lag report, or " +
        "drop sharedGroup for a run-to-completion read.")

  /** The current subscription: the static address list, or — under
    * `addressPattern` — a fresh discovery probe per call (the same
    * contract as the default stream: a queue created mid-stream joins
    * the work-sharing subscription on the next trigger, and every
    * consumer of the group converges on the same sorted list because
    * discovery is broker-side). */
  private def subscribed: Seq[String] = cfg.subscription(broker).sorted

  /** This consumer's running share of the group's work (metrics only —
    * never consulted for correctness; the ledger is the truth). */
  private val claimedRowsTotal = new java.util.concurrent.atomic.AtomicLong(0L)
  private val settledClaimsTotal = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-trigger source metrics in StreamingQueryProgress — the GROUP's
    * view plus this CONSUMER's contribution (a share group's position
    * is collective; see [[AmqpStreamOps.sharedLagReport]] for the
    * offline face): undispatched backlog behind the frontier, rows
    * under live leases fleet-wide, rows awaiting redelivery from dead
    * consumers — and the running totals of rows THIS consumer has
    * claimed and claims it has settled, so StreamingQueryProgress alone
    * shows fleet health AND this member's share of the work (rebalance
    * monitoring without the offline lag report). One ledger-snapshot
    * RPC per address per trigger. */
  override def metrics(latestConsumed: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val stats = subscribed.map(a => broker.groupStats(a, group))
    java.util.Map.of(
      "undispatchedMessages",
        stats.map(s => math.max(0L, s.headSeq - s.dispatchedUpTo)).sum.toString,
      "leasedMessages", stats.map(_.outstandingRows).sum.toString,
      "redeliverableMessages", stats.map(_.redeliverableRows).sum.toString,
      "claimedRowsTotal", claimedRowsTotal.get.toString,
      "settledClaimsTotal", settledClaimsTotal.get.toString,
      "links", stats.length.toString)
  }

  override def initialOffset(): Offset = AmqpSharedOffset(group, 0L, Nil)

  override def deserializeOffset(json: String): Offset = AmqpSharedOffset.fromJson(json)

  override def latestOffset(): Offset = throw new IllegalStateException(
    "shared subscription plans through the admission-control path")

  /** Poison policy asserted once per ADDRESS per stream instance,
    * BEFORE its first claim — idempotent broker-side, re-asserted by
    * every restart (the checkpoint carries no policy; the group ledger
    * does). Per-address because a pattern subscription grows: a queue
    * discovered mid-stream gets the policy before anything is claimed
    * from it. */
  private val policyDone = scala.collection.mutable.HashSet.empty[String]
  private def assertPolicy(addrs: Seq[String]): Unit =
    if (cfg.sharedMaxDeliveries > 0)
      addrs.filterNot(policyDone.contains).foreach { a =>
        broker.configureGroupPolicy(a, group,
          cfg.sharedMaxDeliveries, cfg.sharedDeadLetterAddress)
        policyDone += a
      }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[AmqpSharedOffset]
    val addrs = subscribed
    if (addrs.isEmpty) return s // pattern matches nothing yet: no batch
    assertPolicy(addrs)
    // A held trigger CLAIMS NOTHING — what this consumer leaves unclaimed
    // stays dispatchable to the rest of the group, so holding back is
    // free fleet-wide; likewise a rate-limited consumer claims at most
    // its budget. "Available" here is the group's dispatchable volume
    // (undispatched backlog + redeliveries), one ledger-snapshot RPC per
    // address.
    val perLink = planner.admit(limit, addrs.length) {
      addrs.map { a =>
        val st = broker.groupStats(a, group)
        math.max(0L, st.headSeq - st.dispatchedUpTo) + st.redeliverableRows
      }.sum
    } match {
      case Some(n) => n
      case None => return s
    }
    val claims = addrs.flatMap { a =>
      broker.claim(a, group, owner, perLink, cfg.sharedLeaseMillis).map(a -> _)
    }
    if (claims.isEmpty) s // nothing dispatchable: same offset, no batch
    else {
      claimedRowsTotal.addAndGet(claims.map(_._2.rows).sum)
      AmqpSharedOffset(group, s.rows + claims.map(_._2.rows).sum, claims)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val e = end.asInstanceOf[AmqpSharedOffset]
    // Ownership re-assertion + lease extension — the replay gate: a WAL
    // replay after a crash re-plans this batch, possibly after the
    // lease lapsed. A rescued claim proceeds under its original id; a
    // re-dispatched one means another consumer owns (or settled) the
    // slice — reading it would double-deliver, so fail loudly.
    e.claims.groupBy(_._1).foreach { case (a, cs) =>
      val lost = broker.renewClaims(a, group, owner, cs.map(_._2), cfg.sharedLeaseMillis)
      if (lost.nonEmpty) throw new IllegalStateException(
        s"shared-subscription claims ${lost.sorted.mkString("[", ",", "]")} on '$a' " +
          s"were lost: the lease (${cfg.sharedLeaseMillis} ms) expired during a " +
          "restart and the slices were re-dispatched to another consumer of " +
          s"group '$group'. Processing them here would double-read; raise " +
          "sharedLeaseMillis above the restart gap and restart from a fresh " +
          "checkpoint.")
    }
    e.claims.flatMap { case (a, c) => planner.slices(a, c.fromExclusive, c.toInclusive) }.toArray
  }

  /** Settle-after-durable-commit, per claim: batch N's offset carries
    * exactly batch N's claims, so nothing is missed or double-counted
    * across batches; the broker ignores already-settled ids (replay). */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[AmqpSharedOffset]
    e.claims.groupBy(_._1).foreach { case (a, cs) =>
      broker.settleClaims(a, group, cs.map(_._2.claimId))
    }
    settledClaimsTotal.addAndGet(e.claims.size.toLong)
  }
}

/** Offset of one shared-subscription micro-batch: the claims the batch
  * reads (its own, only — replayability without history growth) plus
  * the cumulative row count (progress surface; also keeps consecutive
  * offsets distinct however claim ids fall). JSON keys are sorted so
  * equal offsets serialize identically. */
case class AmqpSharedOffset(group: String, rows: Long,
    claims: Seq[(String, AmqpClaim)]) extends Offset {
  override def json(): String = {
    val cs = claims.sortBy { case (a, c) => (a, c.claimId) }
      .map { case (a, c) =>
        s"[${AmqpEnvelope.quote(a)},${c.claimId},${c.fromExclusive},${c.toInclusive}]"
      }
      .mkString("[", ",", "]")
    s"""{"group":${AmqpEnvelope.quote(group)},"rows":$rows,"claims":$cs}"""
  }
}

object AmqpSharedOffset {
  private val ShapeRe =
    """(?s)\s*\{\s*"group"\s*:\s*"((?:[^"\\]|\\.)*)"\s*,\s*"rows"\s*:\s*(\d+)\s*,\s*"claims"\s*:\s*\[(.*)\]\s*\}\s*""".r
  private val ClaimRe =
    """\[\s*"((?:[^"\\]|\\.)*)"\s*,\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]""".r
  def fromJson(s: String): AmqpSharedOffset = s match {
    case ShapeRe(g, rows, cs) =>
      AmqpSharedOffset(AmqpEnvelope.unquote(g), rows.toLong,
        ClaimRe.findAllMatchIn(cs).map { m =>
          AmqpEnvelope.unquote(m.group(1)) ->
            AmqpClaim(m.group(2).toLong, m.group(3).toLong, m.group(4).toLong)
        }.toSeq)
    case other => throw new IllegalArgumentException(s"bad shared AMQP offset: $other")
  }
}
