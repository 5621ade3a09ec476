package graft.streaming

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 AMQP source: `spark.readStream.format("amqp")`.
  *
  * Spark-native redesign of the reference's DStream receivers
  * (AMQPReceiver.scala:38-163, ReliableAMQPReceiver.scala:44-188 in
  * /root/reference): instead of a push Receiver storing converted
  * objects into the BlockManager, a pull-based MicroBatchStream over
  * per-link sequence offsets.
  *
  * Delivery semantics: offsets are checkpointed by Structured Streaming;
  * [[AmqpMicroBatchStream.commit]] settles deliveries up to the durably
  * committed sequence — the reference's settle-after-durable-store
  * contract (ReliableAMQPReceiver.scala:142-159) with checkpointed
  * offsets replacing the WAL. Unsettled messages remain replayable, so
  * restart-after-failure re-reads the uncommitted tail: at-least-once,
  * upgraded to effectively-once by the deterministic (seq-keyed) replay.
  * Note Spark calls commit(N) while constructing batch N+1, so
  * settlement lags one batch behind delivery (exactly like the Kafka
  * source's offset commits); producer admission therefore keys off the
  * delivered watermark, not settlement (see InMemoryAmqpBroker).
  *
  * Admission control: `maxMessagesPerTrigger` (default 10000 — the
  * reference's implied per-link ceiling, BASELINE.md) bounds each
  * micro-batch; link credit (1000 / 50% re-issue) bounds the sender's
  * in-flight window inside the endpoint.
  *
  * Partitioning: one AMQP link = one ordered sequence = one input
  * partition (the reference is likewise single-link). Horizontal scale
  * comes from many links/addresses, each its own partition; downstream
  * transforms are partition-parallel regardless.
  *
  * Options: endpoint (mem://name), address, maxMessagesPerTrigger,
  * maxMessagesPerSecond (0 = unlimited — rate-controller parity, see
  * [[AmqpRateBudget]]); host/port/username/password are
  * accepted for API parity with AMQPUtils.createStream and used by
  * socket transports.
  */
class AmqpDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "amqp"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AmqpSourceConfig(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AmqpTable(new CaseInsensitiveStringMap(properties))
}

class AmqpTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite
    with streaming.ReportsSinkMetrics {

  /** Sink face of the observability story (`ReportsSinkMetrics` — the
    * write-side sibling of the source's per-trigger metrics): committed
    * vs REPLAYED epochs (a replay published nothing — the exactly-once
    * guarantee made visible), messages the broker accepted, and aborts,
    * all in StreamingQueryProgress.sink.metrics. Spark asks THIS table
    * instance, so the counters live here and the streaming write
    * updates them on each epoch commit. */
  private val sinkMetrics = new AmqpSinkMetrics
  override def metrics(): util.Map[String, String] = sinkMetrics.asJava
  override def name(): String =
    s"amqp:${AmqpSourceConfig(options).endpoint}/${AmqpSourceConfig(options).address}"
  override def schema(): StructType = AmqpSourceConfig(options).schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  /** Catalog-table access (`CREATE TABLE ... USING amqp`) hands scan /
    * write builders only the PER-QUERY options — the creation-time
    * OPTIONS live in this table's constructor map (the DataFrame path
    * passes the same map to both, so the merge is a no-op there).
    * Per-query keys override stored ones, like file-source reads. */
  private def merged(opts: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new util.HashMap[String, String](options)
    m.putAll(opts)
    new CaseInsensitiveStringMap(m)
  }
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new AmqpScanBuilder(AmqpSourceConfig(merged(opts)))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AmqpWriteBuilder(AmqpSourceConfig(merged(info.options())), info, sinkMetrics)
}

/** `addresses` (plural) is the horizontal-scale surface: one AMQP link
  * per address, one input partition per link per micro-batch. `address`
  * remains the single-link form (and the sink's target). */
case class AmqpSourceConfig(endpoint: String, address: String, addresses: Seq[String],
    maxPerTrigger: Long, maxPerSecond: Long, statsRowBytes: Long = 1024L,
    /** Kafka `minOffsetsPerTrigger` parity: a trigger with fewer than
      * this many new rows available across the subscription admits NO
      * batch — trickle streams batch up instead of paying per-trigger
      * overhead one row at a time — UNLESS the wait has reached
      * [[maxTriggerDelayMillis]], at which point whatever is available
      * fires (bounded staleness). 0 = fire on any data (the default).
      * Ignored under Trigger.AvailableNow/Once (Kafka parity: a
      * run-to-completion trigger must drain and stop, not wait). */
    minPerTrigger: Long = 0L,
    /** Ceiling on how long [[minPerTrigger]] may hold batches back,
      * measured from the last admitted batch (Kafka `maxTriggerDelay`,
      * default 15m there and here). */
    maxTriggerDelayMillis: Long = 15L * 60 * 1000,
    startingTimestampMicros: Option[Long] = None,
    /** Kafka `startingOffsets`-by-position parity: a NEW query starts
      * each named link at the given SEQUENCE (exclusive — "I have
      * consumed through n"), instead of the replayable floor. Unnamed
      * links keep the floor. STREAMING composes with failOnDataLoss
      * exactly like a checkpointed position: a start below the
      * settlement prefix is loss (fail loudly / skip per the option).
      * BATCH reads instead clamp a below-prefix start to the floor
      * silently, regardless of failOnDataLoss — an intentional
      * divergence from Kafka's batch contract (which fails on
      * out-of-range offsets): a bounded audit read here asks "whatever
      * of that span still exists", and the planner's floor IS that
      * answer — see [[AmqpScanPlanner.startAnchor]]. */
    startingSequences: Map[String, Long] = Map.empty,
    /** Kafka `endingOffsets` parity, BATCH reads only: cap each named
      * link's scan at this sequence (inclusive) — with a start anchor
      * this is the bounded window read ("exactly run X's span").
      * Streaming refuses (an end position contradicts an unbounded
      * query; use Trigger.AvailableNow for run-to-completion). */
    endingSequences: Map[String, Long] = Map.empty,
    addressPattern: Option[String] = None,
    /** Lifted application properties, each with its declared lift type
      * (StringType — the default — or LongType; see
      * [[AmqpEnvelope.parsePropertyColumn]]). */
    propertyColumns: Seq[(String, DataType)] = Nil,
    maxRowsPerPartition: Long = 500000L,
    fetchChunkRows: Long = 50000L,
    browse: Boolean = false,
    respectTtl: Boolean = false,
    expiredOnly: Boolean = false,
    ttlNowMicros: Option[Long] = None,
    /** Sink-side per-row routing (the Kafka sink's `topic` column as
      * AMQP §3.2.4 addressing): with `routeByTo=true` each written
      * message publishes to its OWN `to` column's address, falling back
      * to the `address` option when the column is null/absent. Off by
      * default — without it `to` rides as envelope metadata only. */
    routeByTo: Boolean = false,
    /** Kafka-parity data-loss handling: a restarted stream whose
      * checkpointed position lies BELOW the broker's settlement prefix
      * (a competing "move"-mode consumer or retention settled past us)
      * cannot fetch the gap — with `failOnDataLoss=true` (default) the
      * query fails loudly; `false` skips to the prefix and continues. */
    failOnDataLoss: Boolean = true,
    /** SHARED SUBSCRIPTION (competing consumers): N consuming streams
      * naming the same group on one address work-share its backlog —
      * each message goes to exactly one of them, tracked by per-claim
      * leases in the broker instead of the single-consumer settlement
      * prefix (see [[AmqpSharedMicroBatchStream]]). */
    sharedGroup: Option[String] = None,
    /** Claim lease: a consumer that dies holding unsettled claims has
      * them redelivered to the group after this long. Must exceed the
      * slowest micro-batch (leases are renewed each batch) AND the
      * longest restart-with-replay gap — a replayed batch whose claims
      * were re-dispatched fails loudly as potential double-read. */
    sharedLeaseMillis: Long = 300000L,
    /** Poison-message ceiling (JMS max-delivery-count parity, shared
      * subscription only): a slice delivered this many times — each
      * delivery ending in lease expiry, i.e. a consumer crash — routes
      * to [[sharedDeadLetterAddress]] instead of redelivering forever,
      * annotated x-opt-dlq-reason=max-deliveries / -source /
      * -deliveries. 0 (default) = unlimited redelivery. The policy is
      * broker-side group state, asserted (idempotently) by each
      * consumer at stream start. */
    sharedMaxDeliveries: Int = 0,
    sharedDeadLetterAddress: Option[String] = None,
    /** Whether `address` was NAMED by the user (vs the default): the
      * sink refuses to write a pattern-subscribed table whose target
      * was never named — the glob has no single write target, and
      * silently publishing to the default address would lose data. */
    addressExplicit: Boolean = true) {
  require(!(respectTtl && expiredOnly),
    "respectTtl and expiredOnly partition the backlog — pick one")
  // Shared subscription repartitions CONSUMPTION; modes that reposition
  // or copy the read are a different contract — refuse loudly.
  // addressPattern COMPOSES: discovery names the queues, the share group
  // work-shares each (a consumer fleet over a fleet of queues).
  require(sharedGroup.isEmpty || (!browse && startingTimestampMicros.isEmpty &&
      startingSequences.isEmpty && !ttlFiltered),
    "sharedGroup cannot combine with browse, startingTimestamp/Sequences, " +
      "or TTL-filtered reads")
  // Two start anchors on one query have no defined winner — pick one.
  require(startingTimestampMicros.isEmpty || startingSequences.isEmpty,
    "startingTimestamp and startingSequences are mutually exclusive")
  require(minPerTrigger >= 0, s"minMessagesPerTrigger must be >= 0: $minPerTrigger")
  require(maxTriggerDelayMillis > 0,
    s"maxTriggerDelay must be positive: $maxTriggerDelayMillis ms")
  require(sharedMaxDeliveries >= 0,
    s"sharedMaxDeliveries must be >= 0: $sharedMaxDeliveries")
  // The poison policy is a share-group property: a ceiling without a
  // group has no ledger to count on; a ceiling without a DLQ would drop
  // poison silently; a DLQ without a ceiling would never route to it.
  require(sharedMaxDeliveries == 0 || sharedGroup.isDefined,
    "sharedMaxDeliveries requires sharedGroup (delivery counts live in " +
      "the share-group ledger)")
  require((sharedMaxDeliveries > 0) == sharedDeadLetterAddress.isDefined,
    "sharedMaxDeliveries and sharedDeadLetterAddress go together: a " +
      "ceiling without a DLQ drops poison silently, a DLQ without a " +
      "ceiling is never routed to")
  /** Either TTL mode makes the scan reader-filtered on the expiry
    * predicate — same pushdown-composition rules for both. */
  def ttlFiltered: Boolean = respectTtl || expiredOnly
  /** The envelope schema plus one nullable string column per lifted
    * application property (see the propertyColumns option). */
  def schema: StructType = AmqpEnvelope.schemaWith(propertyColumns)

  /** The read-side subscription: addresses DISCOVERED by the glob
    * pattern (sorted — deterministic partition planning), or the static
    * list. Driver-side at planning time, like a file-source listing; a
    * streaming query re-resolves per trigger, so queues created
    * mid-stream join the subscription (Kafka subscribePattern parity).
    * A transport without the discovery probe FAILS LOUDLY — a pattern
    * silently matching nothing would read an empty table forever. An
    * empty match on a probing transport is an honest empty subscription
    * (streaming picks the queues up once they exist). */
  def subscription(b: AmqpEndpoint): Seq[String] = addressPattern match {
    case Some(p) => b.listAddresses(p) match {
      case Some(as) => as.sorted
      case None => throw new IllegalStateException(
        s"addressPattern '$p' requires a transport with the address-discovery " +
          "probe; this endpoint has no listing surface — name addresses " +
          "explicitly via the addresses option instead")
    }
    case None => addresses
  }
  /** The expiry clock a TTL-respecting read evaluates against. Called
    * at PLANNING time on the driver — once per batch plan, and once per
    * MICRO-BATCH for streams (see AmqpMicroBatchStream.planInputPartitions:
    * freezing the instant at query start would let messages that expire
    * mid-stream live forever) — so every partition and every task retry
    * of the same plan sees one instant; `ttlNowMicros` pins it
    * explicitly for deterministic replays and tests. */
  def ttlClockMicros: Long =
    ttlNowMicros.getOrElse(System.currentTimeMillis() * 1000L)
}

object AmqpSourceConfig {
  def apply(o: CaseInsensitiveStringMap): AmqpSourceConfig = {
    val primary = o.getOrDefault("address", "my_address")
    val rawEndpoint = o.getOrDefault("endpoint",
      s"mem://${o.getOrDefault("host", "localhost")}:${o.getOrDefault("port", "5672")}")
    AmqpEndpointRegistry.requireKnownScheme(rawEndpoint)
    // SASL-PLAIN parity: username/password options fold into the socket
    // URI so every executor-side connection authenticates (reference:
    // PLAIN when credentials present, ANONYMOUS otherwise).
    val user = Option(o.get("username"))
    val endpoint = AmqpEndpointRegistry.socketScheme(rawEndpoint) match {
      case Some(scheme) if user.isDefined && !rawEndpoint.contains("@") =>
        s"$scheme${user.get}:${Option(o.get("password")).getOrElse("")}@${rawEndpoint.stripPrefix(scheme)}"
      case _ => rawEndpoint
    }
    AmqpSourceConfig(
      endpoint = endpoint,
      address = primary,
      addresses = Option(o.get("addresses"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq(primary)),
      maxPerTrigger = o.getOrDefault("maxMessagesPerTrigger", "10000").toLong,
      maxPerSecond = o.getOrDefault("maxMessagesPerSecond", "0").toLong,
      // Kafka minOffsetsPerTrigger/maxTriggerDelay parity: batch up
      // trickle streams (admit nothing below the min until the delay
      // ceiling). maxTriggerDelay accepts Spark duration strings
      // ("45s", "15m"; bare numbers = seconds) and is only meaningful
      // with a min — set alone it refuses rather than silently idling.
      minPerTrigger = o.getOrDefault("minMessagesPerTrigger", "0").toLong,
      maxTriggerDelayMillis = Option(o.get("maxTriggerDelay")).map { t =>
        require(o.getOrDefault("minMessagesPerTrigger", "0").toLong > 0,
          "maxTriggerDelay only applies with minMessagesPerTrigger set — " +
            "without a min, every trigger fires as soon as data exists")
        org.apache.spark.network.util.JavaUtils.timeStringAsMs(t)
      }.getOrElse(15L * 60 * 1000),
      // planner row-size estimate (statistics): AMQP has no byte-count
      // surface, so the width is declared; raise it for fat payloads
      statsRowBytes = o.getOrDefault("statsRowBytes", "1024").toLong,
      // Kafka-parity startingOffsetsByTimestamp: a NEW streaming query
      // begins at the first sequence whose enqueue timestamp reaches
      // this bound instead of draining the whole backlog. Accepts
      // epoch micros ("startingTimestampMicros") or an ISO-8601
      // instant ("startingTimestamp", e.g. 2024-01-15T00:00:00Z).
      // SETTLEMENT CAVEAT (documented contract): AMQP settlement is a
      // PREFIX operation, so a timestamp-started query's first offset
      // commit settles — i.e. the broker deletes — the skipped backlog
      // it never fetched, unlike Kafka where committing past skipped
      // data never destroys it. Point a timestamp-started query at an
      // address whose pre-start backlog no other consumer still needs,
      // give each consumer its own address (the AMQP-native shape), or
      // set `browse=true` — a browsing link never settles anything.
      startingTimestampMicros =
        Option(o.get("startingTimestampMicros")).map(_.toLong)
          .orElse(Option(o.get("startingTimestamp")).map { ts =>
            val i = java.time.Instant.parse(ts)
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }),
      // Kafka startingOffsets-by-position parity: `startingSequence=n`
      // positions the PRIMARY address; `startingSequences={"a":n,...}`
      // positions several links (same quoted-key JSON the offset
      // checkpoint uses). Sequences are exclusive start positions.
      startingSequences =
        Option(o.get("startingSequence"))
          .map(n => Map(primary -> n.toLong))
          .orElse(Option(o.get("startingSequences")).map { js =>
            val m = AmqpOffset.parseSeqMap(js)
            require(m.nonEmpty, s"startingSequences parsed empty: $js")
            m
          })
          .getOrElse(Map.empty),
      endingSequences =
        Option(o.get("endingSequence"))
          .map(n => Map(primary -> n.toLong))
          .orElse(Option(o.get("endingSequences")).map { js =>
            val m = AmqpOffset.parseSeqMap(js)
            require(m.nonEmpty, s"endingSequences parsed empty: $js")
            m
          })
          .getOrElse(Map.empty),
      // Pattern subscription (Kafka subscribePattern / ActiveMQ wildcard
      // destination parity): subscribe to every address matching the
      // glob (`*` = any run of characters) instead of a static list.
      // Discovery re-runs per streaming trigger, so a queue created
      // mid-stream joins the subscription and is read FROM ITS START
      // (Kafka's new-partitions-from-earliest). Mutually exclusive with
      // an explicit addresses list; the sink keeps using `address`.
      addressPattern = Option(o.get("addressPattern")).map { p =>
        require(o.get("addresses") == null,
          "addressPattern and addresses are mutually exclusive")
        p
      },
      // Lifted application properties: each entry (`name` or
      // `name:string|long`) becomes a top-level nullable column (after
      // the envelope columns), making the most common queue-peek
      // predicates — equality on an application property — prunable AND
      // pushable with the existing filter machinery (V2 predicates
      // reference columns, not map lookups, so the map column itself
      // can never ride a pushdown). A `:long` lift carries the
      // property's NUMERIC value, so RANGE predicates push too.
      propertyColumns = Option(o.get("propertyColumns"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          .map(AmqpEnvelope.parsePropertyColumn))
        .getOrElse(Nil),
      // Batch-scale bounds: a deep link's planned span splits into
      // sub-partitions of at most maxRowsPerPartition rows (parallelism
      // + per-task bound), and each reader fetches its slice in
      // fetchChunkRows chunks (heap holds a chunk, never the span).
      maxRowsPerPartition = math.max(1L,
        o.getOrDefault("maxRowsPerPartition", "500000").toLong),
      fetchChunkRows = math.max(1L,
        o.getOrDefault("fetchChunkRows", "50000").toLong),
      // Non-destructive BROWSE mode (AMQP 1.0 §3.5.3 source
      // distribution-mode "copy" vs the default "move"): the streaming
      // query checkpoints its own position but NEVER settles, so the
      // broker keeps the backlog for its actual consumer. This is the
      // queue-peek/monitoring shape — and the safe pairing for
      // `startingTimestamp`, whose first commit on a "move" link
      // settles away the skipped backlog (see the caveat above).
      // Batch reads are browses already (they never settle).
      browse = o.getOrDefault("browse", "false").toBoolean,
      // TTL enforcement (header-section ttl, §3.2.1): a respectTtl read
      // DROPS expired messages — enqueue_ts + ttl <= now — exactly, in
      // the reader, like a pushed predicate. The broker ledger is
      // untouched (expiry never reorders or renumbers sequences), so
      // COUNT(*)/OFFSET pushdowns are refused in this mode (ledger
      // arithmetic counts expired rows) and a pushed LIMIT becomes the
      // partial survivors push. `ttlNowMicros` pins the expiry instant
      // for deterministic reads; unset, each plan snapshots the wall
      // clock once on the driver.
      respectTtl = o.getOrDefault("respectTtl", "false").toBoolean,
      // The DLQ consumer's view: deliver ONLY the expired messages
      // (enqueue_ts + ttl <= now) — the selection a dead-letter sweep
      // reads before republishing to the DLQ address. Mutually
      // exclusive with respectTtl (they partition the backlog).
      expiredOnly = o.getOrDefault("expiredOnly", "false").toBoolean,
      ttlNowMicros = Option(o.get("ttlNowMicros")).map(_.toLong),
      routeByTo = o.getOrDefault("routeByTo", "false").toBoolean,
      failOnDataLoss = o.getOrDefault("failOnDataLoss", "true").toBoolean,
      sharedGroup = Option(o.get("sharedGroup")).map(_.trim).filter(_.nonEmpty),
      sharedLeaseMillis = math.max(1000L,
        o.getOrDefault("sharedLeaseMillis", "300000").toLong),
      sharedMaxDeliveries = o.getOrDefault("sharedMaxDeliveries", "0").toInt,
      sharedDeadLetterAddress =
        Option(o.get("sharedDeadLetterAddress")).map(_.trim).filter(_.nonEmpty),
      addressExplicit = o.get("address") != null)
  }
}

/** The decisions every AMQP scan shares, made in one place for the
  * exclusive stream ([[AmqpMicroBatchStream]]), the share-group stream
  * ([[AmqpSharedMicroBatchStream]]) and the batch read
  * ([[AmqpBatchRead]]):
  *
  *  - admission ([[admit]]): the default read limit, the trigger cap,
  *    the min-rows hold, the rate budget and the equal per-link share;
  *  - the start anchor of a link ([[startAnchor]]);
  *  - the probe-less timestamp degrade filter ([[readerFilters]]);
  *  - the `maxRowsPerPartition` cut of a span ([[slices]]);
  *  - the replayable row count ([[replayable]]).
  *
  * One planner serves one stream or one batch read: the min-rows delay
  * and the rate budget keep their state across its triggers, and the
  * degrade probe runs once for it. On `amqp10://` every endpoint probe
  * is a synchronous round trip, so each decision probes only what it
  * needs: availability only under a min-rows limit, the rate budget only
  * once the trigger is admitted. */
private[streaming] final class AmqpScanPlanner(cfg: AmqpSourceConfig) {

  /** With a min-rows floor configured, the default limit composes it
    * with the trigger cap (exactly the Kafka source's shape): Spark
    * hands the composite back to each trigger's [[admit]]. */
  def defaultReadLimit: ReadLimit =
    if (cfg.minPerTrigger > 0)
      ReadLimit.compositeLimit(Array(
        ReadLimit.minRows(cfg.minPerTrigger, cfg.maxTriggerDelayMillis),
        ReadLimit.maxRows(cfg.maxPerTrigger)))
    else ReadLimit.maxRows(cfg.maxPerTrigger)

  private[streaming] val rate = new AmqpRateBudget(cfg.maxPerSecond)
  /** Injectable wall clock for the maxTriggerDelay ceiling. */
  private[streaming] var wallClock: () => Long = () => System.currentTimeMillis()
  /** Last ADMITTED batch (or first admission decision) — the anchor the
    * min-rows delay ceiling measures from, like Kafka's lastTriggerMillis. */
  private var lastTriggerMillis = 0L

  /** One trigger's admission over `links` links: the row budget of each
    * link, or None to admit nothing this trigger.
    *
    * ReadMinRows (minMessagesPerTrigger + maxTriggerDelay): below the
    * floor and inside the delay window, hold — and spend no rate budget.
    * `available` (rows the trigger could admit) is counted only then.
    * A stream that must not wait passes `holdable = false`: a
    * run-to-completion trigger drains and stops, and waiting for rows
    * that never come would hang it (Kafka ignores minOffsetsPerTrigger
    * there for the same reason).
    *
    * The admitted budget — the trigger cap, bounded by the rate budget —
    * is shared equally across links (at least 1 each), so a hot link
    * cannot starve the others: the multi-link generalization of the
    * reference's per-link credit. */
  def admit(limit: ReadLimit, links: Int, holdable: Boolean = true)(
      available: => Long): Option[Long] = {
    val limits: Seq[ReadLimit] = limit match {
      case c: streaming.CompositeReadLimit => c.getReadLimits.toSeq
      case l => Seq(l)
    }
    val held = limits.collectFirst { case m: streaming.ReadMinRows if holdable => m }.exists { m =>
      val n = available
      val now = wallClock()
      if (lastTriggerMillis == 0L) lastTriggerMillis = now
      val hold = n < m.minRows && now - lastTriggerMillis < m.maxTriggerDelayMs
      if (!hold) lastTriggerMillis = now
      hold
    }
    if (held) None
    else {
      val triggerCap = limits.collectFirst {
        case m: streaming.ReadMaxRows => m.maxRows()
      }.getOrElse(Long.MaxValue)
      Some(math.max(1L, math.min(triggerCap, rate.budget()) / links))
    }
  }

  /** Where a read of link `a` begins, above its replayable `floor`: the
    * `startingSequences` position, else the first sequence whose enqueue
    * timestamp reaches `startingTimestamp`, else the floor.
    *
    * The timestamp probe's no-match answer is the ledger-head-anchored
    * empty window, so the start derives from ONE broker snapshot — a
    * message enqueued concurrently is either inside the window or after
    * the returned head, never lost between two probes. A position cut,
    * not a row filter. Non-monotone producer timestamps degrade
    * conservatively (the covering window may start earlier, never
    * later). A transport without the probe anchors at the floor, and
    * [[readerFilters]] drops the pre-start rows instead.
    *
    * A stream takes a position VERBATIM: below the settlement prefix it
    * is exactly a lost-data checkpoint and rides failOnDataLoss; above
    * the head it admits nothing until the link reaches it. A batch read
    * (`clampPosition`) clamps it to the floor: a batch read is a browse,
    * rows below the floor are gone for everyone, and there is no
    * checkpoint whose loss failOnDataLoss could report. */
  def startAnchor(b: AmqpEndpoint, a: String, floor: Long, clampPosition: Boolean): Long =
    cfg.startingSequences.get(a) match {
      case Some(n) => if (clampPosition) math.max(floor, n) else n
      case None => cfg.startingTimestampMicros
        .flatMap(t => b.timestampWindow(a, t, Long.MaxValue))
        .fold(floor) { case (fromExclusive, _) => math.max(floor, fromExclusive) }
    }

  /** startingTimestamp on a transport WITHOUT the timestamp probe (any
    * third-party broker lacking the x-graft attach extension): the start
    * cannot be positioned, so the contract must not silently degrade to
    * the full backlog — every reader applies `ingest_timestamp >= T`
    * exactly, and no pre-start message is ever returned (it is still
    * fetched: without a ledger probe nothing can prune the wire).
    * Exact-filter semantics, vs the probed path's position cut:
    * identical under monotone enqueue timestamps, divergent on
    * stragglers. Derived from config, not from an initial offset, so a
    * stream restarted mid-backlog keeps filtering. One full-range probe
    * per planner, on first use. */
  lazy val degradeTsLo: Option[Long] = cfg.startingTimestampMicros.filter { _ =>
    AmqpEndpointRegistry.endpoint(cfg.endpoint)
      .timestampWindow(cfg.addresses.head, Long.MinValue, Long.MaxValue).isEmpty
  }

  /** The filters readers apply: `pushed` with the [[degradeTsLo]] bound
    * folded in. */
  def readerFilters(pushed: AmqpPushedFilters): AmqpPushedFilters = degradeTsLo match {
    case Some(t) => pushed.copy(tsLoMicros = math.max(pushed.tsLoMicros, t))
    case None => pushed
  }

  def readerFactory(fields: Array[String], filters: AmqpPushedFilters,
      survivorLimit: Option[Int] = None): PartitionReaderFactory =
    new AmqpReaderFactory(fields, filters, cfg.propertyColumns, cfg.fetchChunkRows, survivorLimit)

  /** Link `a`'s span (from, to] as input partitions of at most
    * `maxRowsPerPartition` rows each: a deep span becomes many parallel
    * tasks instead of one task holding it whole (a reader's heap and
    * wall clock track a slice, never the backlog). Neither a batch read
    * nor a micro-batch promises row order (stateful operators shuffle by
    * key; watermarks aggregate min/max), so the split is
    * semantics-free. */
  def slices(a: String, from: Long, to: Long,
      ttlNowOverrideMicros: Option[Long] = None): Iterator[InputPartition] =
    Iterator.range(0L, to - from, cfg.maxRowsPerPartition).map { o =>
      AmqpInputPartition(cfg.endpoint, a, from + o,
        math.min(from + o + cfg.maxRowsPerPartition, to), ttlNowOverrideMicros)
    }

  /** Rows replayable now across the subscription: each link's high-water
    * mark minus its settled floor. */
  def replayable(b: AmqpEndpoint): Long =
    cfg.subscription(b).map(a => math.max(0L, b.latestSeq(a) - b.settledUpTo(a))).sum
}

/** The scan's pushed-predicate residue, carried from the builder to the
  * planning (window pruning) and reader (exact row filter) layers. All
  * accepted predicates are conjuncts: a timestamp interval [tsLo, tsHi]
  * (micros, inclusive both ends) folded from every range/equality
  * comparison on `ingest_timestamp`, plus equality constraints on the
  * scalar string properties. The reader evaluates them EXACTLY, so the
  * builder may claim complete handling and Spark plans no re-filter. */
case class AmqpPushedFilters(
    tsLoMicros: Long = Long.MinValue, tsHiMicros: Long = Long.MaxValue,
    stringEq: Seq[(String, String)] = Nil,
    notNull: Seq[String] = Nil, isNull: Seq[String] = Nil,
    /** Per-column [lo, hi] bounds (inclusive) on LONG-lifted application
      * properties — the range push a typed lift buys (every comparison
      * folds into one interval per column, like the timestamp bounds).
      * A message whose property is absent or non-integral has a NULL
      * typed value and fails any bound (SQL comparison semantics). */
    longBounds: Map[String, (Long, Long)] = Map.empty,
    /** Names of LONG-lifted columns — resolution metadata for the null
      * tests (a property carrying "abc" is NULL in a long lift but
      * non-null in a string lift), NOT a predicate: excluded from
      * [[isEmpty]]. */
    longCols: Set[String] = Set.empty,
    /** TTL enforcement (the source's `respectTtl` option): when set, a
      * message whose header ttl has lapsed at this instant — enqueue_ts
      * + ttl*1000 <= ttlNowMicros — is dropped by the reader, exactly
      * like a pushed predicate (and composing with them through the same
      * survivors machinery). Messages without a ttl never expire. */
    ttlNowMicros: Option[Long] = None,
    /** Flipped by the source's `expiredOnly` option (the dead-letter
      * sweep's view): keep ONLY the messages whose ttl has lapsed at
      * `ttlNowMicros`; ttl-less messages never qualify. */
    ttlExpiredOnly: Boolean = false) {
  def isEmpty: Boolean =
    tsLoMicros == Long.MinValue && tsHiMicros == Long.MaxValue &&
      stringEq.isEmpty && notNull.isEmpty && isNull.isEmpty &&
      longBounds.isEmpty && ttlNowMicros.isEmpty
  def hasTsBounds: Boolean = tsLoMicros != Long.MinValue || tsHiMicros != Long.MaxValue
  /** Type-aware presence: the null tests must agree with what the lifted
    * COLUMN holds, not with the raw property bag. */
  private def present(msg: AmqpMessage, f: String): Boolean =
    if (longCols(f)) AmqpPushedFilters.longField(msg, f).isDefined
    else AmqpPushedFilters.field(msg, f).isDefined
  def matches(msg: AmqpMessage, tsMicros: Long): Boolean =
    tsMicros >= tsLoMicros && tsMicros <= tsHiMicros &&
      ttlNowMicros.forall { now =>
        // overflow-safe: deadline = ts + t*1000 can overflow Long for a
        // model-level ttl beyond the uint32 the codec enforces (mem://
        // skips the codec), so compare in divided space — for delta >= 0,
        // t*1000 <= delta  <=>  t <= delta/1000 (floor); delta < 0 means
        // the enqueue is already past `now`, so nothing has expired yet.
        val delta = now - tsMicros
        val expired = delta >= 0 && msg.ttlMillis.exists(_ <= delta / 1000L)
        if (ttlExpiredOnly) expired else !expired
      } &&
      stringEq.forall { case (f, v) => AmqpPushedFilters.field(msg, f).contains(v) } &&
      longBounds.forall { case (f, (lo, hi)) =>
        AmqpPushedFilters.longField(msg, f).exists(v => v >= lo && v <= hi) } &&
      notNull.forall(f => present(msg, f)) &&
      isNull.forall(f => !present(msg, f))
  def describe: String =
    ((if (tsLoMicros != Long.MinValue) Seq(s"ingest_timestamp >= ${tsLoMicros}us") else Nil) ++
     (if (tsHiMicros != Long.MaxValue) Seq(s"ingest_timestamp <= ${tsHiMicros}us") else Nil) ++
     stringEq.map { case (f, v) => s"$f = '$v'" } ++
     longBounds.toSeq.sortBy(_._1).flatMap { case (f, (lo, hi)) =>
       (if (lo != Long.MinValue) Seq(s"$f >= $lo") else Nil) ++
         (if (hi != Long.MaxValue) Seq(s"$f <= $hi") else Nil) } ++
     notNull.map(f => s"$f IS NOT NULL") ++
     isNull.map(f => s"$f IS NULL") ++
     ttlNowMicros.map(now =>
       if (ttlExpiredOnly) s"ttl expired-only @ ${now}us"
       else s"ttl respected @ ${now}us").toSeq).mkString(", ")
}

object AmqpPushedFilters {
  /** The pushable scalar string properties of the envelope. The map
    * column (application_properties) is not pushable — V2 predicates
    * reference columns, not map lookups — but a property LIFTED to a
    * top-level column via the propertyColumns option is: the builder
    * additionally accepts the lifted names, and [[field]] resolves them
    * from the property bag. */
  val StringCols: Set[String] =
    Set("message_id", "to", "subject", "reply_to", "correlation_id")
  def field(msg: AmqpMessage, name: String): Option[String] = name match {
    case "message_id" => msg.messageId
    case "to" => msg.to
    case "subject" => msg.subject
    case "reply_to" => msg.replyTo
    case "correlation_id" => msg.correlationId
    // anything else an accepting builder let through is a lifted
    // application property — stringified exactly like the map column
    // (String.valueOf), so a predicate moved from the map lookup to the
    // lifted column compares the same text
    case prop => property(msg, prop) match {
      case Absent => None
      case v => Some(String.valueOf(v))
    }
  }

  /** Marks a property the message does not carry. */
  private object Absent

  /** The first value of application property `name`, or [[Absent]]:
    * a plain loop, since readers run it per row and lifted column. */
  private def property(msg: AmqpMessage, name: String): Any = {
    val it = msg.applicationProperties.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e._1 == name) return e._2
    }
    Absent
  }

  /** Typed (long) lift of an application property: the property's
    * INTEGRAL value — every integral width the model or the wire codec
    * can deliver (Byte/Short/Int/Long) widens to long; anything else
    * (absent, text, fractional) is NULL. A projection, never a parse:
    * a producer sending "123" as TEXT gets NULL here, by design —
    * coercing text would make the pushed range and the map column
    * disagree. */
  def longField(msg: AmqpMessage, name: String): Option[Long] =
    property(msg, name) match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
}

/** Column pruning (SURVEY §4's one applicable pushdown): Catalyst hands
  * the scan the envelope columns the query actually references; readers
  * then skip materializing the rest — which matters when the pruned
  * columns are the expensive ones (JSON-ifying structured bodies,
  * stringifying wide application-property maps).
  *
  * Predicate pushdown (SupportsPushDownV2Filters): timestamp range and
  * string-property equality conjuncts are accepted and evaluated
  * EXACTLY by the partition reader (before envelope materialization, so
  * a filtered-out message never pays body JSON-ification); timestamp
  * bounds additionally prune the planned fetch windows through the
  * endpoint's [[AmqpEndpoint.timestampWindow]] probe, so a
  * time-bounded peek at a deep queue fetches only the covering
  * sequence span instead of draining every message.
  *
  * Pushdown composition: a LIMIT over pushed filters is accepted as a
  * PARTIAL push (readers fetch until the limit's worth of rows SURVIVE
  * the exact filter — see [[AmqpPartitionReader]]); every other
  * combination refuses — aggregates against anything, offset against
  * filters (Spark's rule order makes the refused combinations mostly
  * unreachable today, but a future Spark that composes them — as the
  * JDBC scan does — must degrade to Spark-side evaluation, not plan a
  * wrong scan). */
class AmqpScanBuilder(cfg: AmqpSourceConfig) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownV2Filters {
  private var required: StructType = cfg.schema
  private var countPushed = false
  private var limit: Option[Int] = None
  private var offset: Int = 0
  private var filters = AmqpPushedFilters()
  private var accepted: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  /** Equality / null-test pushability: the scalar string properties
    * plus every STRING-lifted application property; LONG-lifted
    * properties additionally take RANGE pushes (see acceptCmp). */
  private val pushableStrings: Set[String] =
    AmqpPushedFilters.StringCols ++
      cfg.propertyColumns.collect { case (n, dt) if dt != LongType => n }
  private val pushableLongs: Set[String] =
    cfg.propertyColumns.collect { case (n, LongType) => n }.toSet
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** LIMIT/OFFSET pushdown: a `df.offset(k).limit(n)` peek at a queue
    * snapshot plans fetch windows that SKIP the first k replayable
    * sequence numbers and span at most n — the ledger gives exact
    * per-address bounds, so both cuts are computed at planning time
    * and no skipped or capped message ever crosses the wire. Spark
    * rewrites `offset(k).limit(n)` to pushed limit = k+n with offset
    * = k, i.e. the scan must apply the LIMIT first and skip the
    * OFFSET inside it — which is what [[AmqpBatchRead]] does.
    *
    * Composition with pushed predicates: a LIMIT after filters is
    * accepted as a PARTIAL push — the planner cannot pre-cut windows
    * (it would count fetched rows, not survivors), so instead each
    * reader fetches chunk-by-chunk UNTIL n rows survive its exact
    * filter and stops; Spark keeps its own limit operator
    * (isPartiallyPushed) for the global cut across partitions. A
    * filtered `limit(n)` peek at a deep queue thus stops fetching as
    * soon as n survivors surface instead of draining the span.
    * OFFSET after filters stays refused: skipping k SURVIVORS across
    * partitions needs cross-partition coordination no planning-time
    * arithmetic can provide — Spark evaluates the offset itself. */
  override def pushLimit(n: Int): Boolean =
    if (countPushed) false else { limit = Some(n); true }
  // respectTtl makes every scan reader-filtered (expired rows drop), so
  // a pushed LIMIT is only ever the partial survivors push and OFFSET
  // (skip k SURVIVORS) cannot be planned — same rules as predicates.
  override def isPartiallyPushed(): Boolean = !filters.isEmpty || cfg.ttlFiltered
  override def pushOffset(n: Int): Boolean =
    if (countPushed || !filters.isEmpty || cfg.ttlFiltered) false
    else { offset = n; true }

  // ------------------------------------------------- predicate pushdown
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLiteral, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.types.{StringType, TimestampType}

  private def colNameOf(e: VExpr): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
    case _ => None
  }
  private def flip(op: String): String = op match {
    case ">" => "<"
    case "<" => ">"
    case ">=" => "<="
    case "<=" => ">="
    case o => o
  }
  /** Pure acceptance: returns the filter set WITH this conjunct folded
    * in, or None to reject — the caller owns the single mutation site,
    * so a rejected predicate can never leave behind a partial update
    * (matters once shapes stop being independent conjuncts, e.g. OR). */
  private def acceptCmp(op: String, col: String, lit: VLiteral[_],
      f: AmqpPushedFilters): Option[AmqpPushedFilters] =
    if (col == "ingest_timestamp" && lit.dataType == TimestampType &&
        lit.value.isInstanceOf[java.lang.Long]) {
      val v = lit.value.asInstanceOf[java.lang.Long].longValue
      op match {
        case "=" =>
          Some(f.copy(tsLoMicros = math.max(f.tsLoMicros, v),
            tsHiMicros = math.min(f.tsHiMicros, v)))
        case ">=" => Some(f.copy(tsLoMicros = math.max(f.tsLoMicros, v)))
        case "<=" => Some(f.copy(tsHiMicros = math.min(f.tsHiMicros, v)))
        case ">" if v < Long.MaxValue =>
          Some(f.copy(tsLoMicros = math.max(f.tsLoMicros, v + 1)))
        case "<" if v > Long.MinValue =>
          Some(f.copy(tsHiMicros = math.min(f.tsHiMicros, v - 1)))
        case _ => None
      }
    } else if (op == "=" && pushableStrings(col) &&
        lit.dataType == StringType && lit.value != null)
      Some(f.copy(stringEq = f.stringEq :+ (col -> lit.value.toString)))
    else if (pushableLongs(col) && lit.dataType == LongType &&
        lit.value.isInstanceOf[java.lang.Long]) {
      // RANGE push on a long-lifted property: every comparison folds
      // into the column's [lo, hi] interval, exactly like the
      // timestamp bounds — the capability the typed lift exists for
      val v = lit.value.asInstanceOf[java.lang.Long].longValue
      def bound(lo: Long, hi: Long): Option[AmqpPushedFilters] = {
        val (l0, h0) = f.longBounds.getOrElse(col, (Long.MinValue, Long.MaxValue))
        Some(f.copy(longBounds =
          f.longBounds + (col -> (math.max(l0, lo), math.min(h0, hi)))))
      }
      op match {
        case "=" => bound(v, v)
        case ">=" => bound(v, Long.MaxValue)
        case "<=" => bound(Long.MinValue, v)
        case ">" if v < Long.MaxValue => bound(v + 1, Long.MaxValue)
        case "<" if v > Long.MinValue => bound(Long.MinValue, v - 1)
        case _ => None
      }
    } else None

  private def tryAccept(p: Predicate, f: AmqpPushedFilters): Option[AmqpPushedFilters] = {
    val ch = p.children()
    // IS [NOT] NULL on the scalar string properties (Catalyst derives
    // isnotnull(c) from every c = 'v' constraint — rejecting it would
    // leave a residual Filter over an already-exact scan).
    // ingest_timestamp is non-nullable: IS NOT NULL on it is vacuous.
    if (ch.length == 1) colNameOf(ch(0)) match {
      case Some(c) if (pushableStrings(c) || pushableLongs(c)) && p.name() == "IS_NOT_NULL" =>
        Some(f.copy(notNull = f.notNull :+ c))
      case Some(c) if (pushableStrings(c) || pushableLongs(c)) && p.name() == "IS_NULL" =>
        Some(f.copy(isNull = f.isNull :+ c))
      case Some("ingest_timestamp") if p.name() == "IS_NOT_NULL" => Some(f)
      case _ => None
    }
    else if (ch.length != 2) None
    else (colNameOf(ch(0)), ch(1), colNameOf(ch(1)), ch(0)) match {
      case (Some(c), l: VLiteral[_], _, _) => acceptCmp(p.name(), c, l, f)
      case (_, _, Some(c), l: VLiteral[_]) => acceptCmp(flip(p.name()), c, l, f)
      case _ => None
    }
  }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    // Spark pushes filters before aggregates/limits, so these guards are
    // unreachable today — kept so an unexpected composition degrades to
    // Spark-side filtering instead of a wrong scan.
    if (countPushed || limit.isDefined || offset != 0) return predicates
    val ok = Array.newBuilder[Predicate]
    val rest = Array.newBuilder[Predicate]
    var acc = filters
    predicates.foreach { p =>
      tryAccept(p, acc) match {
        case Some(next) => acc = next; ok += p
        case None => rest += p
      }
    }
    filters = acc
    accepted = ok.result()
    rest.result() // fully handled by the reader: nothing accepted needs re-evaluation
  }
  override def pushedPredicates(): Array[Predicate] = accepted

  /** Global COUNT(*) pushdown: the broker's per-address sequence
    * ledger (high-water minus settled floor, the exact bounds
    * [[AmqpBatchRead]] plans its fetch slices from) already IS the
    * row count, so the "scan" for a bare `df.count()` moves 8 bytes
    * instead of every message body. COMPLETE pushdown only, and only
    * for the ungrouped single-COUNT(*) shape — anything else (group
    * keys, other aggregates, count(col) with its null semantics)
    * falls back to the row scan untouched. Refused when predicates or
    * limit/offset are already pushed — the ledger count ignores both —
    * and when startingTimestamp positions the read: the ledger count
    * covers the whole replayable span, not the at/after-T suffix the
    * row scan would return (the probe window could answer it for
    * monotone timestamps, but the degrade path's reader-side filter
    * could not — refusal is the always-correct form). */
  private def isGlobalCountStar(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
  private def countPushable(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    isGlobalCountStar(agg) && filters.isEmpty && limit.isEmpty && offset == 0 &&
      cfg.startingTimestampMicros.isEmpty && cfg.startingSequences.isEmpty &&
      cfg.endingSequences.isEmpty &&
      // ledger arithmetic counts expired-but-unsettled rows a
      // TTL-respecting scan would drop — only the row scan is correct
      !cfg.ttlFiltered
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countPushable(agg)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (countPushable(agg)) { countPushed = true; true } else false
  }

  override def build(): Scan =
    if (countPushed) new AmqpCountScan(cfg)
    else {
      // TTL fold: expiry joins the reader-side filter set here, so the
      // batch planner, the micro-batch stream, and the survivors-limit
      // machinery all see one filter surface. The expiry instant is
      // snapshotted ONCE per built scan on the driver (or pinned by
      // ttlNowMicros), so every partition — and every task retry — of
      // this plan agrees on what is expired.
      val eff = (if (cfg.ttlFiltered)
        filters.copy(ttlNowMicros = Some(cfg.ttlClockMicros),
          ttlExpiredOnly = cfg.expiredOnly)
      else filters)
        // resolution metadata for type-aware null tests (not a predicate)
        .copy(longCols = pushableLongs)
      new AmqpScan(cfg, required, limit, offset, eff)
    }
}

/** The COUNT(*)-pushed scan: one metadata partition carrying the
  * replayable-row count, snapshotted on the driver at planning time
  * (the same moment a row scan would pin its fetch bounds). */
class AmqpCountScan(cfg: AmqpSourceConfig) extends Scan {
  override def readSchema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("count(*)",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def description(): String =
    s"AmqpCountScan(${cfg.endpoint}/${cfg.addresses.mkString(",")}) PushedAggregates: [COUNT(*)]"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val b = AmqpEndpointRegistry.endpoint(cfg.endpoint)
      Array(AmqpCountPartition(new AmqpScanPlanner(cfg).replayable(b)))
    }
    override def createReaderFactory(): PartitionReaderFactory = AmqpCountReaderFactory
  }
}

case class AmqpCountPartition(n: Long) extends InputPartition

object AmqpCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val n = partition.asInstanceOf[AmqpCountPartition].n
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = InternalRow(n)
      override def close(): Unit = ()
    }
  }
}

class AmqpScan(cfg: AmqpSourceConfig, required: StructType = AmqpEnvelope.schema,
    limit: Option[Int] = None, offset: Int = 0,
    pushed: AmqpPushedFilters = AmqpPushedFilters())
    extends Scan with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(cfg.endingSequences.isEmpty,
      "endingSequence[s] bounds a BATCH read; a streaming query is " +
        "unbounded — use Trigger.AvailableNow for run-to-completion")
    cfg.sharedGroup match {
      // work-sharing consumption: claim-leased dispatch instead of
      // per-link sequence offsets (the checkpoint location is the
      // consumer's stable owner identity across restarts)
      case Some(_) => new AmqpSharedMicroBatchStream(cfg, checkpointLocation,
        required.fieldNames, pushed)
      case None => new AmqpMicroBatchStream(cfg, required.fieldNames, pushed)
    }
  }
  override def toBatch: Batch = new AmqpBatchRead(cfg, required.fieldNames, limit, offset, pushed)
  override def description(): String =
    s"AmqpScan(${cfg.endpoint}/${cfg.address}) ReadSchema: ${required.simpleString}" +
      limit.map(n => s" PushedLimit: $n").getOrElse("") +
      (if (offset > 0) s" PushedOffset: $offset" else "") +
      (if (!pushed.isEmpty) s" PushedFilters: [${pushed.describe}]" else "")

  /** Planner-visible size: without statistics a DSv2 relation defaults
    * to "unknown = huge", so a 100-row AMQP snapshot joined against a
    * fact table would SHUFFLE both sides. Reporting the broker's
    * per-address sequence high-water mark (an upper bound on readable
    * rows) times a DECLARED row width (`statsRowBytes`, default 1 KiB —
    * AMQP exposes no byte-count surface, and schema defaultSize would
    * undersize document-carrying bodies into a broadcast OOM) lets
    * Catalyst broadcast genuinely small snapshots. The broker probe
    * runs on the driver at planning time, like a file-source listing;
    * an unreachable broker reports empty (= the old never-broadcast
    * behavior). */
  override def estimateStatistics(): Statistics = {
    val rows =
      try {
        val client = AmqpEndpointRegistry.endpoint(cfg.endpoint)
        // Replayable rows (high-water minus settled floor), then the
        // pushed LIMIT/OFFSET window arithmetic from
        // AmqpBatchRead.planInputPartitions: a df.limit(5) peek at a
        // deep queue must report 5 rows, not the backlog, or the
        // broadcast-join benefit these stats exist for is forfeited.
        // Pushed predicates only shrink the count further — the
        // uncut number stays a valid upper bound for planning.
        val replayable = new AmqpScanPlanner(cfg).replayable(client)
        math.max(0L,
          math.min(replayable, limit.map(_.toLong).getOrElse(Long.MaxValue)) - offset)
      } catch { case _: Exception => -1L } // unreachable broker: unknown
    val width = math.max(cfg.statsRowBytes, required.defaultSize.toLong)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        if (rows < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rows * width)
      override def numRows: java.util.OptionalLong =
        if (rows < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rows)
    }
  }
}

/** Offset = highest delivered sequence number PER LINK (SURVEY.md §7.1).
  * JSON shape: {"seqs":{"addr":n,...}} with keys sorted, so equal
  * offsets serialize identically (Spark compares offsets by json). The
  * legacy single-link {"seq":n} form is still parsed (mapped to the
  * stream's primary address) so pre-multi-link checkpoints resume. */
case class AmqpOffset(seqs: Map[String, Long]) extends Offset {
  override def json(): String =
    seqs.toSeq.sortBy(_._1)
      .map { case (a, n) => s"${AmqpEnvelope.quote(a)}:$n" }
      .mkString("""{"seqs":{""", ",", "}}")
  def seqOf(address: String): Long = seqs.getOrElse(address, 0L)
}

object AmqpOffset {
  def single(address: String, seq: Long): AmqpOffset = AmqpOffset(Map(address -> seq))
  private val LegacyRe = """\{\s*"seq"\s*:\s*(\d+)\s*\}""".r
  private val SeqsRe = """(?s).*"seqs"\s*:\s*\{(.*)\}\s*\}\s*""".r
  // key = JSON string with escapes intact; addresses are quoted by
  // AmqpEnvelope.quote, so '"' and '\' in topic names survive the
  // checkpoint round-trip instead of corrupting the offset JSON
  private val EntryRe = """"((?:[^"\\]|\\.)*)"\s*:\s*(\d+)""".r
  /** Parse a bare {"addr":n,...} map (quoted keys, integer values) —
    * the shape shared by the offset checkpoint's seqs block and the
    * `startingSequences` option. */
  def parseSeqMap(s: String): Map[String, Long] =
    EntryRe.findAllMatchIn(s)
      .map(m => AmqpEnvelope.unquote(m.group(1)) -> m.group(2).toLong).toMap
  def fromJson(s: String, primaryAddress: String): AmqpOffset = s match {
    case LegacyRe(n) => single(primaryAddress, n.toLong)
    case SeqsRe(entries) =>
      AmqpOffset(EntryRe.findAllMatchIn(entries)
        .map(m => AmqpEnvelope.unquote(m.group(1)) -> m.group(2).toLong).toMap)
    case other => throw new IllegalArgumentException(s"bad AMQP offset: $other")
  }
}

/** Admission budget from `maxMessagesPerSecond`: the declarative
  * replacement for the reference's rate-controller hierarchy
  * (AMQPRateController.scala:38-341 in /root/reference — dead code
  * there, but its manual-credit variant caps deliveries per pacing
  * interval). Budget = rate x seconds since the last admission
  * decision; the first trigger gets one second's worth. Unused budget
  * does NOT accumulate beyond one interval (the reference's
  * RateLimiter likewise smooths bursts). Held by the
  * [[AmqpScanPlanner]] both streams admit through, so
  * `maxMessagesPerSecond` is honored — never silently ignored — on
  * every consuming mode. */
private[streaming] final class AmqpRateBudget(maxPerSecond: Long) {
  /** Injectable clock (nanos) so rate-limit admission is unit-testable. */
  private[streaming] var nanoClock: () => Long = () => System.nanoTime()
  private var lastNanos = 0L
  private var first = true
  def budget(): Long =
    if (maxPerSecond <= 0L) Long.MaxValue
    else {
      val now = nanoClock()
      val b =
        if (first) maxPerSecond
        else {
          val dt = (now - lastNanos) / 1e9
          math.max(1L, math.min(maxPerSecond * 10, // burst ceiling
            (maxPerSecond * dt).toLong))
        }
      first = false
      lastNanos = now
      b
    }
}

/** What both streams take from their [[AmqpScanPlanner]]: the default
  * read limit, the reader factory, and the clocks admission runs on
  * (injectable, so admission is unit-testable). Offsets, the replay
  * gate and settlement stay in each stream. */
abstract class AmqpPlannedStream(cfg: AmqpSourceConfig, fields: Array[String],
    pushed: AmqpPushedFilters)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  private[streaming] val planner = new AmqpScanPlanner(cfg)
  protected def broker: AmqpEndpoint = AmqpEndpointRegistry.endpoint(cfg.endpoint)

  override def getDefaultReadLimit: ReadLimit = planner.defaultReadLimit

  // Offsets stay seq-based and unfiltered (settlement must advance over
  // skipped messages too); the reader drops non-matching rows.
  override def createReaderFactory(): PartitionReaderFactory =
    planner.readerFactory(fields, planner.readerFilters(pushed))

  override def stop(): Unit = ()

  /** Injectable clock (nanos) so rate-limit admission is unit-testable. */
  private[streaming] def nanoClock: () => Long = planner.rate.nanoClock
  private[streaming] def nanoClock_=(f: () => Long): Unit = planner.rate.nanoClock = f
  /** Injectable wall clock for the maxTriggerDelay ceiling. */
  private[streaming] def wallClock: () => Long = planner.wallClock
  private[streaming] def wallClock_=(f: () => Long): Unit = planner.wallClock = f
}

class AmqpMicroBatchStream(cfg: AmqpSourceConfig,
    fields: Array[String] = AmqpEnvelope.schema.fieldNames,
    pushed: AmqpPushedFilters = AmqpPushedFilters())
    extends AmqpPlannedStream(cfg, fields, pushed) {

  /** Per-trigger source metrics in StreamingQueryProgress (the
    * observability face the Kafka source sets the pattern for):
    * total backlog behind the consumed offset and the unsettled
    * (replayable) window across links. */
  override def metrics(latestConsumed: java.util.Optional[Offset]): java.util.Map[String, String] = {
    // After crash recovery Spark passes the offset restored from the
    // offset WAL as a SerializedOffset (populateStartOffsets feeds
    // finishTrigger the re-executed uncommitted batch's entry), so a
    // blind cast to AmqpOffset throws during the restarted query's first
    // trigger — exactly the replay path the reliable contract covers.
    // Match like the Kafka source does and fall back to JSON parsing.
    val consumed = if (latestConsumed.isPresent) latestConsumed.get() match {
      case o: AmqpOffset => o
      case other => AmqpOffset.fromJson(other.json(), cfg.addresses.head)
    } else AmqpOffset(Map.empty)
    val links = (consumed.seqs.keySet ++ subscribed).toSeq.sorted
    val backlog = links.map(a =>
      math.max(0L, broker.latestSeq(a) - consumed.seqOf(a))).sum
    val unsettled = links.map(a =>
      math.max(0L, broker.latestSeq(a) - cachedSettledUpTo(a))).sum
    java.util.Map.of(
      "backlogMessages", backlog.toString,
      "unsettledMessages", unsettled.toString,
      "links", links.length.toString)
  }

  /** Settlement-prefix probe memoized PER TRIGGER: on socket transports
    * each settledUpTo is a synchronous round trip, and the driver's hot
    * planning path (admission → planInputPartitions → metrics) would
    * otherwise pay one per address per stage per micro-batch. Settlement
    * only advances, so a trigger-stale prefix is conservative for every
    * consumer here: the data-loss floor may read low (the comparison
    * tolerates it — the race with a competing settler exists regardless
    * of freshness, and the NEXT trigger's fresh probe catches it), and a
    * newly discovered link's start may read low (re-floored next
    * trigger). Cleared when a trigger's admission decision runs. */
  private val settledCache = scala.collection.mutable.HashMap.empty[String, Long]
  private def cachedSettledUpTo(a: String): Long =
    settledCache.getOrElseUpdate(a, broker.settledUpTo(a))

  /** The current subscription: the static address list, or — under
    * `addressPattern` — a fresh discovery probe. Called at most a few
    * times per trigger, always on the driver; a queue created mid-stream
    * is picked up by the next trigger's probe and consumed from its
    * start (its checkpointed offset defaults to 0). An address once
    * checkpointed is never dropped from the subscription even if a later
    * probe misses it (offsets and settlement must keep advancing over
    * it) — [[latestOffset(start*]] unions the checkpoint back in. */
  private def subscribed: Seq[String] = cfg.subscription(broker)

  /** Trigger.AvailableNow: snapshot the backlog at query start; batches
    * (still capped by maxMessagesPerTrigger / rate budget) drain up to
    * the snapshot and the query stops — run-to-completion catch-up with
    * the same admission control as continuous execution. */
  private var availableNowCap: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(subscribed.map(a => a -> broker.latestSeq(a)).toMap)

  private def latestFor(a: String): Long = {
    val live = broker.latestSeq(a)
    availableNowCap.fold(live)(cap => math.min(live, cap.getOrElse(a, 0L)))
  }

  /** Where a NEW query begins (a checkpointed restart never calls
    * this — exactly Kafka's startingOffsets contract): each link's
    * [[AmqpScanPlanner.startAnchor]] above its REPLAYABLE prefix
    * (settledUpTo), not sequence 0 — Kafka parity: earliest resolves to
    * the actual log start. Messages below the prefix were consumed by
    * their owner before this query existed; starting below it would
    * trip the failOnDataLoss check on data this query was never
    * positioned at. With `startingTimestamp[Micros]` a consumer
    * attaching to a deep queue at "yesterday 00:00" skips the history
    * instead of draining it.
    *
    * Settlement caveat (prefix settlement is the broker contract):
    * the first offset commit settles — deletes — the skipped backlog
    * below the start; see the option note in [[AmqpSourceConfig]]. */
  override def initialOffset(): Offset =
    AmqpOffset(subscribed.map { a =>
      a -> planner.startAnchor(broker, a, broker.settledUpTo(a), clampPosition = false)
    }.toMap)

  override def latestOffset(): Offset =
    AmqpOffset(subscribed.map(a => a -> latestFor(a)).toMap)

  override def reportLatestOffset(): Offset =
    AmqpOffset(subscribed.map(a => a -> broker.latestSeq(a)).toMap)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    settledCache.clear() // one fresh settlement probe per address per trigger
    val startOff = start.asInstanceOf[AmqpOffset]
    // Active links = this trigger's subscription UNION every address the
    // checkpoint already tracks: a pattern-discovered queue joins here
    // (consumed from its replayable start — see below), and an address a
    // later probe misses is never dropped mid-stream.
    val active = (startOff.seqs.keySet ++ subscribed).toSeq.sorted
    if (active.isEmpty) return AmqpOffset(Map.empty)
    // start positions resolve once, shared by the min-rows availability
    // probe and the admission arithmetic below
    val startSeqs = active.map { a =>
      // an address first discovered mid-stream (not yet in the
      // checkpoint) starts at its REPLAYABLE prefix, like initialOffset —
      // a pre-existing queue joining a pattern subscription must not
      // plan the settled span below it (one probe, first trigger only)
      a -> startOff.seqs.getOrElse(a, cachedSettledUpTo(a))
    }.toMap
    // AvailableNow never holds: it drains and stops
    val perLink = planner.admit(limit, active.length, holdable = availableNowCap.isEmpty) {
      active.map(a => math.max(0L, latestFor(a) - startSeqs(a))).sum
    } match {
      case Some(n) => n
      case None => return startOff // held: the same offset back means no batch
    }
    AmqpOffset(active.map { a =>
      val startSeq = startSeqs(a)
      // saturating add: an uncapped limit (ReadAllAvailable under
      // Trigger.Once) makes perLink = Long.MaxValue, and a wrapped sum
      // would move the end offset BACKWARD past the start — admitting
      // nothing and checkpointing a corrupt offset
      val cap = if (startSeq > Long.MaxValue - perLink) Long.MaxValue
                else startSeq + perLink
      // floor at the checkpointed start: an AvailableNow snapshot that
      // missed a previously-tracked address (or a reset broker) must
      // never move an end offset BACKWARD — Spark would re-read the
      // regression as fresh data on the next batch
      a -> math.max(startSeq, math.min(latestFor(a), cap))
    }.toMap)
  }

  /** One partition per link per micro-batch — except that a span wider
    * than maxRowsPerPartition splits into bounded sub-partitions
    * ([[AmqpScanPlanner.slices]]). Normal triggers never hit this
    * (maxMessagesPerTrigger bounds the span first), but
    * ReadAllAvailable (Trigger.Once) admits the WHOLE backlog in one
    * batch — without the split, one task would fetch and hold a deep
    * link's entire history. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[AmqpOffset], end.asInstanceOf[AmqpOffset])
    // A wall-clock TTL read must not freeze expiry at query START — a
    // long-running stream would then never drop messages that expire
    // mid-stream. Re-snapshot the instant at each batch's planning (one
    // instant per batch, shared by its partitions and retries); a
    // pinned ttlNowMicros stays pinned for deterministic replays.
    val ttlNow =
      if (cfg.ttlFiltered && cfg.ttlNowMicros.isEmpty) Some(cfg.ttlClockMicros)
      else None
    // The batch's links are the END offset's keys (the admitted set —
    // which under addressPattern may differ from cfg.addresses), sorted
    // for deterministic partition order.
    e.seqs.keys.toSeq.sorted
      .filter(a => e.seqOf(a) > s.seqOf(a))
      .flatMap { a =>
        val (from0, to) = (s.seqOf(a), e.seqOf(a))
        // Data-loss detection (Kafka failOnDataLoss parity): the broker
        // can only replay the unsettled window, so a start below the
        // settlement prefix — a competing "move"-mode consumer or
        // retention settled past our checkpoint — is a gap fetch()
        // would silently skip. Fail loudly by default; with
        // failOnDataLoss=false advance to the prefix and continue.
        // BROWSE is exempt: a browsing query's checkpoint ROUTINELY
        // falls below the prefix because the address's real "move"
        // consumer settles ahead of it — that is the documented browse
        // contract (any number of peeking queries behind one owner),
        // not loss; the browse skips to the prefix silently.
        val floor = math.min(cachedSettledUpTo(a), to)
        val from =
          if (floor <= from0) from0
          else if (cfg.browse) floor
          else if (cfg.failOnDataLoss) throw new IllegalStateException(
            s"data loss on '$a': checkpointed position $from0 is below the " +
              s"broker's settlement prefix $floor — messages ($from0, $floor] " +
              "were settled away by another consumer or retention. Set " +
              "failOnDataLoss=false to skip the gap and continue.")
          else floor
        planner.slices(a, from, to, ttlNow)
      }
      .toArray
  }

  /** Settle-after-durable-commit: the epoch is checkpointed, release
    * every link's unsettled window (the WAL-replacement contract).
    * Under `browse=true` (distribution-mode "copy") settlement is
    * skipped entirely — the query's position lives only in its own
    * checkpoint and the broker's backlog is untouched, so any number
    * of browsing queries can peek the same address while its real
    * consumer still gets every message. */
  override def commit(end: Offset): Unit = if (!cfg.browse) {
    val e = end.asInstanceOf[AmqpOffset]
    e.seqs.keys.foreach(a => broker.settle(a, e.seqOf(a)))
  }

  override def deserializeOffset(json: String): Offset =
    AmqpOffset.fromJson(json, cfg.addresses.head)
}

/** Batch read of everything currently replayable (unsettled + new):
  * the envelope as a static DataFrame for tests/oracle comparisons.
  * Each link's planned span splits into sub-partitions of at most
  * `maxRowsPerPartition` rows ([[AmqpScanPlanner.slices]]). */
class AmqpBatchRead(cfg: AmqpSourceConfig,
    fields: Array[String],
    limit: Option[Int] = None, offset: Int = 0,
    pushed: AmqpPushedFilters = AmqpPushedFilters()) extends Batch {
  // The builder refuses OFFSET once predicates are pushed (skipping k
  // SURVIVORS across partitions is not planning-time arithmetic); a
  // LIMIT over pushed predicates is the PARTIAL push handled below.
  require(pushed.isEmpty || offset == 0,
    "pushed predicates cannot combine with a pushed offset")

  private val planner = new AmqpScanPlanner(cfg)
  // the probe-less startingTimestamp degrade, decided once per scan
  private lazy val effFilters: AmqpPushedFilters = planner.readerFilters(pushed)

  override def planInputPartitions(): Array[InputPartition] = {
    val b = AmqpEndpointRegistry.endpoint(cfg.endpoint)
    // Pushed timestamp bounds prune each address's fetch window to the
    // tightest sequence span covering the bounds (broker-side probe; a
    // transport without the probe keeps the full window). Timestamps
    // need not be monotone, so the span may still contain non-matching
    // messages — the reader re-filters exactly; the probe only cuts
    // what crosses the wire.
    val tsWin: String => Option[(Long, Long)] =
      if (pushed.hasTsBounds)
        a => b.timestampWindow(a, pushed.tsLoMicros, pushed.tsHiMicros)
      else _ => None
    // With NO reader-side filter the pushed OFFSET/LIMIT cut the fetch
    // windows exactly at planning time: the sequence ledger knows each
    // address's replayable span, so the planned windows skip the first
    // `offset` rows and span at most `limit` more. Span arithmetic,
    // never from+remaining: with no limit pushed `remaining` is
    // Long.MaxValue and adding a nonzero settled floor would overflow
    // negative, silently planning zero partitions.
    // Spark's contract applies the pushed LIMIT first, then OFFSET
    // within it (it rewrites `offset(k).limit(n)` to limit = k+n,
    // offset = k before pushing): cap the taken prefix at `limit`,
    // then skip `offset` rows inside that prefix.
    // WITH a reader-side filter (pushed predicates, or the
    // startingTimestamp degrade) the windows cannot be pre-cut — they
    // would count fetched rows, not survivors — so spans stay full and
    // the readers stop at `limit` surviving rows (partial limit push).
    val exactWindows = effFilters.isEmpty
    if (planner.degradeTsLo.isDefined && (limit.isDefined || offset != 0))
      // the builder accepted the limit/offset as an EXACT push (it
      // cannot see the degrade, which is decided at planning time) —
      // Spark may therefore have dropped its own limit, and survivor
      // counting per partition cannot honor a global exact cut; the
      // offset case would skip fetched rows instead of survivors.
      // Fail loudly rather than return wrong rows.
      throw new IllegalStateException(
        "startingTimestamp needs the broker's timestamp probe to combine with a " +
          "pushed LIMIT/OFFSET; this transport has no timestamp surface")
    var toTake = if (exactWindows) limit.map(_.toLong).getOrElse(Long.MaxValue)
                 else Long.MaxValue
    var toSkip = if (exactWindows) offset.toLong else 0L
    // Pattern subscription resolves here, once per batch plan (sorted —
    // the LIMIT/OFFSET cuts below walk addresses in deterministic order).
    cfg.subscription(b).flatMap { a =>
      val floor = b.settledUpTo(a)
      // endingSequence[s]: the batch window's inclusive upper cut —
      // planning arithmetic, like the start anchor; nothing above it
      // is fetched
      val latest = math.min(b.latestSeq(a),
        cfg.endingSequences.getOrElse(a, Long.MaxValue))
      // startingSequence[s]/startingTimestamp position batch reads too
      // (Kafka's startingOffsetsByTimestamp applies to batch queries). A
      // position cut, not a row filter — every planned row is fetched,
      // so the limit/offset arithmetic below stays exact.
      val startFloor = planner.startAnchor(b, a, floor, clampPosition = true)
      // Intersect the replayable span (startFloor, latest] with the
      // pushed timestamp window, when the endpoint can answer the probe.
      val (from0, to0) = tsWin(a) match {
        case Some((f, t)) => (math.max(startFloor, f), math.min(latest, t))
        case None => (startFloor, latest)
      }
      val avail = math.max(0L, to0 - from0)
      val take = math.min(avail, toTake)
      toTake -= take
      val skip = math.min(take, toSkip)
      toSkip -= skip
      if (take - skip <= 0) None
      else planner.slices(a, from0 + skip, from0 + take)
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    planner.readerFactory(fields, effFilters,
      // partial limit push: each reader stops at `limit` survivors
      // (Spark's retained limit performs the global cut)
      survivorLimit = if (effFilters.isEmpty) None else limit)
}

case class AmqpInputPartition(endpoint: String, address: String,
    fromExclusive: Long, toInclusive: Long,
    /** Streaming TTL refresh: the expiry instant re-snapshotted at THIS
      * micro-batch's planning (driver-side, so every partition and task
      * retry of the batch agrees), overriding the filter instant frozen
      * at query start. None for batch reads and pinned-instant reads. */
    ttlNowOverrideMicros: Option[Long] = None) extends InputPartition

class AmqpReaderFactory(fields: Array[String] = AmqpEnvelope.schema.fieldNames,
    pushed: AmqpPushedFilters = AmqpPushedFilters(),
    propertyCols: Seq[(String, DataType)] = Nil,
    chunkRows: Long = Long.MaxValue,
    survivorLimit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AmqpInputPartition]
    val eff = p.ttlNowOverrideMicros match {
      case some @ Some(_) => pushed.copy(ttlNowMicros = some)
      case None => pushed
    }
    new AmqpPartitionReader(p, fields, eff, propertyCols, chunkRows, survivorLimit)
  }
}

/** Pull-based reader for one (start, end] slice of a link's sequence.
  * The bounded handoff the reference needed between the Vert.x event
  * loop and Receiver.store (AMQPFlowController.scala:159-161) is
  * structural here: the reader pulls the planned slice in `chunkRows`
  * chunks, each one credit grant and one [[AmqpEndpoint.drain]]. On a
  * socket endpoint the drain decodes one delivery per `next()`, so the
  * heap holds the socket buffer, not a decoded chunk; on `mem://` it is
  * one fetch (the memory bound that lets a batch sub-partition stay
  * large without the reader materializing it whole).
  *
  * `survivorLimit` is the partial-LIMIT-push contract: with pushed
  * predicates the planner cannot pre-cut windows, so the reader stops
  * — and stops FETCHING — once that many rows survive the exact
  * filter; a filtered limit(n) peek touches the prefix that yields n
  * survivors instead of the span. */
class AmqpPartitionReader(p: AmqpInputPartition, fields: Array[String],
    pushed: AmqpPushedFilters = AmqpPushedFilters(),
    propertyCols: Seq[(String, DataType)] = Nil,
    chunkRows: Long = Long.MaxValue,
    survivorLimit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  // A connection of this reader's own (pooled; mem:// = the shared
  // broker): N link-partitions drain N sockets in parallel instead of
  // serializing on the JVM's one cached client — the per-executor-link
  // topology a cluster runs. Returned to the pool in close() once its
  // last drain is read to the end (a reader that stopped early, under a
  // pushed LIMIT, reads the rest off the wire undecoded) — CLOSED there
  // instead if a fetch failed (the connection is then known-dead even
  // after the client's one re-dial retry; pooling it would hand the
  // next borrower a corpse).
  private val endpointConn = AmqpEndpointRegistry.readerEndpoint(p.endpoint)
  private var fetchFailed = false

  // Chunked pull: fetches are lazy (first one happens inside next(),
  // after Spark has registered the completion listener that guarantees
  // close() — so a fetch failure can never leak the borrowed
  // connection). Iterate — never index: endpoint implementations may
  // return a linked Seq (2.13's ArrayBuffer.toSeq builds a List),
  // where indexed access turns the scan O(n²). Measured: 40k messages
  // took 5.4s via messages(idx), 14ms via iterator.
  private var nextFrom = p.fromExclusive
  private var chunk: Iterator[(Long, AmqpMessage, Long)] with AutoCloseable = _
  private var cur: (Long, AmqpMessage, Long) = _
  private val unfiltered = pushed.isEmpty
  private var survivors = 0L
  private val maxSurvivors = survivorLimit.map(_.toLong).getOrElse(Long.MaxValue)

  // Pushed predicates are evaluated here, BEFORE any envelope column is
  // materialized: a filtered-out message costs one timestamp/string
  // comparison, never body JSON-ification. Exact evaluation — the
  // builder claimed complete handling, so no Spark-side re-filter runs
  // (under a partial limit push Spark keeps only its limit operator).
  override def next(): Boolean = {
    if (survivors >= maxSurvivors) return false
    while (true) {
      while (hasNextInChunk) {
        val c = chunk.next()
        if (unfiltered || pushed.matches(c._2, c._3)) {
          cur = c; survivors += 1; return true
        }
      }
      if (nextFrom >= p.toInclusive) return false
      // overflow-safe chunk cut (chunkRows may be Long.MaxValue)
      val to = if (nextFrom > p.toInclusive - chunkRows) p.toInclusive
               else nextFrom + chunkRows
      chunk =
        try endpointConn.drain(p.address, nextFrom, to)
        catch { case e: Throwable => fetchFailed = true; throw e }
      nextFrom = to
    }
    false
  }

  // a drain may read the wire inside hasNext
  private def hasNextInChunk: Boolean =
    try chunk != null && chunk.hasNext
    catch { case e: Throwable => fetchFailed = true; throw e }

  // Column-name → accessor tag resolved ONCE per reader (by NAME, so
  // the mapping cannot drift if the schema order changes); the row loop
  // below dispatches on a compiled int switch, not per-cell string
  // matching — this is the scan inner loop the ingest bench times.
  // Lifted property columns take ordinals 11+i (i = index into
  // propertyCols).
  private val ordinals: Array[Int] = {
    val propIdx = propertyCols.map(_._1).zipWithIndex.toMap
    fields.map {
      case "message_id" => 0
      case "to" => 1
      case "subject" => 2
      case "reply_to" => 3
      case "correlation_id" => 4
      case "application_properties" => 5
      case "message_annotations" => 6
      case "body_type" => 7
      case "body" => 8
      case "body_binary" => 9
      case "ingest_timestamp" => 10
      case other => propIdx.get(other) match {
        case Some(i) => 11 + i
        case None => throw new IllegalArgumentException(s"unknown envelope column: $other")
      }
    }
  }
  private val propsTyped: Array[(String, DataType)] = propertyCols.toArray

  // per row and column: no closure, no intermediate collection
  private def utf(o: Option[String]) = if (o.isEmpty) null else UTF8String.fromString(o.get)
  private def smap(entries: Seq[(String, Any)]) =
    if (entries.isEmpty) null
    else {
      val keys = new Array[Any](entries.length)
      val values = new Array[Any](entries.length)
      var i = 0
      entries.foreach { e =>
        keys(i) = UTF8String.fromString(e._1)
        values(i) = UTF8String.fromString(String.valueOf(e._2))
        i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
    }

  override def get(): InternalRow = {
    val (_, msg, tsMicros) = cur
    // Only the pruned columns are computed: a query that never touches
    // the body skips JSON-ification entirely; one that skips the
    // property maps never stringifies them. Body fields are shared by
    // three ordinals, so compute them at most once per row.
    var body: (Option[String], Option[String], Option[Array[Byte]]) = null
    def bodyF = { if (body == null) body = AmqpEnvelope.bodyFields(msg); body }
    val arr = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      arr(i) = ordinals(i) match {
        case 0 => utf(msg.messageId)
        case 1 => utf(msg.to)
        case 2 => utf(msg.subject)
        case 3 => utf(msg.replyTo)
        case 4 => utf(msg.correlationId)
        case 5 => smap(msg.applicationProperties)
        case 6 => smap(msg.messageAnnotations)
        case 7 => utf(bodyF._1)
        case 8 => utf(bodyF._2)
        case 9 => bodyF._3.orNull
        case 10 => tsMicros
        // lifted application property: string lifts share the map
        // column's stringification; long lifts project the integral
        // value (NULL when absent OR non-integral)
        case k => propsTyped(k - 11) match {
          case (name, LongType) =>
            AmqpPushedFilters.longField(msg, name)
              .map(java.lang.Long.valueOf(_)).orNull
          case (name, _) => utf(AmqpPushedFilters.field(msg, name))
        }
      }
      i += 1
    }
    new GenericInternalRow(arr)
  }

  override def close(): Unit = {
    if (chunk != null) chunk.close()
    if (fetchFailed)
      AmqpEndpointRegistry.discardReaderEndpoint(p.endpoint, endpointConn)
    else
      AmqpEndpointRegistry.releaseReaderEndpoint(p.endpoint, endpointConn)
  }
}
