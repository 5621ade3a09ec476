package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** DataSource V2 AMQP sink: `df.writeStream.format("amqp")` (and the
  * batch twin `df.write.format("amqp")`).
  *
  * The reference has no production sink — its message sending lives in
  * test/example fixtures as a raw ProtonSender loop (AMQPTestUtils.scala:
  * 110-120, AMQPTemperature.scala:161-180 in /root/reference). The
  * Spark-native re-design promotes that capability to a first-class
  * exactly-once sink using AMQP 1.0 transactional-messaging semantics:
  *
  *  - executor writers buffer their partition's rows and STAGE them at
  *    the endpoint under a per-epoch transaction key on task commit
  *    (staging is keyed by partition id, so task retries and speculative
  *    duplicates overwrite rather than double-stage);
  *  - the driver's epoch commit atomically publishes the transaction;
  *    epochs are tracked per (query, address), so a replayed epoch after
  *    restart publishes nothing — exactly-once, the write-side mirror of
  *    the source's settle-on-commit contract.
  *
  * Scale: data flows executor→endpoint during the stage step (parallel,
  * partition-local); the driver commit is a control message, not a data
  * path. Over `amqp10://`/`amqps://` the stage step is a server-side
  * transaction (AMQP `declare`, staged transfers, `discharge`), and the
  * broker alone holds the staged messages, so the driver's discharge
  * publishes what executors staged on their own connections.
  *
  * Input schema: any subset of the envelope columns (AmqpEnvelope.schema)
  * — `body` (string), `body_binary` (binary), `body_type` (provenance:
  * "amqpValueJson" marks a pre-serialized list/array/map body),
  * `message_id`/`to`/`subject`/`reply_to`/`correlation_id` (string), and
  * `application_properties`/`message_annotations` (map<string,string>).
  * A bare single string column is also accepted as the body, so
  * `ds.select($"value").writeStream.format("amqp")` just works.
  *
  * With the `propertyColumns` option (the sink-side mirror of the
  * source's property lift), each named string column becomes an
  * application property on the outgoing message — so a frame read with
  * lifted properties round-trips through the sink without rebuilding
  * the map column. A lifted column overrides the same key in an
  * `application_properties` map (the column is the more specific
  * projection); a NULL lifted value means "property absent".
  */
object AmqpSink {

  private[streaming] case class FieldIdx(
      body: Int, bodyBinary: Int, bodyType: Int, messageId: Int, to: Int,
      subject: Int, replyTo: Int, correlationId: Int, appProps: Int, annotations: Int,
      props: Seq[(String, DataType, Int)] = Nil)

  private[streaming] def resolve(schema: StructType,
      propertyColumns: Seq[(String, DataType)] = Nil): FieldIdx = {
    // shadowing an envelope column is refused with the same rule as the
    // source lift (the property would be unreachable / ambiguous)
    AmqpEnvelope.schemaWith(propertyColumns)
    def idx(name: String, dt: DataType): Int =
      schema.fields.indexWhere(f =>
        f.name.equalsIgnoreCase(name) &&
          DataType.equalsIgnoreCaseAndNullability(f.dataType, dt))
    var body = idx("body", StringType)
    // a single lone string column doubles as the body (reference's
    // default converter writes plain strings)
    if (body < 0 && schema.fields.count(_.dataType == StringType) == 1 &&
        schema.fields.length == 1) body = 0
    FieldIdx(
      body = body,
      bodyBinary = idx("body_binary", BinaryType),
      bodyType = idx("body_type", StringType),
      messageId = idx("message_id", StringType),
      to = idx("to", StringType),
      subject = idx("subject", StringType),
      replyTo = idx("reply_to", StringType),
      correlationId = idx("correlation_id", StringType),
      appProps = idx("application_properties", MapType(StringType, StringType)),
      annotations = idx("message_annotations", MapType(StringType, StringType)),
      props = {
        // typed lift on write: the column must carry the DECLARED type
        // (string or long) — a long-typed lift publishes the property
        // as a NUMERIC value, round-tripping with the source's typed
        // read lift
        val resolved = propertyColumns.map { case (p, dt) => (p, dt, idx(p, dt)) }
        // a configured property column that does not resolve is a
        // misconfiguration (typo, wrong type) — silently writing every
        // message without the property would be quiet data loss, the
        // sink-side analog of the shadowing refusal above
        val missing = resolved.collect { case (p, _, i) if i < 0 => p }
        require(missing.isEmpty,
          s"propertyColumns ${missing.mkString(",")} not present with their " +
            s"declared types in the write schema ${schema.simpleString}")
        resolved
      })
  }

  private[streaming] def rowToMessage(row: InternalRow, ix: FieldIdx): AmqpMessage = {
    def str(i: Int): Option[String] =
      if (i < 0 || row.isNullAt(i)) None else Some(row.getUTF8String(i).toString)
    def entries(i: Int): Seq[(String, String)] =
      if (i < 0 || row.isNullAt(i)) Nil
      else {
        val m = row.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { j =>
          ks.getUTF8String(j).toString ->
            (if (vs.isNullAt(j)) null else vs.getUTF8String(j).toString)
        }
      }
    val body: AmqpBody = str(ix.body) match {
      case Some(text) =>
        if (str(ix.bodyType).contains("amqpValueJson")) AmqpJsonBody(text)
        else AmqpValueBody(text)
      case None if ix.bodyBinary >= 0 && !row.isNullAt(ix.bodyBinary) =>
        AmqpDataBody(row.getBinary(ix.bodyBinary))
      case None => AmqpOtherBody
    }
    // lifted property columns: a lifted column OWNS its key — it
    // overrides a same-keyed map entry, and a NULL value means the
    // property is ABSENT (so the map entry must not leak through
    // either); map-then-lifted order otherwise. Long lifts publish the
    // NUMERIC value (the typed round-trip with the source's long lift).
    val lifted: Seq[(String, Any)] = ix.props.flatMap {
      case (name, LongType, i) =>
        if (i < 0 || row.isNullAt(i)) None else Some(name -> row.getLong(i))
      case (name, _, i) => str(i).map(name -> _)
    }
    val ownedKeys = ix.props.map(_._1).toSet
    val appProps =
      if (ix.props.isEmpty) entries(ix.appProps)
      else entries(ix.appProps).filterNot(e => ownedKeys(e._1)) ++ lifted
    AmqpMessage(
      messageId = str(ix.messageId), to = str(ix.to), subject = str(ix.subject),
      replyTo = str(ix.replyTo), correlationId = str(ix.correlationId),
      applicationProperties = appProps,
      messageAnnotations = entries(ix.annotations),
      body = body)
  }
}

/** Sink-progress counters shared between the table — which Spark asks
  * for sink metrics per trigger ([[graft.streaming.AmqpTable.metrics]],
  * `ReportsSinkMetrics`) — and the streaming write that observes the
  * epoch commits. Observability only, never consulted for correctness:
  * the broker's epoch ledger is the truth. `publishedMessagesTotal`
  * counts rows the broker ACCEPTED this run; a replayed epoch after
  * restart (commitStaged = -1, published nothing) counts under
  * `replayedEpochsTotal` — the exactly-once guarantee made visible in
  * StreamingQueryProgress. */
private[streaming] final class AmqpSinkMetrics {
  val committedEpochs = new java.util.concurrent.atomic.AtomicLong(0L)
  val publishedMessages = new java.util.concurrent.atomic.AtomicLong(0L)
  val replayedEpochs = new java.util.concurrent.atomic.AtomicLong(0L)
  val abortedEpochs = new java.util.concurrent.atomic.AtomicLong(0L)
  def asJava: java.util.Map[String, String] = java.util.Map.of(
    "committedEpochsTotal", committedEpochs.get.toString,
    "publishedMessagesTotal", publishedMessages.get.toString,
    "replayedEpochsTotal", replayedEpochs.get.toString,
    "abortedEpochsTotal", abortedEpochs.get.toString)
}

/** Update mode publishes each changed row as a fresh message
  * (SupportsStreamingUpdateAsAppend — the Kafka sink's pattern: a
  * message stream has no keyed state to update in place). Complete mode
  * likewise re-publishes the full result per epoch; truncate is a no-op
  * because messages already published are immutable history. */
class AmqpWriteBuilder(cfg: AmqpSourceConfig, info: LogicalWriteInfo,
    metrics: AmqpSinkMetrics = new AmqpSinkMetrics)
    extends WriteBuilder
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  // A pattern-subscribed table has no single write target: refuse unless
  // the user NAMED the sink address (pattern reads + an explicit address
  // sink on one catalog table is the legitimate combination) — silently
  // publishing to the default address would strand the data.
  require(cfg.addressPattern.isEmpty || cfg.addressExplicit,
    "writing needs an explicit `address` option when addressPattern is set — " +
      "a glob subscription has no single write target")
  override def truncate(): WriteBuilder = this
  override def build(): Write = new AmqpWrite(cfg, info.schema(), info.queryId(), metrics)
}

class AmqpWrite(cfg: AmqpSourceConfig, schema: StructType, queryId: String,
    metrics: AmqpSinkMetrics = new AmqpSinkMetrics)
    extends Write {
  override def toStreaming: StreamingWrite =
    new AmqpStreamingWrite(cfg, schema, queryId, metrics)
  override def toBatch: BatchWrite = new AmqpBatchWrite(cfg, schema, queryId)
  override def description(): String = s"AmqpWrite(${cfg.endpoint}/${cfg.address})"
}

private[streaming] case class AmqpCommitMessage(partitionId: Int, count: Long)
    extends WriterCommitMessage

/** Serializable factories (shipped to executor tasks) — deliberately
  * plain case classes so no non-serializable write-coordinator state is
  * captured. */
case class AmqpStreamingWriterFactory(cfg: AmqpSourceConfig, schema: StructType,
    queryId: String) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new AmqpDataWriter(cfg, schema, s"$queryId#$epochId", partitionId)
}

case class AmqpBatchWriterFactory(cfg: AmqpSourceConfig, schema: StructType,
    queryId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AmqpDataWriter(cfg, schema, s"$queryId#batch", partitionId)
}

class AmqpStreamingWrite(cfg: AmqpSourceConfig, schema: StructType, queryId: String,
    metrics: AmqpSinkMetrics = new AmqpSinkMetrics)
    extends StreamingWrite {
  private def txn(epochId: Long) = s"$queryId#$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    AmqpStreamingWriterFactory(cfg, schema, queryId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val published = AmqpEndpointRegistry.endpoint(cfg.endpoint)
      .commitStaged(txn(epochId), queryId, epochId, cfg.address,
        routeByTo = cfg.routeByTo)
    // -1 = the broker already committed this (query, epoch): a replayed
    // commit after restart published NOTHING — exactly-once, surfaced
    if (published < 0) metrics.replayedEpochs.incrementAndGet()
    else {
      metrics.committedEpochs.incrementAndGet()
      metrics.publishedMessages.addAndGet(published.toLong)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    AmqpEndpointRegistry.endpoint(cfg.endpoint).abortStaged(txn(epochId))
    metrics.abortedEpochs.incrementAndGet()
  }
}

/** Batch writes publish as a single transaction keyed by the write's
  * query id (epoch 0 under that id — each batch write has a fresh id,
  * so no cross-job dedup, matching batch overwrite/append semantics). */
class AmqpBatchWrite(cfg: AmqpSourceConfig, schema: StructType, queryId: String)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    AmqpBatchWriterFactory(cfg, schema, queryId)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    AmqpEndpointRegistry.endpoint(cfg.endpoint)
      .commitStaged(s"$queryId#batch", queryId, 0L, cfg.address,
        routeByTo = cfg.routeByTo)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    AmqpEndpointRegistry.endpoint(cfg.endpoint).abortStaged(s"$queryId#batch")
}

/** Buffers one partition's rows, stages them under the epoch transaction
  * on task commit: one `stage` call per task attempt, so a retried
  * attempt replaces the earlier one whole. */
class AmqpDataWriter(cfg: AmqpSourceConfig, schema: StructType, txn: String,
    partitionId: Int) extends DataWriter[InternalRow] {

  private val ix = AmqpSink.resolve(schema, cfg.propertyColumns)
  private val buf = scala.collection.mutable.ArrayBuffer[AmqpMessage]()

  override def write(row: InternalRow): Unit = buf += AmqpSink.rowToMessage(row, ix)

  override def commit(): WriterCommitMessage = {
    AmqpEndpointRegistry.endpoint(cfg.endpoint).stage(txn, partitionId, buf.toSeq)
    AmqpCommitMessage(partitionId, buf.length.toLong)
  }

  override def abort(): Unit = buf.clear()

  override def close(): Unit = ()
}
