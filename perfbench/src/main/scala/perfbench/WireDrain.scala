package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.{Amqp10Server, AmqpEndpointRegistry, AmqpMessage, AmqpValueBody}

/** wire_drain: a closed catch-up drain. A seeded backlog is preloaded
  * in-process behind an `amqp10://` server, one link per task slot, and
  * drained by a fresh `readStream.format("amqp")` query per round under
  * `Trigger.AvailableNow` into the `noop` sink. The projection decodes
  * the body and one lifted property; `observe` checksums what crossed
  * the scan. The traced run adds the one-slot drain baseline, the layer
  * probes and the [[LiveRelay]] for the send side. */
object WireDrain {
  val Links = 2
  val PerLink = 40000
  val MaxPerTrigger = 20000
  /** Set-up rounds; the first (cold JIT) is not part of `setup_s`. */
  val SetupRounds = 5
  val MinRounds = 3

  final case class Round(msgs: Long, seconds: Double, startNs: Long, startedNs: Long,
      endNs: Long, ok: Boolean, progress: Vector[StreamingQueryProgress], detail: String) {
    def perSecond: Double = msgs / seconds
  }

  def run(ctx: Ctx): Outcome = {
    val backlog = Inputs.drainBacklog(ctx.seed, Links, PerLink)
    val rec = new SpanRecorder(ctx.trace)
    rec.paused = true
    ctx.tasks.enabled = false
    var roundNo = 0
    var server: Amqp10Server = null
    var broker: TimingBroker = null
    var ep = ""

    def startServer(): Unit = {
      broker = new TimingBroker(rec)
      server = new Amqp10Server(broker)
      ep = s"amqp10://127.0.0.1:${server.port}"
    }
    def stopServer(): Unit = { AmqpEndpointRegistry.reset(ep); server.close() }

    def drain(links: Seq[Seq[AmqpMessage]]): Round = {
      roundNo += 1
      val addrs = links.indices.map(l => s"r$roundNo-l$l")
      val wasPaused = rec.paused
      rec.paused = true
      addrs.zip(links).foreach { case (a, ms) => Probes.preload(broker, a, ms) }
      rec.paused = wasPaused
      val ck = ctx.work.resolve(s"ck/drain-$roundNo")
      // a fresh DataFrame per round: re-running one plan instance could
      // reuse materialized state instead of re-reading the wire
      val df = ctx.spark.readStream.format("amqp")
        .option("endpoint", ep).option("addresses", addrs.mkString(","))
        .option("maxMessagesPerTrigger", MaxPerTrigger.toString)
        .option("propertyColumns", "k0")
        .load()
        .select(substring(col("message_id"), 2, 19).cast("long").as("id"),
          coalesce(encode(col("body"), "UTF-8"), col("body_binary")).as("bytes"), col("k0"))
        .observe("chk", count(lit(1)), sum(col("id")), sum(col("id") * col("id")),
          sum(crc32(col("bytes"))), sum(coalesce(length(col("k0")), lit(0))))
      val t0 = System.nanoTime()
      val q = df.writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck.toString).start()
      val started = System.nanoTime()
      val finished = q.awaitTermination(30000L)
      val t1 = System.nanoTime()
      val progress = ctx.progress.of(q.runId)
      val plan = Triggers.lastPlan(q)
      val got = progress.flatMap(p => Option(p.observedMetrics.get("chk"))).map { r =>
        Inputs.Checksum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      }.foldLeft(Inputs.Checksum(0, 0, 0, 0, 0))(_ + _)
      val want = Inputs.checksum(links.flatten)
      val problems = Seq(
        if (!finished) Some("drain did not finish") else None,
        q.exception.map(e => s"query failed: ${e.getMessage}"),
        if (got != want) Some(s"checksum $got != expected $want") else None,
        // the noop sink must not let COUNT(*) pushdown answer from the
        // ledger: the rows have to cross the scan
        if (!plan.contains("AmqpScan") || plan.contains("AmqpCountScan"))
          Some(s"plan does not read rows through AmqpScan: $plan") else None).flatten
      if (!finished) q.stop()
      rec.paused = true
      addrs.foreach(a => broker.settle(a, broker.latestSeq(a)))
      rec.paused = wasPaused
      Main.deleteTree(ck)
      Round(want.count, (t1 - t0) / 1e9, t0, started, t1, problems.isEmpty, progress,
        problems.mkString("; "))
    }

    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def gate(r: Round): Round = {
      attempted += r.msgs
      if (!r.ok) { failed += r.msgs; failures += r.detail }
      r
    }

    // set-up: server + preload + one warm-up drain, repeated; the last
    // server stays up for the measured rounds. `setup_s` is the median of
    // the warm rounds: the cold one is mostly JIT compilation, and its
    // time swung with the host's load
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      startServer()
      gate(drain(backlog))
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds) stopServer()
      dt
    }

    def rounds(seconds: Double): Vector[Round] = {
      val until = System.nanoTime() + (seconds * 1e9).toLong
      val rs = Vector.newBuilder[Round]
      var n = 0
      while (n < MinRounds || System.nanoTime() < until) { rs += gate(drain(backlog)); n += 1 }
      rs.result()
    }

    try {
      val plain = rounds(ctx.untracedSeconds)
      val throughput = Stats.median(plain.map(_.perSecond))
      System.err.println("[perfbench] wire_drain msgs/s per round: " +
        plain.map(r => f"${r.perSecond}%.0f").mkString(" ") + " (set-up s: " +
        setups.map(s => f"$s%.2f").mkString(" ") + ")")
      val e2e = Map("setup_s" -> Stats.median(setups.tail), "throughput_per_s" -> throughput)
      val layers =
        if (!ctx.trace) Map.empty[String, Double]
        else {
          val traced = tracedRounds(ctx, rec, () => rounds(ctx.tracedSeconds))
          val oneSlot = gate(drain(Seq(backlog.flatten)))
          val tracedPerSec = Stats.median(traced._1.map(_.perSecond))
          val relay = LiveRelay.traced(ctx)
          attempted += relay.attempted
          failed += relay.failed
          failures ++= relay.checks("failures").asInstanceOf[Seq[String]]
          // the relay's own client calls give the send-side numbers
          traced._2 ++ probes(backlog.flatten) ++ relay.layers ++ Map(
            "reader.single_thread_msgs_per_s" -> oneSlot.perSecond,
            "trace.overhead" -> (throughput / tracedPerSec - 1.0))
        }
      Outcome(attempted, failed, e2e, layers, Map("failures" -> failures.take(5).toVector))
    } finally stopServer()
  }

  /** Run the traced rounds and build the ledger: triggers and their
    * phases from progress, tasks from the listener bus, broker calls from
    * the timing broker, all as spans under one root per round. */
  private def tracedRounds(ctx: Ctx, rec: SpanRecorder,
      body: () => Vector[Round]): (Vector[Round], Map[String, Double]) = {
    val offset = Main.nanoOffset()
    rec.clear()
    ctx.tasks.clear()
    ctx.tasks.enabled = true
    rec.paused = false
    val rs = body()
    rec.paused = true
    Thread.sleep(200) // let the listener bus deliver the last task ends
    ctx.tasks.enabled = false
    val brokerSpans = rec.all
    val tasks = ctx.tasks.tasks.toArray(new Array[TaskSample](0)).toVector
    val msgs = rs.map(_.msgs).sum.toDouble
    val seconds = rs.map(_.seconds).sum

    val spans = rs.flatMap { r =>
      val root = Span(rec.nextId(), "drain.round", r.startNs, r.endNs)
      val start = Span(rec.nextId(), "query.start", r.startNs, r.startedNs, root.id)
      val trig = Triggers.spans(r.progress, offset, rec, root.id)
      val adds = trig.filter(_.name == "trigger.add_batch")
      val taskSpans = tasks.filter(t => t.launchMs * 1000000L + offset >= r.startNs &&
          t.launchMs * 1000000L + offset <= r.endNs).map { t =>
        Span(rec.nextId(), "reader.task", t.launchMs * 1000000L + offset,
          t.finishMs * 1000000L + offset, 0L, address = s"l${t.index}")
      }
      val linkedTasks = Trace.linkByTime(adds, taskSpans)
      val inRound = brokerSpans.filter(s => s.startNs >= r.startNs && s.startNs <= r.endNs)
      // a broker fetch belongs to the reader task of its link running at
      // the time; a settle belongs to the trigger phase running then
      val fetches = Trace.linkByTime(linkedTasks, inRound.filter(_.name == "broker.fetch"),
        (t, s) => s.address.endsWith("-" + t.address))
      val others = Trace.linkByTime(trig.filter(_.name != "trigger"),
        inRound.filter(_.name != "broker.fetch"))
      Seq(root, start) ++ trig ++ linkedTasks ++ fetches ++ others
    }
    Trace.write(ctx.work.resolve("trace").resolve("wire_drain-spans.jsonl"), spans)
    val self = Trace.selfByName(spans)
    val wall = spans.filter(_.name == "drain.round").map(_.durNs).sum.toDouble
    System.err.println("[perfbench] wire_drain self time share by layer: " +
      self.toSeq.sortBy(-_._2).map { case (n, ns) => f"$n=${ns / wall}%.3f" }.mkString(" "))

    val runMs = tasks.map(_.runMs).sum.toDouble
    val cpuNs = tasks.map(_.cpuNs).sum.toDouble
    val fetch = brokerSpans.filter(_.name == "broker.fetch")
    val settle = brokerSpans.filter(_.name == "broker.settle")
    val progress = rs.flatMap(_.progress)
    val layers = Triggers.metrics(progress, seconds) ++ Map(
      "reader.task_ns_per_msg" -> runMs * 1e6 / msgs,
      "reader.cpu_ns_per_msg" -> cpuNs / msgs,
      "reader.wait_ns_per_msg" -> (runMs * 1e6 - cpuNs) / msgs,
      "broker.fetch_ns_per_msg" -> fetch.map(_.durNs).sum / math.max(1.0, fetch.map(_.n).sum.toDouble),
      "endpoint.fetch_calls" -> fetch.length * 1000.0 / msgs,
      "broker.settle_calls" -> settle.length.toDouble / rs.length,
      "broker.settle_ns" -> (if (settle.isEmpty) 0.0 else settle.map(_.durNs).sum.toDouble / settle.length),
      "trace.coverage" -> coverage(spans))
    (rs, layers)
  }

  /** Spans whose self time no layer explains: a round's time outside
    * query start and triggers, a trigger's time outside its named phases,
    * and addBatch time outside the tasks. */
  val Unexplained: Seq[String] = Seq("drain.round", "trigger", "trigger.add_batch")

  /** The share of the drain rounds' wall time that layer spans (query
    * start, named trigger phases, tasks, broker calls) explain. */
  def coverage(spans: Seq[Span]): Double = {
    val self = Trace.selfByName(spans)
    val wall = spans.filter(_.name == "drain.round").map(_.durNs).sum.toDouble
    1.0 - Unexplained.map(self.getOrElse(_, 0L)).sum / wall
  }

  /** Layer probes on the drain's own messages. */
  private def probes(msgs: IndexedSeq[AmqpMessage]): Map[String, Double] = {
    val sample = msgs.take(20000)
    val texts = sample.collect { case AmqpMessage(_, _, _, _, _, _, _, AmqpValueBody(s: String), _) => s }
    val vecs = sample.map(m => Probes.vectorOf(Inputs.bodyBytes(m)))
    Probes.codec(sample) ++ Probes.wire(sample, MaxPerTrigger / Links) ++
      Probes.reader(sample, "drain") ++ Probes.expressions(texts, vecs)
  }
}
