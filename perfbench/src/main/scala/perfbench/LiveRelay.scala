package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{Amqp10Server, AmqpEndpointRegistry}

/** The live relay, an open loop at a fixed rate, run inside the traced
  * `wire_drain` run for the layers the drain does not drive: producer
  * encode/send, the transactional sink's stage/commit and the latency a
  * message sees end to end. A separate load process ([[LoadGen]]) sends
  * to `in` on a schedule; the query
  * `readStream(amqp, in) → prio filter/projection → writeStream(amqp, out)`
  * runs through the exactly-once sink under the default back-to-back
  * trigger (a fixed interval would let the interval, not the engine, set
  * latency); the load process drains and settles `out` and times each
  * message from its scheduled send to its arrival.
  *
  * Its latency is a per-layer figure, not an end-to-end metric with a
  * bound: on a shared 4-vCPU host it moved up to 2x with the CPU time the
  * hypervisor stole during a run (see README). */
object LiveRelay {
  /** Offered load, well below what the relay sustains on a 4-core host. */
  val Rate = 1000.0
  /** Load at full rate before latency is sampled: shorter warm-ups left
    * the latency falling through the measured window. */
  val WarmSeconds = 6.0
  val WarmMessages = 2000
  /** Backlog beyond one second of input means the relay is not keeping
    * up: messages sent then do not yield valid latencies. */
  val SustainableBacklog: Long = Rate.toLong

  final case class Phase(load: java.util.Map[String, AnyRef], progress: Vector[StreamingQueryProgress],
      endNs: Long, measuredFromNs: Long, seconds: Double) {
    def num(k: String): Double = load.get(k).asInstanceOf[Number].doubleValue
    def latencies: Vector[Double] =
      load.get("latencies_ms").asInstanceOf[java.util.List[Number]].asScala.map(_.doubleValue).toVector
  }

  /** Set up the relay, run one traced phase of `ctx.tracedSeconds` and
    * return its operations, failures and per-layer metrics. */
  def traced(ctx: Ctx): Outcome = {
    val rec = new SpanRecorder(true)
    rec.paused = true
    val broker = new TimingBroker(rec)
    val server = new Amqp10Server(broker)
    val ep = s"amqp10://127.0.0.1:${server.port}"
    var query: StreamingQuery = null
    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    try {
      query = startRelay(ctx, ep)
      // a warm batch through to `out` before the load process starts
      val warmIds = (0 until WarmMessages).map(j => 1000000000L + j)
      val want = warmIds.count(Inputs.relayKeeps(ctx.seed, _))
      warmIds.foreach { id =>
        val m = Inputs.relayMessage(ctx.seed, id)
        while (broker.send(LoadGen.In, m, System.currentTimeMillis() * 1000L) < 0) Thread.sleep(1)
      }
      val deadline = System.nanoTime() + 15000000000L
      while (broker.latestSeq(LoadGen.Out) < want && System.nanoTime() < deadline) Thread.sleep(2)
      val got = broker.latestSeq(LoadGen.Out)
      attempted += WarmMessages
      if (got != want) {
        failed += WarmMessages
        failures += s"warm-up: $got of $want messages reached out"
      }
      broker.settle(LoadGen.Out, got)

      val spansFile = ctx.work.resolve("trace").resolve("relay-load-spans.jsonl")
      java.nio.file.Files.createDirectories(spansFile.getParent)
      ctx.tasks.clear()
      rec.paused = false; ctx.tasks.enabled = true
      val ph = phase(ctx, server.port, query, spansFile)
      rec.paused = true; ctx.tasks.enabled = false

      // failures: lost, duplicated or unknown ids at `out`, sends never
      // landed, and messages due while the backlog sat above the
      // sustainable mark (the rate was too high for their latency)
      val offered = ph.num("total").toLong
      val offset = Main.nanoOffset()
      val t0 = ph.num("t0_ns").toLong
      val period = ph.num("period_ns").toLong
      val over = ph.progress.sliding(2).collect {
        case Seq(a, b) if Triggers.backlog(a) > SustainableBacklog =>
          val from = Triggers.startMs(a) * 1000000L + offset
          val to = Triggers.startMs(b) * 1000000L + offset
          math.max(0L, (to - t0) / period) - math.max(0L, (from - t0) / period)
      }.sum
      val counts = Seq("lost", "duplicated", "unknown", "unlanded").map(k => k -> ph.num(k).toLong)
      val bad = counts.map(_._2).sum + over
      attempted += offered
      failed += math.min(offered, bad)
      if (bad > 0) failures += (counts.map { case (k, n) => s"$k=$n" } :+ s"over_backlog=$over").mkString(" ")

      val lat = ph.latencies
      val (p99, beyond, supported) = Stats.supported(lat, 99.0)
      if (!supported) {
        failed += 1
        failures += s"p99 has only $beyond samples beyond it"
      }
      System.err.println(f"[perfbench] relay p50/p99 by third of the window: " +
        lat.grouped(math.max(1, lat.length / 3)).map(t =>
          f"${Stats.quantile(t, 0.5)}%.0f/${Stats.quantile(t, 0.99)}%.0f").mkString(" "))
      val layers = ledger(ctx, rec, ph, spansFile) ++ Map(
        "relay.latency_p50_ms" -> Stats.quantile(lat, 0.5),
        "relay.latency_p99_ms" -> p99,
        "latency.samples" -> lat.length.toDouble,
        "latency.p99_beyond" -> beyond.toDouble)
      Outcome(attempted, failed, Map.empty, layers, Map("failures" -> failures.take(5).toVector))
    } finally {
      if (query != null) query.stop()
      AmqpEndpointRegistry.reset(ep)
      server.close()
    }
  }

  /** One load-process run against the relay: `WarmSeconds` of warm-up,
    * then `ctx.tracedSeconds` of sampled latency. */
  private def phase(ctx: Ctx, port: Int, query: StreamingQuery,
      spansFile: java.nio.file.Path): Phase = {
    val javaBin = ProcessHandle.current().info().command().orElse("java")
    val cmd = Seq(javaBin, "-Xms256m", "-Xmx256m", "-XX:TieredStopAtLevel=1", "-cp",
      System.getProperty("java.class.path"), "perfbench.LoadGen", "127.0.0.1", port.toString,
      ctx.seed.toString, Rate.toString, WarmSeconds.toString, ctx.tracedSeconds.toString,
      spansFile.toString)
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"load process failed: $out")
    val t1 = System.nanoTime()
    val load = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(out.trim.linesIterator.toSeq.last, classOf[java.util.Map[String, AnyRef]])
    val measuredFrom = load.get("t0_ns").asInstanceOf[Number].longValue +
      (WarmSeconds * 1e9).toLong
    val offset = Main.nanoOffset()
    val progress = ctx.progress.events.filter { pr =>
      pr.runId == query.runId && {
        val at = Triggers.startMs(pr) * 1000000L + offset
        at >= measuredFrom && at <= t1
      }
    }
    Phase(load, progress, t1, measuredFrom, ctx.tracedSeconds)
  }

  private def startRelay(ctx: Ctx, ep: String): StreamingQuery = {
    val ck = ctx.work.resolve("ck/relay")
    Main.deleteTree(ck)
    ctx.spark.readStream.format("amqp")
      .option("endpoint", ep).option("address", LoadGen.In)
      .option("propertyColumns", "prio:long")
      .load()
      .where(col("prio") >= 1)
      .select(col("message_id"), col("body"))
      .writeStream.format("amqp")
      .option("endpoint", ep).option("address", LoadGen.Out)
      .option("checkpointLocation", ck.toString)
      .start()
  }

  /** Per-layer metrics of the traced phase: triggers from progress,
    * relay tasks from the listener bus, broker calls from the timing
    * broker, client calls from the load process's spans. */
  private def ledger(ctx: Ctx, rec: SpanRecorder, ph: Phase,
      spansFile: java.nio.file.Path): Map[String, Double] = {
    Thread.sleep(200) // let the listener bus deliver the last task ends
    val measured = (s: Span) => s.startNs >= ph.measuredFromNs && s.startNs <= ph.endNs
    val broker = rec.all.filter(measured)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val client = java.nio.file.Files.readAllLines(spansFile).asScala.map { l =>
      val m = mapper.readValue(l, classOf[java.util.Map[String, AnyRef]])
      def num(k: String) = m.get(k).asInstanceOf[Number].longValue
      Span(num("id"), m.get("name").toString, num("start_ns"), num("end_ns"), num("cause"),
        m.get("address").toString, num("seq_lo"), num("seq_hi"), num("n"))
    }.toVector.filter(measured)
    val sends = client.filter(_.name == "endpoint.send")
    val linked = Trace.linkByWindow(client, broker, slackNs = 1000000L)
    Trace.write(ctx.work.resolve("trace").resolve("relay-spans.jsonl"), client ++ linked)
    def perMsg(ss: Seq[Span]) = ss.map(_.durNs).sum / math.max(1.0, ss.map(_.n).sum.toDouble)
    val sendLinked = linked.filter(s => s.name == "broker.send" && s.cause != 0L)
    val offset = Main.nanoOffset()
    val tasks = ctx.tasks.tasks.asScala.toVector
      .filter(t => t.launchMs * 1000000L + offset >= ph.measuredFromNs)
    val published = ph.progress.lastOption.flatMap(p => Option(p.sink.metrics.get("publishedMessagesTotal")))
      .map(_.toDouble).getOrElse(0.0) -
      ph.progress.headOption.flatMap(p => Option(p.sink.metrics.get("publishedMessagesTotal")))
        .map(_.toDouble).getOrElse(0.0)
    val stage = broker.filter(_.name == "broker.stage")
    val commit = broker.filter(_.name == "broker.commit_staged")
    val sentMsgs = math.max(1.0, sends.map(_.n).sum.toDouble)
    Map(
      "relay.trigger_ms" -> (if (ph.progress.isEmpty) 0.0
        else Stats.median(ph.progress.map(Triggers.dur(_, "triggerExecution").toDouble))),
      "source.backlog_end" -> ph.progress.lastOption.map(Triggers.backlog).getOrElse(0L).toDouble,
      "sink.published" -> published,
      "sink.task_ns_per_msg" -> tasks.map(_.runMs).sum * 1e6 / math.max(1.0, published),
      "gen.offered" -> ph.num("total"),
      "gen.refused_sends" -> ph.num("refused_sends"),
      "gen.late_ms_max" -> ph.num("late_ms_max"),
      "consumer.fetch_ns_per_msg" -> ph.num("fetch_ns_per_msg"),
      "endpoint.send_ns_per_msg" -> perMsg(sends),
      "endpoint.send_refused_share" -> ph.num("refused_sends") / math.max(1.0, ph.num("offered")),
      "wire.send_overhead_ns_per_msg" -> (sends.map(_.durNs).sum - sendLinked.map(_.durNs).sum) / sentMsgs,
      "broker.send_ns_per_msg" -> perMsg(broker.filter(_.name == "broker.send")),
      "broker.stage_ns_per_msg" -> perMsg(stage),
      "broker.commit_staged_ms" -> (if (commit.isEmpty) 0.0 else commit.map(_.durNs).sum / 1e6 / commit.length))
  }
}
