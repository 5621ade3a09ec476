package perfbench

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The micro-batch engine's per-trigger bookkeeping, read from the
  * public `StreamingQueryProgress.durationMs`. */
object Triggers {

  /** durationMs phases in the order MicroBatchExecution runs them, with
    * the span name each becomes. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "trigger.latest_offset",
    "walCommit" -> "trigger.wal_commit",
    "getBatch" -> "trigger.get_batch",
    "queryPlanning" -> "trigger.planning",
    "addBatch" -> "trigger.add_batch",
    "commitOffsets" -> "trigger.commit_offsets")

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  def backlog(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.metrics.get("backlogMessages")))
      .map(_.toLong).getOrElse(0L)

  /** Trigger metrics over the data-carrying triggers of `ps`, which ran
    * during `seconds` of measured time. */
  def metrics(ps: Seq[StreamingQueryProgress], seconds: Double): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def med(key: String) =
      if (data.isEmpty) 0.0 else Stats.median(data.map(dur(_, key).toDouble))
    Map(
      "trigger.count" -> data.length / seconds,
      "trigger.rows_p50" -> (if (data.isEmpty) 0.0 else Stats.median(data.map(_.numInputRows.toDouble))),
      "trigger.latest_offset_ms" -> med("latestOffset"),
      "trigger.planning_ms" -> med("queryPlanning"),
      "trigger.add_batch_ms" -> med("addBatch"),
      "trigger.wal_commit_ms" -> med("walCommit"),
      "trigger.commit_offsets_ms" -> med("commitOffsets"),
      "source.backlog_max" -> (if (ps.isEmpty) 0.0 else ps.map(backlog).max.toDouble))
  }

  /** Each trigger as a span, with its durationMs phases laid out back to
    * back inside it as child spans. Progress carries phase durations,
    * not phase start times, so the layout assumes the phases run in
    * [[Phases]] order with no gaps; the trigger's own self time is
    * whatever the named phases leave uncovered. */
  def spans(ps: Seq[StreamingQueryProgress], offsetNs: Long, rec: SpanRecorder,
      cause: Long): Seq[Span] =
    ps.flatMap { p =>
      val s0 = startMs(p) * 1000000L + offsetNs
      val trig = Span(rec.nextId(), "trigger", s0, s0 + dur(p, "triggerExecution") * 1000000L, cause)
      var at = s0
      trig +: Phases.map { case (key, name) =>
        val d = dur(p, key) * 1000000L
        val s = Span(rec.nextId(), name, at, at + d, trig.id)
        at += d
        s
      }
    }

  /** The executed plan of the query's last micro-batch. */
  def lastPlan(q: StreamingQuery): String = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).map(_.executedPlan.toString).getOrElse("")
    case other => Option(other.lastProgress).map(_.toString).getOrElse("")
  }
}
