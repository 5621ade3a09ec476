package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary: `cause` is the id of the span
  * whose work triggered it (0 = a root). Times are `System.nanoTime`
  * readings, which on Linux are CLOCK_MONOTONIC and therefore comparable
  * between the bench JVM and its load-generator child process. `address`
  * and the (seqLo, seqHi] window identify the messages a wire/broker call
  * touched, which is how server-side spans find their client-side cause. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    cause: Long = 0L, address: String = "", seqLo: Long = 0L, seqHi: Long = 0L,
    n: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store. Recording is a lock-free append; nothing is
  * written until the run ends ([[Trace.write]]). A disabled recorder
  * keeps nothing and costs one branch per call. */
final class SpanRecorder(val enabled: Boolean, idBase: Long = 0L) {
  private val ids = new AtomicLong(idBase)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Set while the bench itself drives a layer (preloading, housekeeping):
    * those calls are not part of any measured path. */
  @volatile var paused = false

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, startNs: Long, endNs: Long, cause: Long = 0L,
      address: String = "", seqLo: Long = 0L, seqHi: Long = 0L, n: Long = 0L): Long =
    if (!enabled || paused) 0L
    else {
      val id = nextId()
      spans.add(Span(id, name, startNs, endNs, cause, address, seqLo, seqHi, n))
      id
    }

  def all: Vector[Span] = spans.asScala.toVector
  def clear(): Unit = spans.clear()
}

object Trace {

  /** Length of the union of half-open intervals, overlaps counted once. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children (each child clipped to the
    * parent; overlapping children, e.g. two tasks on two slots, are
    * subtracted once). A root's self time is the part of its wall time no
    * layer span explains. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.filter(_.cause != 0L).groupBy(_.cause)
    spans.map { p =>
      val covered = unionNs(children.getOrElse(p.id, Nil).map { c =>
        (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs))
      })
      p.id -> (p.durNs - covered)
    }.toMap
  }

  /** Self time summed per span name (the per-layer ledger). */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Re-parent server-side spans onto the client call that caused them:
    * a server span belongs to the client span on the same address whose
    * sequence window overlaps its own and whose interval contains its
    * start (within `slackNs`, for clock readings taken on two threads).
    * Spans that match no client keep their cause. */
  def linkByWindow(clients: Seq[Span], servers: Seq[Span], slackNs: Long = 0L): Seq[Span] = {
    val byAddr = clients.groupBy(_.address)
    servers.map { s =>
      byAddr.getOrElse(s.address, Nil).find { c =>
        c.seqLo < s.seqHi && s.seqLo < c.seqHi &&
          s.startNs >= c.startNs - slackNs && s.startNs <= c.endNs + slackNs
      } match {
        case Some(c) => s.copy(cause = c.id)
        case None => s
      }
    }
  }

  /** Re-parent spans onto the innermost container (by interval) among
    * `parents` that `accept`s them — used where the only link between a
    * layer and its caller is time (a trigger phase and the broker calls
    * it made). */
  def linkByTime(parents: Seq[Span], spans: Seq[Span],
      accept: (Span, Span) => Boolean = (_, _) => true): Seq[Span] =
    spans.map { s =>
      val containing = parents.filter(p =>
        p.startNs <= s.startNs && s.startNs < p.endNs && accept(p, s))
      if (containing.isEmpty) s
      else s.copy(cause = containing.minBy(_.durNs).id)
    }

  /** JSON-lines dump of the spans (one object per line). */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "cause" -> s.cause, "address" -> s.address,
        "seq_lo" -> s.seqLo, "seq_hi" -> s.seqHi, "n" -> s.n)))
      w.newLine()
    } finally w.close()
  }
}

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples a percentile needs strictly beyond its rank to be reported. */
  val MinBeyond = 10

  /** The p-th percentile with the number of samples strictly beyond its
    * rank, and whether at least [[MinBeyond]] lie beyond it — a percentile
    * is reported only with that support. */
  def supported(xs: Seq[Double], p: Double): (Double, Int, Boolean) = {
    val b = beyond(xs.length, p)
    (quantile(xs, p / 100.0), b, b >= MinBeyond)
  }

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(n * p / 100.0).toInt
}

/** Minimal JSON writer (numbers, strings, booleans, nested maps/seqs). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(entries: Seq[(String, Any)]): String =
    entries.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
