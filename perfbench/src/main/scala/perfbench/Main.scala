package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operations attempted and failed,
  * the end-to-end metrics (untraced measurement) and, in a traced run,
  * the per-layer metrics. */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
    layers: Map[String, Double], checks: Map[String, Any] = Map.empty)

final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Double,
    trace: Boolean, progress: ProgressLog, tasks: TaskLedger, data: Option[String]) {
  /** Split the measured time between an untraced and a traced half when
    * tracing, so the traced run also yields the tracing overhead. */
  def untracedSeconds: Double = if (trace) seconds / 2 else seconds
  def tracedSeconds: Double = if (trace) seconds / 2 else 0.0
}

/** Benchmark JVM entry point.
  *
  * {{{
  * perfbench.Main --workload wire_drain|query_mix --seed N
  *   --seconds S --trace 0|1 --work DIR [--data DIR]
  * }}}
  * Prints one JSON object as its last stdout line: attempted, failed,
  * e2e and layer metrics, and the workload's check details. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val progress = new ProgressLog
    val tasks = new TaskLedger
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(tasks)
    val ctx = Ctx(spark, work, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", progress, tasks, opts.get("data"))
    val gc0 = gcMs()
    val cpu0 = cpuTicks()
    val out = try workload match {
      case "wire_drain" => WireDrain.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val jvm = Map(
      "jvm.gc_ms" -> (gcMs() - gc0).toDouble,
      "jvm.heap_peak_mb" -> heapPeakMb(),
      "host.load1" -> load1(),
      "setup.session_s" -> sessionS)
    val cpu = cpuTicks().zip(cpu0).map { case (a, b) => a - b }
    System.err.println(f"[perfbench] $workload seed=${ctx.seed} gc_ms=${jvm("jvm.gc_ms")}%.0f " +
      f"heap_peak_mb=${jvm("jvm.heap_peak_mb")}%.0f load1=${jvm("host.load1")}%.2f session_s=$sessionS%.2f " +
      s"host_ticks(user,sys,idle,steal)=${cpu.mkString(",")}")
    println(Json.obj(Seq("attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> out.e2e, "layers" -> (if (ctx.trace) out.layers ++ jvm else Map.empty[String, Double]),
      "checks" -> out.checks)))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Host-wide user, system, idle and steal clock ticks (/proc/stat). */
  def cpuTicks(): Seq[Long] =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      Seq(f(0) + f(1), f(2) + f(5) + f(6), f(3) + f(4), f(7))
    } catch { case _: Throwable => Seq(0L, 0L, 0L, 0L) }

  /** Delete a directory tree (checkpoints between rounds). */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  /** Epoch-millis → this JVM's nanoTime scale (progress events and task
    * infos carry wall-clock millis; spans use the monotonic clock). */
  def nanoOffset(): Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
}
