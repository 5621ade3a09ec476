package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class IngestQueriesSpec extends SparkSpecBase {

  test("oracle map covers every query") {
    assert(IngestQueries.oracleSql.keySet == IngestQueries.queries.keySet)
  }

  private def expectedCount: Long = spark.read.parquet(s"$sfDir/events.parquet")
    .filter(col("event_id") % 10 === 0).count()

  test("ingest round-trip is lossless over the default amqp10:// wire path") {
    val out = IngestQueries.amqpIngestRoundtrip(spark, sfDir)
    val n = out.agg(sum(col("n_events"))).collect().head.getLong(0)
    assert(n == expectedCount, s"envelope path lost or duplicated rows: $n vs $expectedCount")
    // warm re-run: per-run addresses keep runs independent on the wire path
    val n2 = IngestQueries.amqpIngestRoundtrip(spark, sfDir)
      .agg(sum(col("n_events"))).collect().head.getLong(0)
    assert(n2 == expectedCount, "second run over the same in-JVM wire server")
  }

  test("ingest round-trip is lossless through the amqps:// TLS tunnel") {
    System.setProperty("graft.gate.transport", "amqps")
    try {
      val n = IngestQueries.amqpIngestRoundtrip(spark, sfDir)
        .agg(sum(col("n_events"))).collect().head.getLong(0)
      assert(n == expectedCount,
        s"TLS envelope path lost or duplicated rows: $n vs $expectedCount")
    } finally System.clearProperty("graft.gate.transport")
  }

  test("ingest round-trip is lossless with the in-process mem transport pinned") {
    System.setProperty("graft.gate.transport", "mem")
    try {
      val n = IngestQueries.amqpIngestRoundtrip(spark, sfDir)
        .agg(sum(col("n_events"))).collect().head.getLong(0)
      assert(n == expectedCount)
    } finally System.clearProperty("graft.gate.transport")
  }

  test("stream-parquet gate: file sink is exactly-once across restarted drains") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val got = IngestQueries.amqpStreamParquet(spark, sfDir)
      .as[(String, Long, Double)].collect().toSet
    // the gate pumps the slice in two halves across two checkpointed
    // drains plus one empty drain: any double-processing or uncommitted
    // file leaking into the manifest read shifts these aggregates
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 7 === 3)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("s"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected, "file-sink read-back diverged from the direct slice aggregate")
    assert(got.nonEmpty)
  }

  test("a checkpointing gate adds nothing to the temp dir outside the scratch root") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries(): Set[String] = Option(tmp.list()).toSeq.flatten.toSet
    spark.range(1).count() // session up before the first listing
    val before = entries()
    assert(IngestQueries.amqpStreamParquet(spark, sfDir).count() > 0)
    val added = entries() -- before - s"graft-scratch-${ProcessHandle.current().pid()}"
    assert(added.isEmpty, s"gate left entries in $tmp: $added")
  }

  test("shared-relay gate: the output queue equals the scrubbed slice exactly once") {
    import spark.implicits._
    // two shared-subscription workers relay the slice over amqp10://
    // through the transactional sink; a double-dispatched claim or a
    // replayed epoch doubles counts, a lost claim drops them
    val got = IngestQueries.amqpSharedRelay(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 11 === 2 && col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_msgs"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "relay read-back diverged from the direct slice aggregate")
    assert(got.nonEmpty)
  }

  test("shared-lag gate reports the ledger figures the slice count predicts") {
    val r = IngestQueries.amqpSharedLag(spark, sfDir).collect()
    assert(r.length == 1)
    val c = graft.Tables.events(spark, sfDir).filter(col("event_id") % 13 === 2).count()
    val q = c / 4
    // head, dispatch frontier, undispatched, live claims, leased rows,
    // redeliverable rows, remaining — as the oracle derives them
    assert(r.head.getString(0) == "workers")
    assert((1 to 7).map(r.head.getLong) == Seq(c, 3 * q, c - 3 * q, 1L, q, q, c - q))
  }

  test("stream-dedup gate collapses double delivery to exactly-once") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamDedup(spark, sfDir)
      .as[(String, Long, Double)].collect().toSet
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 2)
      .groupBy(col("event_type"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected,
      "dedup must reduce the double-pumped stream to the once-only aggregate")
    // the duplication is real: the broker holds 2x the slice
    val n = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 2).count()
    assert(got.map(_._2).sum == n)
  }

  test("stream-dedup-wm gate: state evicts past the watermark, so re-pumped ids re-emit") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamDedupWm(spark, sfDir)
      .filter(col("event_type") =!= "anchor_a")
      .as[(String, Long, Double)].collect()
    // each id once (double delivery collapsed) + the even half once more
    // (third copies pumped AFTER eviction must NOT be suppressed)
    val base = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 7 === 3)
    val nOnce = base.count()
    val nEven = base.filter(col("event_id") % 2 === 0).count()
    assert(got.map(_._2).sum == nOnce + nEven,
      s"expected ${nOnce + nEven} emissions (once + evicted-state re-emits), " +
        s"got ${got.map(_._2).sum} — over-retention or duplicate leak")
  }

  test("stream-window gate equals the batch windowed aggregate bit-for-bit") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamWindow(spark, sfDir)
      .as[(Long, String, Long, Double)].collect().toSet
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 1)
      .selectExpr("(ts_ns div 3600000000000) * 3600 AS wstart_s", "event_type", "value")
      .groupBy(col("wstart_s"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == expected,
      s"streaming windows drifted from batch (got ${got.size}, expected ${expected.size})")
    assert(got.nonEmpty)
    // every window boundary is hour-aligned epoch seconds
    assert(got.forall(_._1 % 3600 == 0))
  }

  test("stream-join gate enriches via application properties bit-for-bit") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamJoin(spark, sfDir)
      .as[(String, Long, Double)].collect().toSet
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 3)
      .join(graft.Tables.nation(spark, sfDir),
        col("n_nationkey") === col("user_id") % 25)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected,
      "stream-static join drifted from the batch join on the same slice")
    assert(got.nonEmpty)
  }

  test("stream-session gate matches batch islands with the strict-gap rule") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamSession(spark, sfDir)
      .as[(String, Long, Long, Double)].collect().toSet
    // batch recompute: lag + running island sum, STRICT < gap merge
    val raw = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 4)
      .selectExpr("user_id", "value", "ts_ns div 1000 AS ts_us", "event_id")
      .as[(Long, Double, Long, Long)].collect()
    val expected = raw.groupBy(_._1).flatMap { case (uid, g) =>
      val sorted = g.sortBy(r => (r._3, r._4))
      val sessions = sorted.foldLeft(List.empty[List[(Long, Double, Long, Long)]]) {
        case (acc, r) => acc match {
          case cur :: rest if r._3 - cur.head._3 < 1800000000L => (r :: cur) :: rest
          case _ => List(r) :: acc
        }
      }
      sessions.map { sess =>
        val vals = sess.map(_._2)
        val sum = vals.map(v =>
          BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        (uid.toString, sess.map(_._3).min / 1000000L, sess.size.toLong, sum)
      }
    }.toSet
    assert(got == expected,
      s"streaming sessions drifted from batch islands (got ${got.size}, exp ${expected.size})")
    assert(got.nonEmpty)
  }

  test("stream-corpus gate dedups the double-pumped docs by content and buckets quality") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamCorpus(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 5 === 3)
      .select("text").as[String].collect()
    assert(got.map(_._2).sum == docs.distinct.length,
      "every distinct text exactly once — double delivery must collapse")
    val totalTokens = docs.distinct.map(_.trim.split(" +").count(_.nonEmpty).toLong).sum
    assert(got.map(_._3).sum == totalTokens, "token volume drifted through the stream")
    got.foreach { case (b, _, _) => assert(b >= 0 && b <= 10) }
  }

  test("stream-stream join gate equals the batch band join on the same split") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamJoin2(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    val e = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 9)
      .selectExpr("event_id", "CAST(user_id AS STRING) AS u",
        "CAST(value AS DECIMAL(18,2)) AS v", "ts_ns div 1000 AS ts_us")
    val l = e.filter(expr("(event_id div 10) % 2 = 0"))
      .select(col("u").as("l_u"), col("v").as("l_v"), col("ts_us").as("l_ts"))
    val r = e.filter(expr("(event_id div 10) % 2 = 1"))
      .select(col("u").as("r_u"), col("v").as("r_v"), col("ts_us").as("r_ts"))
    val expected = l.join(r, col("l_u") === col("r_u") &&
        col("r_ts") >= col("l_ts") && col("r_ts") <= col("l_ts") + 86400000000L)
      .select(col("l_u"), ((col("l_v") + col("r_v")) * 100).cast("long").as("cents"))
      .groupBy("l_u").agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected,
      s"stream-stream join drifted from batch (got ${got.size}, exp ${expected.size})")
  }

  test("sink round-trip: distributed publish through the sink is lossless") {
    import spark.implicits._
    val got = IngestQueries.amqpSinkRoundtrip(spark, sfDir)
      .as[(String, Long, Double)].collect().toSet
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected,
      "sink write → source read must round-trip the slice exactly once")
    assert(got.nonEmpty)
  }

  test("stream-state gate: final mapGroupsWithState registers equal the batch aggregate") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamState(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSet
    val expected = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 7)
      .selectExpr("event_type", "value", "ts_ns div 1000 AS ts_us")
      .as[(String, Double, Long)].collect()
      .groupBy(_._1).map { case (k, g) =>
        val cents = g.map(r => (BigDecimal(r._2.toString)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).sum
        (k, g.length.toLong, cents, g.map(_._3).max)
      }.toSet
    assert(got == expected,
      s"state registers drifted from batch (got ${got.size}, exp ${expected.size})")
    assert(got.nonEmpty)
  }

  test("stream-late gate: boundary probes behave per Spark's <= watermark rules") {
    import spark.implicits._
    val got = IngestQueries.amqpStreamLate(spark, sfDir)
      .as[(Long, String, Long, Double)].collect()
    val byType = got.groupBy(_._2)
    // window end == watermark at arrival → DROPPED (late filter is <=)
    assert(!byType.contains("probe_late_eq"),
      "a late row whose window end equals the watermark must be dropped")
    // ts after the watermark → kept and emitted
    assert(byType.contains("probe_kept"), "the in-window fresh probe must survive")
    // window end == final watermark → EMITTED (finalization is <=)
    assert(byType.contains("probe_emit_eq"),
      "a window ending exactly at the final watermark must be finalized")
    // every deep-late slice-B row (−48h) was dropped: slice-B rows present
    // in the output can only come from the +2h branch
    val sliceB = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 6)
      .selectExpr("event_id", "ts_ns div 1000 AS ts_us").as[(Long, Long)].collect()
    val lateCount = sliceB.count(_._1 % 3 == 0)
    assert(lateCount > 0, "fixture must contain hopelessly late rows")
    val totalEmitted = got.map(_._3).sum
    val sliceA = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_id") % 10 === 5).count()
    // emitted = all of A + anchor_a + kept B + 3 probes + maybe anchor_b (never:
    // its window stays open) − open windows; dropping NO late row would add
    // lateCount more rows than the budget below allows
    assert(totalEmitted < sliceA + (sliceB.length - lateCount) + 4,
      s"late rows leaked into the output ($totalEmitted emitted)")
    assert(got.forall(_._1 % 3600 == 0))
  }

  test("cdc merge converges to the same table regardless of micro-batch boundaries") {
    import spark.implicits._
    def run(): Map[Int, (Long, Long)] =
      IngestQueries.amqpStreamCdcMerge(spark, sfDir)
        .as[(Int, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val whole = run() // each drain lands as one (or few) micro-batches
    System.setProperty("graft.cdc.maxPerTrigger", "7")
    val shredded = try run() // every changeset splits across many merges
    finally System.clearProperty("graft.cdc.maxPerTrigger")
    assert(whole.nonEmpty && whole == shredded,
      "version-chain resolution must be batch-boundary-invariant")
  }
}
