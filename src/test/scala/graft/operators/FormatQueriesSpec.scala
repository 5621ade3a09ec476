package graft.operators

import graft.SparkSpecBase

class FormatQueriesSpec extends SparkSpecBase {
  import spark.implicits._

  private def direct = {
    // the same gate aggregate computed straight from parquet
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    graft.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        // parquet stores NTZ; hop through TimestampType (UTC session)
        max(col("l_shipdate")).cast(TimestampType).cast(LongType).as("max_ship_s"))
      .as[(String, Long, Long, Double, Long)].collect().toSet
  }

  test("csv round-trip preserves the gate aggregate bit-for-bit") {
    val got = FormatQueries.fmtCsvRoundtrip(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == direct, "CSV round-trip corrupted values")
    assert(got.nonEmpty)
  }

  test("json round-trip preserves the gate aggregate bit-for-bit") {
    val got = FormatQueries.fmtJsonRoundtrip(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == direct, "JSON round-trip corrupted values")
    assert(got.nonEmpty)
  }

  test("orc round-trip preserves the gate aggregate bit-for-bit") {
    val got = FormatQueries.fmtOrcRoundtrip(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == direct, "ORC round-trip corrupted values")
    assert(got.nonEmpty)
  }

  test("zstd round-trip: values survive, snappy read agrees, zstd is smaller on disk") {
    val got = FormatQueries.fmtZstdRoundtrip(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == direct, "zstd round-trip corrupted values")
    def dirSize(tag: String): Long = {
      val dir = java.nio.file.Paths.get(FormatQueries.scratch(sfDir, tag))
      java.nio.file.Files.walk(dir).filter(p =>
        p.toString.endsWith(".parquet")).mapToLong(p =>
        java.nio.file.Files.size(p)).sum()
    }
    val snappy = spark.read.parquet(FormatQueries.scratch(sfDir, "snappy"))
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val viaSnappy = snappy.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        max(col("l_shipdate")).cast(TimestampType).cast(LongType).as("max_ship_s"))
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(viaSnappy == direct, "snappy round-trip corrupted values")
    assert(dirSize("zstd") < dirSize("snappy"),
      s"zstd ${dirSize("zstd")} not smaller than snappy ${dirSize("snappy")}")
  }

  test("compaction: 64 small files collapse to <=4, values bit-identical, stats tighten") {
    val got = FormatQueries.fmtCompaction(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == direct, "compaction corrupted values")
    def files(tag: String): Seq[java.nio.file.Path] = {
      val dir = java.nio.file.Paths.get(FormatQueries.scratch(sfDir, tag))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    }
    assert(files("small").size == 64, "producer layout must be scattered")
    assert(files("packed").size <= 4,
      s"compactor left ${files("packed").size} files")
    // range layout: per-file orderkey spans must not overlap (tight
    // min/max stats are what buys row-group skipping after compaction)
    import org.apache.spark.sql.functions._
    val spans = spark.read.parquet(files("packed").head.getParent.toString)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"file spans overlap: $a vs $b")
      case _ =>
    }
  }

  test("partitioned layout: filter is answered by partition pruning") {
    val df = FormatQueries.fmtPartitionPrune(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the returnflag predicate must sit in PartitionFilters (directory
    // pruning), not as a row-level data filter over all partitions
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"), plan)
    val got = df.as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == direct.filter(_._1 == "R"),
      "partition-pruned aggregate diverged from the direct scan")
  }

  test("dpp join: fact partitions are pruned at runtime by the dim filter") {
    val df = FormatQueries.fmtDppJoin(spark, sfDir)
    // the pruning predicate cannot be static (it lives on the dim's
    // weight column) — Catalyst must plant a dynamicpruning subquery
    // on the fact scan
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruning"), planned)
    import spark.implicits._
    val got = df.as[(String, Long, Double, Long)].collect()
    // 'view' (length 4) is the one dim row the filter drops: its fact
    // partition must vanish from the output, the other four survive
    assert(got.map(_._1).toSet ==
      Set("click", "error", "signup", "purchase"), got.mkString(","))
  }

  test("bucketed join is co-located: no shuffle on either join side") {
    val df = FormatQueries.fmtBucketJoin(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    // bucket layout replaces the exchange: neither join key may be
    // re-shuffled (the only allowed Exchange is the final tiny
    // aggregation on o_orderpriority)
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
    assert(plan.contains("Bucketed: true"), plan)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val got = df.as[(String, Long, Double)].collect().toSet
    val expected = graft.Tables.lineitem(spark, sfDir)
      .join(graft.Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected, "bucket-routed join diverged from the direct join")
  }

  test("fmt_schema_merge: old-generation rows surface the evolved column as NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = FormatQueries.fmtSchemaMerge(spark, sfDir)
      .as[(String, Long, Double, Long, Long)].collect()
    assert(got.nonEmpty)
    val cut = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val byFlag = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        (col("l_shipdate") >= lit(cut)).as("evolved"))
      .as[(String, Boolean)].collect()
      .groupBy(_._1).map { case (f, g) => f -> (g.length.toLong, g.count(_._2).toLong) }
    got.foreach { case (flag, nRows, _, nEvolved, _) =>
      val (total, newGen) = byFlag(flag)
      assert(nRows == total, s"$flag: merged read lost rows")
      assert(nEvolved == newGen,
        s"$flag: evolved-column count must equal new-generation rows only")
      assert(nEvolved < nRows, s"$flag: old generation must contribute NULLs")
    }
  }

  test("z-order interleave matches the reference bit math") {
    import org.apache.spark.sql.functions._
    import graft.functions.ZOrder
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L),
      (512L, 7L), (341L, 682L), (1L, 1023L))
    val df = spark.createDataFrame(pairs).toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.interleave(col("x"), col("y"), 10).as("z"))
    df.collect().foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == ZOrder.interleaveRef(x, y, 10), s"($x,$y)")
    }
    // spot anchors: z(1,0)=1 (x takes even bits), z(0,1)=2 (y odd bits),
    // z(1023,1023) = 2^20-1 (full 10-bit grid saturates 20 bits)
    val byXy = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byXy((1L, 0L)) == 1L && byXy((0L, 1L)) == 2L)
    assert(byXy((1023L, 1023L)) == (1L << 20) - 1)
  }

  test("fmt_zorder_layout gate: buckets tile the grid with tight boxes") {
    import spark.implicits._
    val got = FormatQueries.fmtZorderLayout(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val totalRows = got.map(_._2).sum
    assert(totalRows == graft.Tables.orders(spark, sfDir).count())
    got.foreach { case (zb, _, minGx, maxGx, minGy, maxGy) =>
      assert(minGx >= 0 && maxGx <= 1023 && minGy >= 0 && maxGy <= 1023, s"bucket $zb")
      // a z-range bucket of width 2^10 fixes the top 5 bits of each
      // dimension: its bounding box can span at most 2^5 = 32 grid
      // cells per axis — the tiling property file skipping relies on
      assert(maxGx - minGx < 32, s"bucket $zb gx span ${maxGx - minGx}")
      assert(maxGy - minGy < 32, s"bucket $zb gy span ${maxGy - minGy}")
    }
  }

  test("hilbert_d: bijective round-trip and unit-step adjacency over 4096 curve steps") {
    import graft.expressions.HilbertIndex
    // test-local inverse (Hamilton's d2xy) — the main code deliberately
    // ships only the forward map the layout needs
    def d2xy(d: Long): (Long, Long) = {
      var t = d; var x = 0L; var y = 0L; var s = 1L
      while (s < HilbertIndex.Side) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0L) {
          if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx; y += s * ry
        t /= 4; s *= 2
      }
      (x, y)
    }
    var prev = d2xy(0L)
    assert(HilbertIndex.xy2d(prev._1, prev._2) == 0L)
    for (d <- 1L until 4096L) {
      val (x, y) = d2xy(d)
      assert(HilbertIndex.xy2d(x, y) == d, s"round-trip broke at d=$d")
      // THE Hilbert property Morton lacks: every curve step moves to a
      // grid NEIGHBOR — no jumps, so contiguous ranges are contiguous tiles
      assert(math.abs(x - prev._1) + math.abs(y - prev._2) == 1,
        s"curve jumped at d=$d: $prev -> ($x,$y)")
      prev = (x, y)
    }
    // the Spark expression and the shared static loop agree
    import org.apache.spark.sql.functions._
    graft.expressions.HilbertIndex.register(spark)
    val pts = Seq((0L, 0L), (1023L, 0L), (0L, 1023L), (1023L, 1023L), (511L, 512L))
    val got = spark.createDataFrame(pts).toDF("x", "y")
      .select(col("x"), col("y"), expr("hilbert_d(x, y)").as("d")).collect()
    got.foreach(r => assert(r.getLong(2) == HilbertIndex.xy2d(r.getLong(0), r.getLong(1))))
  }

  test("fmt_hilbert_layout buckets tile at least as tightly as Morton's") {
    import spark.implicits._
    def boxes(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val rows = df.as[(Long, Long, Long, Long, Long, Long)].collect()
      assert(rows.nonEmpty)
      val area = rows.map { case (_, _, x0, x1, y0, y1) => (x1 - x0 + 1) * (y1 - y0 + 1) }.sum
      (rows.map(_._2).sum, area)
    }
    val (hRows, hArea) = boxes(FormatQueries.fmtHilbertLayout(spark, sfDir))
    val (zRows, zArea) = boxes(FormatQueries.fmtZorderLayout(spark, sfDir))
    assert(hRows == zRows, "both layouts must account for every order")
    // a contiguous Hilbert range is a connected tile; Morton ranges can
    // straddle power-of-two seams. Hilbert's total bucket bounding-box
    // area must not lose to Morton's by more than 5%
    assert(hArea <= zArea * 105 / 100,
      s"Hilbert bucket area $hArea worse than Morton's $zArea")
  }

  test("z-order layout MEASURABLY skips row groups for a second-dimension predicate") {
    import org.apache.spark.sql.functions._
    import graft.functions.ZOrder
    // AQE off so the executed plan exposes the scan leaf's metrics directly
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val grid = FormatQueries.zorderGrid(s2, sfDir)
      .select(col("gx"), col("gy"),
        ZOrder.interleave(col("gx"), col("gy"), 10).as("z"))
    val tmp = graft.Scratch.dir("graft_zskip").toString
    grid.repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(s"$tmp/byz")
    grid.repartitionByRange(16, col("gx")).sortWithinPartitions(col("gx"))
      .write.mode("overwrite").parquet(s"$tmp/byx")
    // rows the scan DELIVERS = rows in row groups whose min/max stats
    // intersect the pushed predicate; skipped groups never surface
    def scannedRows(path: String): Long = {
      val df = s2.read.parquet(path).where(col("gy").between(100, 199))
      val plan = df.queryExecution.executedPlan
      plan.execute().count()
      plan.collectLeaves().head.metrics("numOutputRows").value
    }
    val matching = s2.read.parquet(s"$tmp/byz")
      .where(col("gy").between(100, 199)).count()
    val viaZ = scannedRows(s"$tmp/byz")
    val viaX = scannedRows(s"$tmp/byx")
    val total = grid.count()
    // the gx-sorted layout cannot skip for a gy predicate: every row
    // group's gy stats span the whole axis, so the scan reads the table
    assert(viaX == total, s"gx layout unexpectedly skipped: $viaX of $total")
    // the z layout must skip most non-matching row groups
    assert(viaZ < total / 2,
      s"z layout read $viaZ of $total rows for a ${matching}-row predicate")
    assert(viaZ >= matching, "scan cannot deliver fewer rows than match")
  }

  test("z-order file layout shrinks per-file bounding boxes in BOTH dimensions") {
    import org.apache.spark.sql.functions._
    import graft.functions.ZOrder
    val grid = FormatQueries.zorderGrid(spark, sfDir)
      .select(col("gx"), col("gy"),
        ZOrder.interleave(col("gx"), col("gy"), 10).as("z"))
    val tmp = graft.Scratch.dir("graft_zorder").toString
    // 16 range partitions fix the top 4 z bits — two per dimension —
    // so every z file's box spans at most 256 grid cells per axis,
    // while each single-column layout leaves the other axis unclustered
    grid.repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(s"$tmp/byz")
    grid.repartitionByRange(16, col("gx")).sortWithinPartitions(col("gx"))
      .write.mode("overwrite").parquet(s"$tmp/byx")
    grid.repartitionByRange(16, col("gy")).sortWithinPartitions(col("gy"))
      .write.mode("overwrite").parquet(s"$tmp/byy")
    def spans(path: String): (Long, Long) = {
      val rows = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col("gx")) - min(col("gx"))).as("sx"),
          (max(col("gy")) - min(col("gy"))).as("sy"))
        .select(sum(col("sx")), sum(col("sy"))).head()
      (rows.getLong(0), rows.getLong(1))
    }
    val (zx, zy) = spans(s"$tmp/byz")
    val (_, xy) = spans(s"$tmp/byx")  // x-sorted: full gy span per file
    val (yx, _) = spans(s"$tmp/byy")  // y-sorted: full gx span per file
    // the z layout must beat EACH single-column layout on the
    // dimension that layout ignores — that's the file-skipping win
    assert(zy * 2 < xy, s"z-layout gy spans $zy not < half of x-layout's $xy")
    assert(zx * 2 < yx, s"z-layout gx spans $zx not < half of y-layout's $yx")
  }

  test("malformed CSV: DROPMALFORMED drops exactly the planted rows; PERMISSIVE keeps all") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val total = graft.Tables.documents(spark, sfDir).count()
    val planted = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 2 || col("doc_id") % 7 === 5).count()
    // collect the gate frame as-is: an extra projection on top would
    // PRUNE the scan (see the pruning assertion below) and change what
    // counts as malformed
    val kept = FormatQueries.fmtCsvMalformed(spark, sfDir)
      .collect().map(_.getLong(1)).sum
    assert(kept == total - planted,
      s"DROPMALFORMED kept $kept of $total with $planted planted bad rows")
    val dir = FormatQueries.scratch(sfDir, "csvmal")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    // PERMISSIVE: every line survives, the damage becomes nulls
    val perm = spark.read.schema(schema).option("mode", "PERMISSIVE").csv(dir)
    assert(perm.count() == total)
    assert(perm.filter(col("n_chars").isNull).count() == planted,
      "PERMISSIVE should null exactly the damaged fields")
    // THE FOOTGUN (found writing this spec): with CSV column pruning
    // (default on), DROPMALFORMED judges malformedness only on the
    // columns the plan actually REQUIRES — project just `source` and
    // both damage kinds parse fine, so nothing drops. The gate is
    // stable because its aggregate requires all three columns; any
    // downstream count must therefore be taken off the gate frame, not
    // a pruned re-read.
    val pruned = spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(dir)
      .select(col("source")).count()
    assert(pruned == total,
      s"column-pruned DROPMALFORMED read dropped rows ($pruned of $total) — " +
        "Spark's pruning semantics changed; re-check the gate's required columns")
  }

  test("bloom prune: stats useless, bloom present, absent key rejected by every row group") {
    import scala.jdk.CollectionConverters._
    // run the gate (writes the bloom-equipped file and probes it)
    val got = FormatQueries.fmtBloomPrune(spark, sfDir)
      .as[(Long, String, String, Long)].collect().map(_._1).toSet
    assert(got == FormatQueries.BloomProbeKeys.toSet, s"probe lost rows: $got")
    // open the written file with the parquet-hadoop API
    val dir = java.nio.file.Paths.get(FormatQueries.scratch(sfDir, "bloom"))
    val file = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq match {
        case Seq(one) => one
        case other => fail(s"expected exactly one parquet file, got $other")
      }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // many row groups: the prune has units to skip
      assert(blocks.size > 1, s"only ${blocks.size} row group — nothing to prune")
      val absent = 1000000007L // no doc_id at any SF
      blocks.foreach { b =>
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == "doc_id")
          .getOrElse(fail("doc_id column chunk missing"))
        // stats are USELESS for a point probe here: sorted by (source,
        // doc_id) means every source contributes ids from the whole
        // range to every group — the span must cover most of [0,499]
        val st = cc.getStatistics
        val span = st.genericGetMax.asInstanceOf[Long] -
          st.genericGetMin.asInstanceOf[Long]
        assert(span > 250, s"row-group doc_id span $span — stats would prune, " +
          "bloom not exercised")
        // the bloom is present and rejects the absent key => a
        // bloom-aware reader skips EVERY row group for this probe
        val bloom = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
        assert(bloom != null, "doc_id bloom filter missing from row group")
        assert(!bloom.findHash(bloom.hash(absent)),
          "absent key not rejected — bloom cannot prune")
        // and a PRESENT key is found somewhere (no false negatives):
        // checked across groups below
      }
      val present = FormatQueries.BloomProbeKeys.head
      assert(blocks.exists { b =>
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == "doc_id").get
        val bloom = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
        bloom.findHash(bloom.hash(present))
      }, "present key rejected by every bloom — false negative, rows would be lost")
    } finally reader.close()
  }

  test("time travel: both versions readable after the merge, diff confined to touched years") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtTimeTravel(spark, sfDir)
      .select(col("version"), col("yr"), col("n_orders"), col("sum_cents"))
      .as[(Int, Int, Long, Long)].collect()
    val v1 = rows.filter(_._1 == 1).map(r => r._2 -> ((r._3, r._4))).toMap
    val v2 = rows.filter(_._1 == 2).map(r => r._2 -> ((r._3, r._4))).toMap
    assert(v1.nonEmpty && v1.keySet == v2.keySet, "both versions must cover every year")
    // untouched years are byte-identical across versions; touched years
    // (even + carrying changeset keys) must actually have changed
    val touched = graft.Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) % 2 === 0 && col("o_orderkey") % 50 <= 2)
      .select(year(col("o_orderdate")).cast("int")).distinct()
      .as[Int].collect().toSet
    v1.keys.foreach { yr =>
      if (touched(yr)) assert(v1(yr) != v2(yr), s"touched year $yr shows no merge effect")
      else assert(v1(yr) == v2(yr), s"untouched year $yr drifted")
    }
    assert(touched.nonEmpty && v1.keySet.exists(!touched(_)))
  }

  test("restore: live image rolls back to v1 exactly, the undone merge stays readable") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtRestore(spark, sfDir)
      .select(col("version"), col("yr"), col("n_orders"), col("sum_cents"))
      .as[(Int, Int, Long, Long)].collect()
    val v2 = rows.filter(_._1 == 2).map(r => r._2 -> ((r._3, r._4))).toMap
    val v3 = rows.filter(_._1 == 3).map(r => r._2 -> ((r._3, r._4))).toMap
    assert(v2.nonEmpty && v2.keySet == v3.keySet, "both versions must cover every year")
    // the restored live image is the pre-merge base, year for year
    val base = graft.Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(v3 == base, "RESTORE must reproduce version 1 exactly")
    // the undone merge (v2) is preserved history: identical to the
    // merge gate's own output — rollback deleted nothing
    val merge = FormatQueries.fmtMergeUpsert(spark, sfDir)
      .select(col("yr"), col("n_orders"), col("sum_cents"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(v2 == merge, "version 2 must stay readable and exact after the restore")
    assert(v2 != v3, "the rollback must actually undo something")
  }

  test("shallow clone: zero-copy creation, divergence isolated to the clone's odd years") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtClone(spark, sfDir)
      .select(col("side"), col("yr"), col("n_orders"), col("sum_cents"))
      .as[(String, Int, Long, Long)].collect()
    val src = rows.filter(_._1 == "source").map(r => r._2 -> ((r._3, r._4))).toMap
    val cl  = rows.filter(_._1 == "clone").map(r => r._2 -> ((r._3, r._4))).toMap
    assert(src.nonEmpty && src.keySet == cl.keySet, "both sides cover every year")
    // the clone's changeset touches odd years carrying %50<=1 keys;
    // everything else must be byte-identical across the two tables
    def oddYearsWith(m: Int): Set[Int] = graft.Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) % 2 === 1 && col("o_orderkey") % 50 === m)
      .select(year(col("o_orderdate")).cast("int")).distinct()
      .as[Int].collect().toSet
    val delYears = oddYearsWith(1)  // clone deletes these keys
    val updYears = oddYearsWith(0)  // clone bumps these +5%
    src.keys.foreach { yr =>
      if (delYears(yr))
        assert(cl(yr)._1 < src(yr)._1,
          s"odd year $yr must show the clone's deletes: ${src(yr)} vs ${cl(yr)}")
      if (updYears(yr) && !delYears(yr))
        assert(cl(yr)._2 > src(yr)._2,
          s"odd year $yr must show the clone's +5%: ${src(yr)} vs ${cl(yr)}")
      if (!delYears(yr) && !updYears(yr))
        assert(src(yr) == cl(yr), s"year $yr leaked across the clone boundary")
    }
    assert(delYears.nonEmpty && src.keySet.exists(y => !delYears(y) && !updYears(y)))
    // the source side is bit-equal to the plain merge gate: cloning and
    // diverging the clone changed NOTHING about the source's content
    val merge = FormatQueries.fmtMergeUpsert(spark, sfDir)
      .select(col("yr"), col("n_orders"), col("sum_cents"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(merge == src, "source table must be unaffected by clone evolution")
  }

  test("analyze stats flip a filtered join from sort-merge to broadcast under CBO") {
    import org.apache.spark.sql.functions._
    // the gate leaves the analyzed table registered; run it first
    val stats = FormatQueries.fmtAnalyzeStats(spark, sfDir).collect()
    assert(stats.length == 3 && stats.forall(_.getLong(1) > 0))
    val tbl = spark.catalog.listTables().collect()
      .map(_.name).find(_.startsWith("graft_stats_orders_")).get
    val maxKey = spark.table(tbl).agg(max(col("o_orderkey"))).head().getLong(0)
    // a filter selecting ~1% of the table by key range: stats-blind the
    // Filter keeps the child's full size estimate, stats+CBO shrink it
    // by range selectivity to under the broadcast threshold
    def plan(): String = {
      val probe = spark.table(tbl).filter(col("o_orderkey") <= maxKey / 100)
      spark.table(tbl).join(probe.select(col("o_orderkey"), col("o_totalprice").as("p2")), "o_orderkey")
        .queryExecution.sparkPlan.toString
    }
    val fullBytes = new java.io.File(
      spark.sql(s"DESCRIBE EXTENDED $tbl").collect()
        .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
    ).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val conf = spark.conf
    val (cboBefore, thrBefore) = (conf.get("spark.sql.cbo.enabled"),
      conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      // threshold: between the ~1% stats estimate and the full size
      conf.set("spark.sql.autoBroadcastJoinThreshold", (fullBytes / 4).toString)
      conf.set("spark.sql.cbo.enabled", "false")
      val blind = plan()
      conf.set("spark.sql.cbo.enabled", "true")
      val informed = plan()
      assert(blind.contains("SortMergeJoin") && !blind.contains("BroadcastHashJoin"),
        s"stats-blind plan should shuffle:\n$blind")
      assert(informed.contains("BroadcastHashJoin"),
        s"CBO + column stats should broadcast the 1% side:\n$informed")
    } finally {
      conf.set("spark.sql.cbo.enabled", cboBefore)
      conf.set("spark.sql.autoBroadcastJoinThreshold", thrBefore)
    }
  }

  test("analyze stats reorder a linear 3-table join so the big table joins last") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // linear join graph orders–customer–nation, written big-table-first;
    // CBO's reorder should start from the cheap customer⋈nation pair
    val scr = graft.Scratch.dir("graft-cbo-reorder").toString
    def mk(name: String, df: org.apache.spark.sql.DataFrame, statCols: String): String = {
      val tbl = s"graft_cbo_$name"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      df.write.mode("overwrite").option("path", s"$scr/$name").saveAsTable(tbl)
      spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS $statCols")
      tbl
    }
    val o = mk("orders", graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey")), "o_custkey")
    val c = mk("customer", graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey")), "c_custkey, c_nationkey")
    val n = mk("nation", graft.Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name")), "n_nationkey")
    def bottomJoinLeaves(reorder: Boolean): Seq[String] = {
      val conf = spark.conf
      val saved = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
      try {
        conf.set("spark.sql.cbo.enabled", "true")
        conf.set("spark.sql.cbo.joinReorder.enabled", reorder.toString)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // cost the order, not the broadcast
        val plan = spark.sql(
          s"""SELECT count(*) AS cnt FROM $o
             |JOIN $c ON o_custkey = c_custkey
             |JOIN $n ON c_nationkey = n_nationkey""".stripMargin)
          .queryExecution.optimizedPlan
        val joins = plan.collect { case j: Join => j }
        assert(joins.size == 2, s"expected 2 joins:\n$plan")
        joins.last.collectLeaves().map(_.toString)
      } finally saved.foreach { case (k, v) => conf.set(k, v) }
    }
    val blind = bottomJoinLeaves(reorder = false)
    val informed = bottomJoinLeaves(reorder = true)
    assert(blind.exists(_.contains("graft_cbo_orders")),
      s"written order keeps the big table in the bottom join: $blind")
    assert(!informed.exists(_.contains("graft_cbo_orders")),
      s"stats reorder must start from customer⋈nation, big table last: $informed")
  }

  test("change feed: typed diff derived from the chain matches the changeset's own arithmetic") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtChangeFeed(spark, sfDir)
      .select(col("o_orderkey"), col("yr"), col("change_type"), col("cents"))
      .as[(Long, Int, String, Long)].collect()
    val byType = rows.groupBy(_._3)
    assert(byType.keySet == Set("insert", "delete", "update_preimage", "update_postimage"),
      s"unexpected change types: ${byType.keySet}")
    // the changeset's op rule: key%50 == 0 -> U, 1 -> D, 2 -> I(-key)
    byType("delete").foreach { case (k, _, _, _) => assert(k % 50 == 1, s"delete key $k") }
    byType("insert").foreach { case (k, _, _, _) => assert(k < 0 && (-k) % 50 == 2, s"insert key $k") }
    // update rows pair up: same key set, post = pre + pre/10 per key
    val pre = byType("update_preimage").map(r => (r._1, r._2) -> r._4).toMap
    val post = byType("update_postimage").map(r => (r._1, r._2) -> r._4).toMap
    assert(pre.keySet == post.keySet && pre.nonEmpty, "update pre/post keys must pair")
    pre.foreach { case (k, c) => assert(post(k) == c + c / 10, s"update arithmetic at $k") }
    // no-op suppression: every emitted update actually changed the value
    pre.foreach { case (k, c) => assert(post(k) != c, s"no-op update leaked at $k") }
    // every change row lives in a touched (even-year) partition
    rows.foreach { case (_, yr, _, _) => assert(yr % 2 == 0, s"change in untouched year $yr") }
  }

  test("hidden partitioning: raw-range query prunes directories, row filter finishes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = FormatQueries.hiddenPartitionTable(spark, sfDir)
    val read = FormatQueries.hiddenPartitionRead(spark, path,
      "1996-03-15 00:00:00", "1999-10-01 00:00:00")
    // the derived partition predicate lands as PartitionFilters
    val scan = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val pf = scan.partitionFilters.mkString(", ")
    assert(pf.contains("yr"), s"no derived partition filter in: $pf")
    // pruned years' files are never opened: the scan's file count equals
    // exactly the covering years' on-disk files, a strict table subset
    read.collect() // execute so scan metrics populate
    val prunedFiles = scan.metrics("numFiles").value
    val coveringFiles = (1996 to 1999)
      .map(y => FormatQueries.parquetFiles(s"$path/yr=$y").size).sum
    val totalFiles = FormatQueries.parquetFiles(path).size
    assert(prunedFiles == coveringFiles,
      s"scan must open exactly the covering years' files: $prunedFiles vs $coveringFiles")
    assert(coveringFiles < totalFiles, "pruning must be non-vacuous")
    // the row filter finishes the mid-year boundaries: the 1996 slice
    // read is strictly smaller than the full 1996 partition
    val got1996 = read.filter(col("yr") === 1996).count()
    val all1996 = spark.read.parquet(path).filter(col("yr") === 1996).count()
    assert(got1996 > 0 && got1996 < all1996,
      s"mid-year boundary must cut inside the partition: $got1996 vs $all1996")
  }

  test("merge-on-read delete: both stages equal the relational delete, confined to its years") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtMorDelete(spark, sfDir)
      .select(col("stage"), col("yr"), col("n_orders"), col("sum_cents"))
      .as[(String, Int, Long, Long)].collect()
    val mor = rows.filter(_._1 == "mor").map(r => r._2 -> ((r._3, r._4))).toMap
    val compacted = rows.filter(_._1 == "compacted").map(r => r._2 -> ((r._3, r._4))).toMap
    assert(mor.nonEmpty && mor == compacted,
      "compaction must converge to exactly the masked view")
    val want = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("int").as("yr"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .filter(!(col("yr") % 4 === 2 && col("o_orderkey") % 50 === 7))
      .groupBy("yr").agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(mor == want, "masked read must equal the relational delete")
    // the delete actually bit, and only in its declared years
    val base = graft.Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
      .agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    mor.foreach { case (yr, (n, _)) =>
      if (yr % 4 == 2) assert(n < base(yr), s"year $yr shows no delete effect")
      else assert(n == base(yr), s"delete leaked into year $yr")
    }
  }

  test("WAP: the rejected ledger is exactly the planted poison, publish equals the merge") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtWap(spark, sfDir)
      .select(col("stage"), col("yr"), col("n_orders"), col("sum_cents"))
      .as[(String, Int, Long, Long)].collect()
    val rejected = rows.filter(_._1 == "rejected_violations")
      .map(r => r._2 -> ((r._3, r._4))).toMap
    val published = rows.filter(_._1 == "published")
      .map(r => r._2 -> ((r._3, r._4))).toMap
    // the violation ledger = the poisoned inserts (negated cents of the
    // %50==2 even-year keys), nothing else
    val poison = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("int").as("yr"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .filter(col("yr") % 2 === 0 && col("o_orderkey") % 50 === 2)
      .groupBy("yr").agg(count(lit(1)).as("n"), sum(-col("cents")).as("c"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rejected == poison, "rejected ledger must be exactly the planted poison")
    // the published state is the clean CDC merge — same as the merge gate
    val merge = FormatQueries.fmtMergeUpsert(spark, sfDir)
      .select(col("yr"), col("n_orders"), col("sum_cents"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(published == merge, "published state must equal the audited merge")
  }

  test("partition-spec evolution: month-grained pruning on new data, year pruning on history") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (v1, v2) = FormatQueries.specEvolvedTable(spark, sfDir)
    val (lo, hi) = ("1998-03-10 00:00:00", "1999-08-20 00:00:00")
    // correctness: the two-spec read equals the raw-predicate scan
    val got = FormatQueries.specEvolvedRead(spark, v1, v2, lo, hi)
      .agg(count(lit(1)), sum(col("cents"))).as[(Long, Long)].collect().head
    val want = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderdate").between(lit(lo).cast("timestamp"), lit(hi).cast("timestamp")))
      .agg(count(lit(1)),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")))
      .as[(Long, Long)].collect().head
    assert(got == want, s"two-spec read drifted: $got vs $want")
    // physics: the NEW-spec side opens exactly the covering months'
    // files (yr=1999, m<=8) — strictly fewer than the whole year
    val newSide = spark.read.parquet(v2)
      .filter(col("yr").between(1998, 1999) &&
        (col("yr") > 1998 || col("m") >= 3) && (col("yr") < 1999 || col("m") <= 8))
    val scan = newSide.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head
    newSide.collect()
    val openedNew = scan.metrics("numFiles").value
    val coveringNew = (1 to 8)
      .map(m => FormatQueries.parquetFiles(s"$v2/yr=1999/m=$m").size).sum
    val all1999 = FormatQueries.parquetFiles(s"$v2/yr=1999").size
    assert(openedNew == coveringNew,
      s"new-spec scan must open exactly the covering months: $openedNew vs $coveringNew")
    assert(coveringNew < all1999, "month pruning must be non-vacuous")
    // and the OLD-spec side still year-prunes (1998 only)
    val oldSide = spark.read.parquet(v1).filter(col("yr").between(1998, 1999))
    val oscan = oldSide.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head
    oldSide.collect()
    assert(oscan.metrics("numFiles").value ==
      FormatQueries.parquetFiles(s"$v1/yr=1998").size,
      "old-spec scan must read exactly its covering year")
  }

  test("schema evolution: backfilled years carry the column, old files surface NULL") {
    import org.apache.spark.sql.functions._
    val rows = FormatQueries.fmtSchemaEvolution(spark, sfDir)
      .select(col("yr"), col("n_orders"), col("sum_cents"),
        col("n_backfilled"), col("sum_bonus"))
      .collect()
    assert(rows.nonEmpty)
    val (even, odd) = rows.partition(_.getInt(0) % 2 == 0)
    assert(even.nonEmpty && odd.nonEmpty, "both generations must be present")
    // backfilled partitions: every row carries the new column, and the
    // backfill arithmetic is the declared cents div 20
    even.foreach { r =>
      assert(r.getLong(3) == r.getLong(1), s"year ${r.getInt(0)} not fully backfilled")
      assert(!r.isNullAt(4) && r.getLong(4) > 0, s"year ${r.getInt(0)} bonus sum missing")
    }
    // pre-evolution partitions: the column resolves, as NULL — no
    // phantom backfill, no read failure against old-schema files
    odd.foreach { r =>
      assert(r.getLong(3) == 0L, s"phantom backfill in untouched year ${r.getInt(0)}")
      assert(r.isNullAt(4), s"untouched year ${r.getInt(0)} must sum bonus to NULL")
    }
    // row counts and cents are untouched by the evolution commit
    val base = graft.Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    rows.foreach { r =>
      assert(base(r.getInt(0)) == ((r.getLong(1), r.getLong(2))),
        s"evolution commit changed data in year ${r.getInt(0)}")
    }
  }

  test("concurrent commits: disjoint lands, overlap conflicts, retry compounds on the winner") {
    import org.apache.spark.sql.functions._
    val got = FormatQueries.fmtConcurrentCommit(spark, sfDir)
      .select(col("yr"), col("n_orders"), col("sum_cents"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // relational replay of A (CDC merge, even yrs) -> B (delete %50=3 in
    // yr%4==1) -> C retried (+5% on %50 in {0,4}, even yrs)
    val base = graft.Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("int").as("yr"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val v2 = base
      .filter(!(col("yr") % 2 === 0 && col("o_orderkey") % 50 === 1))
      .withColumn("cents",
        when(col("yr") % 2 === 0 && col("o_orderkey") % 50 === 0,
          col("cents") + expr("cents div 10")).otherwise(col("cents")))
      .unionByName(base.filter(col("yr") % 2 === 0 && col("o_orderkey") % 50 === 2)
        .select((-col("o_orderkey")).as("o_orderkey"), col("yr"), col("cents")))
    val v3 = v2.filter(!(col("yr") % 4 === 1 && col("o_orderkey") % 50 === 3))
    val v4 = v3.withColumn("cents",
      when(col("yr") % 2 === 0 &&
        (col("o_orderkey") % 50 === 0 || col("o_orderkey") % 50 === 4),
        col("cents") + expr("cents div 20")).otherwise(col("cents")))
    val want = v4.groupBy(col("yr"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == want, "resolved table must equal the serialized A -> B -> C-retry replay")
    // the three writers genuinely touched three distinct partition sets
    assert(got.keySet.exists(_ % 2 == 0) && got.keySet.exists(_ % 4 == 1) &&
      got.keySet.exists(_ % 4 == 3), "scenario needs all three ownership classes")
    // C's compounding is visible: an even year with %50=0 keys must
    // differ from applying C's +5% to the BASE cents (the stale read)
    val staleWant = base.withColumn("cents",
      when(col("yr") % 2 === 0 &&
        (col("o_orderkey") % 50 === 0 || col("o_orderkey") % 50 === 4),
        col("cents") + expr("cents div 20")).otherwise(col("cents")))
      .filter(!(col("yr") % 4 === 1 && col("o_orderkey") % 50 === 3))
      .groupBy(col("yr")).agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(want != staleWant,
      "the scenario must distinguish retry-from-current from retry-from-stale-base")
  }
}
