package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.HashFunctions._

class DedupQueriesSpec extends SparkSpecBase {
  import spark.implicits._

  test("multi-pass SN: each pass recovers pairs the other misses; single pass is a subset") {
    val multi = DedupQueries.dedupFuzzyErMultipass(spark, sfDir)
      .as[(Long, Long, Long, Int, String)].collect()
    val byTag = multi.groupBy(_._5).view.mapValues(_.length).toMap
    assert(byTag.getOrElse("pass2", 0) > 0, "reversed-key pass must add recall")
    assert(byTag.getOrElse("pass1", 0) > 0, "name-key pass must add recall over reversed")
    assert(byTag.getOrElse("both", 0) > 0, "adjacent near-dups found by both")
    // the single-pass gate is exactly the pass1+both subset
    val single = DedupQueries.dedupFuzzyEr(spark, sfDir)
      .as[(Long, Long, Long, Int)].collect().map(r => (r._1, r._2, r._3)).toSet
    val p1 = multi.filter(m => m._5 == "pass1" || m._5 == "both")
      .map(m => (m._1, m._2, m._3)).toSet
    assert(p1 == single, "pass1+both must equal the single-pass result")
  }

  test("url canonicalization: every variance kind normalized, groups honest") {
    val rows = DedupQueries.dedupUrlCanonical(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_._2).sum == nDocs, "every doc lands in exactly one group")
    // the canonicalizer genuinely collapsed distinct raw forms
    assert(rows.exists(r => r._2 > 1 && r._3 > 1),
      "some group holds multiple docs under multiple raw variants")
    rows.map(_._1).foreach { u =>
      assert(!u.contains("#"), s"fragment survived: $u")
      assert(!u.contains(":443"), s"default port survived: $u")
      assert(!u.contains("utm_") && !u.contains("ref="), s"tracking param survived: $u")
      assert(u == u.toLowerCase, s"case variance survived: $u")
      assert(!u.split("\\?")(0).endsWith("/") || u.startsWith("https:///"),
        s"trailing slash survived: $u")
      assert(u.startsWith("https://www."), s"unexpected shape: $u")
    }
    // raw variants within a group really differ only by normalized parts:
    // group count equals the count of distinct (source, doc_id % 13) keys
    val expectGroups = graft.Tables.documents(spark, sfDir)
      .select(col("source"), (col("doc_id") % 13).as("m")).distinct().count()
    assert(rows.length.toLong == expectGroups)
  }

  test("shingles builds ordered word n-grams; short docs yield none") {
    def sh(text: String, n: Int): Seq[String] =
      Seq(text).toDF("text").select(shingles(col("text"), n).as("s"))
        .collect().head.getSeq[String](0)
    assert(sh("a b c d", 2) == Seq("a b", "b c", "c d"))
    assert(sh("a b c d", 3) == Seq("a b c", "b c d"))
    assert(sh("a b", 3) == Seq.empty)
    assert(sh("", 2) == Seq.empty)
    assert(sh("  x   y  ", 2) == Seq("x y"))
  }

  test("charFoldHash matches the documented recurrence") {
    // 'the': ((0*131+116)*131+104)*131+101 mod P = 2004401
    val h = Seq("the").toDF("t").select(charFoldHash(col("t")).as("h"))
      .collect().head.getLong(0)
    assert(h == 2004401L)
  }

  test("dedup_exact marks canonical rows consistently") {
    val df = DedupQueries.dedupExact(spark, sfDir).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val (doc, canon, n, dup) =
        (r.getLong(0), r.getLong(3), r.getLong(2), r.getInt(4))
      assert(canon <= doc)
      assert(n >= 1)
      assert((dup == 1) == (doc != canon))
    }
  }

  test("ngram jaccard and minhash agree on the planted near-dups") {
    val ng = DedupQueries.dedupNgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = DedupQueries.dedupMinhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.nonEmpty, "expected planted near-duplicates at sf0.001")
    // 4-gram@0.85 and trigram@0.8 are different shingles/thresholds but
    // the planted ~0.99 pairs must be caught by both
    assert((mh intersect ng).nonEmpty)
  }

  test("one-permutation minhash finds the planted dups and stays exact-sound") {
    val mh = DedupQueries.dedupMinhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val oph = DedupQueries.dedupMinhashOph(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(oph.nonEmpty, "expected planted near-duplicates at sf0.001")
    // exact verify stage: every emitted pair is a TRUE >=0.8 pair
    oph.foreach { case (a, b, j) => assert(a < b && j >= 0.8, s"($a,$b,$j)") }
    // the ~0.99 planted pairs band-collide under one permutation too
    assert((oph.map(p => (p._1, p._2)).toSet intersect mh).nonEmpty,
      "OPH missed every pair the 16-permutation variant found")
  }

  test("lsh tuning: permissiveness is monotone in rows-per-band, and (8,2) matches the shipped LSH") {
    val rows = DedupQueries.dedupLshTuning(spark, sfDir).collect()
      .map(r => (r.getLong(1), // rows_per_band
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))) // n_cand, n_true, caught, wasted
      .toMap
    assert(rows.keySet == Set(1L, 2L, 4L, 8L, 16L))
    val nTrue = rows(1L)._2
    assert(rows.values.forall(_._2 == nTrue), "n_true is configuration-independent")
    // fewer rows per band = more permissive bands: candidates AND caught
    // true pairs are monotone non-increasing as r grows (the S-curve's
    // empirical face — this is the trade-off the operator tabulates)
    val rs = Seq(1L, 2L, 4L, 8L, 16L)
    rs.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(a)._1 >= rows(b)._1, s"candidates must not grow with r: $rows")
      assert(rows(a)._3 >= rows(b)._3, s"caught must not grow with r: $rows")
    }
    // every configuration's caught is bounded by the truth
    assert(rows.values.forall(v => v._3 <= v._2), rows.toString)
    // (b=8, r=2) is the production config dedup_minhash_lsh ships: its
    // caught count must equal what the shipped pipeline verifies (the
    // tuning table and the pipeline must not disagree about the corpus)
    val shipped = DedupQueries.dedupMinhashLsh(spark, sfDir).count()
    assert(rows(2L)._3 == shipped,
      s"tuning row (8,2) caught ${rows(2L)._3} vs shipped pipeline $shipped")
  }

  test("cdc chunking: boundaries are content-defined, so an insertion only disturbs one chunk") {
    // reference implementation of the operator's chunking
    def chunks(text: String): Seq[Long] = {
      val n = text.length
      val ends = (8 to n).filter(i =>
        graft.expressions.CharFoldHash.hash(text.substring(i - 8, i)) % 32 == 0)
      val bounds = (ends :+ n).distinct
      bounds.zip(0 +: bounds.dropRight(1)).map { case (e, p) =>
        graft.expressions.CharFoldHash.hash(text.substring(p, e))
      }
    }
    // varied content → many distinct chunks (a repetitive string folds
    // to a handful of chunk values and turns the ratio into noise)
    val base = (1 to 80).map(i => s"token$i value${i * 37 % 101}").mkString(" ")
    val shifted = "INSERTED PREFIX " + base
    val cb = chunks(base).toSet
    val cs = chunks(shifted).toSet
    // every chunk after the first content-defined boundary re-aligns:
    // the shifted doc loses at most the head chunk(s), never the tail
    val survived = (cb intersect cs).size.toDouble / cb.size
    assert(survived >= 0.8, s"only ${survived * 100}% of chunks survived an insertion")
    // a FIXED-window chunking of the same pair shares almost nothing
    def fixed(text: String): Set[Long] = text.grouped(32).map(
      graft.expressions.CharFoldHash.hash).toSet
    val fixedSurvived =
      (fixed(base) intersect fixed(shifted)).size.toDouble / fixed(base).size
    assert(fixedSurvived < survived,
      "content-defined boundaries must beat fixed windows under insertion shift")
  }

  test("cdc native rolling hash is bit-equal to the from-scratch HOF formulation") {
    import org.apache.spark.sql.functions._
    graft.expressions.CdcExpressions.register(spark)
    graft.expressions.CharFoldHash.register(spark)
    val native = graft.Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(expr("cdc_chunks(text, 8, 32)")).as("c"))
      .select(col("doc_id"), col("c.fp"), col("c.len"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val hof = graft.Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 8)
      .withColumn("n", length(col("text")))
      .withColumn("ends", expr(
        "filter(sequence(8, n), i -> char_fold_hash(substring(text, i - 7, 8)) % 32 = 0)"))
      .withColumn("bounds", expr("array_distinct(concat(ends, array(n)))"))
      .withColumn("prevs", expr("concat(array(0), slice(bounds, 1, size(bounds) - 1))"))
      .select(col("doc_id"), col("text"),
        explode(arrays_zip(col("prevs"), col("bounds"))).as("p"))
      .select(col("doc_id"),
        expr("char_fold_hash(substring(text, p.prevs + 1, p.bounds - p.prevs))"),
        (col("p.bounds") - col("p.prevs")).cast("long"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(native == hof, "rolling-hash chunks diverge from the definition")
    assert(native.nonEmpty)
  }

  test("cdc gate output: every reported chunk really appears in >=2 docs") {
    val rows = DedupQueries.dedupCdcChunks(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nDocs, nOcc, len) =>
      assert(nDocs >= 2 && nOcc >= nDocs && len >= 1)
    }
  }

  test("incremental dedup routes all four dispositions on a planted batch") {
    import spark.implicits._
    // doc_id % 4 == 0 -> "new batch"; others are the standing index
    val run = "alpha beta gamma delta epsilon zeta eta theta " * 3
    val docs = Seq(
      (1L, "unique old content one two three four five six seven eight"),
      (2L, "the exact twin lives in the old corpus word word word word"),
      (3L, run + "old near neighbor"),                 // shares the run
      (4L, "the exact twin lives in the old corpus word word word word"), // exact_vs_index
      (8L, run + "new shifted variant"),               // near_vs_index
      (12L, "totally novel payload nine ten eleven twelve thirteen xy"),  // novel
      (16L, "intra batch twin payload a b c d e f g h i j k l m n o p"),
      (20L, "intra batch twin payload a b c d e f g h i j k l m n o p")   // new_vs_new
    ).map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.dir("graft_incdedup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.dedupIncremental(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got.getOrElse("exact_vs_index", 0L) == 1L, got.toString)
    assert(got.getOrElse("near_vs_index", 0L) >= 1L, got.toString)
    assert(got.getOrElse("new_vs_new", 0L) == 1L, got.toString)
    assert(got.getOrElse("novel", 0L) >= 1L, got.toString)
    assert(got.values.sum == 5L, s"5 new docs must each get one disposition: $got")
  }

  test("dedup_cluster components are consistent with the pair graph") {
    val pairs = DedupQueries.dedupNgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val rows = DedupQueries.dedupCluster(spark, sfDir)
      .select("doc_id", "cluster_id", "cluster_size").as[(Long, Long, Long)]
      .collect()
    assert(rows.nonEmpty, "expected dup clusters at sf0.001")
    val label = rows.map(r => r._1 -> r._2).toMap
    // every paired doc got a label, endpoints share a component, and the
    // representative is the component minimum (so sizes are >= 2)
    pairs.foreach { case (a, b) => assert(label(a) == label(b), s"$a/$b split") }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid rep not min")
      assert(members.forall(_._3 == members.length))
      assert(members.length >= 2)
    }
  }

  test("star-rounds CC collapses a planted diameter-heavy chain (adversarial graph)") {
    // A 61-node path 1-2-3-…-61: diameter 60, the worst case for
    // label propagation (O(diameter) rounds — beyond dedupCluster's
    // 20-round cap) and exactly what large-star/small-star is for
    // (O(log diameter)). Mixed with a star component and an isolated
    // pair to check components stay separate.
    val chain = (1L until 61L).map(i => (i, i + 1))
    val star = (101L to 110L).map(i => (100L, i))
    val pair = Seq((200L, 201L))
    val pairs = (chain ++ star ++ pair).toDF("doc_a", "doc_b")
    val labels = DedupQueries.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 61L).forall(labels(_) == 1L), "whole chain labeled by its minimum")
    assert((100L to 110L).forall(labels(_) == 100L))
    assert(labels(200L) == 200L && labels(201L) == 200L)
    assert(labels.size == 61 + 11 + 2, "every node labeled exactly once")
  }

  test("dedup_cluster under -Dgraft.dedup.cc=star matches the propagation default") {
    val base = DedupQueries.dedupCluster(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    System.setProperty("graft.dedup.cc", "star")
    try {
      val alt = DedupQueries.dedupCluster(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(alt == base, "both CC algorithms agree on the real pair graph")
    } finally System.clearProperty("graft.dedup.cc")
  }

  test("contamination fractions are well-formed over the benchmark split") {
    val rows = DedupQueries.dedupContamination(spark, sfDir)
      .select("doc_id", "n_sh", "n_seen", "frac_seen").collect()
    assert(rows.nonEmpty, "benchmark split (doc_id % 10 == 0) must be non-empty")
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 0, "only benchmark docs are scored")
      assert(r.getLong(2) <= r.getLong(1), "seen shingles bounded by total")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("minhash pairs are ordered and above threshold") {
    DedupQueries.dedupMinhashLsh(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("simhash pairs are within hamming 3") {
    val rows = DedupQueries.dedupSimhash(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 3)
    }
  }

  test("embedding cosine gate ranks candidates; none cross 0.95 on this data") {
    // The gate emits ranked banded candidates with an is_dup verdict —
    // non-empty on every SF (the vacuous-gate fix). The verdict column
    // must still be all-false here: synthetic embeddings max out near
    // cosine 0.6, well under the 0.95 dup threshold.
    val rows = DedupQueries.dedupEmbeddingCosine(spark, sfDir)
      .select("cos", "is_dup").as[(Double, Boolean)].collect()
    assert(rows.nonEmpty, "banding must surface candidate pairs")
    assert(rows.forall(!_._2), "no synthetic pair may cross 0.95")
    assert(rows.forall(_._1 < 0.95))
    // ranked: descending cosine within the returned top-k
    assert(rows.map(_._1).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("contamination screen FIRES on planted train/benchmark leakage") {
    // doc 10 (benchmark: %10==0) is a verbatim copy of train doc 11;
    // doc 20 (benchmark) shares nothing with the train split.
    graft.expressions.ShingleExpressions.register(spark)
    import org.apache.spark.sql.functions._
    val leaked = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      10L -> leaked,
      11L -> leaked,
      20L -> "one two three four five six seven eight",
      21L -> "red green blue cyan magenta yellow black white")
    val sh = docs.toDF("doc_id", "text")
      .select(col("doc_id"), explode(expr("word_shingle_set(text, 4)")).as("shingle"))
    val byId = DedupQueries.dedupContaminationCore(sh)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(byId(10L), s"copied benchmark doc must flag: $byId")
    assert(!byId(20L), s"clean benchmark doc must not flag: $byId")
    // the Bloom-prefiltered screen reaches the same verdicts on the
    // planted corpus (false positives die in the exact verify join)
    val bloomById = DedupQueries.dedupContaminationBloomCore(spark, sh)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(bloomById == byId, s"bloom screen must agree: $bloomById vs $byId")
  }

  test("bloom contamination screen is bit-equal to the exact screen on the corpus") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val exact = rows(DedupQueries.dedupContamination(spark, sfDir))
    val bloom = rows(DedupQueries.dedupContaminationBloom(spark, sfDir))
    assert(bloom == exact,
      "bloom prefilter + exact verify must not change a single row")
  }

  test("embedding cosine detector FIRES on planted near-duplicates") {
    // The driver data has no near-dup embeddings (the test above), so
    // prove the detector on planted ones: v1 ≈ v0 (cos ≈ 0.9997, well
    // above 0.95 — banding recall there is ~1-4e-6), v2 orthogonal-ish,
    // plus noise vectors. Exactly the (0,1) pair must fire.
    val dims = 16
    val base = Array.tabulate(dims)(i => math.sin(i + 1.0))
    val near = base.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.02 else 0.0) }
    val far = Array.tabulate(dims)(i => math.cos(3.0 * i) * (if (i % 2 == 0) 1 else -1))
    val noise = (3L to 12L).map(k =>
      k -> Array.tabulate(dims)(i => math.sin(k * 7.0 + i * 2.3)))
    val rows = Seq(0L -> base, 1L -> near, 2L -> far) ++ noise
    val byId = rows.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val e = spark.createDataFrame(rows.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "emb")
    val ranked = DedupQueries.dedupEmbeddingCosineCore(e)
      .select("vec_a", "vec_b", "is_dup").as[(Long, Long, Boolean)]
      .collect()
    val dups = ranked.collect { case (a, b, true) => (a, b) }.toSet
    // (3,12) is an accidental genuine near-dup among the noise vectors
    // (cos ~0.986) — containment, not equality, is the right assertion;
    // the verdict-agreement loop below rules out any false positive.
    assert(dups.contains((0L, 1L)), s"planted pair missed: $ranked")
    // exact verification: the is_dup verdict agrees with true cosine for
    // every ranked candidate (banding candidates re-checked exactly)
    ranked.foreach { case (a, b, dup) =>
      assert(dup == (cos(byId(a), byId(b)) >= 0.95),
        s"verdict mismatch on ($a,$b)")
    }
    // the planted pair outranks everything: highest cosine first
    assert(ranked.head._1 == 0L && ranked.head._2 == 1L,
      s"planted pair must rank first: ${ranked.head}")
  }

  test("substring dedup is exactly sound: every pair shares a verbatim 8-token run") {
    val pairs = DedupQueries.dedupSubstring(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty, "corpus carries near-dups; the screen must fire")
    pairs.foreach { case (a, b, n) => assert(a < b); assert(n >= 1) }
    val text = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def runs(t: String): Set[String] =
      t.trim.split(" +").filter(_.nonEmpty).sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    pairs.foreach { case (a, b, n) =>
      val shared = runs(text(a)) intersect runs(text(b))
      assert(shared.size == n,
        s"pair ($a,$b) reports $n shared runs, truth is ${shared.size}")
    }
    // completeness on a sample: any doc pair sharing a run must be reported
    val reported = pairs.map(p => (p._1, p._2)).toSet
    val ids = text.keys.toSeq.sorted.take(40)
    for (a <- ids; b <- ids if a < b) {
      val share = (runs(text(a)) intersect runs(text(b))).nonEmpty
      assert(share == reported.contains((a, b)),
        s"pair ($a,$b): truth=$share reported=${reported.contains((a, b))}")
    }
    // the self-join must be an equi-join on the folded int64 run key,
    // never an all-pairs product
    val plan = DedupQueries.dedupSubstring(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"substring dedup went all-pairs:\n$plan")
    assert(plan.contains("run_h"), plan)
  }

  test("lsh audit: counts reconcile, verify stage admits zero extras") {
    val Seq((nTrue, nFound, nMissed, nExtra, recallFp)) =
      DedupQueries.dedupLshAudit(spark, sfDir)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(nExtra == 0L, "exact-verify stage must never admit a false pair")
    assert(nTrue == nFound + nMissed, "found + missed must partition the truth")
    assert(recallFp == (nTrue - nMissed) * 1000000L / nTrue)
    assert(nTrue > 0L, "corpus carries planted near-dups at J >= 0.8")
    // k=16 r=2 b=8 banding at the planted J levels: recall far above half
    assert(recallFp >= 500000L, s"LSH recall collapsed: $recallFp ppm")
  }

  test("winnow dedup equals brute-force winnowing + df cap exactly") {
    val M = 1000000007L
    val (k, w) = (4, 4)
    def winnowFps(text: String): Set[Long] = {
      val toks = text.trim.split(" +").filter(_.nonEmpty)
      val m = toks.length - k + 1
      if (m < w) return Set.empty
      val gh = (0 until m).map { j =>
        (0 until k).foldLeft(0L)((h, t) =>
          (h * 31 + (toks(j + t).length.toLong * 17 + toks(j + t).codePointAt(0))) % M)
      }
      (0 to m - w).map { p => (p until p + w).minBy(q => (gh(q), q)) }.map(gh).toSet
    }
    val text = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val fps = text.map { case (id, t) => id -> winnowFps(t) }
    val df = fps.values.flatten.groupBy(identity).map { case (fp, g) => fp -> g.size }
    val kept = df.filter { case (_, n) => n >= 2 && n <= 10 }.keySet
    val ids = text.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = (fps(a) intersect fps(b)) intersect kept
      if shared.size >= 2
    } yield (a, b) -> shared.size.toLong).toMap
    val got = DedupQueries.dedupWinnow(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(got == expected, s"winnow screen drifted from brute force " +
      s"(got ${got.size} pairs, expected ${expected.size})")
    assert(got.nonEmpty, "corpus carries near-dups; the screen must fire")
    // banding join must stay an equi-join on fp, never all-pairs
    val plan = DedupQueries.dedupWinnow(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"winnow dedup went all-pairs:\n$plan")
  }

  test("dedup_novelty equals a brute-force first-carrier recompute") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val toks = t.trim.split(" +").filter(_.nonEmpty)
      toks.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }
    val first = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(_._1).foreach { case (id, t) =>
      grams(t).foreach(g => if (!first.contains(g)) first(g) = id)
    }
    val expected = docs.collect { case (id, t) if grams(t).nonEmpty =>
      val g = grams(t)
      val novel = g.count(first(_) == id).toLong
      id -> (g.size.toLong, novel)
    }.toMap
    val got = DedupQueries.dedupNovelty(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == expected.size, "one row per 5-gram-carrying doc")
    got.foreach { case (id, n, novel, ratio) =>
      assert((n, novel) == expected(id), s"doc $id drifted")
      assert(ratio == novel.toDouble / n.toDouble)
    }
    // planted near-dups mean SOME doc must be non-novel, and the
    // earliest carrier of any shared gram must be fully attributed
    assert(got.exists(_._4 < 1.0), "near-dup corpus must show non-novel docs")
    assert(got.exists(_._4 == 1.0), "some doc introduces all its content")
  }

  test("containment surfaces a planted quote-inclusion pair Jaccard misses") {
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val article = quote + " " + (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                                  // 12 tokens -> 9 4-grams
      (2L, article),                                // quote verbatim + 30 fillers
      (3L, "unrelated words that never overlap with anything else at all")
    ).map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.dir("graft_containment").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupQueries.dedupContainment(spark, dir)
      .as[(Long, Long, Long, Long, Double, Int)].collect()
    assert(rows.length == 1, s"exactly the planted pair: ${rows.toSeq}")
    val (inner, outer, nIn, nOut, c, miss) = rows.head
    assert(inner == 1L && outer == 2L, "smaller set is the inner role")
    assert(nIn == 9L && nOut == 39L, // 42-token article -> 42-3 distinct 4-grams
      s"shingle accounting drifted: $nIn/$nOut")
    assert(c == 1.0, "verbatim quote => full containment")
    // J = 9/42 ~ 0.21, far below the symmetric screen's 0.85
    assert(miss == 1, "this is exactly the pair dedup_ngram_jaccard misses")
    // and the symmetric screen really does miss it
    val sym = DedupQueries.dedupNgramJaccard(spark, dir).count()
    assert(sym == 0L, "planted pair must be invisible to symmetric Jaccard")
  }

  test("dedup_containment on the corpus: roles total, ratios exact, dups caught") {
    val rows = DedupQueries.dedupContainment(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty, "planted dups must produce containment hits")
    rows.foreach { case (inner, outer, nIn, nOut, c, miss) =>
      assert(inner != outer)
      assert(nIn <= nOut, s"role inversion: $inner/$outer")
      assert(c >= 0.9 && c <= 1.0, s"containment out of range: $c")
      assert(miss == 0 || miss == 1)
    }
    // C = shared/n_inner >= J always (n_inner <= union), so every
    // symmetric-Jaccard pair at J >= 0.9 MUST also be a containment hit
    val symHigh = DedupQueries.dedupNgramJaccard(spark, sfDir)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val hits = rows.map(r => (math.min(r._1, r._2), math.max(r._1, r._2))).toSet
    assert(symHigh.nonEmpty, "sf0.001 plants J>=0.9 near-dup pairs")
    symHigh.foreach { case (a, b) =>
      assert(hits.contains((math.min(a, b), math.max(a, b))),
        s"J>=0.9 pair ($a,$b) must be a containment hit")
    }
  }
}
