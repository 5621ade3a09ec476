package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Smoke + behavior checks for the text-analysis query surface. Value
  * correctness is enforced by the DuckDB oracle gate; here we assert the
  * queries run, the oracle map is complete, and the BPE merge chain
  * actually composes (multi-rule words collapse to single tokens).
  */
class TextQueriesSpec extends SparkSpecBase {
  import spark.implicits._

  /** The COMPUTATION must stay a pure per-row map: no keyed exchange
    * anywhere in the plan. A leading RoundRobinPartitioning exchange is
    * allowed — that is Tables.documents' input-parallelism spread
    * (optimization guide §2.6: the gate files arrive as one scan split,
    * so the per-row work would otherwise serialize on one core; the
    * spread vanishes once the input has native splits) — physical input
    * layout, not a shuffle introduced by the operator's logic. */
  private def assertMapOnly(plan: String, what: String): Unit =
    plan.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(l.contains("RoundRobinPartitioning"),
        s"$what must not shuffle by key:\n$l\n$plan")
    }

  for ((name, fn) <- TextQueries.queries) {
    test(s"$name runs and returns rows") {
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("oracle map covers every query") {
    assert(TextQueries.oracleSql.keySet == TextQueries.queries.keySet)
  }

  test("corpus_shuffle_shards: every doc placed once, positions dense from 0, order reproducible") {
    import spark.implicits._
    val rows = TextQueries.corpusShuffleShards(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs && rows.map(_._1).distinct.length == nDocs)
    rows.groupBy(_._2).values.foreach { shard =>
      // dense 0..n-1 positions, ordered by (sort_key, doc_id)
      val byPos = shard.sortBy(_._4)
      assert(byPos.map(_._4).toSeq == (0L until shard.length.toLong))
      assert(byPos.map(s => (s._3, s._1)).toSeq ==
        byPos.map(s => (s._3, s._1)).sortBy(identity).toSeq)
    }
    // zero RNG state: a second run yields the byte-identical order
    val again = TextQueries.corpusShuffleShards(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("txt_bm25 plan: query-side joins broadcast, no sort-merge join on the corpus") {
    val df = TextQueries.txtBm25(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"postings joins must broadcast the query side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never sort-merge against the query frame:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the stats cross join must broadcast:\n$plan")
  }

  test("txt_bm25: dense ranks, monotone scores, matches are real postings") {
    val rows = TextQueries.txtBm25(spark, sfDir)
      .select(col("query_id"), col("query"), col("doc_id"),
        col("n_terms_matched"), col("score_fp"), col("rank"))
      .as[(Int, String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == 5, "every query returns results")
    rows.groupBy(_._1).values.foreach { hits =>
      val byRank = hits.sortBy(_._6)
      // ranks dense from 1, scores non-increasing in rank order
      assert(byRank.map(_._6).toSeq == (1L to hits.length.toLong))
      assert(byRank.map(_._5).toSeq == byRank.map(_._5).sortBy(-_).toSeq)
      val qTerms = byRank.head._2.split(" ").toSet
      byRank.foreach { h =>
        assert(h._4 >= 1 && h._4 <= qTerms.size, "matched-term count in range")
      }
    }
    // matched counts are honest: re-derive one hit's term overlap from text
    val top = rows.filter(_._1 == 2).minBy(_._6) // "hash join column"
    val text = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === top._3).select(col("text")).as[String].head()
    val overlap = Set("hash", "join", "column")
      .count(text.split(" +").toSet.contains)
    assert(overlap.toLong == top._4, "n_terms_matched equals true overlap")
  }

  test("txt_bpe_train: learned merges equal a scalar greedy reference trainer") {
    // Reference BPE trainer (Sennrich et al.): count adjacent pairs over
    // the word-frequency table, argmax with the pinned (count desc, pair
    // asc) tie-break, apply greedily left-to-right without overlap.
    val words = graft.Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), " +")).as("word"))
      .filter(col("word") =!= "").groupBy("word").count()
      .as[(String, Long)].collect().toMap
    var syms: Map[String, (Vector[String], Long)] =
      words.map { case (w, c) => w -> (w.split("").toVector, c) }
    val expected = (1 to 4).map { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for ((_, (v, c)) <- syms; i <- 0 until v.length - 1)
        counts((v(i), v(i + 1))) += c
      val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      syms = syms.map { case (w, (v, wc)) =>
        val buf = Vector.newBuilder[String]; var i = 0
        while (i < v.length) {
          if (i < v.length - 1 && v(i) == l && v(i + 1) == r) {
            buf += (l + r); i += 2
          } else { buf += v(i); i += 1 }
        }
        w -> (buf.result(), wc)
      }
      (l, r, c)
    }
    val got = TextQueries.txtBpeTrain(spark, sfDir)
      .orderBy(col("round")).as[(Long, String, String, Long)].collect()
      .map(m => (m._2, m._3, m._4)).toSeq
    assert(got == expected, s"distributed trainer diverged: $got vs $expected")
    // merge counts can only shrink round over round (a new pair created
    // by a merge inherits at most the merged pair's count)
    val cs = got.map(_._3)
    assert(cs == cs.sortBy(-_), "pair counts non-increasing over rounds")
  }

  test("txt_bpe_train: a corpus that runs out of adjacent pairs ends training early") {
    def train(texts: String*): Seq[(Long, String, String, Long)] = {
      val dir = graft.Scratch.dir("graft_bpe").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try TextQueries.txtBpeTrain(spark, dir).orderBy(col("round"))
        .as[(Long, String, String, Long)].collect().toSeq
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    // one-character words: no pair exists, so no rule is learned
    assert(train("a b c a", "b b") == Seq.empty)
    // "ab" merges in round 1 and leaves every word a single symbol
    assert(train("ab ab x", "ab") == Seq((1L, "a", "b", 3L)))
  }

  test("corpus_curriculum: three contiguous easy-to-hard phases of ~equal token mass") {
    val rows = TextQueries.corpusCurriculum(spark, sfDir)
      .orderBy(col("phase"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L), "phases dense 0..2")
    // difficulty ranges are disjoint and increasing: phase boundaries sit
    // on score-group boundaries, so max(k) < min(k+1)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._6 < b._5, s"phase ${a._1} [${a._5},${a._6}] overlaps ${b._1} [${b._5},${b._6}]")
    }
    // ~equal token mass: each phase within [1/6, 1/2] of the total (the
    // group-boundary rule can shift mass, but never collapse a phase)
    val total = rows.map(_._4).sum
    rows.foreach { r =>
      assert(r._4 * 6 >= total && r._4 * 2 <= total,
        s"phase ${r._1} mass ${r._4} of $total out of band")
    }
  }

  test("bpe merge chain composes: multi-rule words collapse to one token") {
    val toks = TextQueries.txtBpeVocab(spark, sfDir)
      .select(col("token")).collect().map(_.getString(0)).toSet
    // "scan" needs s c + a n + sc an; "window" needs w in + d ow + win dow;
    // "batch" needs b a + t c + ba tc + batc h — each lands only if the
    // rules applied in priority order, globally, per word.
    for (t <- Seq("scan", "window", "batch", "the"))
      assert(toks.contains(t), s"expected merged token '$t' in vocab: $toks")
    // Unmerged residue must still be single characters / learned pairs,
    // never a raw space-joined word (the splitter ran).
    assert(!toks.exists(_.contains(" ")))
  }

  test("bpe vocab shuffles only vocabulary-sized data (partial agg present)") {
    val plan = TextQueries.txtBpeVocab(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
  }

  test("boilerplate scrub: ledger arithmetic holds, canonical carriers keep their segments") {
    import spark.implicits._
    val rows = TextQueries.txtBoilerplateScrub(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (doc, before, after, removed) =>
      assert(after + removed * 8 == before,
        s"doc $doc: $after + $removed*8 != $before")
      assert(after >= 0 && removed >= 0)
    }
    assert(rows.exists(_._4 > 0), "detection fires on this corpus — scrub must too")
    // every canonical carrier from detection loses nothing to ITS OWN
    // canonical segments: a doc that is first_doc for all its shared
    // segments and shares no one else's has removed == 0
    val firstDocs = TextQueries.txtDupSegments(spark, sfDir)
      .select("first_doc").as[Long].collect().toSet
    val removedByDoc = rows.map(r => r._1 -> r._4).toMap
    // total segments removed equals detection's occurrence surplus:
    // sum over shared segments of (occurrences outside the carrier)
    val det = TextQueries.txtDupSegments(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    // (seg_h, n_docs, n_occurrences, first_doc): carrier keeps ALL its
    // occurrences, so removed total = total occ - occ held by carrier.
    // We can't see per-doc occurrence counts here, but removed total
    // must be bounded by (n_occurrences - 1) summed — equality when
    // carriers hold exactly one occurrence each.
    val removedTotal = rows.map(_._4).sum
    val upper = det.map(_._3 - 1).sum
    assert(removedTotal <= upper && removedTotal > 0,
      s"removed $removedTotal not in (0, $upper]")
    assert(firstDocs.forall(removedByDoc.contains),
      "every canonical carrier is long enough to appear in the ledger")
  }

  test("repetition fractions are in [0,1] and cover every document") {
    val rows = TextQueries.txtRepetition(spark, sfDir)
      .select(col("doc_id"), col("top_bigram_frac"), col("dup_trigram_frac"))
      .collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (tb, dt) = (r.getDouble(1), r.getDouble(2))
      assert(tb >= 0.0 && tb <= 1.0, s"top_bigram_frac $tb")
      assert(dt >= 0.0 && dt <= 1.0, s"dup_trigram_frac $dt")
    }
  }

  test("tfidf returns at most 3 terms per doc, rank-ordered by score") {
    val rows = TextQueries.txtTfidf(spark, sfDir)
      .select(col("doc_id"), col("tfidf"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.length <= 3)
      val byRank = g.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1L to g.length).toSeq)
      assert(byRank.map(_._2).sliding(2).forall {
        case Array(a, b) => a >= b
        case _ => true
      }, "tfidf must be non-increasing in rank")
    }
  }

  test("tfidf broadcasts the vocabulary-sized DF table (no corpus shuffle for the join)") {
    val plan = TextQueries.txtTfidf(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("kfold split covers the corpus with balanced, deterministic folds") {
    val folds = TextQueries.splitKfold(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(folds.keySet == Set(0, 1, 2, 3, 4), "every fold populated")
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(folds.values.sum == total, "every document in exactly one fold")
    // a salted hash split is exchangeable: no fold dominates
    assert(folds.values.max < total / 2, s"folds badly skewed: $folds")
  }

  test("hash features form a bounded sparse TF vector per document") {
    val rows = TextQueries.txtHashFeatures(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, bucket, tf) =>
      assert(bucket >= 0 && bucket < 64, s"bucket out of range: $bucket")
      assert(tf >= 1)
    }
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length,
      "one row per (doc, bucket)")
    // tf mass equals the corpus token count: the hashing trick loses
    // no tokens, it only buckets them
    val tokenTotal = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(rows.map(_._3).sum == tokenTotal)
  }

  test("stratified split partitions the corpus deterministically") {
    val rows = TextQueries.splitStratified(spark, sfDir)
      .select(col("split"), col("n_docs")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_._2).sum == nDocs, "splits must partition the corpus")
    assert(rows.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    val train = rows.filter(_._1 == "train").map(_._2).sum
    assert(train > nDocs / 2, s"train split $train of $nDocs suspiciously small")
    // deterministic: a second evaluation yields the identical histogram
    val again = TextQueries.splitStratified(spark, sfDir)
      .select(col("split"), col("n_docs")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
  }

  test("cluster routing keeps a near-dup pair together where doc-hash routing splits it") {
    graft.expressions.CharFoldHash.register(spark)
    // find two ids whose INDEPENDENT 'cs'-salted buckets land in different
    // splits: per-doc hash routing would put this dup pair on both sides
    // of the boundary (evaluation leakage); cluster routing must not.
    val buckets = spark.range(1, 80)
      .selectExpr("id", "char_fold_hash(CONCAT('cs', CAST(id AS STRING))) % 100 AS b")
      .as[(Long, Long)].collect()
    def sp(b: Long) = if (b < 80) "train" else if (b < 90) "val" else "test"
    val Some(((a, _), (c, _))) = (for {
      x <- buckets; y <- buckets if x._1 < y._1 && sp(x._2) != sp(y._2)
    } yield (x, y)).headOption
    val dupText = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (a, dupText), (c, dupText), // exact dup pair straddling the doc-hash split
      (77L, "completely different filler content here keeps the corpus honest"),
      (78L, "another singleton document with its own unique run of words")
    ).map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.dir("graft_clsplit").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.splitClusterHash(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._2).sum == 4L, "splits must partition the corpus")
    assert(rows.map(_._3).sum == 2L, "exactly the dup pair is clustered")
    assert(rows.map(_._6).sum == 1L, "the one dup pair must be intra-split")
    assert(rows.map(_._7).sum == 0L,
      "cluster routing must yield ZERO straddling pairs — doc-hash routing " +
        s"would have split ($a,$c)")
    // the clustered docs collapse to one route key in whichever split won
    val clustered = rows.filter(_._3 > 0)
    assert(clustered.length == 1 && clustered.head._3 == 2L,
      s"pair must land whole in one split: ${rows.toSeq}")
  }

  test("split_cluster_hash partitions the corpus with zero leakage at sf0.001") {
    val rows = TextQueries.splitClusterHash(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_._2).sum == nDocs, "splits must partition the corpus")
    assert(rows.forall(_._7 == 0L), s"no straddling pairs ever: ${rows.toSeq}")
    val nPairs = DedupQueries.dedupNgramJaccard(spark, sfDir).count()
    assert(rows.map(_._6).sum == nPairs,
      "every dup pair must be accounted intra-split")
    assert(rows.map(_._3).sum > 0, "planted dups must show as clustered docs")
  }

  test("sequence packing conserves tokens and chunks each shard contiguously") {
    val rows = TextQueries.corpusPackSequences(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))) // shard, seq, n_docs, tokens, first, last
    val tokenTotal = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(rows.map(_._4).sum == tokenTotal, "packing must conserve every token")
    rows.groupBy(_._1).values.foreach { shard =>
      val seqs = shard.sortBy(_._2)
      // seq ids are the contiguous chunk numbers of the shard's stream
      assert(seqs.map(_._2).toSeq == (0L until seqs.length).toSeq,
        s"seq ids not contiguous: ${seqs.map(_._2).mkString(",")}")
      // concat order: doc ranges of consecutive sequences never overlap
      seqs.sliding(2).foreach {
        case Array(a, b) => assert(a._6 < b._5,
          s"doc ranges overlap across sequences: $a then $b")
        case _ =>
      }
    }
  }

  test("corpus mix up/down-samples deterministically with zero shuffles") {
    val df = TextQueries.corpusMix(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDoc = rows.groupBy(_._1)
    // copy indices are dense 0..n-1 per doc
    byDoc.values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (0 until g.length).toSeq)
    }
    val perSource = rows.groupBy(_._2)
    assert(!perSource.contains("src3"), "weight-0 source must vanish")
    // src0 at 2.25x: every doc 2 or 3 copies; src4 at 0.5x: at most 1
    perSource("src0").groupBy(_._1).values.foreach(g => assert(g.length == 2 || g.length == 3))
    perSource("src4").groupBy(_._1).values.foreach(g => assert(g.length == 1))
    assert(perSource("src4").map(_._1).distinct.length < 25, "0.5x must drop some docs")
    // unlisted sources pass through exactly once
    perSource("src9").groupBy(_._1).values.foreach(g => assert(g.length == 1))
    assert(perSource("src9").map(_._1).distinct.length == 25)
    // map-side expansion: broadcast weight join + explode — the corpus
    // is never shuffled (broadcast exchange of the weight table is fine)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      s"corpus_mix must not shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // determinism
    assert(df.collect().map(r => (r.getLong(0), r.getInt(2))).sorted.toSeq ==
      rows.map(r => (r._1, r._3)).sorted.toSeq)
  }

  test("pii scrub redacts every class occurrence and is idempotent") {
    val df = TextQueries.txtPiiScrub(spark, sfDir)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.map(_._4).sum > 0, "gazetteer class must fire on this corpus")
    val namePat = "\\b(customer|supplier)\\b".r
    rows.foreach { case (_, _, _, nName, scrubbed) =>
      // no residual matches of any class survive the cascade
      assert(namePat.findFirstIn(scrubbed).isEmpty, s"unredacted name in: $scrubbed")
      assert(!scrubbed.contains("@"))
      // count on the original equals redaction markers inserted
      assert(Iterator.iterate(scrubbed.indexOf("[NAME]"))(i =>
        scrubbed.indexOf("[NAME]", i + 1)).takeWhile(_ >= 0).size == nName)
    }
    // idempotent: scrubbing scrubbed output changes nothing
    import spark.implicits._
    val again = TextQueries.txtPiiScrub(spark, sfDir)
      .select(col("doc_id"), col("scrubbed").as("text"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\b(customer|supplier)\\b")).as("n"))
      .filter(col("n") > 0).count()
    assert(again == 0L, "scrub must be idempotent")
    // single-scan map: no exchange of any kind
    val plan = df.queryExecution.executedPlan.toString
    assertMapOnly(plan, "pii scrub")
  }

  test("corpus funnel telescopes: stage n_in chains and totals reconcile") {
    val rows = TextQueries.corpusFunnel(spark, sfDir)
      .orderBy(col("stage_order"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).toSeq ==
      Seq("blocked_source", "too_short", "low_quality", "repetitive", "near_dup"))
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.head._3 == total, "stage 1 must see the whole corpus")
    rows.foreach { case (_, _, nIn, nDrop, nKept) =>
      assert(nDrop >= 0 && nKept == nIn - nDrop)
    }
    rows.sliding(2).foreach {
      case Array(prev, next) =>
        assert(next._3 == prev._5, s"funnel breaks between $prev and $next")
      case _ =>
    }
    assert(rows.map(_._4).sum > 0, "the cascade must drop something on this corpus")
    assert(rows.last._5 > 0, "the cascade must keep something on this corpus")
  }

  test("pii scrub FIRES on planted emails and IPs (classes the corpus lacks)") {
    import spark.implicits._
    val planted = Seq(
      (1L, "contact alice.smith+spam@example-mail.co.uk for the report"),
      (2L, "server at 10.0.255.3 and backup at 192.168.1.17 went down"),
      (3L, "customer bob@corp.io pinged from 127.0.0.1 twice: bob@corp.io"),
      (4L, "no sensitive content here at all"),
      (5L, "almost-an-ip 1.2.3 and almost@an email @ bare.at")
    ).toDF("doc_id", "text")
    val out = TextQueries.txtPiiScrubCore(planted)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((1L, 0L, 0L,
      "contact [EMAIL] for the report")))
    assert(out(2L) == ((0L, 2L, 0L,
      "server at [IP] and backup at [IP] went down")))
    assert(out(3L)._1 == 2L && out(3L)._2 == 1L && out(3L)._3 == 1L)
    assert(out(3L)._4 == "[NAME] [EMAIL] pinged from [IP] twice: [EMAIL]")
    assert(out(4L) == ((0L, 0L, 0L, "no sensitive content here at all")))
    // near-misses must NOT match: 3-octet ip, user-less at, bare domain
    assert(out(5L)._2 == 0L, "1.2.3 is not an IPv4")
    assert(out(5L)._1 == 0L, s"no valid email in doc 5: ${out(5L)._4}")
  }

  test("corpus sample keeps exactly the k smallest hashes per stratum, no sort") {
    val df = TextQueries.corpusSample(spark, sfDir)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bySrc = rows.groupBy(_._1)
    val nSources = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source").distinct().count()
    assert(bySrc.size == nSources, "every stratum must be sampled")
    bySrc.values.foreach { g =>
      assert(g.length <= 5)
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to g.length), "ranks not dense")
      assert(sorted.map(_._3).sliding(2).forall {
        case Array(a, b) => a <= b
        case _ => true
      }, "hash must ascend with rank")
    }
    // bounded aggregate, not a per-stratum sort funnel
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"sample plans a Window:\n$plan")
    assert(!plan.contains("Sort "), s"sample plans a Sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("HashAggregate"), plan)
    // determinism across runs
    assert(TextQueries.corpusSample(spark, sfDir).collect().map(_.toSeq).toSet ==
      df.collect().map(_.toSeq).toSet)
  }

  test("corpus_chunk: chunks tile every document exactly") {
    import spark.implicits._
    val chunks = TextQueries.corpusChunk(spark, sfDir)
      .select("doc_id", "chunk_id", "start_tok", "n_tok")
      .as[(Long, Long, Long, Long)].collect()
    val nTokens = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), " +"), t => t =!= "")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == nTokens.keySet, "every document is chunked")
    byDoc.foreach { case (doc, g) =>
      val n = nTokens(doc)
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until g.length).toSeq, "chunk ids dense")
      // strides are fixed, the first chunk starts at token 1, and the
      // last chunk reaches exactly the end of the document — no token
      // is dropped and no chunk dangles past the end
      sorted.foreach { case (_, cid, start, len) =>
        assert(start == cid * 48 + 1)
        assert(len == math.min(64L, n - start + 1), s"doc $doc chunk $cid len $len")
      }
      assert(sorted.last._3 + sorted.last._4 - 1 == n, s"doc $doc not tiled to the end")
      // every non-final chunk is full-width
      sorted.init.foreach { case (_, cid, _, len) => assert(len == 64L, s"doc $doc chunk $cid short") }
    }
  }

  test("corpus_chunk reconstructs the document from stride prefixes") {
    // concatenating each chunk's first 48 tokens (all of the last chunk)
    // must reproduce the original token stream — the no-loss/no-dup
    // property retrieval chunking relies on
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val byDoc = TextQueries.corpusChunk(spark, sfDir)
      .select("doc_id", "chunk_id", "chunk_text")
      .as[(Long, Long, String)].collect().groupBy(_._1)
    for ((doc, g) <- byDoc.take(50)) {
      val chunks = g.sortBy(_._2).map(_._3.split(" ").toSeq)
      val rebuilt = (chunks.init.map(_.take(48)).flatten ++ chunks.last).toSeq
      val orig = docs(doc).trim.split(" +").filter(_.nonEmpty).toSeq
      assert(rebuilt == orig, s"doc $doc does not reconstruct")
    }
  }

  test("txt_colloc: reported lifts match brute-force bigram statistics") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).as[String].collect()
      .map(_.trim.split(" +").filter(_.nonEmpty).toSeq)
    val uni = texts.flatten.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val bi = texts.filter(_.length >= 2)
      .flatMap(t => t.zip(t.tail)).groupBy(identity)
      .map { case (p, g) => p -> g.size.toLong }
    val n = BigInt(uni.values.sum); val b = BigInt(bi.values.sum)
    def lift(x: String, y: String): Long =
      (BigInt(bi((x, y))) * n * n * 1000000L / (b * BigInt(uni(x)) * BigInt(uni(y)))).toLong
    val rows = TextQueries.txtColloc(spark, sfDir)
      .as[(String, String, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (x, y, cxy, fp) =>
      assert(cxy == bi((x, y)), s"support mismatch for ($x,$y)")
      assert(cxy >= 5)
      assert(fp == lift(x, y), s"lift mismatch for ($x,$y)")
    }
    // rows arrive rank-ordered; the cut is the global top-20 by lift
    val fps = rows.map(_._4)
    assert(fps.sameElements(fps.sorted(Ordering[Long].reverse)))
    val allLifts = bi.keys.filter(p => bi(p) >= 5).map { case (x, y) => lift(x, y) }
    assert(fps.min >= allLifts.toSeq.sorted(Ordering[Long].reverse).take(20).min)
  }

  test("txt_diversity: metrics bounded and consistent with type counts") {
    import spark.implicits._
    val rows = TextQueries.txtDiversity(spark, sfDir)
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (doc, n, types, ttr, simpson, eff) =>
      assert(types <= n, s"doc $doc: more types than tokens")
      if (n > 0) {
        assert(ttr.get > 0 && ttr.get <= 1.0)
        // Simpson is at least 1/types (uniform) and at most 1 (degenerate);
        // fixed-point flooring can undershoot by at most types ulps
        assert(simpson.get <= 1.0 + 1e-9, s"doc $doc simpson ${simpson.get}")
        assert(simpson.get >= 1.0 / types - 1e-9, s"doc $doc simpson below uniform floor")
        // effective vocabulary never exceeds observed richness
        assert(eff.get <= types + 1e-6, s"doc $doc eff_vocab ${eff.get} > $types")
        assert(eff.get >= 1.0 - 1e-9)
      }
    }
  }

  test("corpus_report: per-source rows reconcile with raw recounts") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select("source", "lang", "text").as[(String, String, String)].collect()
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val toks = g.map(_._3.trim.split(" +").count(_.nonEmpty).toLong)
      (src, g.length.toLong, toks.sum, toks.sum * 100 / g.length,
        g.map(_._2).distinct.length.toLong,
        toks.count(_ < 32).toLong * 1000 / g.length)
    }.toSet
    val got = TextQueries.corpusReport(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "report drifted from raw recounts")
    assert(got.nonEmpty)
  }

  test("txt_drift_chi2: top tokens match a BigInt brute-force recompute") {
    import spark.implicits._
    def foldHash(s: String): Long = s.foldLeft(0L)((h, c) => (h * 131 + c) % 1000000007L)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val counts = scala.collection.mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    docs.foreach { case (id, text) =>
      val bkt = foldHash(id.toString) % 100
      if (bkt < 80 || bkt >= 90) {
        val isTr = bkt < 80
        text.trim.split(" +").filter(_.nonEmpty).foreach { t =>
          val (a, b) = counts(t)
          counts(t) = if (isTr) (a + 1, b) else (a, b + 1)
        }
      }
    }
    val nTr = counts.values.map(_._1).sum
    val nTe = counts.values.map(_._2).sum
    val expected = counts.toSeq.map { case (tok, (oTr, oTe)) =>
      val dd = BigInt(oTr) * nTe - BigInt(oTe) * nTr
      val chi2 = dd * dd * 1000000L / (BigInt(oTr + oTe) * nTr * nTe)
      (tok, oTr, oTe, chi2.toLong)
    }.sortBy { case (tok, _, _, c) => (-c, tok) }.take(20)
    val got = TextQueries.txtDriftChi2(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"drift ranking drifted:\ngot $got\nexp $expected")
    assert(got.head._4 > 0L, "corpus splits differ somewhere; top chi2 must be positive")
  }

  test("txt_readability: FORCAST components match a brute-force recompute") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val vowelRun = "[aeiouy]+".r
    val expected = docs.map { case (id, text) =>
      val toks = text.trim.split(" +").filter(_.nonEmpty)
      val sylls = toks.map(t => vowelRun.findAllIn(t).size.toLong)
      val mono = sylls.count(_ == 1L).toLong
      val grade = 20000L - (15000L * mono) / math.max(toks.length.toLong, 1L)
      id -> ((toks.length.toLong, sylls.sum, mono, grade))
    }.toMap
    val got = TextQueries.txtReadability(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, n, s, m, g) => id -> ((n, s, m, g)) }.toMap
    assert(got == expected, "readability components drifted from brute force")
    // sanity: monosyllabic corpus words pull the grade below the 20.0 cap
    assert(got.values.exists(_._4 < 20000L))
    // zero-shuffle plan: per-row map only
    val plan = TextQueries.txtReadability(spark, sfDir)
      .queryExecution.executedPlan.toString
    assertMapOnly(plan, "readability")
  }

  test("txt_winnowing: matches brute-force winnow and guarantees run coverage") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val M = 1000000007L
    val (k, w) = (4, 4)
    def bruteWinnow(text: String): Set[(Long, Int)] = {
      val toks = text.trim.split(" +").filter(_.nonEmpty)
      val m = toks.length - k + 1
      if (m < w) return Set.empty
      val gh = (0 until m).map { j =>
        (0 until k).foldLeft(0L)((h, t) =>
          (h * 31 + (toks(j + t).length.toLong * 17 + toks(j + t).codePointAt(0))) % M)
      }
      (0 to m - w).map { p =>
        val best = (p until p + w).minBy(q => (gh(q), q))
        (gh(best), best)
      }.toSet
    }
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val got = TextQueries.txtWinnowing(spark, sfDir)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (d, g) => d -> g.map(r => (r._2, r._3)).toSet }
      .withDefaultValue(Set.empty[(Long, Int)])
    docs.foreach { case (id, text) =>
      assert(got(id) == bruteWinnow(text), s"winnow mismatch on doc $id")
    }
    // density: winnowing selects ~2/(w+1) of gram positions, never more
    // than one fp per window; check the bound on the largest doc
    val (bigId, bigText) = docs.maxBy(_._2.length)
    val m = bigText.trim.split(" +").count(_.nonEmpty) - k + 1
    assert(got(bigId).size <= m - w + 1)
    // plan: native expression + explode only — no exchange anywhere
    val plan = TextQueries.txtWinnowing(spark, sfDir)
      .queryExecution.executedPlan.toString
    assertMapOnly(plan, "winnowing")
  }

  test("txt_surprisal equals a brute-force bit-count recompute") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val bigrams = docs.flatMap { case (id, t) =>
      val toks = t.trim.split(" +").filter(_.nonEmpty)
      toks.zip(toks.drop(1)).map { case (a, b) => (id, a, b) }
    }
    val c2 = bigrams.groupBy(r => (r._2, r._3)).view.mapValues(_.length.toLong)
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong)
    def bits(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)
    val expected = bigrams.groupBy(_._1).map { case (id, g) =>
      val tot = g.map(r => bits(c1(r._2)) - bits(c2((r._2, r._3)))).sum
      (id, g.length.toLong, tot, tot * 1000 / g.length)
    }.toSet
    val got = TextQueries.txtSurprisal(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "surprisal bits drifted from the integer recompute")
    assert(got.exists(_._3 > 0), "some document must carry nonzero surprisal")
  }

  test("txt_ppl_buckets: exact tertiles per source, ordered score boundaries") {
    import spark.implicits._
    val rows = TextQueries.queries("txt_ppl_buckets")(spark, sfDir)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // per-source doc totals must equal the scored-doc count (docs with
    // at least one bigram), and bucket sizes follow the floor rule
    val scored = TextQueries.txtSurprisal(spark, sfDir).select("doc_id")
      .join(graft.Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    rows.groupBy(_._1).foreach { case (src, bs) =>
      val byBucket = bs.map(b => b._2 -> b._3).toMap
      val n = byBucket.values.sum
      assert(n == scored(src), s"$src: buckets must partition the scored docs")
      assert(byBucket.getOrElse("head", 0L) == n / 3, s"$src head size")
      assert(byBucket.getOrElse("head", 0L) + byBucket.getOrElse("middle", 0L)
        == 2 * n / 3, s"$src head+middle size")
      // rank order by score implies non-overlapping boundary windows
      for (lowHigh <- Seq(("head", "middle"), ("middle", "tail"))) {
        val lo = bs.find(_._2 == lowHigh._1).map(_._6)
        val hi = bs.find(_._2 == lowHigh._2).map(_._5)
        for (a <- lo; b <- hi)
          assert(a <= b, s"$src: ${lowHigh._1}.hi ($a) > ${lowHigh._2}.lo ($b)")
      }
    }
  }

  test("corpus_token_budget: allocations are exact largest-remainder shares") {
    import spark.implicits._
    val rows = TextQueries.corpusTokenBudget(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._3).sum == 1000000L,
      "allocations must sum to the budget EXACTLY")
    // every allocation is the floor share or floor+1 (quota property)
    val total = rows.map(r => BigInt(r._2)).sum
    rows.foreach { case (src, toks, alloc) =>
      val base = (BigInt(1000000) * toks / total).toLong
      assert(alloc == base || alloc == base + 1,
        s"$src: alloc $alloc outside [$base, ${base + 1}]")
    }
    // proportionality: more tokens never means a smaller allocation
    rows.sortBy(_._2).map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(a <= b + 1) // +1: remainder unit may flip
      case _ =>
    }
  }

  test("corpus_dedup_impact reconciles with cluster labels and token counts") {
    import spark.implicits._
    val (nDocs, toksTotal, nDropped, toksDropped, pm) =
      TextQueries.corpusDedupImpact(spark, sfDir)
        .as[(Long, Long, Long, Long, Long)].collect().head
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val tokOf = docs.map { case (id, t) =>
      id -> t.trim.split(" +").count(_.nonEmpty).toLong
    }.toMap
    val droppedIds = graft.operators.DedupQueries.dedupCluster(spark, sfDir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .collect { case (d, c) if d != c => d }.toSet
    assert(nDocs == docs.length && toksTotal == tokOf.values.sum)
    assert(nDropped == droppedIds.size && nDropped > 0)
    assert(toksDropped == droppedIds.toSeq.map(tokOf).sum)
    assert(pm == toksDropped * 1000 / toksTotal)
  }

  test("corpus_dedup_priority keeps the best-quality member of every cluster") {
    import spark.implicits._
    val labels = graft.operators.DedupQueries.dedupCluster(spark, sfDir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).map { case (c, g) => c -> g.map(_._1).toSet }
    val quality = TextQueries.txtQuality(spark, sfDir)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val got = TextQueries.corpusDedupPriority(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSet == labels.keySet, "one row per cluster")
    got.foreach { case (cid, kept, nDocs, nDropped, keptQ) =>
      val members = labels(cid)
      assert(members.contains(kept) && nDocs == members.size &&
        nDropped == nDocs - 1)
      val best = members.maxBy(m => (quality(m), -m))
      assert(kept == best && keptQ == quality(kept),
        s"cluster $cid kept $kept, expected $best")
    }
    assert(got.nonEmpty, "planted near-dups must yield clusters")
  }

  test("corpus_refresh statuses partition the merged snapshot exactly") {
    import spark.implicits._
    val got = TextQueries.corpusRefresh(spark, sfDir)
      .as[(String, String, Long, Long)].collect()
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").as[Long].collect().toSet
    val old = ids.filter(_ % 4 != 0)
    val nw = ids.filter(_ % 2 == 0)
    val byStatus = got.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
    assert(byStatus("carried") == (old -- nw).size)
    assert(byStatus("refreshed") == (old intersect nw).size)
    assert(byStatus("discovered") == (nw -- old).size)
    assert(byStatus.values.sum == (old union nw).size,
      "merged corpus must be exactly the union, counted once")
  }

  test("txt_dup_segments equals a brute-force segment recompute; planted dups fire") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val P = graft.functions.HashFunctions.P
    def fold(s: String): Long =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foldLeft(0L)((h, b) => (h * 131 + (b & 0xff)) % P)
    val segs = docs.flatMap { case (id, t) =>
      val ts = t.trim.split(" +").filter(_.nonEmpty)
      ts.grouped(8).filter(_.length == 8).map(g => (id, fold(g.mkString(" "))))
    }
    val expected = segs.groupBy(_._2).collect {
      case (h, g) if g.map(_._1).distinct.length >= 2 =>
        (h, g.map(_._1).distinct.length.toLong, g.length.toLong, g.map(_._1).min)
    }.toSet
    val got = TextQueries.txtDupSegments(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected, s"segment groups drifted (got ${got.size}, exp ${expected.size})")
    assert(got.nonEmpty, "planted near-dup docs share 8-token segments; the screen must fire")
  }

  test("txt_freq_spectrum buckets partition the vocabulary exactly") {
    import spark.implicits._
    val got = TextQueries.txtFreqSpectrum(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").as[String].collect()
      .flatMap(_.trim.split(" +").filter(_.nonEmpty))
    val vocab = words.groupBy(identity).map { case (_, g) => g.length.toLong }
    assert(got.map(_._2).sum == vocab.size, "bucket word counts must partition the vocab")
    assert(got.map(_._3).sum == words.length, "bucket occurrences must partition the tokens")
    got.foreach { case (b, _, _) =>
      assert(b >= 0 && b < 64)
    }
    val expected = vocab.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, g) => (b.toLong, g.size.toLong, g.sum) }.toSet
    assert(got.toSet == expected, "floor(log2) buckets must match the 63-nlz identity")
  }

  test("corpus_filter_overlap reconciles with the sequential funnel") {
    import spark.implicits._
    val overlap = TextQueries.corpusFilterOverlap(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(overlap.nonEmpty)
    overlap.foreach { case (mask, b, sh, lq, rp, dp, n, _, _) =>
      assert(mask == b + 2 * sh + 4 * lq + 8 * rp + 16 * dp, s"mask $mask flags drifted")
      assert(n >= 1)
    }
    val totalDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(overlap.map(_._7).sum == totalDocs, "masks must partition the corpus")
    // funnel cross-check: clean docs (mask 0) == the funnel's final kept
    // count, and each funnel stage's drop count equals the overlap docs
    // whose LOWEST set bit is that stage (first-failure attribution)
    val funnel = TextQueries.corpusFunnel(spark, sfDir)
      .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1)
    val kept = funnel.last._5
    assert(overlap.filter(_._1 == 0L).map(_._7).sum == kept,
      "mask-0 docs must equal the funnel's kept count")
    funnel.zipWithIndex.foreach { case ((_, stage, _, dropped, _), i) =>
      val lowbit = 1L << i
      val got = overlap.filter(r => r._1 != 0 && (r._1 & (lowbit * 2 - 1)) == lowbit)
        .map(_._7).sum
      assert(got == dropped, s"stage $stage: first-failure mass $got != funnel $dropped")
    }
  }

  test("txt_cms_heavy: sketch estimates dominate exact counts and find the top word") {
    import spark.implicits._
    val got = TextQueries.txtCmsHeavy(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == 20, s"expected the exact top-20 audit, got ${got.length}")
    got.foreach { case (w, exact, est, over) =>
      assert(est >= exact, s"CMS may only OVERestimate: $w est=$est exact=$exact")
      assert(over == est - exact, s"overcount must be est - exact for $w")
    }
    // the exact counts in the audit must be the true top-20 frequencies
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").as[String].collect()
      .flatMap(_.trim.split(" +").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val trueTop = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(20)
    assert(got.map(g => g._1 -> g._2).toMap == trueTop.toMap,
      "audited words/counts must be the exact top-20")
    // with 4 rows x 1024 cells over a small corpus, the min-row estimate
    // of the heaviest word should be exact or near-exact — a collision
    // in ALL 4 rows for the top word would indicate broken bucket math
    val (_, topExact, topEst, _) = got.maxBy(_._2)
    assert(topEst - topExact <= counts.values.sum / 100,
      "top word estimate drifted more than 1% of the token mass")
  }

  test("corpus_quota: exclusive-prefix quota fill equals a brute-force recompute") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "doc_id", "n_chars", "text")
      .as[(String, Long, Long, String)].collect()
    def toks(t: String): Long = t.trim.split(" +").count(_.nonEmpty).toLong
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val ranked = g.sortBy(r => (-r._3, r._2)) // n_chars DESC, doc_id ASC
      var cum = 0L; var kept = 0L; var keptToks = 0L; var lastKept = 0L
      ranked.foreach { r =>
        val n = toks(r._4)
        if (cum < 800L) { kept += 1; keptToks += n; lastKept = n }
        cum += n
      }
      // the exclusive-prefix contract, provable from the fill loop:
      // every source keeps >= 1 doc and overshoots by < one straggler
      assert(kept >= 1 && keptToks - lastKept < 800L, s"fill rule broken for $src")
      src -> (g.length.toLong, kept, keptToks, ranked.map(r => toks(r._4)).sum)
    }
    val got = TextQueries.corpusQuota(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == expected.size)
    got.foreach { case (src, nd, nk, kt, tt) =>
      assert((nd, nk, kt, tt) == expected(src), s"source $src drifted")
    }
  }

  test("quality model logit matches a driver-side scalar recompute") {
    import spark.implicits._
    val P = graft.functions.HashFunctions.P
    def logitOf(text: String): Long =
      text.trim.split(" +").filter(_.nonEmpty).map { tok =>
        val h = tok.foldLeft(0L)((a, c) => (a * 131L + c.toLong) % P)
        (h % 64L + 1L) * 2654435761L % 1001L - 500L
      }.sum
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val model = TextQueries.txtQualityModel(spark, sfDir)
    // inference at I/O speed: a pure per-row projection — no Exchange
    // anywhere in the physical plan
    val plan = model.queryExecution.executedPlan.toString
    assertMapOnly(plan, "model scoring")
    val got = model
      .select("doc_id", "logit", "kept").as[(Long, Long, Int)].collect()
    assert(got.length == docs.size)
    got.foreach { case (id, logit, kept) =>
      assert(logit == logitOf(docs(id)), s"doc $id logit drifted")
      assert(kept == (if (logit > 0) 1 else 0))
    }
    // a frozen model that keeps everything (or nothing) filters nothing
    assert(got.exists(_._3 == 1) && got.exists(_._3 == 0),
      "model verdict is degenerate at this scale")
  }

  test("corpus_dsir_select: scores recompute from raw pool counts, top-K strictly ordered") {
    val rows = TextQueries.corpusDsirSelect(spark, sfDir)
      .select("doc_id", "source", "score_bits", "n_toks", "mean_mbits")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.length == 40)
    assert(rows.forall(_._2 != "src0"), "the target pool must never select itself")
    // strict ranking order as emitted
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 > b._5 || (a._5 == b._5 && a._1 < b._1), s"order broke at $a -> $b")
    }
    // recompute the hashed-feature integer weights driver-side from raw text
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def buckets(t: String) = t.trim.split(" +").filter(_.nonEmpty)
      .map(tok => graft.expressions.CharFoldHash.hash(tok) % 4096) // hash is non-negative
    val tgtC = docs.filter(_._2 == "src0").flatMap(d => buckets(d._3))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val srcC = docs.filter(_._2 != "src0").flatMap(d => buckets(d._3))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    def flog2(n: Long) = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val byId = docs.map(d => d._1 -> d).toMap
    rows.foreach { case (id, _, score, n, mean) =>
      val bs = buckets(byId(id)._3)
      val want = bs.map(b =>
        flog2(tgtC.getOrElse(b, 0L) + 1).toLong - flog2(srcC(b) + 1)).sum
      assert(score == want, s"doc $id score drifted: $score vs $want")
      assert(n == bs.length.toLong)
      assert(mean == score * 1000 / n, s"doc $id mean_mbits drifted")
    }
    // the cut is real: some candidate scored below the selected floor
    val floor = rows.last._5
    val selected = rows.map(_._1).toSet
    assert(docs.exists(d => d._2 != "src0" && !selected(d._1)),
      "top-K must actually exclude candidates")
    assert(floor > Long.MinValue)
  }
}
