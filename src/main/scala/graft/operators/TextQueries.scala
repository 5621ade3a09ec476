package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.expressions.VowelRunCounts
import graft.functions.TextFunctions._

/** Text-analysis query surface over the `documents` table: token
  * statistics, quality scoring, language ID, and order-sensitive
  * fingerprints — the cheap narrow-projection stages that front a
  * large-scale training-data pipeline. Everything is a per-row map +
  * one small aggregate, so the plans are a single scan with no joins;
  * at 100 TB these run at I/O speed.
  */
object TextQueries {

  /** Common DuckDB lambda for whitespace tokens (mirrors
    * TextFunctions.tokens: split on runs of spaces, drop empties). */
  private[operators] val DTokens = "list_filter(string_split_regex(trim(text), ' +'), t -> t <> '')"

  // ---------------------------------------------------------- txt_stats
  /** Corpus statistics per language: document counts and exact token /
    * sub-word / punctuation / stopword totals. */
  def txtStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        sum(regexTokenCount(col("text"))).as("total_subword_tokens"),
        sum(punctCount(col("text"))).as("total_punct"),
        sum(stopwordCount(col("text"))).as("total_stopwords"),
        max(length(col("text")).cast(LongType)).as("max_chars"))

  val txtStatsSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len($DTokens)) AS BIGINT) AS total_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS BIGINT) AS total_subword_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '[.,!?;:]'))) AS BIGINT) AS total_punct,
       |  CAST(sum(len(list_filter($DTokens, t -> t IN ('the','a','of','and','to','in')))) AS BIGINT) AS total_stopwords,
       |  CAST(max(length(text)) AS BIGINT) AS max_chars
       |FROM documents GROUP BY lang""".stripMargin

  // -------------------------------------------------------- txt_quality
  /** Per-document quality metrics (the pre-filter columns a data
    * pipeline materializes before expensive stages). */
  def txtQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        meanTokenLength(col("text")).as("mean_token_len"),
        stopwordRatio(col("text")).as("stop_ratio"),
        qualityScore(col("text")).as("quality"))

  val txtQualitySql: String =
    s"""SELECT doc_id,
       |  CAST(len($DTokens) AS BIGINT) AS n_tokens,
       |  CASE WHEN len($DTokens) = 0 THEN 0.0
       |       ELSE CAST(list_sum(list_transform($DTokens, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |            / CAST(len($DTokens) AS DOUBLE) END AS mean_token_len,
       |  CASE WHEN len($DTokens) = 0 THEN 0.0
       |       ELSE CAST(len(list_filter($DTokens, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
       |            / CAST(len($DTokens) AS DOUBLE) END AS stop_ratio,
       |  least(CAST(len($DTokens) AS DOUBLE) / 64.0, 1.0) * 0.4
       |  + least((CASE WHEN len($DTokens) = 0 THEN 0.0
       |           ELSE CAST(len(list_filter($DTokens, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
       |                / CAST(len($DTokens) AS DOUBLE) END) * 4.0, 1.0) * 0.3
       |  + (CASE WHEN (CASE WHEN len($DTokens) = 0 THEN 0.0
       |           ELSE CAST(list_sum(list_transform($DTokens, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |                / CAST(len($DTokens) AS DOUBLE) END) BETWEEN 3.0 AND 8.0
       |      THEN 1.0 ELSE 0.5 END) * 0.3 AS quality
       |FROM documents""".stripMargin

  // --------------------------------------------------------- txt_langid
  /** Language-ID confusion matrix: labeled lang × predicted lang.
    *
    * Relational form of [[graft.functions.TextFunctions.languageId]]:
    * the Column version evaluates ~2 interpreted array-HOF filters per
    * language per row (each re-tokenizing the text), which profiled as
    * the slowest text query. Here the text is tokenized ONCE
    * (explode_outer keeps zero-token documents), each language's marker
    * hits are a codegen'd conditional sum, and the argmax/tie order is
    * identical. Scale shape: map-side explode + partially-aggregated
    * groupBy(doc) — no HOFs anywhere. */
  def txtLangId(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      explode_outer(split(trim(col("text")), " +")).as("tok"))
    val scoreAggs = LangMarkers.map { case (l, ms) =>
      sum(when(col("tok").isin(ms: _*), 1L).otherwise(0L)).as(s"s_$l")
    }
    val scored = tok.groupBy(col("doc_id"), col("lang"))
      .agg(scoreAggs.head, scoreAggs.tail: _*)
    val anyHit = LangMarkers.map(lm => col(s"s_${lm._1}")).reduce(_ + _) > 0
    val best = LangMarkers.foldLeft(lit(-1L) -> lit("und")) {
      case ((bestScore, bestLang), (l, _)) =>
        val take = col(s"s_$l") > bestScore
        (when(take, col(s"s_$l")).otherwise(bestScore),
          when(take, lit(l)).otherwise(bestLang))
    }._2
    scored
      .select(col("lang"), when(anyHit, best).otherwise(lit("und")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val langScoreSql: Map[String, String] = LangMarkers.map { case (l, ms) =>
    l -> s"len(list_filter($DTokens, t -> t IN (${ms.map("'" + _ + "'").mkString(",")})))"
  }.toMap

  val txtLangIdSql: String = {
    val ss = LangMarkers.map(_._1).map(l => s"${langScoreSql(l)} AS s_$l").mkString(",\n  ")
    val total = LangMarkers.map(_._1).map(l => s"s_$l").mkString(" + ")
    val m = s"greatest(${LangMarkers.map(_._1).map(l => s"s_$l").mkString(", ")})"
    val cases = LangMarkers.map(_._1).map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
    s"""SELECT lang, predicted, count(*) AS n_docs FROM (
       |  SELECT lang,
       |    CASE WHEN ($total) = 0 THEN 'und' $cases END AS predicted
       |  FROM (SELECT lang, $ss FROM documents) scores
       |) t GROUP BY lang, predicted""".stripMargin
  }

  // --------------------------------------------------- txt_fingerprint
  /** Order-sensitive rolling-hash fingerprint per document, plus the
    * count of documents sharing it (content-identity groups). */
  def txtFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  val txtFingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform($DTokens,
       |        t -> CAST(length(t) AS BIGINT) * 17 + CAST(ascii(t) AS BIGINT))),
       |    (h, x) -> (h * 31 + x) % 1000000007) AS fp
       |FROM documents""".stripMargin

  // ------------------------------------------------------- txt_bpe_vocab
  /** BPE-style subword tokenization + vocabulary histogram — the token-
    * counting stage of a training-data pipeline, with a fixed merge
    * table (the artifact a BPE trainer would emit). Each word is split
    * to characters and the merge rules are applied in priority order,
    * each replacing all occurrences (the standard fast BPE encode);
    * later merges compose earlier ones ("s c"+"a n"→"sc an"→"scan").
    * Scale shape: explode to words map-side, a chain of codegen'd
    * string replaces (no HOFs — see the round-1 perf notes), then one
    * partially-aggregated groupBy(token) whose output is vocabulary-
    * sized, so the shuffle is tiny regardless of corpus size. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t h" -> "th", "a n" -> "an", "i n" -> "in", "e r" -> "er",
    "a r" -> "ar", "o r" -> "or", "s t" -> "st", "o w" -> "ow",
    "th e" -> "the", "s c" -> "sc", "sc an" -> "scan",
    "j o" -> "jo", "jo in" -> "join", "w in" -> "win", "d ow" -> "dow",
    "win dow" -> "window", "b a" -> "ba", "t c" -> "tc",
    "ba tc" -> "batc", "batc h" -> "batch",
    "s p" -> "sp", "sp ar" -> "spar", "spar k" -> "spark")

  def txtBpeVocab(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " +")).as("word"))
      .filter(length(col("word")) > 0)
    val spaced = trim(regexp_replace(col("word"), "(.)", "$1 "))
    val merged = BpeMerges.foldLeft(spaced) { case (c, (pair, tok)) =>
      call_function("replace", c, lit(pair), lit(tok))
    }
    words.select(explode(split(merged, " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(60)
  }

  val txtBpeVocabSql: String = {
    val chain = BpeMerges.foldLeft("trim(regexp_replace(word, '(.)', '\\1 ', 'g'))") {
      case (acc, (pair, tok)) => s"replace($acc, '$pair', '$tok')"
    }
    s"""SELECT token, count(*) AS n FROM (
       |  SELECT unnest(string_split($chain, ' ')) AS token
       |  FROM (SELECT unnest($DTokens) AS word FROM documents) words
       |) toks GROUP BY token ORDER BY n DESC, token LIMIT 60""".stripMargin
  }

  // ------------------------------------------------------ txt_bigram_lm
  /** Corpus-model scoring — the two-pass pattern behind model-based
    * quality filters: pass 1 aggregates a bigram frequency table over
    * the whole corpus, pass 2 joins it back and scores each document by
    * the average corpus frequency of its bigrams (an integer-exact
    * stand-in for LM log-prob, which would hash-flake across engines'
    * libm). Scale shape: bigrams built relationally (posexplode + one
    * lead window per doc), frequency table is vocabulary²-bounded (in
    * practice Zipfian-small), and the score join shuffles on the bigram
    * key; the final division is the single allowed double op. */
  def txtBigramLm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d).select(col("doc_id"),
      posexplode(split(trim(col("text")), " +")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = tok.withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
    val counts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("bg_freq"))
    bg.join(counts, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bg_freq")).as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
        (col("sum_freq").cast(DoubleType) / col("n_bigrams").cast(DoubleType)).as("avg_freq"))
  }

  val txtBigramLmSql: String =
    s"""WITH toks AS (SELECT doc_id, $DTokens AS l FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS bigram
       |  FROM toks),
       |counts AS (SELECT bigram, count(*) AS bg_freq FROM bg GROUP BY bigram)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(bg_freq) AS BIGINT) AS sum_freq,
       |  CAST(CAST(sum(bg_freq) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_freq
       |FROM bg JOIN counts USING (bigram)
       |GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------- txt_repetition
  /** Gopher-style repetition filters: per-document fraction of bigram
    * instances taken by the single most frequent bigram, and the fraction
    * of trigram instances whose trigram occurs more than once — the
    * standard cheap signals for boilerplate / degenerate generation.
    *
    * Scale shape: one (doc_id) window shuffle produces both gram widths
    * (lead(1) + lead(2) share the sort), per-doc-per-gram counts partial-
    * aggregate map-side, and the output is one row per document. The
    * thresholds (0.18 / 0.30) follow the Gopher paper's 2-gram/3-gram
    * duplicate-fraction filters in spirit; values are engine-exact (long
    * counts, one double division each). */
  def txtRepetition(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d).select(col("doc_id"),
      posexplode(split(trim(col("text")), " +")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val g = tok
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
    val bi = g.filter(col("t1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    val tri = g.filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_trigrams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_trigram_n"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(bi, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("dup_trigram_n"), lit(0L)).as("dup_trigram_n"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0)).otherwise(
          col("top_bigram_n").cast(DoubleType) / col("n_bigrams").cast(DoubleType)))
      .withColumn("dup_trigram_frac",
        when(col("n_trigrams") === 0, lit(0.0)).otherwise(
          col("dup_trigram_n").cast(DoubleType) / col("n_trigrams").cast(DoubleType)))
      .withColumn("repetitive",
        col("top_bigram_frac") > 0.18 || col("dup_trigram_frac") > 0.3)
  }

  val txtRepetitionSql: String =
    s"""WITH toks AS (SELECT doc_id, $DTokens AS l FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS gram
       |  FROM toks),
       |bic AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY doc_id, gram),
       |bid AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    CAST(max(c) AS BIGINT) AS top_bigram_n
       |  FROM bic GROUP BY doc_id),
       |tri AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(l) - 1),
       |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS gram
       |  FROM toks),
       |tric AS (SELECT doc_id, gram, count(*) AS c FROM tri GROUP BY doc_id, gram),
       |trid AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
       |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_n
       |  FROM tric GROUP BY doc_id),
       |joined AS (
       |  SELECT d.doc_id,
       |    coalesce(n_bigrams, 0) AS n_bigrams,
       |    coalesce(top_bigram_n, 0) AS top_bigram_n,
       |    coalesce(n_trigrams, 0) AS n_trigrams,
       |    coalesce(dup_trigram_n, 0) AS dup_trigram_n
       |  FROM documents d LEFT JOIN bid USING (doc_id) LEFT JOIN trid USING (doc_id)),
       |fracs AS (
       |  SELECT *,
       |    CASE WHEN n_bigrams = 0 THEN 0.0
       |         ELSE CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END AS top_bigram_frac,
       |    CASE WHEN n_trigrams = 0 THEN 0.0
       |         ELSE CAST(dup_trigram_n AS DOUBLE) / CAST(n_trigrams AS DOUBLE) END AS dup_trigram_frac
       |  FROM joined)
       |SELECT doc_id, n_bigrams, top_bigram_n, n_trigrams, dup_trigram_n,
       |  top_bigram_frac, dup_trigram_frac,
       |  top_bigram_frac > 0.18 OR dup_trigram_frac > 0.3 AS repetitive
       |FROM fracs""".stripMargin

  // ---------------------------------------------------------- txt_tfidf
  /** Corpus TF-IDF with top-3 salient terms per document — the feature
    * extraction behind keyword indexing / topic-ish clustering in a
    * data pipeline. IDF uses the BM25 rational form
    * (N - df + 0.5)/(df + 0.5) rather than a log: IEEE division is
    * correctly rounded so the scores are bit-identical across engines,
    * where libm log() would hash-flake in the last ulp.
    *
    * Scale shape: one (doc_id, term) shuffle builds TF; the DF table is
    * vocabulary-sized and broadcast back; doc length is a window over the
    * TF frame (no second scan of the corpus); the corpus-size scalar
    * stays in-plan as a broadcast 1-row frame (no driver collect). */
  def txtTfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val tf = docs.select(col("doc_id"),
      explode(split(trim(col("text")), " +")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf").cast(DoubleType) / col("dl").cast(DoubleType)) *
          ((col("n").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
            (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("rn", row_number().over(wTop).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rn"))
  }

  val txtTfidfSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($DTokens) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    (CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) *
       |      ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, term, tf, df, tfidf, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= 3""".stripMargin

  // ------------------------------------------------------------ txt_bm25
  /** BM25 keyword retrieval (Robertson's probabilistic ranking, the
    * Okapi form): top-5 documents per query for a fixed keyword query
    * set — the SPARSE-retrieval counterpart of the dense ANN family
    * (`sim_topk_*`). Where txt_tfidf extracts per-document salient
    * terms, BM25 answers queries: per-term saturated TF damped by
    * document-length normalization, summed over the query's matched
    * terms.
    *
    * ENGINE-EXACT: k1 = 6/5 and b = 3/4 are RATIONAL, so the saturation
    * factor reduces to an integer ratio — multiplying through by 20·S
    * gives
    *   sat = 44·tf·S / (20·tf·S + 6·S + 18·dl·N)
    * floored to int64 fixed point via integer division (DIV / DuckDB //)
    * BEFORE the per-document sum. The idf is Lucene's always-positive
    * BM25 form log(1 + (N−df+0.5)/(df+0.5)) = log((2N+2)/(2df+1)),
    * realized as the PORTABLE half-bit integer log —
    *   idf_hb = floor(log2((2N+2)²)) − floor(log2((2df+1)²))
    * — txt_surprisal's bit-count trick at 2× resolution (floor(log2 m)
    * of an int64 is exact IEEE: a 1-ulp libm error cannot cross an
    * integer for m's this size). The log base only rescales every score
    * by one constant, which ranking ignores; the ≤¼-bit flooring error
    * per term is the disclosed approximation. Scores are bit-identical
    * at any partitioning. Bounds: 44·tf·S·1e5 needs tf·S < 2×10¹² —
    * rescale the saturation fixed point for corpora past ~10¹⁰ tokens.
    *
    * Scale shape: the inverted index is the one (doc_id, term) shuffle
    * every text gate pays; postings are pruned to the query vocabulary
    * by a broadcast join BEFORE scoring, document length rides a window
    * over the TF frame (no second corpus scan), corpus-level scalars
    * (N, S) stay in-plan as a broadcast 1-row frame, and the final
    * top-5 cut windows over |matched postings| rows only. The corpus
    * itself never joins or re-shuffles. */
  private[operators] val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "fast scan", 2 -> "hash join column", 3 -> "customer order data",
    4 -> "slow merge batch", 5 -> "window group vector")

  private[operators] val Bm25SatScale = 100000L // saturation fixed point (1e5)

  /** The BM25-scored frame (query_id, query, doc_id, n_terms_matched,
    * score_fp) before any rank cut — shared by txt_bm25 (top-5 report)
    * and sim_hybrid_rrf (the sparse leg of hybrid retrieval). */
  private[operators] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = s.createDataFrame(Bm25Queries).toDF("query_id", "query")
      .withColumn("term", explode(split(col("query"), " ")))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), " +")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val stats = tf.agg(
      countDistinct(col("doc_id")).as("n"), sum(col("tf")).as("s"))
    val dfq = tf
      .join(broadcast(queries.select(col("term")).distinct()), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withDl = tf.withColumn("dl",
      sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
    withDl
      .join(broadcast(queries), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("sat_fp", expr(
        s"(44 * tf * s * $Bm25SatScale) DIV (20 * tf * s + 6 * s + 18 * dl * n)"))
      .withColumn("idf_hb", expr(
        "CAST(floor(log2((2 * n + 2) * (2 * n + 2))) AS BIGINT) - " +
          "CAST(floor(log2((2 * df + 1) * (2 * df + 1))) AS BIGINT)"))
      .groupBy(col("query_id"), col("query"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("idf_hb") * col("sat_fp")).as("score_fp"))
  }

  /** CTE chain replicating [[bm25Scored]] in DuckDB, ending in `scored`
    * = (query_id, query, doc_id, n_terms_matched, score_fp). */
  private[operators] val bm25ScoredCtes: String = {
    val values = Bm25Queries.map { case (i, q) => s"($i, '$q')" }.mkString(", ")
    s"""q(query_id, query) AS (VALUES $values),
       |qt AS (SELECT query_id, query, unnest(string_split(query, ' ')) AS term FROM q),
       |toks AS (SELECT doc_id, unnest($DTokens) AS term FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
       |hits AS (
       |  SELECT qt.query_id, qt.query, tf.doc_id, tf.tf, dl.dl, dfq.df, stats.n, stats.s
       |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
       |    JOIN dl USING (doc_id) CROSS JOIN stats),
       |terms AS (
       |  SELECT query_id, query, doc_id,
       |    (44 * tf * s * $Bm25SatScale) // (20 * tf * s + 6 * s + 18 * dl * n) AS sat_fp,
       |    CAST(floor(log2((2 * n + 2) * (2 * n + 2))) AS BIGINT)
       |      - CAST(floor(log2((2 * df + 1) * (2 * df + 1))) AS BIGINT) AS idf_hb
       |  FROM hits),
       |scored AS (
       |  SELECT query_id, query, doc_id,
       |    CAST(count(*) AS BIGINT) AS n_terms_matched,
       |    CAST(sum(idf_hb * sat_fp) AS BIGINT) AS score_fp
       |  FROM terms GROUP BY query_id, query, doc_id)""".stripMargin
  }

  def txtBm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    bm25Scored(s, d)
      .withColumn("rank", row_number().over(wTop).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("query"), col("doc_id"),
        col("n_terms_matched"), col("score_fp"), col("rank"))
  }

  val txtBm25Sql: String =
    s"""WITH $bm25ScoredCtes
       |SELECT query_id, query, doc_id, n_terms_matched, score_fp, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score_fp DESC, doc_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 5""".stripMargin

  // -------------------------------------------------------- txt_bpe_train
  /** BPE merge TRAINING (Sennrich et al. 2016, arXiv:1508.07909): learn
    * the first 4 merge rules from corpus pair statistics — the trainer
    * that EMITS the merge table txt_bpe_vocab consumes. Each round
    * counts adjacent symbol pairs weighted by word frequency, picks the
    * argmax (count desc, pair asc — a pinned total order where real
    * trainers break ties arbitrarily), and applies the merge to every
    * occurrence GREEDILY left-to-right without overlap ("a a a" merges
    * positions 1-2, not 2-3), exactly the reference BPE semantics.
    *
    * Greedy non-overlap as relational algebra: candidate positions are
    * ranked by a running count per word; runs of CONSECUTIVE candidate
    * positions share an island id (pos − rank, the gaps-and-islands
    * move), and within an island only candidates at even offset from
    * the island's first candidate merge — position p+1 consumed by a
    * kept merge at p is then dropped and positions re-densified. The
    * oracle unrolls all 4 rounds as explicit CTE stages over the same
    * window algebra.
    *
    * Scale shape: classic BPE trains on the WORD-FREQUENCY table, not
    * the corpus — after the one corpus-scan aggregate every round is
    * vocabulary-sized (pair counting is map-side combinable, the argmax
    * a 1-row broadcast, application three windows over the same
    * (word, pos) sort), independent of corpus size. Lineage is
    * truncated per round (localCheckpoint) like the iterative graph
    * operators. */
  private val BpeTrainRounds = 4

  def txtBpeTrain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " +")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    var frame = words
      .withColumn("pos",
        explode(expr("sequence(CAST(1 AS BIGINT), CAST(length(word) AS BIGINT))")))
      .withColumn("sym", expr("substring(word, CAST(pos AS INT), 1)"))
      .select(col("word"), col("wc"), col("pos"), col("sym"))
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // a corpus whose words are all one symbol (or have merged down to
    // one) has no adjacent pair left: training ends with fewer rules
    var exhausted = false
    for (r <- 1 to BpeTrainRounds if !exhausted) {
      val withNext = frame.withColumn("next_sym", lead(col("sym"), 1).over(wOrd))
      // The round's winning pair is ONE row (guide §5 — bounded collect):
      // the old form kept it as a 1-row frame, which (a) re-ran the whole
      // pair-count aggregate once more PER ROUND when the final merges
      // union was evaluated (each lineage still pointed at its round's
      // checkpointed frame) and (b) paid a broadcast-exchange job per
      // round for the crossJoin. Collecting turns the merge step into
      // literal predicates and the final result into a local relation —
      // same rows, same order, integer-exact.
      val best = withNext.filter(col("next_sym").isNotNull)
        .groupBy(col("sym").as("bl"), col("next_sym").as("br"))
        .agg(sum(col("wc")).as("bc"))
        .orderBy(col("bc").desc, col("bl").asc, col("br").asc).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (bl, br, bc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, bl, br, bc))
        val stepped = withNext
          .withColumn("is_cand", coalesce(
            col("sym") === lit(bl) && col("next_sym") === lit(br), lit(false)))
          .withColumn("crank",
            sum(when(col("is_cand"), 1L).otherwise(0L)).over(wOrd))
          .withColumn("isl", col("pos") - col("crank"))
        val wIsl = Window.partitionBy(col("word"), col("isl"))
        frame = stepped
          .withColumn("min_cand",
            min(when(col("is_cand"), col("crank"))).over(wIsl))
          .withColumn("keep",
            col("is_cand") && (col("crank") - col("min_cand")) % 2 === 0)
          .withColumn("prev_keep", lag(col("keep"), 1, false).over(wOrd))
          .filter(!coalesce(col("prev_keep"), lit(false)))
          .withColumn("sym",
            when(col("keep"), concat(lit(bl), lit(br))).otherwise(col("sym")))
          .withColumn("pos", row_number().over(wOrd).cast(LongType))
          .select(col("word"), col("wc"), col("pos"), col("sym"))
          .localCheckpoint()
      }
    }
    import s.implicits._
    merges.toSeq.toDF("round", "merge_left", "merge_right", "pair_count")
  }

  val txtBpeTrainSql: String = {
    val rounds = (0 until BpeTrainRounds).map { k =>
      s"""nx$k AS (SELECT word, wc, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS next_sym FROM frame$k),
         |best$k AS (
         |  SELECT sym AS bl, next_sym AS br, CAST(sum(wc) AS BIGINT) AS bc
         |  FROM nx$k WHERE next_sym IS NOT NULL GROUP BY sym, next_sym
         |  ORDER BY bc DESC, bl ASC, br ASC LIMIT 1),
         |st$k AS (
         |  SELECT n.word, n.wc, n.pos, n.sym, b.bl, b.br,
         |    COALESCE(n.sym = b.bl AND n.next_sym = b.br, FALSE) AS is_cand
         |  FROM nx$k n CROSS JOIN best$k b),
         |rk$k AS (SELECT *,
         |    sum(CASE WHEN is_cand THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY word ORDER BY pos) AS crank FROM st$k),
         |isl$k AS (SELECT *, pos - crank AS isl FROM rk$k),
         |kp$k AS (SELECT *,
         |    is_cand AND ((crank - min(CASE WHEN is_cand THEN crank END)
         |      OVER (PARTITION BY word, isl)) % 2 = 0) AS keep FROM isl$k),
         |pv$k AS (SELECT *,
         |    lag(keep, 1, FALSE) OVER (PARTITION BY word ORDER BY pos) AS prev_keep
         |  FROM kp$k),
         |frame${k + 1} AS (
         |  SELECT word, wc,
         |    CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |    CASE WHEN keep THEN bl || br ELSE sym END AS sym
         |  FROM pv$k WHERE NOT COALESCE(prev_keep, FALSE))""".stripMargin
    }.mkString(",\n")
    val out = (0 until BpeTrainRounds).map { k =>
      s"SELECT CAST(${k + 1} AS BIGINT) AS round, bl AS merge_left, br AS merge_right, bc AS pair_count FROM best$k"
    }.mkString("\nUNION ALL ")
    s"""WITH words AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(list_filter(string_split_regex(trim(text), ' +'), t -> t <> '')) AS word
       |    FROM documents) t WHERE word <> '' GROUP BY word),
       |frame0 AS (
       |  SELECT word, wc, CAST(pos AS BIGINT) AS pos,
       |    substr(word, CAST(pos AS INT), 1) AS sym
       |  FROM (SELECT word, wc,
       |    unnest(generate_series(1, length(word))) AS pos FROM words) t),
       |$rounds
       |$out""".stripMargin
  }

  // ----------------------------------------------------- split_stratified
  /** Deterministic hash-based train/val/test split with per-stratum
    * accounting — the corpus-management primitive every training run
    * starts from. The split key is the engine-portable char-fold hash of
    * the document id (NOT doc_id % k: sequential ids correlate with
    * generation order, so modulo splits are not exchangeable), bucketed
    * 80/10/10.
    *
    * Scale shape: a pure map over the scan followed by a tiny
    * (lang, split)-sized aggregate; the assignment is reproducible from
    * the id alone on any engine — no stored split column, no RNG state. */
  def splitStratified(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val bucket = expr("char_fold_hash(CAST(doc_id AS STRING)) % 100")
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, lit("train")).when(bucket < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast(LongType)).as("total_chars"))
  }

  val splitStratifiedSql: String = {
    val bucket = s"${graft.functions.HashFunctions.charFoldHashSql("CAST(doc_id AS VARCHAR)")} % 100"
    s"""SELECT lang, split, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM (
       |  SELECT lang, n_chars,
       |    CASE WHEN $bucket < 80 THEN 'train'
       |         WHEN $bucket < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents) t
       |GROUP BY lang, split""".stripMargin
  }

  // --------------------------------------------------------- split_kfold
  /** Deterministic k-fold assignment (k=5) for cross-validation — the
    * other split primitive next to split_stratified's 80/10/10. The fold
    * key hashes a SALTED id ('kf' prefix) so fold membership is
    * independent of the train/val/test bucketing (same hash, different
    * domain). Reproducible from the id alone on any engine; per-fold
    * accounting verifies balance.
    *
    * Scale shape: pure map over the scan + a k-row aggregate. */
  def splitKfold(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    Tables.documents(s, d)
      .withColumn("fold",
        expr("char_fold_hash(CONCAT('kf', CAST(doc_id AS STRING))) % 5").cast(IntegerType))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast(LongType)).as("total_chars"))
  }

  val splitKfoldSql: String = {
    val fold = s"${graft.functions.HashFunctions.charFoldHashSql("'kf' || CAST(doc_id AS VARCHAR)")} % 5"
    s"""SELECT CAST($fold AS INT) AS fold, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------ split_group_temporal
  /** GROUP-AWARE TEMPORAL split — the leakage-free evaluation split for
    * behavioral data: routing events to train/test by their OWN
    * timestamp leaks a user's future into training (the model sees user
    * U at 9:00 in train and is tested on U at 9:05), so each GROUP
    * (user) is routed whole, by its FIRST event time vs the cutoff. No
    * user straddles the boundary by construction. The tradeoff this
    * buys is itself measured: `n_post_cutoff_train_events` counts
    * train-user events that fall after the cutoff (they stay in train —
    * the group contract — rather than leaking into test), so the gate's
    * hash pins the exact semantic a naive reader of "temporal split"
    * would get wrong in either direction.
    *
    * Scale shape: first-event-per-user is a map-side-combinable MIN;
    * the routing join is user-keyed (the same shuffle a window over
    * user would cost); accounting is a 2-row aggregate. No RNG, no
    * stored split column — reproducible from (user_id, cutoff). */
  def splitGroupTemporal(s: SparkSession, d: String): DataFrame = {
    val cutoffUs = 1704096000000000L // 2024-01-01T08:00:00Z: splits users at every SF
    val e = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val first = e.groupBy(col("user_id")).agg(min(col("ts_us")).as("first_us"))
    e.join(first, Seq("user_id"))
      .withColumn("split",
        when(col("first_us") < cutoffUs, lit("train")).otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum((col("v") * 100).cast(LongType)).as("sum_cents"),
        sum(when(col("ts_us") >= cutoffUs && col("first_us") < cutoffUs, 1L)
          .otherwise(0L)).as("n_post_cutoff_train_events"))
  }

  val splitGroupTemporalSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |f AS (SELECT user_id, min(ts_us) AS first_us FROM e GROUP BY user_id)
      |SELECT CASE WHEN f.first_us < 1704096000000000 THEN 'train' ELSE 'test' END AS split,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(e.v * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(sum(CASE WHEN e.ts_us >= 1704096000000000
      |    AND f.first_us < 1704096000000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_post_cutoff_train_events
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------- split_cluster_hash
  /** CLUSTER-AWARE leakage-free train/val/test split: near-duplicate
    * documents must land on the SAME side, or evaluation leaks — the
    * test set contains a near-copy of a training document and the
    * metric silently inflates. Hash-routing each doc independently
    * (split_stratified) cannot guarantee that; this split routes every
    * near-dup CLUSTER whole, by hashing its canonical label (the
    * [[DedupQueries.dedupCluster]] min-member id), and unclustered docs
    * by their own id. The salt ('cs') keeps the bucketing independent
    * of the other split primitives.
    *
    * The output carries its own leakage audit: every 4-gram-Jaccard dup
    * pair is re-joined against the assignment and counted as
    * `intra_pairs` (endpoints on the same side) or `straddle_pairs`
    * (endpoints split — leakage). Cluster routing makes straddle_pairs
    * STRUCTURALLY zero; the cross-engine hash pins that, so any routing
    * regression (e.g. hashing doc_id instead of the cluster label)
    * flips the audit and breaks the gate.
    *
    * Scale shape: cluster labels cost what dedup already paid (the pair
    * graph tracks true duplicates); the assignment is a corpus-sized but
    * SLIM frame (ids + one string), cached here because three branches
    * read it — at 100 TB it would be persisted as a table, which is the
    * split manifest a training run ships anyway. Accounting is a 3-row
    * aggregate; the audit join is pair-graph-sized, not corpus-sized. */
  def splitClusterHash(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val labels = DedupQueries.dedupCluster(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val assign = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("route_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        expr("char_fold_hash(CONCAT('cs', CAST(route_key AS STRING))) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, lit("train")).when(col("bucket") < 90, lit("val"))
          .otherwise(lit("test")))
      .cache()
    val pairs = DedupQueries.dedupNgramJaccard(s, d).select(col("doc_a"), col("doc_b"))
    val audit = pairs
      .join(assign.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(assign.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .groupBy(col("split_a").as("split"))
      .agg(sum(when(col("split_a") === col("split_b"), 1L).otherwise(0L)).as("intra_pairs"),
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L)).as("straddle_pairs"))
    assign.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered_docs"),
        countDistinct(col("route_key")).as("n_route_keys"),
        sum(col("n_chars").cast(LongType)).as("total_chars"))
      .join(audit, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clustered_docs"),
        col("n_route_keys"), col("total_chars"),
        coalesce(col("intra_pairs"), lit(0L)).as("intra_pairs"),
        coalesce(col("straddle_pairs"), lit(0L)).as("straddle_pairs"))
  }

  // lazy: pulls DedupQueries SQL across the object cycle (see the note
  // on DedupQueries.dedupWinnowSql)
  lazy val splitClusterHashSql: String = {
    val bucket = graft.functions.HashFunctions.charFoldHashSql(
      "'cs' || CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)") + " % 100"
    s"""WITH clusters AS (
       |  SELECT doc_id, cluster_id
       |  FROM (${DedupQueries.dedupClusterSql.replace("\n", "\n       ")}) c),
       |assign AS (
       |  SELECT d.doc_id, d.n_chars, c.cluster_id,
       |    COALESCE(c.cluster_id, d.doc_id) AS route_key,
       |    CASE WHEN $bucket < 80 THEN 'train'
       |         WHEN $bucket < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM (${DedupQueries.dedupNgramJaccardSql.replace("\n", "\n       ")}) p),
       |audit AS (
       |  SELECT a.split AS split,
       |    CAST(sum(CASE WHEN a.split = b.split THEN 1 ELSE 0 END) AS BIGINT) AS intra_pairs,
       |    CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS straddle_pairs
       |  FROM pairs p
       |  JOIN assign a ON p.doc_a = a.doc_id
       |  JOIN assign b ON p.doc_b = b.doc_id
       |  GROUP BY 1)
       |SELECT s.split, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN s.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clustered_docs,
       |  CAST(count(DISTINCT s.route_key) AS BIGINT) AS n_route_keys,
       |  CAST(sum(s.n_chars) AS BIGINT) AS total_chars,
       |  CAST(COALESCE(any_value(a.intra_pairs), 0) AS BIGINT) AS intra_pairs,
       |  CAST(COALESCE(any_value(a.straddle_pairs), 0) AS BIGINT) AS straddle_pairs
       |FROM assign s LEFT JOIN audit a ON s.split = a.split
       |GROUP BY s.split""".stripMargin
  }

  // --------------------------------------------------- txt_hash_features
  /** Hashing-trick bag-of-words features (D=64 buckets): each document
    * becomes a sparse term-frequency vector keyed by
    * char_fold_hash(token) % D — the zero-vocabulary featurizer used
    * when a learned embedding is too expensive and a fixed-dim input is
    * needed (classifier features, cheap clustering, dedup prefilters).
    * Output is the sparse (doc_id, bucket, tf) form; density stays
    * bounded by distinct-tokens-per-doc regardless of corpus size.
    *
    * Scale shape: explode tokens (one scan), hash map-side, one
    * (doc_id, bucket) hash aggregate — no vocabulary table, no join,
    * which is the entire point of the hashing trick at 100 TB. */
  def txtHashFeatures(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        expr("char_fold_hash(tok) % 64").cast(IntegerType).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  val txtHashFeaturesSql: String = {
    import graft.functions.HashFunctions.{charFoldHashSql, tokensSql}
    s"""SELECT doc_id, CAST(${charFoldHashSql("tok")} % 64 AS INT) AS bucket,
       |  count(*) AS tf
       |FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
       |GROUP BY doc_id, bucket""".stripMargin
  }

  // ---------------------------------------------------- corpus_blocklist
  /** Blocklist + threshold filtering with per-stratum disposition
    * accounting — the "remove these domains, drop the too-short tail"
    * stage at the front of every corpus pipeline. The blocklist is a
    * TABLE (not an isin literal): at 100 TB blocklists are curated
    * datasets millions of entries long, so the plan shape that matters
    * is a broadcast left join against the corpus scan — zero corpus
    * shuffle, filter applied map-side. Disposition precedence (blocked
    * beats too-short beats kept) is a single coalesce so every document
    * lands in exactly one bucket. */
  def corpusBlocklist(s: SparkSession, d: String): DataFrame = {
    val bl = s.createDataFrame(Seq(
      ("src3", "blocked_source"), ("src7", "blocked_source"),
      ("src11", "blocked_source"))).toDF("source", "bl_reason")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        tokenCount(col("text")).as("n_tokens"))
      .join(broadcast(bl), Seq("source"), "left")
      .withColumn("disposition",
        coalesce(col("bl_reason"),
          when(col("n_tokens") < 25, lit("too_short")), lit("kept")))
      .groupBy(col("lang"), col("disposition"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  val corpusBlocklistSql: String =
    s"""WITH bl AS (
       |  SELECT * FROM (VALUES ('src3', 'blocked_source'), ('src7', 'blocked_source'),
       |    ('src11', 'blocked_source')) AS t(source, bl_reason)),
       |d AS (
       |  SELECT doc_id, lang, source, CAST(len($DTokens) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT lang,
       |  coalesce(bl_reason, CASE WHEN n_tokens < 25 THEN 'too_short' END, 'kept') AS disposition,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM d LEFT JOIN bl USING (source)
       |GROUP BY lang,
       |  coalesce(bl_reason, CASE WHEN n_tokens < 25 THEN 'too_short' END, 'kept')""".stripMargin

  // ------------------------------------------- corpus_pack_sequences
  private val PackBudget = 256 // tokens per training sequence
  private val PackShards = 8   // independent pack shards

  /** GPT-style sequence packing: concatenate documents into fixed
    * token-budget training sequences (budget = [[PackBudget]] tokens),
    * concat-then-chunk — a document's sequence is decided by its
    * starting offset in the shard's running token stream, so sequences
    * are full to the budget and a document may straddle a boundary
    * (exactly how pretraining packs; the straddler is split at tokenize
    * time). Documents concatenate in doc_id order WITHIN one of
    * [[PackShards]] hash shards; global order is irrelevant to training,
    * determinism is not, so the shard key is the portable char-fold hash
    * of a salted id ('pk' prefix — independent of the split/fold
    * bucketing).
    *
    * Scale shape: one shuffle by shard, then a per-shard running sum
    * (one WindowExec) and a (shard, seq) hash aggregate. Shard count
    * scales with the cluster, shards pack independently — the
    * embarrassingly-parallel layout that survives 100 TB, where a
    * single global cumsum would serialize on one task. */
  def corpusPackSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.CharFoldHash.register(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"char_fold_hash(CONCAT('pk', CAST(doc_id AS STRING))) % $PackShards")
          .cast(IntegerType).as("shard"),
        tokenCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // integer div, not floor(double /): shard cumsums at 100 TB pass
      // 2^53 and a double quotient would misplace boundary documents
      .withColumn("seq_id", expr(s"(cum - n_tokens) div $PackBudget"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  val corpusPackSequencesSql: String = {
    val shard = s"${graft.functions.HashFunctions.charFoldHashSql("'pk' || CAST(doc_id AS VARCHAR)")} % $PackShards"
    s"""WITH d AS (
       |  SELECT doc_id, CAST($shard AS INT) AS shard,
       |    CAST(len($DTokens) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT shard, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS seq_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY shard, seq_id""".stripMargin
  }

  // ------------------------------------------------------- corpus_mix
  /** Per-mille mixing weights by source. >1000 up-samples (extra
    * copies), <1000 down-samples (hash-gated keep), 0 excludes; unlisted
    * sources pass through at 1.0×. */
  private val MixWeightsPm: Seq[(String, Int)] = Seq(
    "src0" -> 2250, "src1" -> 1500, "src4" -> 500, "src7" -> 250, "src3" -> 0)

  /** Domain mixing / reweighting: materialize a training corpus where
    * each source contributes according to a target weight (the
    * Pile-style "epochs per dataset" knob). A weight w emits floor(w)
    * copies of every document plus one more for the deterministic
    * frac(w) fraction of ids — the fractional gate is the portable
    * char-fold hash of a salted id ('mix' prefix), so the SAME documents
    * are up/down-sampled on every engine and every run, no RNG state.
    * Output is the expanded (doc_id, source, copy) stream a tokenizer
    * job would consume; copy indexes 0..n-1 so downstream shuffling can
    * salt on it.
    *
    * Scale shape: broadcast the (tiny, curated) weight table onto the
    * corpus scan, compute copies map-side, posexplode — a pure map-side
    * expansion with zero shuffles; output volume tracks sum(w)·corpus,
    * which is the job's intrinsic size. */
  def corpusMix(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val wtab = s.createDataFrame(MixWeightsPm).toDF("source", "pm")
    Tables.documents(s, d)
      .join(broadcast(wtab), Seq("source"), "left")
      .withColumn("pm", coalesce(col("pm"), lit(1000)))
      .withColumn("copies",
        expr("pm div 1000 + IF(char_fold_hash(CONCAT('mix', CAST(doc_id AS STRING))) % 1000 < pm % 1000, 1, 0)")
          .cast(IntegerType))
      .select(col("doc_id"), col("source"),
        posexplode(array_repeat(lit(1), col("copies"))).as(Seq("copy", "one")))
      .select(col("doc_id"), col("source"), col("copy").cast(IntegerType).as("copy"))
  }

  val corpusMixSql: String = {
    val h = graft.functions.HashFunctions.charFoldHashSql("'mix' || CAST(doc_id AS VARCHAR)")
    val weights = MixWeightsPm.map { case (s, pm) => s"('$s', $pm)" }.mkString(", ")
    s"""WITH w AS (SELECT * FROM (VALUES $weights) AS t(source, pm)),
       |d AS (
       |  SELECT doc_id, documents.source, coalesce(pm, 1000) AS pm,
       |    $h % 1000 AS frac_h
       |  FROM documents LEFT JOIN w ON documents.source = w.source)
       |SELECT doc_id, source,
       |  CAST(unnest(range(pm // 1000 + CASE WHEN frac_h < pm % 1000 THEN 1 ELSE 0 END)) AS INT) AS copy
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------- txt_pii_scrub
  /** Regex classes shared by Spark (java.util.regex) and the DuckDB
    * oracle (RE2): only the common-dialect subset — no lookaround, no
    * backreferences — so both engines match identically. The NAME class
    * is a gazetteer stand-in: real pipelines redact from curated name
    * lists; this corpus's vocabulary makes `customer`/`supplier` the
    * terms that actually occur. */
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIp    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiName  = "\\b(customer|supplier)\\b"

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before release (emails, IP addresses, gazetteer names).
    * Emits per-document per-class match counts plus the scrubbed text
    * after a fixed email→ip→name replacement cascade, so re-running
    * the scrub downstream is idempotent and auditable.
    *
    * Scale shape: a pure per-row map on a single scan — no join, no
    * shuffle, no state; at 100 TB this is I/O-bound and trivially
    * parallel. Counts are computed on the ORIGINAL text per class
    * (order-independent), the cascade only orders the rewrites. */
  def txtPiiScrub(s: SparkSession, d: String): DataFrame =
    txtPiiScrubCore(Tables.documents(s, d))

  /** Core scrub over any (doc_id, text) frame — split out so specs can
    * plant emails/IPs that this corpus's vocabulary never produces. */
  private[operators] def txtPiiScrubCore(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(PiiEmail)).cast(LongType).as("n_email"),
      regexp_count(col("text"), lit(PiiIp)).cast(LongType).as("n_ip"),
      regexp_count(col("text"), lit(PiiName)).cast(LongType).as("n_name"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), PiiEmail, "[EMAIL]"),
          PiiIp, "[IP]"),
        PiiName, "[NAME]").as("scrubbed"))

  val txtPiiScrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$PiiEmail')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$PiiIp')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(text, '$PiiName')) AS BIGINT) AS n_name,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$PiiEmail', '[EMAIL]', 'g'),
       |    '$PiiIp', '[IP]', 'g'),
       |    '$PiiName', '[NAME]', 'g') AS scrubbed
       |FROM documents""".stripMargin

  // ------------------------------------------------------- corpus_funnel
  /** The pipeline-run audit table: one row per filter stage with
    * in/dropped/kept counts, the artifact every production corpus build
    * logs per batch. Stages (precedence order): blocklisted source →
    * too-short → low-quality (< 0.5) → repetitive (Gopher flags) →
    * near-duplicate (non-canonical member of a [[DedupQueries.dedupCluster]]
    * cluster). Flags are computed corpus-wide and precedence assigns
    * each document to exactly ONE stage, so the funnel telescopes:
    * n_in(k) = n_in(k-1) - n_dropped(k-1), and the last n_kept is the
    * released corpus size.
    *
    * Scale shape: each flag is an already-scale-shaped gated operator
    * (broadcast blocklist, single-scan quality, one windowed token
    * shuffle, candidate-sized CC); the funnel adds only doc-keyed joins
    * of doc-sized flag frames and a 5-row final aggregate. The stage
    * dimension and running totals live on a 5-row frame — the single-
    * partition window is over stages, never data. */
  def corpusFunnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val bl = s.createDataFrame(Seq(
      ("src3", true), ("src7", true), ("src11", true))).toDF("source", "blocked")
    val near = DedupQueries.dedupCluster(s, d)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("near_dup"))
    val flags = docs
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_tokens"))
      .join(broadcast(bl), Seq("source"), "left")
      .join(txtQuality(s, d).select(col("doc_id"), col("quality")), Seq("doc_id"))
      .join(txtRepetition(s, d).select(col("doc_id"), col("repetitive")), Seq("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .withColumn("disposition",
        when(col("blocked").isNotNull, "blocked_source")
          .when(col("n_tokens") < 25, "too_short")
          .when(col("quality") < 0.5, "low_quality")
          .when(col("repetitive"), "repetitive")
          .when(col("near_dup").isNotNull, "near_dup")
          .otherwise("kept"))
    val stageDim = s.createDataFrame(Seq(
      (1, "blocked_source"), (2, "too_short"), (3, "low_quality"),
      (4, "repetitive"), (5, "near_dup"))).toDF("stage_order", "stage")
    val drops = flags.groupBy(col("disposition")).agg(count(lit(1)).as("nd"))
    val total = flags.agg(count(lit(1)).as("n_total"))
    val wPrev = Window.orderBy(col("stage_order"))
      .rowsBetween(Window.unboundedPreceding, -1)
    stageDim
      .join(drops, stageDim("stage") === drops("disposition"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_dropped", coalesce(col("nd"), lit(0L)))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_dropped")).over(wPrev), lit(0L)))
      .select(col("stage_order"), col("stage"), col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_kept"))
  }

  val corpusFunnelSql: String =
    s"""WITH bl AS (SELECT * FROM (VALUES ('src3'), ('src7'), ('src11')) AS t(source)),
       |q AS (SELECT doc_id, quality FROM (${txtQualitySql.replace("\n", "\n       ")})),
       |rep AS (SELECT doc_id, repetitive FROM (${txtRepetitionSql.replace("\n", "\n       ")})),
       |near AS (SELECT doc_id FROM (${DedupQueries.dedupClusterSql.replace("\n", "\n       ")})
       |         WHERE doc_id <> cluster_id),
       |flags AS (
       |  SELECT d.doc_id,
       |    CASE WHEN bl.source IS NOT NULL THEN 'blocked_source'
       |         WHEN len($DTokens) < 25 THEN 'too_short'
       |         WHEN q.quality < 0.5 THEN 'low_quality'
       |         WHEN rep.repetitive THEN 'repetitive'
       |         WHEN near.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS disposition
       |  FROM documents d
       |  LEFT JOIN bl ON d.source = bl.source
       |  JOIN q ON d.doc_id = q.doc_id
       |  JOIN rep ON d.doc_id = rep.doc_id
       |  LEFT JOIN near ON d.doc_id = near.doc_id),
       |stages AS (SELECT * FROM (VALUES (1, 'blocked_source'), (2, 'too_short'),
       |  (3, 'low_quality'), (4, 'repetitive'), (5, 'near_dup')) AS t(stage_order, stage)),
       |drops AS (SELECT disposition, CAST(count(*) AS BIGINT) AS nd FROM flags GROUP BY 1),
       |funnel AS (
       |  SELECT s.stage_order, s.stage, coalesce(d.nd, 0) AS n_dropped,
       |    (SELECT CAST(count(*) AS BIGINT) FROM flags)
       |      - coalesce(CAST(sum(coalesce(d.nd, 0)) OVER (ORDER BY s.stage_order
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_in
       |  FROM stages s LEFT JOIN drops d ON s.stage = d.disposition)
       |SELECT stage_order, stage, n_in, CAST(n_dropped AS BIGINT) AS n_dropped,
       |  n_in - n_dropped AS n_kept
       |FROM funnel""".stripMargin

  // ------------------------------------------------ corpus_filter_overlap
  /** Filter-ablation overlap matrix: the funnel (`corpus_funnel`)
    * attributes each drop to its FIRST failing stage; this query keeps
    * every filter verdict independently and packs them into a per-doc
    * bitmask (1 blocked-source, 2 too-short, 4 low-quality, 8
    * repetitive, 16 near-dup), then aggregates docs and token mass per
    * observed combination. The readout that answers the ablation
    * questions the funnel can't: how much does each filter catch that
    * NOTHING else would (its solo-bit row), and which filters are
    * near-redundant (mass concentrated in multi-bit rows).
    *
    * Scale shape: the same broadcast/keyed joins as the funnel feed a
    * ≤32-group aggregate; the bitmask is one integer expression, so
    * the combination explosion that makes ablation studies expensive
    * (2^k re-runs) collapses into a single pass. */
  def corpusFilterOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bl = s.createDataFrame(Seq(
      ("src3", true), ("src7", true), ("src11", true))).toDF("source", "blocked")
    val near = DedupQueries.dedupCluster(s, d)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("near_dup"))
    docs
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_tokens"))
      .join(broadcast(bl), Seq("source"), "left")
      .join(txtQuality(s, d).select(col("doc_id"), col("quality")), Seq("doc_id"))
      .join(txtRepetition(s, d).select(col("doc_id"), col("repetitive")), Seq("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (when(col("blocked").isNotNull, 1L).otherwise(0L)
          + when(col("n_tokens") < 25, 2L).otherwise(0L)
          + when(col("quality") < 0.5, 4L).otherwise(0L)
          + when(col("repetitive"), 8L).otherwise(0L)
          + when(col("near_dup").isNotNull, 16L).otherwise(0L)).as("mask"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("example_doc"))
      .select(col("mask"),
        (col("mask").bitwiseAND(lit(1L)) > 0).cast(LongType).as("f_blocked"),
        (col("mask").bitwiseAND(lit(2L)) > 0).cast(LongType).as("f_short"),
        (col("mask").bitwiseAND(lit(4L)) > 0).cast(LongType).as("f_lowq"),
        (col("mask").bitwiseAND(lit(8L)) > 0).cast(LongType).as("f_rep"),
        (col("mask").bitwiseAND(lit(16L)) > 0).cast(LongType).as("f_dup"),
        col("n_docs"), col("n_tokens"), col("example_doc"))
  }

  val corpusFilterOverlapSql: String =
    s"""WITH bl AS (SELECT * FROM (VALUES ('src3'), ('src7'), ('src11')) AS t(source)),
       |q AS (SELECT doc_id, quality FROM (${txtQualitySql.replace("\n", "\n       ")})),
       |rep AS (SELECT doc_id, repetitive FROM (${txtRepetitionSql.replace("\n", "\n       ")})),
       |near AS (SELECT doc_id FROM (${DedupQueries.dedupClusterSql.replace("\n", "\n       ")})
       |         WHERE doc_id <> cluster_id),
       |m AS (
       |  SELECT d.doc_id, CAST(len($DTokens) AS BIGINT) AS n_tokens,
       |    (CASE WHEN bl.source IS NOT NULL THEN 1 ELSE 0 END
       |     + CASE WHEN len($DTokens) < 25 THEN 2 ELSE 0 END
       |     + CASE WHEN q.quality < 0.5 THEN 4 ELSE 0 END
       |     + CASE WHEN rep.repetitive THEN 8 ELSE 0 END
       |     + CASE WHEN near.doc_id IS NOT NULL THEN 16 ELSE 0 END) AS mask
       |  FROM documents d
       |  LEFT JOIN bl ON d.source = bl.source
       |  JOIN q ON d.doc_id = q.doc_id
       |  JOIN rep ON d.doc_id = rep.doc_id
       |  LEFT JOIN near ON d.doc_id = near.doc_id)
       |SELECT CAST(mask AS BIGINT) AS mask,
       |  CAST(CASE WHEN mask & 1 > 0 THEN 1 ELSE 0 END AS BIGINT) AS f_blocked,
       |  CAST(CASE WHEN mask & 2 > 0 THEN 1 ELSE 0 END AS BIGINT) AS f_short,
       |  CAST(CASE WHEN mask & 4 > 0 THEN 1 ELSE 0 END AS BIGINT) AS f_lowq,
       |  CAST(CASE WHEN mask & 8 > 0 THEN 1 ELSE 0 END AS BIGINT) AS f_rep,
       |  CAST(CASE WHEN mask & 16 > 0 THEN 1 ELSE 0 END AS BIGINT) AS f_dup,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS example_doc
       |FROM m GROUP BY mask""".stripMargin

  // ------------------------------------------------------- corpus_sample
  private val SampleK = 5 // docs kept per source stratum

  /** Deterministic uniform sampling by order statistics: keep each
    * source's [[SampleK]] documents with the smallest salted portable
    * hash. Statistically a uniform without-replacement sample (the
    * hash is effectively a random permutation rank), but reproducible
    * on any engine with zero RNG state — the standard trick for
    * auditable corpus samples / eval-set carving.
    *
    * Scale shape: the bounded [[graft.functions.TopKAggregator]] keeps
    * k candidates per stratum map-side, so the shuffle carries
    * k·|sources| (double, long) pairs regardless of corpus size — the
    * Window/row_number formulation would sort-shuffle the whole corpus
    * into one reducer per source. Hash is folded mod 1e9 so its double
    * image in the aggregator stays exact (< 2^53). */
  def corpusSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    graft.expressions.CharFoldHash.register(s)
    val top = udaf(new graft.functions.TopKAggregator(SampleK),
      Encoders.product[graft.functions.ScoredId])
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        expr("char_fold_hash(CONCAT('smp', CAST(doc_id AS STRING))) % 1000000000")
          .as("hs"))
      .groupBy(col("source"))
      // negate: the aggregator keeps LARGEST scores; smallest hash wins
      .agg(top((-col("hs")).cast(DoubleType), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top.items")).as(Seq("pos", "t")))
      .select(col("source"), col("t.vec_id").as("doc_id"),
        (-col("t.cos")).cast(LongType).as("hs"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  val corpusSampleSql: String = {
    val h = graft.functions.HashFunctions.charFoldHashSql("'smp' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT source, doc_id, $h % 1000000000 AS hs FROM documents)
       |SELECT source, doc_id, hs, rank FROM (
       |  SELECT source, doc_id, hs,
       |    row_number() OVER (PARTITION BY source ORDER BY hs ASC, doc_id ASC) AS rank
       |  FROM d) t
       |WHERE rank <= $SampleK""".stripMargin
  }

  // ------------------------------------------- corpus_mix_temperature
  /** Temperature-scaled source mixing (the Pile/Gopher α-sampling,
    * α = 0.5): effective source weight ∝ √(source share), flattening
    * head sources and upsampling the tail — THE standard LLM-pretraining
    * rebalance. Per-doc expected copies are the rational
    * N·s_i / (S·n_i) carried in exact integer per-mille; the only
    * float op is ONE correctly-rounded IEEE sqrt per source, floored to
    * int64 fixed-point before any cross-source arithmetic, so both
    * engines compute identical targets (a float Σ√n would be
    * summation-order-dependent).
    *
    * Scale shape: source stats are a |sources|-row aggregate; rates
    * broadcast back over the corpus; realization is the same zero-
    * shuffle hash-Bernoulli map corpus_mix uses, reported as a
    * per-source audit. Int64 headroom: N·s_i·1000 needs
    * N·√n·10⁹ < 2⁶³ — rescale the 1e6 fixed point for corpora past
    * ~10¹² docs. */
  def corpusMixTemperature(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val counts = Tables.documents(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("sfp",
        expr("CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"))
    val tot = counts.agg(sum(col("sfp")).as("ssum"), sum(col("n")).as("ntot"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("cpm", expr("ntot * sfp * 1000L div (ssum * n)"))
      .select(col("source"), col("cpm"))
    Tables.documents(s, d)
      .join(broadcast(rates), Seq("source"))
      .withColumn("copies", expr(
        "cpm div 1000 + IF(char_fold_hash(CONCAT('tmp', CAST(doc_id AS STRING))) % 1000 < cpm % 1000, 1L, 0L)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("cpm")).as("cpm"),
        sum(col("copies")).as("n_out"))
  }

  val corpusMixTemperatureSql: String = {
    val h = graft.functions.HashFunctions.charFoldHashSql("'tmp' || CAST(doc_id AS VARCHAR)")
    s"""WITH c AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
       |sc AS (
       |  SELECT source, n,
       |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS sfp
       |  FROM c),
       |t AS (SELECT CAST(sum(sfp) AS BIGINT) AS ssum,
       |             CAST(sum(n) AS BIGINT) AS ntot FROM sc),
       |r AS (SELECT source, ntot * sfp * 1000 // (ssum * n) AS cpm FROM sc, t),
       |dd AS (
       |  SELECT documents.source, cpm,
       |    cpm // 1000 + CASE WHEN $h % 1000 < cpm % 1000 THEN 1 ELSE 0 END AS copies
       |  FROM documents JOIN r ON documents.source = r.source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(max(cpm) AS BIGINT) AS cpm,
       |  CAST(sum(copies) AS BIGINT) AS n_out
       |FROM dd GROUP BY source""".stripMargin
  }

  // --------------------------------------------- corpus_shuffle_shards
  private val ShuffleShards = 8

  /** Deterministic global training-order shuffle: every document gets a
    * salted portable hash, shard = hash mod N, and an exact 0-based
    * position within its shard ordered by (hash, doc_id) — the
    * "shuffle the corpus before training" step, reproducible on any
    * engine with zero RNG state (re-running the pipeline yields the
    * byte-identical training order, the property epoch-resumable
    * training jobs depend on).
    *
    * Scale shape: the within-shard rank is ONE sort per shard — and
    * shard count is the parallelism lever: a real run sets N to the
    * training-file count (thousands), so each sort is file-sized and
    * writer-local (`repartitionByRange(shard) + sortWithinPartitions`
    * on the write path materializes exactly this order). A single
    * global-rank formulation would serialize the corpus through one
    * task; per-shard ranks never do. */
  def corpusShuffleShards(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.CharFoldHash.register(s)
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("char_fold_hash(CONCAT('shuf', CAST(doc_id AS STRING)))").as("h"))
      .withColumn("shard", col("h") % ShuffleShards) // fold hash is non-negative
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    base.withColumn("pos", (row_number().over(w) - 1).cast(LongType))
      .select(col("doc_id"), col("shard"), col("h").as("sort_key"), col("pos"))
  }

  val corpusShuffleShardsSql: String = {
    val h = graft.functions.HashFunctions.charFoldHashSql("'shuf' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, $h AS h FROM documents)
       |SELECT doc_id, h % $ShuffleShards AS shard, h AS sort_key,
       |  CAST(row_number() OVER (PARTITION BY h % $ShuffleShards
       |    ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------- corpus_chunk
  private val ChunkSize = 64   // tokens per chunk (the "context window")
  private val ChunkStride = 48 // tokens between chunk starts (16 overlap)

  /** Sliding-window document chunking: every document split into
    * [[ChunkSize]]-token windows advancing by [[ChunkStride]] tokens
    * (overlap = size - stride) — the retrieval-chunking / training-
    * sequence prep step every RAG index and context-window pipeline
    * runs. Chunk count is exact integer math (`1 + ceil((n-W)/S)` via
    * int division, one chunk for docs at or under W tokens), so the
    * layout is reproducible on any engine with no float in sight.
    *
    * Scale shape: a pure map + explode on a single scan — zero
    * shuffles; output volume is Σ chunks, the job's intrinsic size.
    * The slice re-materializes only the window's tokens, so peak memory
    * per row is one document regardless of corpus size. */
  def corpusChunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("n_chunks",
        when(col("n_tokens") <= ChunkSize, lit(1L))
          .otherwise(expr(s"(n_tokens - ${ChunkSize - ChunkStride + 1}) div $ChunkStride") + 1L))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_id"))
      .withColumn("chunk",
        expr(s"slice(toks, CAST(chunk_id * $ChunkStride + 1 AS INT), $ChunkSize)"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride + 1).as("start_tok"),
        size(col("chunk")).cast(LongType).as("n_tok"),
        array_join(col("chunk"), " ").as("chunk_text"))

  val corpusChunkSql: String =
    s"""WITH toks AS (SELECT doc_id, $DTokens AS l FROM documents),
       |n AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n_tokens FROM toks),
       |c AS (
       |  SELECT doc_id, l,
       |    CASE WHEN n_tokens <= $ChunkSize THEN 1
       |         ELSE (n_tokens - ${ChunkSize - ChunkStride + 1}) // $ChunkStride + 1 END AS n_chunks
       |  FROM n),
       |x AS (SELECT doc_id, l, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id FROM c)
       |SELECT doc_id, chunk_id,
       |  CAST(chunk_id * $ChunkStride + 1 AS BIGINT) AS start_tok,
       |  CAST(len(l[(chunk_id * $ChunkStride + 1):(chunk_id * $ChunkStride + $ChunkSize)]) AS BIGINT) AS n_tok,
       |  array_to_string(l[(chunk_id * $ChunkStride + 1):(chunk_id * $ChunkStride + $ChunkSize)], ' ') AS chunk_text
       |FROM x""".stripMargin

  // ------------------------------------------------------ txt_diversity
  private val DivFpScale = 1e15 // fixed-point scale for the Simpson sum

  /** Token-distribution concentration metrics per document: Simpson
    * index (probability two random tokens coincide — order-2 Rényi
    * concentration), effective vocabulary size (1/Simpson), and
    * type-token ratio. Low diversity flags boilerplate/spam documents
    * that length and stopword heuristics (txt_quality) miss.
    *
    * Cross-engine determinism without libm: entropy's log is replaced
    * by the rational Simpson family (division and multiplication are
    * correctly-rounded IEEE ops, where log() flakes in the last ulp —
    * see txt_tfidf), and the per-type (c/n)² terms are floored to int64
    * fixed-point before summation, so the per-document reduction is
    * exact integer addition — shuffle-order- and engine-independent.
    * Terms sum to ≤ 1e15, so int64 never overflows.
    *
    * Scale shape: one (doc_id, token) shuffle builds counts; doc
    * totals ride a partition-frame window over that same frame (no
    * second corpus scan); final metrics are a doc-keyed aggregate. */
  def txtDiversity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val r = col("c").cast(DoubleType) / col("n_tokens").cast(DoubleType)
    val per = tc
      .withColumn("n_tokens", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("term", floor(r * r * lit(DivFpScale)).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("term")).as("fp"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        when(col("n_tokens") > 0,
          col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType)).as("ttr"),
        when(col("n_tokens") > 0,
          col("fp").cast(DoubleType) / lit(DivFpScale)).as("simpson"),
        when(col("fp") > 0, lit(DivFpScale) / col("fp").cast(DoubleType)).as("eff_vocab"))
  }

  val txtDiversitySql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($DTokens) AS tok FROM documents),
       |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
       |n AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types
       |  FROM tc GROUP BY doc_id),
       |fp AS (
       |  SELECT tc.doc_id,
       |    CAST(sum(CAST(floor(
       |      (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |        * (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * $DivFpScale) AS BIGINT)) AS BIGINT) AS fp
       |  FROM tc JOIN n USING (doc_id) GROUP BY tc.doc_id)
       |SELECT d.doc_id,
       |  coalesce(n.n_tokens, 0) AS n_tokens,
       |  coalesce(n.n_types, 0) AS n_types,
       |  CASE WHEN n.n_tokens > 0
       |    THEN CAST(n.n_types AS DOUBLE) / CAST(n.n_tokens AS DOUBLE) END AS ttr,
       |  CASE WHEN n.n_tokens > 0
       |    THEN CAST(fp.fp AS DOUBLE) / $DivFpScale END AS simpson,
       |  CASE WHEN fp.fp > 0 THEN $DivFpScale / CAST(fp.fp AS DOUBLE) END AS eff_vocab
       |FROM documents d
       |LEFT JOIN n ON d.doc_id = n.doc_id
       |LEFT JOIN fp ON d.doc_id = fp.doc_id""".stripMargin

  // -------------------------------------------------------- txt_colloc
  private val CollocMinCount = 5 // min bigram support
  private val CollocK = 20       // collocations reported
  private val CollocFpScale = 1000000L // fixed-point scale for the lift

  /** Statistical collocation mining: the corpus's top bigrams by lift
    * — P(xy) / (P(x)·P(y)), the exponential of PMI — with a minimum
    * support floor. High-lift pairs are multi-word expressions
    * ("machine learning"-style units) that tokenizers and dedup
    * shingles should treat as one term.
    *
    * PMI's log is monotone, so ranking by the RATIONAL lift gives the
    * identical order with zero libm: lift·1e6 is computed as one
    * integer expression floor(c_xy·N²·1e6 / (B·c_x·c_y)) in DECIMAL(38)
    * (≤1e29 at any realistic corpus, no overflow, scale-0 so the
    * arithmetic is exact integer math on both engines), and `div`
    * returns an exact int64 — engine- and shuffle-order-independent,
    * like txt_diversity's fixed-point Simpson terms.
    *
    * Scale shape: unigram and bigram counting are one explode +
    * vocabulary-sized hash aggregates with map-side partials; the count
    * joins are vocab-keyed equi-joins (broadcast while the vocabulary
    * fits, shuffle-on-token beyond); corpus totals ride a broadcast
    * 1-row frame (no driver collect); the final top-k is
    * TakeOrderedAndProject over the vocab²-bounded candidate set. */
  def txtColloc(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        expr("slice(toks, 1, size(toks) - 1)"),
        expr("slice(toks, 2, size(toks) - 1)")).cast(
        "array<struct<x:string,y:string>>")).as("bg"))
      .select(col("bg.x").as("x"), col("bg.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
    val totals = uni.agg(sum(col("c")).as("n"))
      .crossJoin(bi.agg(sum(col("c_xy")).as("b")))
    bi.filter(col("c_xy") >= CollocMinCount)
      .join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("c_xy"),
        expr(s"""CAST(c_xy AS DECIMAL(38,0)) * n * n * $CollocFpScale
                 div (CAST(b AS DECIMAL(38,0)) * c_x * c_y)""").as("lift_fp"))
      .orderBy(col("lift_fp").desc, col("x"), col("y"))
      .limit(CollocK)
  }

  val txtCollocSql: String =
    s"""WITH toks AS (SELECT $DTokens AS l FROM documents),
       |uni AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(l) AS tok FROM toks) GROUP BY tok),
       |bi AS (
       |  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
       |  FROM (SELECT unnest(l[1:len(l)-1]) AS x, unnest(l[2:len(l)]) AS y
       |        FROM toks WHERE len(l) >= 2) GROUP BY x, y),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
       |btot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS b FROM bi)
       |SELECT x, y, c_xy,
       |  CAST((CAST(c_xy AS HUGEINT) * n * n * $CollocFpScale)
       |       // (CAST(b AS HUGEINT) * cx.c * cy.c) AS BIGINT) AS lift_fp
       |FROM bi, tot, btot
       |JOIN uni cx ON bi.x = cx.tok
       |JOIN uni cy ON bi.y = cy.tok
       |WHERE c_xy >= $CollocMinCount
       |ORDER BY lift_fp DESC, x ASC, y ASC
       |LIMIT $CollocK""".stripMargin

  // ------------------------------------------------------ txt_winnowing
  private[operators] final val WinK = 4 // gram width (tokens)
  private[operators] final val WinW = 4 // winnowing window (grams)

  /** Winnowing fingerprint selection (the MOSS algorithm): hash every
    * word 4-gram, slide a 4-gram window, keep the leftmost minimum per
    * window — emitting each document's distinct (fingerprint, position)
    * pairs. Winnowing's guarantee: any shared token run of length ≥
    * w+k-1 (= 7) between two documents shares a selected fingerprint,
    * at a bounded ~2/(w+1) selection density — the screening index for
    * near-verbatim overlap at a fraction of dedup_substring's full
    * run-key volume.
    *
    * Scale shape: the entire select runs inside one native codegen
    * expression per document ([[graft.expressions.WinnowExpressions]]),
    * so the plan is scan → project → explode — ZERO shuffles; output
    * volume is the selected-fingerprint count (~2/(w+1) of the gram
    * stream). The oracle replicates tokenize/hash/window/tiebreak
    * exactly in SQL, so the algorithm is gated, not just row counts. */
  def txtWinnowing(s: SparkSession, d: String): DataFrame = {
    graft.expressions.WinnowExpressions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(s"winnow_fps(text, $WinK, $WinW)")).as("sel"))
      .select(col("doc_id"), col("sel.fp").as("fp"), col("sel.pos").as("pos"))
  }

  /** Reusable DuckDB CTE chain: `outName(doc_id, fp)` = the distinct
    * winnowing fingerprints (k=[[WinK]], w=[[WinW]]) of every row of
    * `srcCte(doc_id, text)` — the oracle-side mirror of
    * `winnow_fps(text, 4, 4)` for queries that compose the
    * fingerprint index (dedup_incremental). */
  private[operators] def winnowFpsCteSql(srcCte: String, outName: String): String = {
    val M = graft.expressions.WinnowExpressions.Mod
    def atom(t: String) = s"(CAST(length($t) AS BIGINT) * 17 + CAST(ascii($t) AS BIGINT))"
    val gram = (1 to WinK).foldLeft("CAST(0 AS BIGINT)") { (h, i) =>
      s"(($h * 31 + ${atom(s"toks[j + ${i - 1}]")}) % $M)"
    }
    s"""wf_d AS (SELECT doc_id, $DTokens AS toks FROM $srcCte),
       |wf_g AS (
       |  SELECT doc_id, unnest(range(1, len(toks) - ${WinK - 2})) AS j, toks
       |  FROM wf_d),
       |wf_gh AS (SELECT doc_id, j, $gram AS h FROM wf_g),
       |wf_gl AS (SELECT doc_id, list(h ORDER BY j) AS ghs FROM wf_gh GROUP BY doc_id),
       |wf_win AS (
       |  SELECT doc_id, unnest(range(1, len(ghs) - ${WinW - 2})) AS p, ghs
       |  FROM wf_gl),
       |$outName AS (
       |  SELECT DISTINCT doc_id,
       |    least(${(0 until WinW).map(i => s"ghs[p + $i]").mkString(", ")}) AS fp
       |  FROM wf_win)""".stripMargin
  }

  val txtWinnowingSql: String = {
    val M = graft.expressions.WinnowExpressions.Mod
    // atom of token t: length(t)*17 + codepoint of first char
    def atom(t: String) = s"(CAST(length($t) AS BIGINT) * 17 + CAST(ascii($t) AS BIGINT))"
    // left-to-right fold of the k=4 gram starting at 1-based index j
    val gram = (1 to WinK).foldLeft("CAST(0 AS BIGINT)") { (h, i) =>
      s"(($h * 31 + ${atom(s"toks[j + ${i - 1}]")}) % $M)"
    }
    s"""WITH d AS (SELECT doc_id, $DTokens AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(range(1, len(toks) - ${WinK - 2})) AS j, toks
       |  FROM d),
       |gh AS (SELECT doc_id, j, $gram AS h FROM g),
       |gl AS (SELECT doc_id, list(h ORDER BY j) AS ghs FROM gh GROUP BY doc_id),
       |win AS (
       |  SELECT doc_id, unnest(range(1, len(ghs) - ${WinW - 2})) AS p, ghs
       |  FROM gl),
       |sel AS (
       |  SELECT doc_id, p, ghs,
       |    least(${(0 until WinW).map(i => s"ghs[p + $i]").mkString(", ")}) AS fp
       |  FROM win)
       |SELECT DISTINCT doc_id, fp,
       |  CASE ${(0 until WinW).map(i => s"WHEN ghs[p + $i] = fp THEN CAST(p + $i - 1 AS INTEGER)").mkString(" ")}
       |  END AS pos
       |FROM sel""".stripMargin
  }

  // --------------------------------------------------- txt_readability
  /** FORCAST-style readability scoring: per document, the token count,
    * total vowel-run "syllables", monosyllabic-token count, and the
    * FORCAST grade level in fixed point — `20 − 15·mono/words`, the
    * published formula's scale-free form (FORCAST is the readability
    * family member that needs NO sentence boundaries, which this corpus
    * does not have). Monosyllabic density is the signal: technical /
    * fragmentary text scores low, simple prose high.
    *
    * Portability: "syllables" are maximal `[aeiouy]+` runs — the
    * oracle's regex, counted here by the compiled
    * [[graft.expressions.VowelRunCounts]]; the grade is scaled-integer division
    * (`(15000·mono) div words`), exact and engine-independent.
    *
    * Scale shape: one scan, per-row map, vocabulary-free — zero
    * shuffles, I/O-bound at 100 TB like txt_stats. */
  def txtReadability(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), VowelRunCounts.column(col("toks")).as("sylls"))
      .select(col("doc_id"),
        size(col("sylls")).cast("long").as("n_tokens"),
        expr("aggregate(sylls, 0L, (a, x) -> a + x)").as("n_sylls"),
        (size(col("sylls")) - size(array_remove(col("sylls"), 1))).cast("long").as("n_mono"))
      .withColumn("forcast_fp",
        expr("20000L - (15000L * n_mono) div greatest(n_tokens, 1L)"))

  val txtReadabilitySql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    list_transform($DTokens, t -> len(regexp_extract_all(t, '[aeiouy]+'))) AS sylls
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(sylls) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(list_sum(sylls), 0) AS BIGINT) AS n_sylls,
       |  CAST(len(list_filter(sylls, x -> x = 1)) AS BIGINT) AS n_mono,
       |  20000 - (15000 * CAST(len(list_filter(sylls, x -> x = 1)) AS BIGINT))
       |          // greatest(CAST(len(sylls) AS BIGINT), 1) AS forcast_fp
       |FROM s""".stripMargin

  // ------------------------------------------------------ txt_drift_chi2
  /** Train/test distribution-drift detection: the tokens whose frequency
    * differs most between the stratified TRAIN and TEST splits (the same
    * deterministic buckets as `split_stratified`), ranked by the exact
    * two-sample chi-square statistic. The standing data-quality check
    * before training: a token with high chi-square marks leakage,
    * bucketing bias, or temporal drift between the splits.
    *
    * The 2×2 chi-square collapses algebraically to D² / (t·N_tr·N_te)
    * with D = o_tr·N_te − o_te·N_tr and t = o_tr+o_te — one rational
    * term, computed in scale-0 DECIMAL(38) fixed point (×1e6): exact,
    * shuffle-order- and engine-independent, zero libm. (D² fits
    * DECIMAL(38) through corpus sizes ~1e13 tokens; beyond that the
    * ranking would move to doubles and out of the bit-exact gate.)
    *
    * Scale shape: one explode + vocabulary-sized count aggregate with
    * map-side partials; totals ride a broadcast 1-row frame; final
    * ranking is TakeOrderedAndProject over the vocabulary. */
  private val DriftK = 20
  private val DriftFpScale = 1000000L

  def txtDriftChi2(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val counts = Tables.documents(s, d)
      .withColumn("bkt", expr("char_fold_hash(CAST(doc_id AS STRING)) % 100"))
      .filter(col("bkt") < 80 || col("bkt") >= 90) // train ∪ test, val excluded
      .select((col("bkt") < 80).cast(IntegerType).as("is_tr"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(col("is_tr")).cast(LongType).as("o_tr"),
        sum(lit(1) - col("is_tr")).cast(LongType).as("o_te"))
    val totals = counts.agg(sum(col("o_tr")).as("n_tr"), sum(col("o_te")).as("n_te"))
    counts.crossJoin(broadcast(totals))
      .select(col("tok"), col("o_tr"), col("o_te"),
        expr(s"""CAST((CAST(o_tr AS DECIMAL(38,0)) * n_te - CAST(o_te AS DECIMAL(38,0)) * n_tr)
                 * (CAST(o_tr AS DECIMAL(38,0)) * n_te - CAST(o_te AS DECIMAL(38,0)) * n_tr)
                 * $DriftFpScale
                 div ((o_tr + o_te) * CAST(n_tr AS DECIMAL(38,0)) * n_te) AS BIGINT)""")
          .as("chi2_fp"))
      .orderBy(col("chi2_fp").desc, col("tok"))
      .limit(DriftK)
  }

  val txtDriftChi2Sql: String = {
    val bucket = s"${graft.functions.HashFunctions.charFoldHashSql("CAST(doc_id AS VARCHAR)")} % 100"
    s"""WITH t AS (
       |  SELECT CASE WHEN bkt < 80 THEN 1 ELSE 0 END AS is_tr, unnest($DTokens) AS tok
       |  FROM (SELECT text, $bucket AS bkt FROM documents)
       |  WHERE bkt < 80 OR bkt >= 90),
       |c AS (
       |  SELECT tok, CAST(sum(is_tr) AS BIGINT) AS o_tr,
       |    CAST(sum(1 - is_tr) AS BIGINT) AS o_te
       |  FROM t GROUP BY tok),
       |n AS (SELECT CAST(sum(o_tr) AS BIGINT) AS n_tr,
       |             CAST(sum(o_te) AS BIGINT) AS n_te FROM c)
       |SELECT tok, o_tr, o_te,
       |  CAST((CAST(o_tr AS HUGEINT) * n_te - CAST(o_te AS HUGEINT) * n_tr)
       |     * (CAST(o_tr AS HUGEINT) * n_te - CAST(o_te AS HUGEINT) * n_tr)
       |     * $DriftFpScale
       |     // ((o_tr + o_te) * CAST(n_tr AS HUGEINT) * n_te) AS BIGINT) AS chi2_fp
       |FROM c, n
       |ORDER BY chi2_fp DESC, tok ASC
       |LIMIT $DriftK""".stripMargin
  }

  // ------------------------------------------------------ corpus_report
  /** Per-source corpus dashboard: document count, token volume, mean
    * document length (centitokens fixed point), language spread, and
    * the short-document rate (per mille) — the standing health report a
    * data-curation team keeps on every ingestion source. All-integer
    * outputs: exact on both engines with zero float paths.
    *
    * Scale shape: one scan → per-row token count (native map) → a
    * \|sources\|-sized hash aggregate with map-side partials; no joins,
    * no windows. */
  private val ReportShortTokens = 32

  def corpusReport(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        expr("sum(n_toks) * 100 div count(1)").as("mean_toks_fp"),
        countDistinct(col("lang")).as("n_langs"),
        expr(s"sum(CASE WHEN n_toks < $ReportShortTokens THEN 1 ELSE 0 END) * 1000 div count(1)")
          .as("short_rate_pm"))

  val corpusReportSql: String =
    s"""WITH t AS (SELECT source, lang, CAST(len($DTokens) AS BIGINT) AS n_toks
       |           FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_toks) AS BIGINT) * 100 // count(*) AS mean_toks_fp,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(CASE WHEN n_toks < $ReportShortTokens THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // count(*) AS short_rate_pm
       |FROM t GROUP BY source""".stripMargin

  // --------------------------------------------------- txt_surprisal
  /** Per-document surprisal under the corpus bigram model — the
    * perplexity-filter shape (CCNet-style LM quality scoring) made
    * ENGINE-EXACT: each bigram's -log2 P(next|prefix) is approximated
    * by floor(log2 c(prefix·)) − floor(log2 c(prefix,next)), an
    * INTEGER bit count. floor(log2 n) is portable IEEE (exact on powers
    * of two; elsewhere a 1-ulp libm error cannot cross an integer), so
    * the whole score pipeline — unlike a true float log-sum — is
    * bit-identical on any engine and any shuffle order. The mean is
    * fixed-point milli-bits via integral division.
    *
    * Scale shape: same skeleton as [[txtBigramLm]] — one doc-keyed
    * window for bigram formation, vocab-sized count tables hash-joined
    * back onto the bigram stream, one per-doc aggregate. At 100 TB the
    * count tables are the things to bucket; no all-pairs anywhere. */
  def txtSurprisal(s: SparkSession, d: String): DataFrame =
    surprisalPerDoc(s, d)

  /** Per-doc surprisal frame (doc_id, n_bigrams, total_bits,
    * mean_mbits) — shared by txt_surprisal (which reports it) and
    * txt_ppl_buckets (which ranks on it). */
  private def surprisalPerDoc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d).select(col("doc_id"),
      posexplode(split(trim(col("text")), " +")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = tok.withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("tok").as("prefix"), col("nxt"))
    val c2 = bg.groupBy(col("prefix"), col("nxt")).agg(count(lit(1)).as("bg_c"))
    val c1 = bg.groupBy(col("prefix")).agg(count(lit(1)).as("pre_c"))
    bg.join(c2, Seq("prefix", "nxt")).join(c1, Seq("prefix"))
      .select(col("doc_id"),
        (floor(log2(col("pre_c"))) - floor(log2(col("bg_c"))))
          .cast(LongType).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        expr("total_bits * 1000 div n_bigrams").as("mean_mbits"))
  }

  /** CTE chain replicating [[surprisalPerDoc]] in DuckDB, ending in
    * `sc` = (doc_id, n_bigrams, total_bits, mean_mbits). */
  private val surprisalCtes: String =
    s"""toks AS (SELECT doc_id, $DTokens AS l FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS bigram
       |  FROM toks),
       |c2 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS bg_c FROM bg GROUP BY bigram),
       |c1 AS (SELECT split_part(bigram, ' ', 1) AS prefix,
       |         CAST(count(*) AS BIGINT) AS pre_c FROM bg GROUP BY 1),
       |j AS (
       |  SELECT doc_id,
       |    CAST(floor(log2(pre_c)) AS BIGINT)
       |      - CAST(floor(log2(bg_c)) AS BIGINT) AS bits
       |  FROM bg JOIN c2 USING (bigram)
       |  JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.prefix),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(bits) AS BIGINT) AS total_bits,
       |    CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS mean_mbits
       |  FROM j GROUP BY doc_id)""".stripMargin

  val txtSurprisalSql: String =
    s"""WITH $surprisalCtes
       |SELECT doc_id, n_bigrams, total_bits, mean_mbits FROM sc""".stripMargin

  // ---------------------------------------------- corpus_curriculum
  /** CURRICULUM schedule (Bengio et al. 2009, easy-first training
    * order): the corpus ordered by the engine-exact surprisal
    * difficulty score and cut into three sequential training phases of
    * ~equal token mass — the data-ORDERING manifest a curriculum run
    * consumes, distinct from txt_ppl_buckets' per-source quality
    * filter (which documents to KEEP vs in which order to FEED them).
    *
    * Phase boundaries fall on DIFFICULTY-GROUP boundaries: token mass
    * aggregates per distinct score first, the cumulative walk runs over
    * that score histogram, and a group lands in the phase its
    * cumulative start falls in (3·cum_before DIV total, capped at 2) —
    * equal-difficulty documents always share a phase, and the whole
    * rule is integer arithmetic on exact counts, bit-portable at any
    * partitioning.
    *
    * Scale shape: the per-doc frame reduces map-side to a ≤|distinct
    * scores| histogram (mean_mbits is integral milli-bits, so a few
    * thousand rows at ANY corpus size); the cumulative walk windows
    * over that tiny frame only and the phase verdicts broadcast-join
    * back — no global per-document sort anywhere, which is exactly how
    * a 100 TB curriculum manifest must be derived. */
  def corpusCurriculum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = surprisalPerDoc(s, d)
      .select(col("doc_id"), col("mean_mbits"),
        (col("n_bigrams") + 1).as("toks"))
    val hist = perDoc.groupBy(col("mean_mbits"))
      .agg(count(lit(1)).as("g_docs"), sum(col("toks")).as("g_toks"))
    val wCum = Window.orderBy(col("mean_mbits"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phased = hist
      .withColumn("cum", sum(col("g_toks")).over(wCum))
      .crossJoin(broadcast(hist.agg(sum(col("g_toks")).as("t"))))
      .withColumn("phase",
        least(lit(2L), expr("(3 * (cum - g_toks)) DIV t")))
    phased.groupBy(col("phase"))
      .agg(sum(col("g_docs")).as("n_docs"),
        count(lit(1)).as("n_score_groups"),
        sum(col("g_toks")).as("total_tokens"),
        min(col("mean_mbits")).as("min_mbits"),
        max(col("mean_mbits")).as("max_mbits"))
  }

  val corpusCurriculumSql: String =
    s"""WITH $surprisalCtes,
       |perdoc AS (
       |  SELECT doc_id, mean_mbits, n_bigrams + 1 AS toks FROM sc),
       |hist AS (
       |  SELECT mean_mbits, CAST(count(*) AS BIGINT) AS g_docs,
       |    CAST(sum(toks) AS BIGINT) AS g_toks
       |  FROM perdoc GROUP BY mean_mbits),
       |cum AS (
       |  SELECT *, CAST(sum(g_toks) OVER (ORDER BY mean_mbits
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM hist),
       |tot AS (SELECT CAST(sum(g_toks) AS BIGINT) AS t FROM hist),
       |phased AS (
       |  SELECT *, least(2, (3 * (cum - g_toks)) // t) AS phase
       |  FROM cum CROSS JOIN tot)
       |SELECT phase, CAST(sum(g_docs) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_score_groups,
       |  CAST(sum(g_toks) AS BIGINT) AS total_tokens,
       |  min(mean_mbits) AS min_mbits, max(mean_mbits) AS max_mbits
       |FROM phased GROUP BY phase""".stripMargin

  // ------------------------------------------------- txt_ppl_buckets
  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): within each SOURCE, rank documents by the
    * engine-exact surprisal score and split into head / middle / tail
    * thirds — the standard "keep head+middle, drop tail" LM-quality
    * partition, computed per source so no domain is graded on another
    * domain's fluency. Ranks are a strict total order
    * (mean_mbits asc, doc_id asc) and the tertile rule is integer
    * arithmetic (rank·3 vs n, then rank·3 vs 2n), so bucket membership
    * is bit-portable. Output is the |sources|×3 summary: doc/token
    * mass per bucket plus the realized score boundaries.
    *
    * Scale shape: the per-source rank is a source-partitioned sort of
    * the per-DOC score frame (already ~1e-3 of token volume); at
    * 100 TB a skewed mega-source either range-partitions its sort or
    * swaps exact ranks for two-pass selection against sampled
    * thresholds — the bucket rule itself is unchanged. Everything
    * after the rank is a ≤3·|sources|-row aggregate. */
  def txtPplBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = surprisalPerDoc(s, d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("toks"))
    val byScore = Window.partitionBy(col("source"))
      .orderBy(col("mean_mbits"), col("doc_id"))
    val bySource = Window.partitionBy(col("source"))
    sc.join(docs, Seq("doc_id"))
      .withColumn("rk", row_number().over(byScore))
      .withColumn("nd", count(lit(1)).over(bySource))
      .withColumn("bucket",
        when(col("rk") * 3 <= col("nd"), lit("head"))
          .when(col("rk") * 3 <= col("nd") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_toks"),
        min(col("mean_mbits")).as("lo_mbits"),
        max(col("mean_mbits")).as("hi_mbits"))
  }

  val txtPplBucketsSql: String =
    s"""WITH $surprisalCtes,
       |docs AS (SELECT doc_id, source, CAST(len($DTokens) AS BIGINT) AS toks
       |         FROM documents),
       |ranked AS (
       |  SELECT d.source, d.toks, sc.mean_mbits,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY sc.mean_mbits ASC, sc.doc_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY d.source) AS nd
       |  FROM sc JOIN docs d USING (doc_id)),
       |b AS (
       |  SELECT source, toks, mean_mbits,
       |    CASE WHEN rk * 3 <= nd THEN 'head'
       |         WHEN rk * 3 <= nd * 2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM ranked)
       |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS sum_toks,
       |  min(mean_mbits) AS lo_mbits, max(mean_mbits) AS hi_mbits
       |FROM b GROUP BY source, bucket""".stripMargin

  // ------------------------------------------------------ corpus_quota
  private val QuotaTokens = 800L

  /** Per-source token QUOTA with quality-ranked truncation: each source
    * may contribute at most [[QuotaTokens]] training tokens, filled in
    * quality order (n_chars DESC — longer documents first — with
    * doc_id as the deterministic tiebreak) under the same
    * exclusive-prefix rule as shard packing: a document is kept iff the
    * tokens BEFORE it fit the quota, so every source contributes at
    * least its first document and overshoots by at most one straggler.
    * This is the cap-not-sample counterpart of [[corpusMix]]: mixing
    * plans cap low-value over-represented sources (boilerplate crawls)
    * while sampling the rest.
    *
    * Scale shape: one shuffle keyed by source (the ranking window +
    * running sum ride it), then a source-sized aggregate; the 100 TB
    * concern is source skew — one giant crawl source makes one hot
    * window partition — which a production plan handles by
    * pre-aggregating per (source, shard) exactly like
    * [[corpusPackSequences]]'s per-shard running sums. */
  def corpusQuota(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        tokenCount(col("text")).as("toks"))
      .withColumn("before", sum(col("toks")).over(w) - col("toks"))
      .withColumn("kept", (col("before") < QuotaTokens).cast(IntegerType))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept").cast(LongType)).as("n_kept"),
        sum(when(col("kept") === 1, col("toks")).otherwise(0L)).as("kept_tokens"),
        sum(col("toks")).as("total_tokens"))
  }

  val corpusQuotaSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id, n_chars, CAST(len($DTokens) AS BIGINT) AS toks
       |  FROM documents),
       |c AS (
       |  SELECT source, toks,
       |    sum(toks) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) - toks AS before
       |  FROM t)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN before < $QuotaTokens THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN before < $QuotaTokens THEN toks ELSE 0 END) AS BIGINT)
       |    AS kept_tokens,
       |  CAST(sum(toks) AS BIGINT) AS total_tokens
       |FROM c GROUP BY source""".stripMargin

  // ------------------------------------------------ corpus_token_budget
  private val BudgetTokens = 1000000L

  /** Token-budget apportionment by the largest-remainder method: split
    * a global training-token budget across sources proportionally to
    * their token mass, in EXACT integer arithmetic — floor shares
    * first, then the leftover units go to the largest fractional
    * remainders (ties → source name). Allocations sum to the budget
    * EXACTLY (spec-asserted); float shares would drift and over/under
    * commit. This is the allocation step a data-mixing plan runs before
    * [[corpusMix]]-style per-doc sampling.
    *
    * Scale shape: one scan collapses to |sources| rows (map-side
    * partial token sums); everything after — the 1-row total broadcast,
    * the remainder ranking window, the leftover count — runs on the
    * |sources|-sized frame. The budget×count products fit int64 here;
    * at 100 TB token masses the two product columns widen to
    * DECIMAL(38,0)/HUGEINT with the same floor/mod identities. */
  def corpusTokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("toks"))
    val tot = counts.agg(sum(col("toks")).as("c_total"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($BudgetTokens * toks) div c_total"))
      .withColumn("rem", expr(s"($BudgetTokens * toks) % c_total"))
    val leftover = based.agg((lit(BudgetTokens) - sum(col("base"))).as("r"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("toks"),
        (col("base") + when(col("rk") <= col("r"), 1L).otherwise(0L))
          .as("alloc_tokens"))
  }

  val corpusTokenBudgetSql: String =
    s"""WITH counts AS (
       |  SELECT source, CAST(sum(len($DTokens)) AS BIGINT) AS toks
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS c_total FROM counts),
       |based AS (
       |  SELECT source, toks,
       |    ($BudgetTokens * toks) // c_total AS base,
       |    ($BudgetTokens * toks) % c_total AS rem
       |  FROM counts CROSS JOIN tot),
       |lo AS (SELECT $BudgetTokens - CAST(sum(base) AS BIGINT) AS r FROM based)
       |SELECT source, toks,
       |  CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= r
       |              THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
       |FROM based CROSS JOIN lo""".stripMargin

  // ---------------------------------------------- corpus_dedup_priority
  /** Canonical-representative selection — the step AFTER clustering in
    * a real dedup pipeline: within each near-duplicate cluster keep the
    * single highest-quality document (ties → lowest doc_id) and report
    * what gets dropped. Pair lists over-delete when dups chain; the
    * usual keep-lowest-id heuristic throws away the best copy. Quality
    * is the same IEEE expression on both engines evaluated on the same
    * bytes, so the (quality DESC, doc_id) rank order is portable.
    *
    * Scale shape: cluster labels track true duplicates — a vanishing
    * fraction of the corpus — so the labels side broadcasts onto the
    * quality scan, and the ranking window partitions by cluster_id with
    * duplicate-cluster-sized groups (single digits), never corpus-sized
    * sorts. One narrow shuffle of the labeled docs only. */
  def corpusDedupPriority(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // every vertex of the pair graph has degree >= 1, so all clusters
    // have >= 2 members — no singleton filter needed
    val labels = DedupQueries.dedupCluster(s, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val q = txtQuality(s, d).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    broadcast(labels).join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
        col("cluster_size").as("n_docs"),
        (col("cluster_size") - lit(1L)).as("n_dropped"),
        col("quality").cast(DoubleType).as("kept_quality"))
  }

  // lazy: pulls DedupQueries.dedupClusterSql across the object cycle
  // (see the note on DedupQueries.dedupWinnowSql)
  lazy val corpusDedupPrioritySql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_id, cluster_size
       |  FROM (${DedupQueries.dedupClusterSql.replace("\n", "\n       ")}) c),
       |q AS (SELECT doc_id, quality FROM (${txtQualitySql.replace("\n", "\n       ")}) t),
       |r AS (
       |  SELECT cl.cluster_id, cl.doc_id, cl.cluster_size, q.quality,
       |    row_number() OVER (PARTITION BY cl.cluster_id
       |                       ORDER BY q.quality DESC, cl.doc_id) AS rn
       |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
       |SELECT cluster_id, doc_id AS kept_doc,
       |  CAST(cluster_size AS BIGINT) AS n_docs,
       |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped,
       |  CAST(quality AS DOUBLE) AS kept_quality
       |FROM r WHERE rn = 1""".stripMargin

  // ------------------------------------------------ corpus_dedup_impact
  /** Dedup impact accounting: how many documents and TOKENS near-dup
    * clustering removes under the keep-canonical rule (cluster label =
    * min member id, the [[DedupQueries.dedupCluster]] convention) — the
    * one-row report that justifies a dedup stage's cost. Rate is
    * fixed-point per-mille (integral division; a double ratio of two
    * big sums would be engine-exact here, but the integer form stays
    * exact under any future re-aggregation).
    *
    * Scale shape: the dropped-doc list tracks true duplicates →
    * broadcast onto the token scan; one scan, one 1-row aggregate. */
  def corpusDedupImpact(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n"))
    val dropped = DedupQueries.dedupCluster(s, d)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"))
    toks.join(broadcast(dropped), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("tokens_total"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("cluster_id").isNotNull, col("n")).otherwise(0L)).as("tokens_dropped"))
      .select(col("n_docs"), col("tokens_total"), col("n_dropped"),
        col("tokens_dropped"),
        expr("tokens_dropped * 1000 div tokens_total").as("dropped_pm"))
  }

  // lazy: pulls DedupQueries.dedupClusterSql across the object cycle
  lazy val corpusDedupImpactSql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_id
       |  FROM (${DedupQueries.dedupClusterSql.replace("\n", "\n       ")}) c
       |  WHERE doc_id <> cluster_id),
       |t AS (SELECT doc_id, CAST(len($DTokens) AS BIGINT) AS n FROM documents)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS tokens_total,
       |  CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN n ELSE 0 END) AS BIGINT) AS tokens_dropped,
       |  CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN n ELSE 0 END) AS BIGINT) * 1000
       |    // CAST(sum(n) AS BIGINT) AS dropped_pm
       |FROM t LEFT JOIN cl ON t.doc_id = cl.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // ---------------------------------------------- corpus_dsir_select
  /** DSIR-style importance-weighted data selection (Xie et al. 2023,
    * arXiv:2302.03169): score every candidate document by how
    * target-like its token distribution is — the hashed-n-gram
    * importance weight log p_target(x) − log p_source(x) — and keep the
    * top-K. The pretraining-data curation move: given a small trusted
    * target domain (here the `src0` pool), pull the most target-like
    * documents out of the general crawl (every other source).
    *
    * Features are HASHED token buckets — `char_fold_hash(tok) % 4096`,
    * the same zero-vocabulary featurizer as txt_hash_features and
    * exactly the paper's move: the weight table is FIXED-size (≤4096
    * rows) no matter how large the corpus vocabulary grows, so the
    * broadcast below is safe at any scale, not just gate scale.
    *
    * Integer-exact adaptation (the txt_surprisal discipline — a real
    * log-likelihood ratio is float-accumulation-ordered and would not
    * hash across engines): per-bucket weight = floor(log2(tgt_c+1)) −
    * floor(log2(src_c+1)) over POOL-level occurrence counts (+1 =
    * add-one smoothing, so a bucket unseen in the target contributes
    * its source-frequency penalty instead of −∞); per-doc score = sum
    * over token OCCURRENCES; ranking is on the length-normalized
    * mean (×1000, integral div — both engines truncate toward zero,
    * pinned by mm_audio_resample) with doc_id as the strict tiebreak.
    * Top-K = 40 via orderBy+limit (TakeOrderedAndProject).
    *
    * Scale shape: both count tables are BUCKET-bounded (≤4096 rows,
    * map-side combinable) and the weight table broadcasts; scoring is
    * one broadcast join over the token stream + a doc-keyed partial
    * aggregate; selection is a bounded top-K — the corpus never
    * all-pairs or re-shuffles. A trained featurizer swaps the weight
    * derivation, not the plan. */
  def corpusDsirSelect(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val tok = Tables.documents(s, d).select(col("doc_id"), col("source"),
        explode(split(trim(col("text")), " +")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("source"),
        expr("char_fold_hash(tok) % 4096").cast(IntegerType).as("bucket"))
    val tgtCounts = tok.filter(col("source") === "src0")
      .groupBy(col("bucket")).agg(count(lit(1)).as("tgt_c"))
    val srcCounts = tok.filter(col("source") =!= "src0")
      .groupBy(col("bucket")).agg(count(lit(1)).as("src_c"))
    // per-bucket log-ratio weights: every candidate bucket is in
    // srcCounts by construction, so the left join only fills missing
    // TARGET counts
    val weights = srcCounts.join(tgtCounts, Seq("bucket"), "left")
      .select(col("bucket"),
        (floor(log2(coalesce(col("tgt_c"), lit(0L)) + 1)) -
          floor(log2(col("src_c") + 1))).cast(LongType).as("bits"))
    tok.filter(col("source") =!= "src0")
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("bits")).as("score_bits"), count(lit(1)).as("n_toks"))
      .withColumn("mean_mbits", expr("score_bits * 1000 div n_toks"))
      .orderBy(col("mean_mbits").desc, col("doc_id"))
      .limit(40)
  }

  lazy val corpusDsirSelectSql: String = {
    import graft.functions.HashFunctions.charFoldHashSql
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    CAST(${charFoldHashSql("tok")} % 4096 AS INT) AS bucket
       |  FROM (SELECT doc_id, source, unnest($DTokens) AS tok FROM documents)),
       |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tgt_c
       |  FROM toks WHERE source = 'src0' GROUP BY bucket),
       |srcc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS src_c
       |  FROM toks WHERE source <> 'src0' GROUP BY bucket),
       |weights AS (
       |  SELECT srcc.bucket,
       |    CAST(floor(log2(COALESCE(tgt_c, 0) + 1)) AS BIGINT)
       |      - CAST(floor(log2(src_c + 1)) AS BIGINT) AS bits
       |  FROM srcc LEFT JOIN tgt ON srcc.bucket = tgt.bucket),
       |scored AS (
       |  SELECT doc_id, source, CAST(sum(bits) AS BIGINT) AS score_bits,
       |    CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS mean_mbits
       |  FROM toks JOIN weights USING (bucket)
       |  WHERE source <> 'src0'
       |  GROUP BY doc_id, source)
       |SELECT doc_id, source, score_bits, n_toks, mean_mbits
       |FROM scored ORDER BY mean_mbits DESC, doc_id LIMIT 40""".stripMargin
  }

  // ------------------------------------------------------------------
  // -------------------------------------------------- corpus_refresh
  /** Incremental crawl refresh: merge an OLD corpus snapshot with a NEW
    * one, preferring the new copy on doc_id collisions — the
    * anti-join + union every periodically-recrawled corpus runs
    * instead of rebuilding from scratch. Snapshots are deterministic
    * doc_id slices (old = ids ≢0 mod 4, new = even ids, so the overlap,
    * old-only, and new-only regions are all non-empty at every SF).
    * Output: per-source counts of carried (old kept), refreshed (old
    * replaced by new), and discovered (new-only) docs plus the merged
    * token volume — the refresh report a crawl pipeline publishes.
    *
    * Scale shape: the collision test is a LEFT join on doc_id (at
    * 100 TB: co-partition or bucket both snapshots on doc_id; the
    * merged write then reuses the exchange); token counting stays a
    * per-row map; the report is a |sources|-sized aggregate. */
  def corpusRefresh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n"))
    val oldSnap = docs.filter(col("doc_id") % 4 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 2 === 0)
    val newKeys = newSnap.select(col("doc_id").as("new_id"))
    val merged =
      oldSnap.join(newKeys, col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), col("source"), col("n"),
          when(col("new_id").isNull, lit("carried"))
            .otherwise(lit("refreshed")).as("status"))
        .filter(col("status") === "carried") // replaced rows come from new
      .unionByName(
        newSnap.join(oldSnap.select(col("doc_id").as("old_id")),
            col("doc_id") === col("old_id"), "left")
          .select(col("doc_id"), col("source"), col("n"),
            when(col("old_id").isNull, lit("discovered"))
              .otherwise(lit("refreshed")).as("status")))
    merged.groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
  }

  val corpusRefreshSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, CAST(len($DTokens) AS BIGINT) AS n
       |  FROM documents),
       |old AS (SELECT * FROM docs WHERE doc_id % 4 <> 0),
       |new AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
       |merged AS (
       |  SELECT o.doc_id, o.source, o.n, 'carried' AS status
       |  FROM old o LEFT JOIN new nw ON o.doc_id = nw.doc_id
       |  WHERE nw.doc_id IS NULL
       |  UNION ALL
       |  SELECT nw.doc_id, nw.source, nw.n,
       |    CASE WHEN o.doc_id IS NULL THEN 'discovered'
       |         ELSE 'refreshed' END AS status
       |  FROM new nw LEFT JOIN old o ON nw.doc_id = o.doc_id)
       |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_tokens
       |FROM merged GROUP BY source, status""".stripMargin

  // ------------------------------------------------- txt_dup_segments
  /** Cross-document BOILERPLATE detection: non-overlapping 8-token
    * segments (the fixed-width analog of the line-level dedup CCNet /
    * RefinedWeb run — this corpus has no line structure, so fixed
    * windows stand in for lines), hashed with the portable char fold
    * and grouped; segments appearing in ≥ 2 DISTINCT docs are the
    * shared boilerplate, reported with doc frequency, total
    * occurrences, and the canonical (min) carrier doc.
    *
    * Determinism: segments are SLICED from the doc's own token array
    * (never re-assembled from a shuffled explode, so token order can't
    * depend on partitioning); trailing partial windows are dropped.
    *
    * Scale shape: per-row array slicing (no shuffle) → one hash-keyed
    * aggregate whose shuffle carries (hash, doc_id) pairs, never text;
    * the result is inverted-index-shaped like the shingle dedups. */
  def txtDupSegments(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), " +").as("ts"))
      .filter(size(col("ts")) >= SegTokens)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), expr(s"size(ts) div $SegTokens") - 1)).as("g"))
      .select(col("doc_id"),
        expr(s"char_fold_hash(concat_ws(' ', slice(ts, g * $SegTokens + 1, $SegTokens)))")
          .as("seg_h"))
      .groupBy(col("seg_h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  private val SegTokens = 8

  val txtDupSegmentsSql: String = {
    val segExpr = graft.functions.HashFunctions.charFoldHashSql(
      s"array_to_string(ts[g * $SegTokens + 1 : g * $SegTokens + $SegTokens], ' ')")
    s"""WITH t AS (
       |  SELECT doc_id, $DTokens AS ts FROM documents
       |  WHERE len($DTokens) >= $SegTokens),
       |g AS (
       |  SELECT doc_id, ts, unnest(range(len(ts) // $SegTokens)) AS g FROM t),
       |h AS (SELECT doc_id, $segExpr AS seg_h FROM g)
       |SELECT seg_h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occurrences,
       |  min(doc_id) AS first_doc
       |FROM h GROUP BY seg_h HAVING count(DISTINCT doc_id) >= 2""".stripMargin
  }

  // --------------------------------------------- txt_boilerplate_scrub
  /** The REMOVAL pass that completes [[txtDupSegments]]'s detection —
    * what the C4 / CCNet line-dedup step actually does to the corpus:
    * every occurrence of a shared (≥ 2 docs) segment is scrubbed from
    * every document EXCEPT the canonical carrier (the min-id doc keeps
    * all of its occurrences), and the per-document token ledger reports
    * size before, size after, and segments removed. This is the
    * operator a training-data build runs after detection: the ledger's
    * totals are the corpus-shrink estimate, and the per-doc rows feed
    * the quality re-score (a doc that loses most of its tokens to
    * boilerplate usually fails the funnel afterwards).
    *
    * Determinism: same sliced-from-own-array segments and portable
    * char-fold hash as detection; the keep/remove decision is pure
    * (first_doc comparison), no order sensitivity anywhere.
    *
    * Scale shape: detection's hash-keyed aggregate (shuffle carries
    * (hash, doc_id) pairs, never text) → one seg_h equi-join of the
    * per-segment stream against the boilerplate set (sized by SHARED
    * segments, a small fraction of the segment space) → a doc-keyed
    * partial-aggregable count. Nothing re-reads or shuffles document
    * text; the rewrite itself (re-assembling scrubbed text) is a
    * per-row slice-and-concat map a writer would fuse into its scan. */
  def txtBoilerplateScrub(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), " +").as("ts"))
      .filter(size(col("ts")) >= SegTokens)
      .select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tok"),
        col("ts"),
        explode(sequence(lit(0), expr(s"size(ts) div $SegTokens") - 1)).as("g"))
      .select(col("doc_id"), col("n_tok"),
        expr(s"char_fold_hash(concat_ws(' ', slice(ts, g * $SegTokens + 1, $SegTokens)))")
          .as("seg_h"))
    val boiler = txtDupSegments(s, d).select(col("seg_h"), col("first_doc"))
    segs.join(boiler, Seq("seg_h"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tok")).as("n_tok_before"),
        sum(when(col("first_doc").isNotNull && col("first_doc") =!= col("doc_id"), 1L)
          .otherwise(0L)).as("n_seg_removed"))
      .select(col("doc_id"), col("n_tok_before"),
        (col("n_tok_before") - col("n_seg_removed") * SegTokens).as("n_tok_after"),
        col("n_seg_removed"))
  }

  val txtBoilerplateScrubSql: String = {
    val segExpr = graft.functions.HashFunctions.charFoldHashSql(
      s"array_to_string(ts[g * $SegTokens + 1 : g * $SegTokens + $SegTokens], ' ')")
    s"""WITH t AS (
       |  SELECT doc_id, $DTokens AS ts FROM documents
       |  WHERE len($DTokens) >= $SegTokens),
       |g AS (
       |  SELECT doc_id, ts, unnest(range(len(ts) // $SegTokens)) AS g FROM t),
       |h AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok, $segExpr AS seg_h FROM g),
       |b AS (
       |  SELECT seg_h, min(doc_id) AS first_doc FROM h
       |  GROUP BY seg_h HAVING count(DISTINCT doc_id) >= 2)
       |SELECT h.doc_id, CAST(max(h.n_tok) AS BIGINT) AS n_tok_before,
       |  CAST(max(h.n_tok) - $SegTokens * sum(CASE WHEN b.first_doc IS NOT NULL
       |    AND b.first_doc <> h.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_after,
       |  CAST(sum(CASE WHEN b.first_doc IS NOT NULL AND b.first_doc <> h.doc_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_seg_removed
       |FROM h LEFT JOIN b ON h.seg_h = b.seg_h
       |GROUP BY h.doc_id""".stripMargin
  }

  // ------------------------------------------------- txt_freq_spectrum
  /** Zipf frequency spectrum of the corpus vocabulary: distinct words
    * bucketed by floor(log2(frequency)) — the doubling-bucket readout
    * that makes the rank-frequency power law visible without a single
    * float (a least-squares Zipf slope would be order-sensitive; bit
    * counts are exact). Per bucket: distinct-word count and total
    * occurrences. The standard corpus-health readout before vocabulary
    * and tokenizer decisions.
    *
    * Determinism: floor(log2 n) over exact int64 counts — portable
    * IEEE (exact on powers of two, and a count's log2 never lands
    * within double error of an integer otherwise), the same idiom
    * txt_surprisal's spec proves bit-for-bit on this data against the
    * 63−nlz identity.
    *
    * Scale shape: token explode → vocab-sized (word, n) aggregate →
    * log-bucket aggregate of ≤ 64 rows; both aggregates partial
    * map-side. */
  def txtFreqSpectrum(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " +")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("bucket", expr("CAST(floor(log2(n)) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_occurrences"))

  val txtFreqSpectrumSql: String =
    s"""WITH w AS (
       |  SELECT unnest($DTokens) AS word FROM documents),
       |v AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word)
       |SELECT CAST(floor(log2(n)) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n) AS BIGINT) AS n_occurrences
       |FROM v GROUP BY 1""".stripMargin

  // ------------------------------------------------------ txt_cms_heavy
  /** Count-min-sketch heavy hitters with an exact audit: the corpus
    * token stream is folded into a d=4 × w=1024 COUNT-MIN SKETCH
    * (Cormode & Muthukrishnan 2005) over the portable permutation
    * hashes, then the exact top-20 words are looked up in the sketch
    * and reported with their exact count, sketch estimate, and
    * overcount. CMS only ever overestimates (est = min over 4 rows of
    * a bucket the word contributes to), so `overcount >= 0` is an
    * invariant the gate hashes; the error bound is classic —
    * overcount <= e/w of the total token mass with prob 1 - e^-d.
    *
    * Scale shape: this is THE frequency structure for a 100 TB token
    * stream — the sketch build is a map-side-partial aggregate into at
    * most d·w = 4096 cells, NO vocabulary-sized shuffle, and merging
    * executor-local sketches is cell-wise addition. The exact top-20
    * here exists to AUDIT the sketch (a vocab aggregate the test scale
    * affords); at 100 TB the sketch answers point queries without it.
    * Lookups join the 80 (word, row) probes against the broadcast
    * 4096-cell sketch. */
  def txtCmsHeavy(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    import graft.functions.HashFunctions.{P, permA, permB}
    val toks = Tables.documents(s, d)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .select(col("w"), expr("char_fold_hash(w)").as("h"))
    def cells(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until CmsD).map { j =>
      struct(lit(j).as("j"),
        ((h * lit(permA(j)) + lit(permB(j))) % lit(P) % lit(CmsW)).as("cell"))
    }: _*)
    val sketch = toks
      .select(explode(cells(col("h"))).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.cell").as("cell"))
      .agg(count(lit(1)).as("c"))
    val top = toks.groupBy(col("w"), col("h"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w"))
      .limit(20)
    top.select(col("w"), col("n_exact"), explode(cells(col("h"))).as("jc"))
      .select(col("w"), col("n_exact"),
        col("jc.j").as("tj"), col("jc.cell").as("tcell"))
      .join(broadcast(sketch), col("tj") === col("j") && col("tcell") === col("cell"))
      .groupBy(col("w").as("word"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))
      .select(col("word"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
  }

  private val CmsD = 4
  private val CmsW = 1024L

  val txtCmsHeavySql: String = {
    import graft.functions.HashFunctions.{P, permA, permB}
    val as = (0 until CmsD).map(permA).mkString("[", ",", "]")
    val bs = (0 until CmsD).map(permB).mkString("[", ",", "]")
    def cell(h: String, j: String) =
      s"(($h * $as[$j+1] + $bs[$j+1]) % $P) % $CmsW"
    val cfh = graft.functions.HashFunctions.charFoldHashSql("w")
    s"""WITH tok AS (SELECT unnest($DTokens) AS w FROM documents),
       |hh AS (SELECT w, $cfh AS h FROM tok),
       |js AS (SELECT unnest(range($CmsD)) AS j),
       |sk AS (SELECT j, ${cell("h", "j")} AS cell,
       |         CAST(count(*) AS BIGINT) AS c
       |       FROM hh CROSS JOIN js GROUP BY 1, 2),
       |top AS (SELECT w, any_value(h) AS h, CAST(count(*) AS BIGINT) AS n_exact
       |        FROM hh GROUP BY w ORDER BY n_exact DESC, w LIMIT 20)
       |SELECT t.w AS word, t.n_exact, CAST(min(sk.c) AS BIGINT) AS n_est,
       |  CAST(min(sk.c) - t.n_exact AS BIGINT) AS overcount
       |FROM top t CROSS JOIN js
       |JOIN sk ON sk.j = js.j AND sk.cell = ${cell("t.h", "js.j")}
       |GROUP BY t.w, t.n_exact""".stripMargin
  }

  // ----------------------------------------------------- txt_rule_filter
  /** Gopher-style composite RULE filter (Rae et al. 2021,
    * arXiv:2112.11446 Table A1; same shape as C4's heuristics): each
    * document gets an explicit per-rule verdict plus the conjunction,
    * so a pipeline can report WHICH rule rejected a document (the
    * rejection ledger every production corpus filter keeps), not just
    * that it vanished. Rules are re-parameterized to this corpus's
    * observable ranges so every rule genuinely discriminates here
    * (a rule that never fires would put nothing on the hash path):
    * token count in [20,90], mean token length in [4.5,5.0], >= 2
    * stopwords, type-token ratio >= 0.5 (the repetition screen).
    *
    * Determinism: every verdict is an integer cross-multiplication
    * (e.g. mean-length >= 4.5 as `2*sum_len >= 9*n`) — no float
    * thresholds, so both engines decide each boundary document
    * identically.
    *
    * Scale shape: one narrow per-row projection over a single scan —
    * four array HOFs per document, no shuffle, no state; the verdict
    * frame is the input to every downstream funnel stage. */
  def txtRuleFilter(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.{tokens, stopwordCount}
    val tk = tokens(col("text"))
    val n = size(tk).cast(LongType)
    val sl = aggregate(tk, lit(0L), (acc, t) => acc + length(t).cast(LongType))
    val dn = size(array_distinct(tk)).cast(LongType)
    val st = stopwordCount(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      n.as("n_tokens"),
      (n >= 20 && n <= 90).as("r_len"),
      (sl * 2 >= n * 9 && sl <= n * 5).as("r_wordlen"),
      (st >= 2).as("r_stop"),
      (dn * 2 >= n).as("r_ttr"),
      (n >= 20 && n <= 90 && sl * 2 >= n * 9 && sl <= n * 5 &&
        st >= 2 && dn * 2 >= n).as("pass"))
  }

  val txtRuleFilterSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len($DTokens) AS BIGINT) AS n,
       |    CAST(coalesce(list_sum(list_transform($DTokens,
       |      t -> CAST(length(t) AS BIGINT))), 0) AS BIGINT) AS sl,
       |    CAST(len(list_distinct($DTokens)) AS BIGINT) AS dn,
       |    CAST(len(list_filter($DTokens,
       |      t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS st
       |  FROM documents)
       |SELECT doc_id, n AS n_tokens,
       |  (n >= 20 AND n <= 90) AS r_len,
       |  (sl * 2 >= n * 9 AND sl <= n * 5) AS r_wordlen,
       |  (st >= 2) AS r_stop,
       |  (dn * 2 >= n) AS r_ttr,
       |  (n >= 20 AND n <= 90 AND sl * 2 >= n * 9 AND sl <= n * 5
       |    AND st >= 2 AND dn * 2 >= n) AS pass
       |FROM m""".stripMargin

  // -------------------------------------------------- txt_quality_model
  /** MODEL-BASED quality filter: a linear text classifier scored at
    * data-pipeline scale — the fastText-style "quality model" stage
    * (Joulin et al. 2016 arXiv:1607.01759; the CCNet/GPT-3 pipelines
    * filter on exactly this shape) that complements the hand-rule
    * filter (`txt_rule_filter`). Features are hashing-trick unigram
    * buckets (char_fold_hash(token) % 64, the same featurizer as
    * `txt_hash_features`); weights are a FIXED integer table keyed by
    * bucket — ((bucket+1)·2654435761 mod 1001) − 500, i.e. a frozen
    * model shipped as arithmetic, the way a trained model ships as a
    * broadcast array. The document's logit is the sum of its tokens'
    * weights (integer, exact on both engines — no sigmoid: the
    * decision threshold commutes with any monotone link), verdict =
    * logit > 0.
    *
    * Scale shape: scoring is a pure per-row projection — one
    * `aggregate` HOF over the token array inside the scan, zero
    * shuffle, zero joins; a real trained model only swaps the weight
    * arithmetic for a broadcast lookup. This is the plan you want at
    * 100 TB: inference at I/O speed. */
  def txtQualityModel(s: SparkSession, d: String): DataFrame = {
    graft.expressions.CharFoldHash.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr(
          """aggregate(
            |  transform(filter(split(trim(text), ' +'), t -> t <> ''),
            |    t -> (char_fold_hash(t) % 64 + 1) * 2654435761 % 1001 - 500),
            |  0L, (a, x) -> a + x)""".stripMargin).as("logit"))
      .withColumn("kept", (col("logit") > 0).cast(IntegerType))
  }

  val txtQualityModelSql: String = {
    import graft.functions.HashFunctions.charFoldHashSql
    // logit computed ONCE in the subquery, kept derived from it — the
    // weight formula has a single copy to keep in sync with the Spark side
    s"""SELECT doc_id, lang, logit,
       |  CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS INT) AS kept
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(coalesce(list_sum(list_transform($DTokens,
       |      tok -> (${charFoldHashSql("tok")} % 64 + 1) * 2654435761 % 1001 - 500)), 0) AS BIGINT) AS logit
       |  FROM documents) m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_quality_model" -> (txtQualityModel _),
    "txt_rule_filter" -> (txtRuleFilter _),
    "txt_cms_heavy" -> (txtCmsHeavy _),
    "corpus_filter_overlap" -> (corpusFilterOverlap _),
    "corpus_refresh" -> (corpusRefresh _),
    "corpus_dsir_select" -> (corpusDsirSelect _),
    "txt_dup_segments" -> (txtDupSegments _),
    "txt_boilerplate_scrub" -> (txtBoilerplateScrub _),
    "txt_freq_spectrum" -> (txtFreqSpectrum _),
    "txt_stats"        -> (txtStats _),
    "txt_quality"      -> (txtQuality _),
    "txt_langid"       -> (txtLangId _),
    "txt_fingerprint"  -> (txtFingerprint _),
    "txt_bpe_vocab"    -> (txtBpeVocab _),
    "txt_bigram_lm"    -> (txtBigramLm _),
    "txt_repetition"   -> (txtRepetition _),
    "txt_tfidf"        -> (txtTfidf _),
    "txt_bm25"         -> (txtBm25 _),
    "txt_bpe_train"    -> (txtBpeTrain _),
    "corpus_curriculum" -> (corpusCurriculum _),
    "split_stratified" -> (splitStratified _),
    "split_kfold"      -> (splitKfold _),
    "split_group_temporal" -> (splitGroupTemporal _),
    "split_cluster_hash" -> (splitClusterHash _),
    "txt_hash_features" -> (txtHashFeatures _),
    "corpus_blocklist" -> (corpusBlocklist _),
    "corpus_quota"     -> (corpusQuota _),
    "corpus_pack_sequences" -> (corpusPackSequences _),
    "corpus_mix"       -> (corpusMix _),
    "txt_pii_scrub"    -> (txtPiiScrub _),
    "corpus_funnel"    -> (corpusFunnel _),
    "corpus_sample"    -> (corpusSample _),
    "corpus_shuffle_shards" -> (corpusShuffleShards _),
    "corpus_mix_temperature" -> (corpusMixTemperature _),
    "corpus_chunk"     -> (corpusChunk _),
    "txt_diversity"    -> (txtDiversity _),
    "txt_colloc"       -> (txtColloc _),
    "txt_winnowing"    -> (txtWinnowing _),
    "txt_readability"  -> (txtReadability _),
    "txt_drift_chi2"   -> (txtDriftChi2 _),
    "corpus_report"    -> (corpusReport _),
    "corpus_dedup_priority" -> (corpusDedupPriority _),
    "corpus_token_budget" -> (corpusTokenBudget _),
    "txt_surprisal"    -> (txtSurprisal _),
    "txt_ppl_buckets"  -> (txtPplBuckets _),
    "corpus_dedup_impact" -> (corpusDedupImpact _),
  )

  val oracleSql: Map[String, String] = Map(
    "txt_quality_model" -> txtQualityModelSql,
    "txt_rule_filter" -> txtRuleFilterSql,
    "txt_cms_heavy" -> txtCmsHeavySql,
    "corpus_filter_overlap" -> corpusFilterOverlapSql,
    "corpus_refresh" -> corpusRefreshSql,
    "corpus_dsir_select" -> corpusDsirSelectSql,
    "txt_dup_segments" -> txtDupSegmentsSql,
    "txt_boilerplate_scrub" -> txtBoilerplateScrubSql,
    "txt_freq_spectrum" -> txtFreqSpectrumSql,
    "txt_stats"        -> txtStatsSql,
    "txt_quality"      -> txtQualitySql,
    "txt_langid"       -> txtLangIdSql,
    "txt_fingerprint"  -> txtFingerprintSql,
    "txt_bpe_vocab"    -> txtBpeVocabSql,
    "txt_bigram_lm"    -> txtBigramLmSql,
    "txt_repetition"   -> txtRepetitionSql,
    "txt_tfidf"        -> txtTfidfSql,
    "txt_bm25"         -> txtBm25Sql,
    "txt_bpe_train"    -> txtBpeTrainSql,
    "corpus_curriculum" -> corpusCurriculumSql,
    "split_stratified" -> splitStratifiedSql,
    "split_kfold"      -> splitKfoldSql,
    "split_group_temporal" -> splitGroupTemporalSql,
    "split_cluster_hash" -> splitClusterHashSql,
    "txt_hash_features" -> txtHashFeaturesSql,
    "corpus_blocklist" -> corpusBlocklistSql,
    "corpus_quota"     -> corpusQuotaSql,
    "corpus_pack_sequences" -> corpusPackSequencesSql,
    "corpus_mix"       -> corpusMixSql,
    "txt_pii_scrub"    -> txtPiiScrubSql,
    "corpus_funnel"    -> corpusFunnelSql,
    "corpus_sample"    -> corpusSampleSql,
    "corpus_shuffle_shards" -> corpusShuffleShardsSql,
    "corpus_mix_temperature" -> corpusMixTemperatureSql,
    "corpus_chunk"     -> corpusChunkSql,
    "txt_diversity"    -> txtDiversitySql,
    "txt_colloc"       -> txtCollocSql,
    "txt_winnowing"    -> txtWinnowingSql,
    "txt_readability"  -> txtReadabilitySql,
    "txt_drift_chi2"   -> txtDriftChi2Sql,
    "corpus_report"    -> corpusReportSql,
    "corpus_dedup_priority" -> corpusDedupPrioritySql,
    "corpus_token_budget" -> corpusTokenBudgetSql,
    "txt_surprisal"    -> txtSurprisalSql,
    "txt_ppl_buckets"  -> txtPplBucketsSql,
    "corpus_dedup_impact" -> corpusDedupImpactSql,
  )
}
