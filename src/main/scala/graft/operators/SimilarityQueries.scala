package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.expressions.{Sq8Decode, VectorExpressions}

import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table.
  *
  * Two variants, both oracle-gated:
  *  - brute-force cosine top-k: the exact baseline. Plan shape: broadcast
  *    the (tiny) query set against the candidate corpus — a broadcast
  *    nested-loop scored map-side, then a bounded top-k hash aggregate
  *    ([[graft.expressions.TopKAgg]]); at 100 TB the corpus side
  *    stays partition-parallel and nothing shuffles but the k·|Q|
  *    result rows.
  *  - IVF (inverted-file) ANN: coarse-quantize candidates into C cells
  *    (here: the first C vectors serve as deterministic centroids — a
  *    production system would k-means-sample them), probe the nprobe
  *    closest cells per query, rank only those candidates. The
  *    cell-assignment join is the scale path: candidates co-partitioned
  *    by cell id, query fan-out limited to nprobe cells. The oracle
  *    replicates the IVF algorithm itself in SQL, so correctness of the
  *    approximation (not just the final ranking) is cross-checked.
  *
  * All dot products are strict left-to-right f64 folds via the native
  * codegen expression [[graft.expressions.VectorDot]] (one fused loop
  * per row inside whole-stage codegen — the HOF zip_with/aggregate form
  * is interpreted per element); DuckDB's list_dot_product evaluates
  * identically (verified empirically), so cosine values hash-match
  * across engines.
  */
object SimilarityQueries {

  private val NumQueries = 10 // query set: vec_id < 10
  private val TopK = 5
  // sim_range_search cosine radius: ~p99 of the corpus's query-vs-corpus
  // cosine distribution (max ≈ 0.49), so the gate carries real rows
  private val RangeThreshold = 0.3
  private val NumCells = 16   // IVF centroids: vec_id < 16
  private val NumProbes = 3

  /** Last allocated scratch dir per tag — spec observability: the
    * per-invocation scheme removed the predictable path the index-layout
    * specs inspect, so the layout assertions read the path of the run
    * they just invoked from here (same-thread, same-suite reads). */
  private[operators] val lastScratchDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Per-INVOCATION path for persisted-index side effects, inside a fresh
    * [[graft.Scratch]] directory (siblings such as `<path>_tombstones`
    * land there too). A path keyed only by the dataset dir would let two
    * concurrent runs over the same dataset (a parallel spec + gate in
    * one JVM) overwrite the layout while the other's scan reads it. */
  private def scratchDir(tag: String): String = {
    val p = s"${graft.Scratch.dir(tag)}/$tag"
    lastScratchDir.put(tag, p)
    p
  }

  private[operators] def embedded(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
      .cache()
  }

  /** Bounded per-group top-k, as the native Catalyst aggregate
    * [[graft.expressions.TopKAgg]]: map-side partial top-k, k·|groups|
    * rows through the shuffle, no Sort+Window over candidate×query rows
    * carrying embedding arrays — and no per-row encoder round trip (the
    * udaf predecessor [[graft.functions.TopKAggregator]] paid ~20µs/row
    * deserializing InternalRow → case class; the expression reads the
    * two fields directly). */
  private def topKAggN(s: SparkSession, k: Int, score: String, id: String) =
    graft.expressions.TopKAgg.topKNative(s, k, score, id)

  /** Explode a top-k buffer back to (query_id, vec_id, cos, rn) rows. */
  private def explodeTopK(df: DataFrame): DataFrame =
    df.select(col("query_id"), posexplode(col("top.items")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.vec_id").as("vec_id"), col("t.cos").as("cos"),
        (col("pos") + 1).cast(LongType).as("rn"))

  // ----------------------------------------------------- sim_hybrid_rrf
  private val RrfK = 60L            // the fusion constant from Cormack et al.
  private val RrfScale = 1000000000L // 1e9 fixed point for 1/(k+rank)
  private val HybridDepth = 20      // per-leg candidate depth
  private val HybridTopK = 5

  /** HYBRID retrieval by RECIPROCAL RANK FUSION (Cormack, Clarke &
    * Büttcher, SIGIR'09) — the sparse+dense pattern modern RAG stacks
    * run: the BM25 keyword ranking (txt_bm25's scored frame) and the
    * dense cosine ranking fuse per (query, candidate) as
    *   rrf = Σ_legs 1/(60 + rank)
    * in 1e9 integer fixed point (floor division — ranks are exact ints,
    * so fusion is engine-exact even though each leg's scores live in
    * different units, which is the whole reason RRF uses ranks).
    * Candidates missing from a leg contribute nothing; the shared query
    * ids tie the text query set to query vectors 1-5 over the aligned
    * doc/vec id space, and the candidate's own query id is excluded
    * from both legs. Output: fused top-5 with each leg's rank exposed
    * (NULL = that leg never surfaced the candidate).
    *
    * Scale shape: each leg is its own already-bounded retrieval (BM25's
    * postings prune + the brute/ANN top-k aggregate); FUSION then
    * touches only two rank-bounded frames — |Q|·depth rows each at ANY
    * corpus size — so the full-outer fusion join costs nothing and the
    * dense leg can swap brute force for the IVF/PQ tiers untouched. */
  def simHybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    val sparse = TextQueries.bm25Scored(s, d)
      .filter(col("doc_id") =!= col("query_id").cast(LongType))
      .withColumn("srank", row_number().over(wS).cast(LongType))
      .filter(col("srank") <= HybridDepth)
      .select(col("query_id").cast(LongType).as("query_id"),
        col("doc_id").as("id"), col("srank"))
    val e = embedded(s, d)
    val q = e.filter(col("vec_id").between(1, Bm25QueryCount))
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
    val dense = explodeTopK(
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, HybridDepth, "cos", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id").as("id"), col("rn").as("drank"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fp").desc, col("id").asc)
    sparse.join(dense, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr(s"$RrfScale DIV ($RrfK + srank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale DIV ($RrfK + drank)"), lit(0L)))
      .withColumn("rank", row_number().over(wF).cast(LongType))
      .filter(col("rank") <= HybridTopK)
      .select(col("query_id"), col("id"), col("srank"), col("drank"),
        col("rrf_fp"), col("rank"))
  }

  private def Bm25QueryCount = TextQueries.Bm25Queries.length

  val simHybridRrfSql: String =
    s"""WITH ${TextQueries.bm25ScoredCtes},
       |sp AS (
       |  SELECT query_id, id, srank FROM (
       |    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS srank
       |    FROM scored WHERE doc_id <> query_id) t
       |  WHERE srank <= $HybridDepth),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |dq AS (SELECT vec_id AS query_id, emb AS qemb FROM e
       |  WHERE vec_id BETWEEN 1 AND ${TextQueries.Bm25Queries.length}),
       |dsc AS (
       |  SELECT query_id, vec_id AS id,
       |    list_dot_product(emb, qemb)
       |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) AS cos
       |  FROM e CROSS JOIN dq WHERE vec_id <> query_id),
       |dr AS (
       |  SELECT query_id, id, drank FROM (
       |    SELECT query_id, id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, id ASC) AS BIGINT) AS drank
       |    FROM dsc) t
       |  WHERE drank <= $HybridDepth),
       |fused AS (
       |  SELECT query_id, id, srank, drank,
       |    CAST(coalesce($RrfScale // ($RrfK + srank), 0)
       |       + coalesce($RrfScale // ($RrfK + drank), 0) AS BIGINT) AS rrf_fp
       |  FROM sp FULL JOIN dr USING (query_id, id))
       |SELECT query_id, id, srank, drank, rrf_fp, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_fp DESC, id ASC) AS BIGINT) AS rank
       |  FROM fused) t
       |WHERE rank <= $HybridTopK""".stripMargin

  // ------------------------------------------------- sim_topk_bruteforce
  /** Exact cosine top-k for each query vector (excluding itself).
    * Plan shape: broadcast the tiny query set along the corpus (corpus
    * rows never shuffle), then a hash-aggregated bounded top-k — the
    * shuffle carries k rows per query, not corpus×|Q| scored rows. */
  def simTopKBruteForce(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    explodeTopK(
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
  }

  val simTopKBruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    list_dot_product(emb, qemb)
       |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // -------------------------------------------------------- sim_topk_ivf
  /** IVF ANN: assign every vector to its nearest of $NumCells centroids,
    * probe the $NumProbes closest cells per query, exact-rank inside.
    *
    * Assignment is a per-row argmax over the centroid set collapsed to a
    * single broadcast array — a pure map (`array_min` over a `transform`
    * of (neg-cosine, cid) structs; lexicographic struct order = cosine
    * desc, cid asc, the oracle's exact tiebreak). The corpus is NEVER
    * shuffled: probes (|Q|·nprobe rows) broadcast onto the assigned
    * corpus, and the final ranking is the bounded top-k aggregate. The
    * only shuffle in the whole plan carries k rows per query. */
  def simTopKIvf(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"), col("nrm").as("cnrm"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb"), col("cnrm")))).as("cents"))
    // cell assignment: nearest centroid by cosine (ties: lowest cid)
    val assigned = e.crossJoin(broadcast(centsArr))
      .withColumn("best", expr(
        """array_min(transform(cents,
          |  c -> named_struct(
          |    'negsim', -(vec_dot(emb, c.cemb) / (nrm * c.cnrm)),
          |    'cid', c.cid)))""".stripMargin))
      .select(col("vec_id"), col("best.cid").as("cid"), col("emb"), col("nrm"))
    // probes: top-nprobe cells per query (array sort+slice, same order)
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
      .crossJoin(broadcast(centsArr))
      .select(col("query_id"), col("qemb"), col("qnrm"),
        explode(expr(
          s"""slice(array_sort(transform(cents,
             |  c -> named_struct(
             |    'negsim', -(vec_dot(qemb, c.cemb) / (qnrm * c.cnrm)),
             |    'cid', c.cid))), 1, $NumProbes)""".stripMargin)).as("p"))
      .select(col("query_id"), col("p.cid").as("cid"), col("qemb"), col("qnrm"))
    // rank candidates within probed cells: bounded top-k hash aggregate
    explodeTopK(
      assigned.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
  }

  val simTopKIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |cents AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < $NumCells),
       |assigned AS (
       |  SELECT vec_id, cid, emb, nrm FROM (
       |    SELECT n.vec_id, cents.cid, n.emb, n.nrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.emb, cents.cemb) / (n.nrm * cents.cnrm) DESC, cents.cid ASC) AS rnc
       |    FROM n CROSS JOIN cents) t
       |  WHERE rnc = 1),
       |probes AS (
       |  SELECT query_id, cid, qemb, qnrm FROM (
       |    SELECT n.vec_id AS query_id, cents.cid, n.emb AS qemb, n.nrm AS qnrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.emb, cents.cemb) / (n.nrm * cents.cnrm) DESC, cents.cid ASC) AS rnp
       |    FROM n CROSS JOIN cents WHERE n.vec_id < $NumQueries) t
       |  WHERE rnp <= $NumProbes),
       |scored AS (
       |  SELECT probes.query_id, assigned.vec_id,
       |    list_dot_product(assigned.emb, probes.qemb) / (assigned.nrm * probes.qnrm) AS cos
       |  FROM probes JOIN assigned ON probes.cid = assigned.cid
       |  WHERE assigned.vec_id <> probes.query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // ------------------------------------------------------ sim_index_build
  /** The OFFLINE-BUILD / ONLINE-SERVE split sim_topk_ivf elides: the
    * IVF index is PERSISTED as a parquet table partitioned by cell id
    * (`partitionBy("cid")`) — the index IS a data layout, the
    * Spark-native form of FAISS's inverted lists — and a probe query
    * then reads ONLY its nprobe cells via directory-level partition
    * pruning. Build once, serve many: the build pays the full
    * assignment scan; every serve opens nprobe/|cells| of the files
    * and zero footers outside them (`require`d below: the probed cell
    * set is a strict subset). A different query slice
    * ([NumQueries, 2·NumQueries)) keeps the gate's answer disjoint
    * from sim_topk_ivf's.
    *
    * Scale shape: at 100 TB the index table bucket-sorts within cells
    * (mm_shard_layout's contract) and serves from object storage with
    * no resident state — adding vectors is an append + periodic
    * rebalance, and the probe cost is data-proportional to the probed
    * cells alone. */
  /** One-row frame holding the sorted centroid array (broadcast constant). */
  private[operators] def ivfCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"), col("nrm").as("cnrm"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb"), col("cnrm")))).as("cents"))

  /** Assign each vector to its nearest centroid (ties → lowest cid).
    * The output is hash-clustered by cid because every consumer writes
    * it as the cid-partitioned index layout (guide §6 — the
    * `write.distribution-mode=hash` discipline): without it each of the
    * assignment's input partitions emits its own file into every cell
    * directory it touches (upstream tasks × cells small files), and the
    * partition-pruned serve pays one file open per fragment. One
    * shuffle of (vec_id, cid, emb, nrm) buys one file per inverted
    * list. */
  private def ivfAssign(vecs: DataFrame, centsArr: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centsArr))
      .withColumn("best", expr(
        """array_min(transform(cents,
          |  c -> named_struct(
          |    'negsim', -(vec_dot(emb, c.cemb) / (nrm * c.cnrm)),
          |    'cid', c.cid)))""".stripMargin))
      .select(col("vec_id"), col("best.cid").as("cid"), col("emb"), col("nrm"))
      .repartition(col("cid"))

  /** Serve queries [loQ, hiQ) against the persisted cid-partitioned
    * index: nprobe cells per query, the corpus scan pruned to exactly
    * the probed partition directories. `tombstones` (when present) is
    * the logical-delete sidecar — an anti-join masks deleted vectors
    * out of scoring without the data files ever being rewritten
    * (sim_index_delete). */
  private[operators] def ivfServe(s: SparkSession, e: DataFrame, centsArr: DataFrame,
      idx: String, loQ: Long, hiQ: Long, tombstones: Option[DataFrame] = None,
      k: Int = TopK): DataFrame = {
    val probes = e.filter(col("vec_id") >= loQ && col("vec_id") < hiQ)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
      .crossJoin(broadcast(centsArr))
      .select(col("query_id"), col("qemb"), col("qnrm"),
        explode(expr(
          s"""slice(array_sort(transform(cents,
             |  c -> named_struct(
             |    'negsim', -(vec_dot(qemb, c.cemb) / (qnrm * c.cnrm)),
             |    'cid', c.cid))), 1, $NumProbes)""".stripMargin)).as("p"))
      .select(col("query_id"), col("p.cid").as("cid"), col("qemb"), col("qnrm"))
    val cells = probes.select("cid").distinct()
      .collect().map(_.getLong(0).toInt).sorted // driver list, ≤ |cells|
    require(cells.nonEmpty && cells.length < NumCells,
      s"the probe set must prune the index scan: ${cells.toSeq} of $NumCells")
    val scanned = s.read.parquet(idx) // partition col cid reads back as int
      .filter(col("cid").isin(cells.map(Integer.valueOf): _*))
      .withColumn("cid", col("cid").cast(LongType))
    // deleted vectors are masked BEFORE scoring — at 100 TB the sidecar
    // is delete-volume-sized (broadcast here; partition it by cid like
    // the index when deletes outgrow a broadcast)
    val served = tombstones.fold(scanned)(t =>
      scanned.join(broadcast(t.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
    explodeTopK(
      served.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, k, "cos", "vec_id").as("top")))
  }

  def simIndexBuild(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = ivfCentroids(e)
    val idx = scratchDir("sim_ivfidx")
    // BUILD: assign every vector to its nearest cell, persist the
    // inverted lists as one partition directory per cell
    ivfAssign(e, centsArr)
      .write.mode("overwrite").partitionBy("cid").parquet(idx)
    // SERVE: probes pick their nprobe cells; the corpus scan prunes to
    // exactly those partition directories
    ivfServe(s, e, centsArr, idx, NumQueries, 2L * NumQueries)
  }

  // ---------------------------------------------------- sim_index_append
  /** INCREMENTAL index maintenance — the "adds are append" claim of
    * sim_index_build made physical: build the cid-partitioned index
    * over the EVEN half of the corpus, then ingest the odd half with
    * `mode("append")` into the same layout. Copy-on-write discipline is
    * `require`d — every initial data file survives the append
    * byte-identical (path + length), the append only ADDS files to the
    * cell directories it touches. Serving (a third, disjoint query
    * slice) then reads the merged index partition-pruned as usual, and
    * the oracle replays the IVF over the FULL corpus — so the hash
    * proves build-then-append converges to exactly the
    * build-from-scratch index.
    *
    * Scale shape: daily vector ingest appends data-proportional files
    * into the existing layout with zero rewrite of history; the
    * compaction/rebalance cadence is a separate offline job
    * (fmt_compaction's shape) — reads never stop while adds land. */
  def simIndexAppend(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = ivfCentroids(e)
    val idx = scratchDir("sim_ivfapp")
    // initial build over the even half (static overwrite resets the dir)
    ivfAssign(e.filter(col("vec_id") % 2 === 0), centsArr)
      .write.mode("overwrite").partitionBy("cid").parquet(idx)
    val before = FormatQueries.parquetFiles(idx)
    // ingest: the odd half appends into the same partitioned layout
    ivfAssign(e.filter(col("vec_id") % 2 === 1), centsArr)
      .write.mode("append").partitionBy("cid").parquet(idx)
    val after = FormatQueries.parquetFiles(idx)
    require(before.forall { case (p, len) => after.get(p).contains(len) },
      s"append must not rewrite history: ${before.size} initial files")
    require(after.size > before.size,
      s"append must add files: ${before.size} -> ${after.size}")
    // 5 serve queries: ≤ 5·nprobe = 15 probed cells < 16, so the
    // pruned-scan require holds by construction for this slice
    ivfServe(s, e, centsArr, idx, 2L * NumQueries, 2L * NumQueries + 5)
  }

  // ---------------------------------------------------- sim_index_delete
  /** LOGICAL DELETES — the lifecycle leg between append and rebalance
    * (build → append → DELETE → rebalance → serve): removing vectors
    * from a persisted index must not rewrite the inverted lists (a
    * delete-triggered rewrite of a 100 TB layout would dwarf the delete
    * itself), so deletes land as a TOMBSTONE SIDECAR — a parquet set of
    * deleted vec_ids next to the index — and serve anti-joins the
    * broadcast sidecar out of the probed scan before scoring. This is
    * Iceberg's merge-on-read delete-file / FAISS `remove_ids` mechanic
    * in lakehouse form; the periodic compaction that physically drops
    * tombstoned rows is fmt_compaction's shape and fmt_retention_gc's
    * safety argument.
    *
    * `require`s pin the contract physically: every index data file
    * survives the delete byte-identical (path + length), and the
    * sidecar is non-empty. The oracle replays the IVF with the delete
    * predicate applied to the corpus side, so the masking join — not
    * just the sidecar write — is under the hash: a tombstoned vector
    * leaking into any top-k breaks it, as does over-deleting a live
    * one.
    *
    * Scale shape: delete cost is sidecar-write only; serve cost is
    * unchanged (partition-pruned probe scan + a broadcast anti-join
    * sized by the delete volume). */
  def simIndexDelete(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = ivfCentroids(e)
    val idx = scratchDir("sim_ivfdel")
    ivfAssign(e, centsArr)
      .write.mode("overwrite").partitionBy("cid").parquet(idx)
    val before = FormatQueries.parquetFiles(idx)
    // logical delete: every vec_id ≡ 3 (mod 7) — written as a sidecar,
    // never into the index layout
    val tomb = s"${idx}_tombstones"
    s.read.parquet(idx).filter(col("vec_id") % 7 === 3)
      .select(col("vec_id")).write.mode("overwrite").parquet(tomb)
    val after = FormatQueries.parquetFiles(idx)
    require(after == before,
      s"logical delete must not rewrite index data files: ${before.size} files")
    val t = s.read.parquet(tomb)
    require(t.limit(1).count() == 1, "delete set must be non-empty")
    ivfServe(s, e, centsArr, idx, 2L * NumQueries + 5, 2L * NumQueries + 10, Some(t))
  }

  // --------------------------------------------------- sim_index_compact
  /** TOMBSTONE COMPACTION — the physical completion of
    * [[simIndexDelete]]'s logical deletes (build → append → delete →
    * COMPACT → rebalance → serve): the background job that rewrites
    * each inverted list CONTAINING tombstoned rows without them, drops
    * the sidecar, and must converge to exactly the serve the logical
    * mask produced — the same convergence discipline sim_index_append
    * pins for adds. Only cells that actually hold a deleted vector are
    * rewritten (`require`d: every other cell's files survive
    * byte-identical), the rewrite is persist-then-overwrite per cell
    * (the directory being read is the directory being replaced —
    * sim_ivf_rebalance's materialization order), and a post-compact
    * `require` proves zero tombstoned rows survive anywhere. Serve
    * then runs with NO tombstone mask on a fresh query slice, under
    * the same oracle predicate as the logical gate — so a compaction
    * that dropped a live row, kept a dead one, or disturbed a clean
    * cell breaks the hash.
    *
    * Scale shape: compaction cost is the tombstone-BEARING cells'
    * volume, never the index (cells without deletes are untouched
    * metadata); at 100 TB this runs on fmt_compaction's cadence and
    * restores serve to mask-free scans while bounding sidecar
    * growth. */
  def simIndexCompact(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = ivfCentroids(e)
    val idx = scratchDir("sim_ivfcmp")
    ivfAssign(e, centsArr)
      .write.mode("overwrite").partitionBy("cid").parquet(idx)
    val before = FormatQueries.parquetFiles(idx)
    val deletePred = col("vec_id") % 7 === 3 // same rule as sim_index_delete
    // cells actually carrying a tombstoned vector — only these rewrite
    val dirtyCells = s.read.parquet(idx).filter(deletePred)
      .select(col("cid")).distinct().collect().map(_.getInt(0)).sorted
    require(dirtyCells.nonEmpty, "compaction gate needs at least one dirty cell")
    // ONE rewrite job for all dirty cells: dynamic partition overwrite
    // replaces exactly the partitions present in the written data and
    // leaves clean cells' directories untouched — no per-cell job loop
    val survivors = s.read.parquet(idx)
      .filter(col("cid").isin(dirtyCells.map(Integer.valueOf): _*) && !deletePred)
      .persist()
    try {
      // materialize BEFORE the overwrite commit replaces the source
      // files (sim_ivf_rebalance's ordering), and prove no dirty cell
      // is FULLY tombstoned — an empty cell writes no partition under
      // dynamic mode, so it needs a directory delete instead (the
      // fmt_retention_gc mechanic), which this gate's data never hits
      val perCell = survivors.groupBy(col("cid")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(dirtyCells.forall(c => perCell.getOrElse(c, 0L) > 0L),
        "fully-tombstoned cell: compact via directory delete, not rewrite")
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try survivors.write.mode("overwrite").partitionBy("cid").parquet(idx)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    } finally survivors.unpersist()
    val after = FormatQueries.parquetFiles(idx)
    val clean = before.filterNot { case (p, _) =>
      dirtyCells.exists(c => p.contains(s"cid=$c/")) }
    require(clean.forall { case (p, len) => after.get(p).contains(len) },
      "compaction must not rewrite cells without tombstones")
    // only the rewritten cells can still hold a tombstone (clean cells'
    // byte-identity above proves they never had one) — pruned probe
    require(s.read.parquet(idx)
        .filter(col("cid").isin(dirtyCells.map(Integer.valueOf): _*) && deletePred)
        .limit(1).count() == 0,
      "a tombstoned row survived compaction")
    ivfServe(s, e, centsArr, idx, 2L * NumQueries + 10, 2L * NumQueries + 15)
  }

  /** DuckDB replay of the persisted-index IVF (build + serve) for the
    * query slice [loQ, hiQ) — shared by sim_index_build (the one-shot
    * build), sim_index_append (whose build-then-append must converge
    * to exactly this from-scratch index), and sim_index_delete /
    * sim_index_compact (whose `corpusFilter` drops the tombstoned ids
    * from the scored side — the compacted layout must converge to the
    * logically-masked one). */
  private def ivfReplaySql(loQ: Long, hiQ: Long, corpusFilter: String = "TRUE"): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |cents AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < $NumCells),
       |assigned AS (
       |  SELECT vec_id, cid, emb, nrm FROM (
       |    SELECT n.vec_id, cents.cid, n.emb, n.nrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.emb, cents.cemb) / (n.nrm * cents.cnrm) DESC, cents.cid ASC) AS rnc
       |    FROM n CROSS JOIN cents) t
       |  WHERE rnc = 1),
       |probes AS (
       |  SELECT query_id, cid, qemb, qnrm FROM (
       |    SELECT n.vec_id AS query_id, cents.cid, n.emb AS qemb, n.nrm AS qnrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.emb, cents.cemb) / (n.nrm * cents.cnrm) DESC, cents.cid ASC) AS rnp
       |    FROM n CROSS JOIN cents
       |    WHERE n.vec_id >= $loQ AND n.vec_id < $hiQ) t
       |  WHERE rnp <= $NumProbes),
       |scored AS (
       |  SELECT probes.query_id, assigned.vec_id,
       |    list_dot_product(assigned.emb, probes.qemb) / (assigned.nrm * probes.qnrm) AS cos
       |  FROM probes JOIN assigned ON probes.cid = assigned.cid
       |  WHERE assigned.vec_id <> probes.query_id AND ($corpusFilter))
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  val simIndexBuildSql: String = ivfReplaySql(NumQueries, 2L * NumQueries)
  val simIndexAppendSql: String = ivfReplaySql(2L * NumQueries, 2L * NumQueries + 5)
  val simIndexDeleteSql: String = ivfReplaySql(2L * NumQueries + 5, 2L * NumQueries + 10,
    "assigned.vec_id % 7 <> 3")
  val simIndexCompactSql: String = ivfReplaySql(2L * NumQueries + 10, 2L * NumQueries + 15,
    "assigned.vec_id % 7 <> 3")

  // --------------------------------------------------- sim_ivf_rebalance
  /** CELL REBALANCE — the "periodic rebalance" leg of the persisted-
    * index lifecycle (build → append → REBALANCE → serve): the busiest
    * inverted list (max count, ties to the lowest cid) SPLITS into two
    * cells around deterministic anchors — its members with the lowest
    * and highest vec_id — and every member joins the anchor it is
    * cosine-closer to (ties to the low anchor). Physically a manifest
    * op: ONLY the split cell's directory is rewritten (its survivors
    * stay under the old cid, movers land under the fresh cid
    * |cells|); `require`s pin that every other cell's files survive
    * byte-identical and both halves are non-empty. The gate emits
    * membership-sensitive per-cell stats (count / min / max / sum of
    * vec_id) off a re-read of the REBALANCED layout, and the oracle
    * replays assignment + split relationally — so cell choice, anchor
    * choice, the cosine re-assignment, and the directory rewrite are
    * all under the hash.
    *
    * Scale shape: rebalance cost is the split cell's volume, never the
    * index; at 100 TB this is the background compaction that keeps
    * serve-side cell reads bounded as appends skew the lists (a real
    * system k-means-refines the two anchors — same data movement). */
  def simIvfRebalance(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = ivfCentroids(e)
    val idx = scratchDir("sim_ivfreb")
    ivfAssign(e, centsArr)
      .write.mode("overwrite").partitionBy("cid").parquet(idx)
    val before = FormatQueries.parquetFiles(idx)

    // busiest cell + its two vec_id-extreme anchors: one tiny aggregate
    val Seq((busy, aLo, aHi)) = s.read.parquet(idx)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("a_lo"), max(col("vec_id")).as("a_hi"))
      .orderBy(col("n").desc, col("cid").asc).limit(1)
      .select(col("cid").cast(LongType), col("a_lo"), col("a_hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    require(aLo != aHi, s"busiest cell $busy has one member — nothing to split")
    val anchors = e.filter(col("vec_id").isin(aLo, aHi))
      .select(col("vec_id").as("a_id"), col("emb").as("aemb"), col("nrm").as("anrm"))
      .agg(array_sort(collect_list(struct(col("a_id"), col("aemb"), col("anrm")))).as("as_"))

    // split: members re-assign to the cosine-nearer anchor (ties → low)
    val members = s.read.parquet(s"$idx/cid=$busy")
      .crossJoin(broadcast(anchors))
      .withColumn("stay", expr(
        """vec_dot(emb, as_[0].aemb) / (nrm * as_[0].anrm)
          |  >= vec_dot(emb, as_[1].aemb) / (nrm * as_[1].anrm)""".stripMargin))
      .select(col("vec_id"), col("emb"), col("nrm"), col("stay"))
      .persist()
    try {
      // materialize the cache BEFORE overwriting the directory it was
      // read from (mode=overwrite deletes the source first), and write
      // the movers' fresh dir before touching the old one
      members.count()
      val freshCid = NumCells.toLong // the one id the seeding never used
      members.filter(!col("stay")).drop("stay")
        .write.mode("overwrite").parquet(s"$idx/cid=$freshCid")
      members.filter(col("stay")).drop("stay")
        .write.mode("overwrite").parquet(s"$idx/cid=$busy")
    } finally members.unpersist()

    // manifest contract: nothing outside the split cell moved, and the
    // split actually split
    val after = FormatQueries.parquetFiles(idx)
    val untouched = before.filterNot(_._1.contains(s"cid=$busy"))
    require(untouched.forall { case (p, len) => after.get(p).contains(len) },
      "rebalance must not touch cells outside the split")
    def nonEmpty(cid: Long) = after.keys.exists(_.contains(s"cid=$cid"))
    require(nonEmpty(busy) && nonEmpty(NumCells.toLong),
      s"split produced an empty half (busy=$busy)")

    s.read.parquet(idx)
      .withColumn("cid", col("cid").cast(LongType))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"), sum(col("vec_id")).as("sum_vec"))
  }

  val simIvfRebalanceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |cents AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < $NumCells),
       |assigned AS (
       |  SELECT vec_id, cid, emb, nrm FROM (
       |    SELECT n.vec_id, cents.cid, n.emb, n.nrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.emb, cents.cemb) / (n.nrm * cents.cnrm) DESC, cents.cid ASC) AS rnc
       |    FROM n CROSS JOIN cents) t
       |  WHERE rnc = 1),
       |busy AS (
       |  SELECT cid FROM assigned GROUP BY cid
       |  ORDER BY count(*) DESC, cid ASC LIMIT 1),
       |anch AS (
       |  SELECT min(vec_id) AS a_lo, max(vec_id) AS a_hi FROM assigned
       |  WHERE cid = (SELECT cid FROM busy)),
       |alo AS (SELECT emb, nrm FROM n WHERE vec_id = (SELECT a_lo FROM anch)),
       |ahi AS (SELECT emb, nrm FROM n WHERE vec_id = (SELECT a_hi FROM anch)),
       |rebalanced AS (
       |  SELECT a.vec_id,
       |    CASE
       |      WHEN a.cid <> (SELECT cid FROM busy) THEN a.cid
       |      WHEN list_dot_product(a.emb, alo.emb) / (a.nrm * alo.nrm)
       |        >= list_dot_product(a.emb, ahi.emb) / (a.nrm * ahi.nrm) THEN a.cid
       |      ELSE $NumCells
       |    END AS cid
       |  FROM assigned a, alo, ahi)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
       |  CAST(sum(vec_id) AS BIGINT) AS sum_vec
       |FROM rebalanced GROUP BY cid""".stripMargin

  // -------------------------------------------------------- sim_mips_ivf
  /** MAXIMUM INNER PRODUCT search via norm augmentation (the public
    * Bachrach et al. 2014 / Shrivastava–Li reduction): append one
    * dimension sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus
    * norm) so every augmented vector has norm exactly M; queries get 0
    * in that dimension. On the resulting sphere, angular / cosine
    * indexing structures become CORRECT for inner product — which raw
    * cosine IVF is not (MIPS is not a metric: a vector can be its own
    * worst neighbor). Cells and probes here rank by augmented dot
    * (denominators are the constant M, so the cosine order IS the dot
    * order); final scoring is the raw inner product q·x (equal to
    * q'·x' since the query's augmented coordinate is 0), ranked
    * (ip desc, vec_id asc) through the bounded top-k aggregate.
    *
    * Scale shape: identical to sim_topk_ivf — M is a 1-row broadcast,
    * augmentation a pure map, assignment a broadcast argmax, probes
    * broadcast onto the assigned corpus; the corpus never shuffles and
    * the only shuffle carries k rows per query. */
  def simMipsIvf(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val m = broadcast(e.agg(max(col("nrm")).as("m")))
    // greatest(...,0): the max-norm row's augmented coordinate is an
    // exact 0 (same doubles both sides), but guard the sqrt anyway —
    // identically in the oracle.
    val aug = e.crossJoin(m)
      .withColumn("aemb",
        expr("concat(emb, array(sqrt(greatest(m * m - nrm * nrm, 0d))))"))
    val centsArr = aug.filter(col("vec_id") < NumCells)
      .select(struct(col("vec_id").as("cid"), col("aemb").as("cemb")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cents"))
    val assigned = aug.crossJoin(broadcast(centsArr))
      .withColumn("best", expr(
        """array_min(transform(cents,
          |  c -> named_struct('negip', -vec_dot(aemb, c.cemb), 'cid', c.cid)))""".stripMargin))
      .select(col("vec_id"), col("best.cid").as("cid"), col("emb"))
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .withColumn("qaug", expr("concat(qemb, array(0d))"))
      .crossJoin(broadcast(centsArr))
      .select(col("query_id"), col("qemb"),
        explode(expr(
          s"""slice(array_sort(transform(cents,
             |  c -> named_struct('negip', -vec_dot(qaug, c.cemb),
             |                    'cid', c.cid))), 1, $NumProbes)""".stripMargin)).as("p"))
      .select(col("query_id"), col("p.cid").as("cid"), col("qemb"))
    explodeTopK(
      assigned.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", expr("vec_dot(emb, qemb)"))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
      .withColumnRenamed("cos", "ip")
  }

  val simMipsIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |m AS (SELECT max(nrm) AS m FROM n),
       |aug AS (
       |  SELECT vec_id, emb,
       |    list_append(emb, sqrt(greatest(m * m - nrm * nrm, 0))) AS aemb
       |  FROM n CROSS JOIN m),
       |cents AS (SELECT vec_id AS cid, aemb AS cemb FROM aug WHERE vec_id < $NumCells),
       |assigned AS (
       |  SELECT vec_id, cid, emb FROM (
       |    SELECT aug.vec_id, cents.cid, aug.emb,
       |      row_number() OVER (PARTITION BY aug.vec_id
       |        ORDER BY list_dot_product(aug.aemb, cents.cemb) DESC, cents.cid ASC) AS rnc
       |    FROM aug CROSS JOIN cents) t
       |  WHERE rnc = 1),
       |probes AS (
       |  SELECT query_id, cid, qemb FROM (
       |    SELECT aug.vec_id AS query_id, cents.cid, aug.emb AS qemb,
       |      row_number() OVER (PARTITION BY aug.vec_id
       |        ORDER BY list_dot_product(list_append(aug.emb, 0.0), cents.cemb) DESC,
       |                 cents.cid ASC) AS rnp
       |    FROM aug CROSS JOIN cents WHERE aug.vec_id < $NumQueries) t
       |  WHERE rnp <= $NumProbes),
       |scored AS (
       |  SELECT probes.query_id, assigned.vec_id,
       |    list_dot_product(assigned.emb, probes.qemb) AS ip
       |  FROM probes JOIN assigned ON probes.cid = assigned.cid
       |  WHERE assigned.vec_id <> probes.query_id)
       |SELECT query_id, vec_id, ip, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // ------------------------------------------------------------------
  // ------------------------------------------------------ sim_centroids
  /** Per-label centroids, dimension-parallel: the M-step of distributed
    * k-means / class-prototype computation. posexplode fans each vector
    * to (label, dim, x) and the shuffle key is (label, dim), so no
    * reducer ever holds a whole per-label vector and hot labels spread
    * over dims — the layout that survives 100 TB (at extreme row counts
    * one would pre-aggregate per-partition float arrays map-side, at
    * the cost of the exactness below).
    *
    * Exactness: float→decimal(28,9) sums. Spark casts float→decimal
    * through double; DuckDB's direct float→decimal cast instead goes
    * through the float's SHORTEST decimal rendering and diverges in the
    * 7th digit — the oracle must spell CAST(CAST(x AS DOUBLE) AS
    * DECIMAL(28,9)) (verified empirically on this data). Mean is the
    * single allowed double division. */
  def simCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("x").cast(DecimalType(28, 9))).as("sum_x"))
      .select(col("label"), col("dim"), col("n_vecs"),
        (col("sum_x").cast(DoubleType) / col("n_vecs").cast(DoubleType)).as("centroid"))

  val simCentroidsSql: String =
    """SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CAST(CAST(embedding[dim+1] AS DOUBLE) AS DECIMAL(28,9))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS centroid
      |FROM embeddings, (SELECT CAST(unnest(range(64)) AS INT) AS dim) dims
      |GROUP BY label, dim""".stripMargin

  // -------------------------------------------------------- sim_topk_lsh
  /** LSH-bucketed ANN — the other classic ANN family next to IVF
    * (sim_topk_ivf): 16-bit random-hyperplane signatures, 4 bands of 4
    * bits; a corpus vector is a candidate for a query iff they share any
    * band, and candidates are exact-ranked by cosine. The oracle
    * replicates the banding (not brute force — ADVICE r1's rule: gate
    * the algorithm, not a data-dependent approximation of it).
    *
    * Scale shape: the bucket join is an equi-join on (band, bkey) — the
    * corpus side shuffles once by bucket, queries fan out 4 rows each;
    * nothing is ever all-pairs. At 100 TB the signature frame would be
    * the stored index (bucketed table on bkey). */
  def simTopKLsh(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    explodeTopK(
      lshScoredCandidates(e)
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
  }

  /** 16-bit hyperplane signatures exploded to 4 bands of 4 bits:
    * (vec_id, band, bkey) — the LSH index frame shared by the query
    * searches (sim_topk_lsh / sim_range_search) and the all-pairs
    * k-NN graph. */
  private def lshBands(e: DataFrame): DataFrame = {
    val NBits = 16
    val sig = e.select(col("vec_id"),
      expr(s"hyperplane_sig(emb, $NBits)").as("sig"))
    val bandArr = array((0 until 4).map(t =>
      struct(lit(t).as("band"),
        shiftright(col("sig"), 4 * t).bitwiseAND(lit(15L)).as("bkey"))): _*)
    sig.select(col("vec_id"), explode(bandArr).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** Shared LSH front half: banded bucket join (query vs corpus) plus
    * exact cosine on the surviving candidates — consumed by the top-k
    * (bounded agg) and range (threshold filter) tails. */
  private def lshScoredCandidates(e: DataFrame): DataFrame = {
    val bands = lshBands(e)
    val qb = bands.filter(col("vec_id") < NumQueries)
      .select(col("band"), col("bkey"), col("vec_id").as("query_id"))
    val cand = bands.join(qb, Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    cand.join(e, Seq("vec_id")).join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
  }

  // ------------------------------------------------- sim_range_search
  /** Radius (range) similarity search: every corpus vector within
    * cosine >= [[RangeThreshold]] of a query vector — the
    * query-vs-corpus complement of dedup_embedding_cosine's self-join,
    * and the retrieval shape RAG-style pipelines run (all
    * sufficiently-close neighbors, not a fixed k). Same LSH bucket gate
    * as sim_topk_lsh, exact cosine verify; the oracle replicates the
    * banding (gate the algorithm, not a data-dependent approximation).
    *
    * Scale shape: identical bucket equi-join; a threshold filter
    * replaces the bounded top-k agg, so the shuffle out of the verify
    * stage carries only true matches. */
  def simRangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    lshScoredCandidates(e)
      .filter(col("cos") >= RangeThreshold)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** Shared SQL front half of the LSH queries: banding + exact cosine,
    * ending in a `scored(query_id, vec_id, cos)` CTE. `queryPred`
    * restricts which vectors act as query/source vertices (empty =
    * all-pairs, for the k-NN graph). */
  private lazy val lshScoredCteSql: String = lshCteSql(s"q.vec_id < $NumQueries AND ")
  private lazy val lshScoredAllCteSql: String = lshCteSql("")
  private def lshCteSql(queryPred: String): String = {
    // hyperplane weights: the same LCG as VectorExpressions.hyperplaneSig
    def w(i: Int) =
      s"CAST(($i * 73856093 + d * 19349663) % 1000003 AS DOUBLE) / 500001.5 - 1.0"
    val projCols = (0 until 16).map(i =>
      s"list_dot_product(emb, list_transform(range(1, len(emb) + 1), d -> ${w(i)})) AS p$i")
      .mkString(",\n    ")
    val sigExpr = (0 until 16).map(i =>
      s"CASE WHEN p$i > 0 THEN ${1L << (15 - i)} ELSE 0 END").mkString(" + ")
    val bandSelects = (0 until 4).map(t =>
      s"SELECT vec_id, $t AS band, (sig >> ${4 * t}) & 15 AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |proj AS (
       |  SELECT vec_id,
       |    $projCols
       |  FROM e),
       |sig AS (SELECT vec_id, CAST($sigExpr AS BIGINT) AS sig FROM proj),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id
       |  FROM bands b JOIN bands q
       |    ON b.band = q.band AND b.bkey = q.bkey
       |  WHERE ${queryPred}b.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    list_dot_product(v.emb, q.emb) / (v.nrm * q.nrm) AS cos
       |  FROM cand c
       |  JOIN n v ON v.vec_id = c.vec_id
       |  JOIN n q ON q.vec_id = c.query_id)""".stripMargin
  }

  val simTopKLshSql: String =
    s"""$lshScoredCteSql
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  val simRangeSearchSql: String =
    s"""$lshScoredCteSql
       |SELECT query_id, vec_id, cos FROM scored
       |WHERE cos >= $RangeThreshold""".stripMargin

  // ------------------------------------------------ sim_threshold_sweep
  /** Threshold-sensitivity sweep — the tuning readout run before fixing
    * a near-dup / retrieval cosine cutoff: pair counts and query
    * coverage at every candidate threshold, in ONE pass over the
    * LSH-gated candidate stream (a per-threshold re-run would re-scan
    * and re-join once per point). Thresholds are integer percent so the
    * compare constant `th/100` is the identical IEEE double on both
    * engines.
    *
    * Scale shape: the already-bucket-gated scored pairs fan out ×|sweep
    * points| (a 7× multiplier on a stream that tracks true candidates,
    * not the corpus) into a ≤7-row mergeable aggregate. */
  def simThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    lshScoredCandidates(e)
      .select(col("query_id"), col("cos"),
        explode(lit(Array(30L, 40L, 50L, 60L, 70L, 80L, 90L))).as("th_pct"))
      .filter(col("cos") >= col("th_pct").cast(DoubleType) / 100)
      .groupBy(col("th_pct"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("query_id")).as("n_queries"))
  }

  val simThresholdSweepSql: String =
    s"""$lshScoredCteSql,
       |sweep AS (SELECT CAST(unnest([30, 40, 50, 60, 70, 80, 90]) AS BIGINT) AS th_pct)
       |SELECT th_pct, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
       |FROM scored CROSS JOIN sweep
       |WHERE cos >= CAST(th_pct AS DOUBLE) / 100
       |GROUP BY th_pct""".stripMargin

  // ------------------------------------------------------ sim_knn_graph
  private val GraphK = 3 // neighbors per vertex in the k-NN graph

  /** All-pairs k-NN graph: every corpus vector's top-[[GraphK]] cosine
    * neighbors among its LSH band-mates — the graph that semantic-dedup
    * clustering, graph-based diversity sampling, and kNN-LM retrieval
    * all start from. Unlike the query-set searches (sim_topk_*), BOTH
    * sides are the full corpus, so the banded bucket join is what keeps
    * this off the O(n²) cliff: a pair is scored iff it shares one of 4
    * signature bands, then a bounded top-k aggregate ranks per source
    * vertex. The oracle replicates the banding, so the approximation
    * itself is gated, not a brute-force stand-in.
    *
    * Scale shape: bucket self-join shuffles on (band, bkey) — candidate
    * volume tracks bucket occupancy (tunable via band width), never
    * n²; the embedding re-join is an equi-join on vec_id; the final
    * shuffle carries k rows per vertex. At 100 TB the signature/band
    * frame is the stored index (bucketed on bkey), and band width grows
    * with corpus size to hold bucket occupancy flat. */
  def simKnnGraph(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val bands = lshBands(e)
    val cand = bands.join(
        bands.select(col("band"), col("bkey"), col("vec_id").as("src_id")),
        Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("src_id"))
      .select(col("src_id"), col("vec_id")).distinct()
    val src = e.select(col("vec_id").as("src_id"), col("emb").as("semb"), col("nrm").as("snrm"))
    val scored = cand.join(e, Seq("vec_id")).join(src, Seq("src_id"))
      .withColumn("cos", cosine(expr("vec_dot(emb, semb)"), col("nrm"), col("snrm")))
    scored.groupBy(col("src_id"))
      .agg(topKAggN(s, GraphK, "cos", "vec_id").as("top"))
      .select(col("src_id"), posexplode(col("top.items")).as(Seq("pos", "t")))
      .select(col("src_id"), col("t.vec_id").as("nbr_id"), col("t.cos").as("cos"),
        (col("pos") + 1).cast(LongType).as("rn"))
  }

  val simKnnGraphSql: String =
    s"""$lshScoredAllCteSql
       |SELECT src_id, nbr_id, cos, rn FROM (
       |  SELECT query_id AS src_id, vec_id AS nbr_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $GraphK""".stripMargin

  // -------------------------------------------------- sim_graph_jaccard
  /** Neighbor-set Jaccard link prediction over the k-NN graph: for
    * every 2-hop pair (a, b) sharing at least two graph neighbors,
    * |N(a)∩N(b)| and the Jaccard of the neighbor sets — the classic
    * common-neighbors link predictor (recommendation candidates,
    * missing-edge detection, cluster-boundary scoring) and a different
    * graph primitive from the triangle census: it scores NON-edges.
    *
    * Determinism: neighbor sets are exact (symmetrized, distinct);
    * counts are integers; the Jaccard is fixed-point
    * `shared·1e6 div (da + db − shared)` — no float anywhere.
    *
    * Scale shape: same id-ordered wedge formulation as the triangle
    * census — one self-equi-join of the symmetrized adjacency on the
    * shared neighbor builds each candidate pair once (a < b), volume
    * bounded by Σ_w deg(w)², never |V|²; degrees are a vertex-keyed
    * count riding the same frame; the ≥2-shared floor prunes the long
    * tail of one-wedge pairs before the degree joins. */
  def simGraphJaccard(s: SparkSession, d: String): DataFrame = {
    val e = simKnnGraph(s, d).select(col("src_id"), col("nbr_id"))
    // cache(): the symmetrized adjacency feeds both wedge sides AND the
    // degree count; uncached the LSH + top-k graph build would re-run.
    val nbrs = e.select(col("src_id").as("v"), col("nbr_id").as("w"))
      .union(e.select(col("nbr_id").as("v"), col("src_id").as("w")))
      .distinct().cache()
    val deg = nbrs.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wedges = nbrs.select(col("v").as("a_id"), col("w"))
      .join(nbrs.select(col("v").as("b_id"), col("w")), Seq("w"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    wedges
      .join(deg.select(col("v").as("a_id"), col("d").as("da")), Seq("a_id"))
      .join(deg.select(col("v").as("b_id"), col("d").as("db")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("shared"),
        expr("shared * 1000000L div (da + db - shared)").as("jac_fp"))
  }

  val simGraphJaccardSql: String =
    s"""$lshScoredAllCteSql,
       |knn AS (
       |  SELECT query_id AS src, vec_id AS dst FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |    FROM scored) t
       |  WHERE rn <= $GraphK),
       |nbrs AS (
       |  SELECT DISTINCT v, w FROM (
       |    SELECT src AS v, dst AS w FROM knn
       |    UNION ALL SELECT dst AS v, src AS w FROM knn)),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nbrs GROUP BY v),
       |wedges AS (
       |  SELECT a.v AS a_id, b.v AS b_id, CAST(count(*) AS BIGINT) AS shared
       |  FROM nbrs a JOIN nbrs b ON a.w = b.w AND a.v < b.v
       |  GROUP BY a.v, b.v
       |  HAVING count(*) >= 2)
       |SELECT a_id, b_id, shared,
       |  CAST(shared * 1000000 // (da.d + db.d - shared) AS BIGINT) AS jac_fp
       |FROM wedges
       |JOIN deg da ON a_id = da.v
       |JOIN deg db ON b_id = db.v""".stripMargin

  // ----------------------------------------------------- sim_graph_rank
  private val PrIters = 2        // power-iteration rounds
  private val PrDamp = 0.85      // damping factor
  private val FpScale = 1e15     // fixed-point scale for exact summation

  /** PageRank-style importance over the k-NN graph (two damped power
    * iterations) — graph centrality as a diversity/quality signal for
    * corpus curation. Each round: every vertex splits its rank across
    * its out-edges, incoming shares are summed, and rank becomes
    * (1-d)/N + d·sum (dangling mass dropped, the standard sparse
    * simplification).
    *
    * Cross-engine determinism WITHOUT decimal-cast coupling: per-edge
    * shares are floored to int64 fixed-point (×1e15) before the sum, so
    * the aggregation is exact integer addition — shuffle-order- and
    * engine-independent — and every remaining op is a single IEEE
    * double op with identical operands on both engines. Per-vertex
    * sums are bounded by total rank mass (≈1e15), so the int64 never
    * overflows at ANY corpus size.
    *
    * Scale shape: the edge list is the k-NN output (≤k·N edges); each
    * iteration is one vec_id equi-join + one dst-keyed integer sum —
    * the classic iterate-until-k rounds sparse-matvec, each round a
    * bounded shuffle, no global state. */
  def simGraphRank(s: SparkSession, d: String): DataFrame = {
    val edges = simKnnGraph(s, d)
      .select(col("src_id"), col("nbr_id").as("dst")).cache()
    val verts = embedded(s, d).select(col("vec_id"))
    val n = verts.agg(count(lit(1)).cast(DoubleType).as("nv"))
    val outdeg = edges.groupBy(col("src_id")).agg(count(lit(1)).as("od"))
    var rank = verts.crossJoin(broadcast(n))
      .select(col("vec_id"), (lit(1.0) / col("nv")).as("rank"))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(rank.select(col("vec_id").as("src_id"), col("rank")), Seq("src_id"))
        .join(outdeg, Seq("src_id"))
        .select(col("dst"),
          expr(s"CAST(floor(rank / od * $FpScale) AS BIGINT)").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("fp"))
      rank = verts.crossJoin(broadcast(n))
        .join(sums, verts("vec_id") === sums("dst"), "left")
        .select(col("vec_id"),
          (lit(1.0 - PrDamp) / col("nv") +
            lit(PrDamp) * (coalesce(col("fp"), lit(0L)).cast(DoubleType) / lit(FpScale)))
            .as("rank"))
    }
    rank
  }

  val simGraphRankSql: String = {
    // one inlined iteration step as a CTE pair (contributions -> rank)
    def step(prev: String, out: String): String =
      s"""c_$out AS (
         |  SELECT e.nbr_id AS dst,
         |    CAST(floor(r.rank / od.od * $FpScale) AS BIGINT) AS c
         |  FROM edges e
         |  JOIN $prev r ON e.src_id = r.vec_id
         |  JOIN od ON e.src_id = od.src_id),
         |$out AS (
         |  SELECT v.vec_id,
         |    ${1.0 - PrDamp} / nv + $PrDamp * (CAST(coalesce(s.fp, 0) AS DOUBLE) / $FpScale) AS rank
         |  FROM verts v CROSS JOIN n
         |  LEFT JOIN (SELECT dst, CAST(sum(c) AS BIGINT) AS fp FROM c_$out GROUP BY dst) s
         |    ON v.vec_id = s.dst)""".stripMargin
    s"""WITH knn AS ($simKnnGraphSql),
       |edges AS (SELECT src_id, nbr_id FROM knn),
       |verts AS (SELECT vec_id FROM embeddings),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM embeddings),
       |od AS (SELECT src_id, count(*) AS od FROM edges GROUP BY src_id),
       |r0 AS (SELECT vec_id, 1.0 / nv AS rank FROM verts CROSS JOIN n),
       |${step("r0", "r1")},
       |${step("r1", "r2")}
       |SELECT vec_id, rank FROM r2""".stripMargin
  }

  // ------------------------------------------------- sim_graph_triangles
  /** Triangle census over the k-NN graph: per-vertex triangle counts —
    * the local-clustering signal that separates dense near-duplicate
    * neighborhoods (their k-NN edges close into triangles) from chains
    * of merely-sequential neighbors. All-integer output.
    *
    * Scale shape: the classic id-ordered wedge formulation. The graph
    * is symmetrized into canonical a<b edges (≤2kN rows); wedges are
    * built by ONE self-equi-join on the middle vertex so every triangle
    * a<b<c is generated exactly once (no 3!-fold duplication to dedupe),
    * then closed by ONE more equi-join probing the (a,c) edge. Both
    * joins are hash joins on vertex ids — no inequality nested loop —
    * and the wedge count is bounded by Σ_b deg(b)², with deg bounded by
    * the k-NN fan-in, not corpus size. */
  def simGraphTriangles(s: SparkSession, d: String): DataFrame = {
    val und = simKnnGraph(s, d)
      .filter(col("src_id") =!= col("nbr_id"))
      .select(least(col("src_id"), col("nbr_id")).as("a"),
        greatest(col("src_id"), col("nbr_id")).as("b"))
      .distinct()
    val wedges = und.join(
      und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tri = wedges.join(
      und.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_tri"))
  }

  val simGraphTrianglesSql: String =
    s"""WITH knn AS ($simKnnGraphSql),
       |und AS (
       |  SELECT DISTINCT least(src_id, nbr_id) AS a, greatest(src_id, nbr_id) AS b
       |  FROM knn WHERE src_id <> nbr_id),
       |tri AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1
       |  JOIN und e2 ON e1.b = e2.a
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |v AS (SELECT unnest([a, b, c]) AS vec_id FROM tri)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_tri
       |FROM v GROUP BY vec_id""".stripMargin

  // -------------------------------------------------------- sim_graph_lpa
  private val LpaIters = 3

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the k-NN graph — the cheap community signal used to
    * group near-topic documents before stratified sampling or dedup
    * prioritization. LPA is normally run asynchronously with random
    * tie-breaks; this is the DETERMINISTIC synchronous variant: every
    * round each vertex adopts the most frequent label among its
    * neighbors, ties broken toward the smallest label, vertices with no
    * neighbors keep their own. Deterministic tie-breaking is what makes
    * a community structure reproducible enough to hash cross-engine —
    * and reproducibility is a curation requirement, not a test crutch.
    * Distinct from connected components (min-propagation): the MODE
    * update splits a bridged pair of dense clusters that CC would merge.
    *
    * Scale shape: per round, one equi-join of the ≤2kN symmetric edge
    * list against the label frame and one (dst, lbl)-keyed count — the
    * per-round argmax uses min(struct(-n, lbl)), a partial-aggregable
    * fold, NOT a per-group sort/window. Rounds are fixed (3): bounded
    * shuffles, no driver-side iteration state. */
  def simGraphLpa(s: SparkSession, d: String): DataFrame = {
    val und = simKnnGraph(s, d)
      .filter(col("src_id") =!= col("nbr_id"))
      .select(least(col("src_id"), col("nbr_id")).as("a"),
        greatest(col("src_id"), col("nbr_id")).as("b"))
      .distinct()
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst"))).cache()
    val verts = embedded(s, d).select(col("vec_id"))
    lpaPropagate(edges, verts, LpaIters)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
      .select(col("lbl").as("community"), col("n_members"), col("min_member"))
  }

  /** The synchronous LPA core: `iters` rounds of
    * label <- argmax_{(count desc, label asc)} over neighbor labels,
    * keep-own when isolated. Exposed for planted-graph specs.
    *
    * Each round references the previous label frame TWICE (neighbor
    * votes + the keep-own carry), so without materialization the plan
    * would duplicate the upstream subtree 2^iters times; the per-round
    * `localCheckpoint` pins the frame once and truncates lineage (the
    * same discipline as the BFS frontier loop). Optimization round 2
    * tried LAZY cache() pinning instead (one job for the whole loop):
    * measured 1.5-3x WORSE — the round's two consumers run in the same
    * job, race the unpopulated cache, and recompute each level, which
    * compounds across rounds. Eager per-round materialization is the
    * correct form; kept. */
  private[operators] def lpaPropagate(edges: DataFrame, verts: DataFrame,
      iters: Int): DataFrame = {
    var labels = verts.select(col("vec_id"), col("vec_id").as("lbl"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val mode = edges
        .join(labels.select(col("vec_id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("n")).as("neg"), col("lbl").as("l"))).as("m"))
        .select(col("dst").as("vec_id"), col("m.l").as("newlbl"))
      labels = labels.join(mode, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("newlbl"), col("lbl")).as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  val simGraphLpaSql: String = {
    def step(prev: String, out: String): String =
      s"""v_$out AS (
         |  SELECT e.dst, r.lbl, count(*) AS n
         |  FROM edges e JOIN $prev r ON e.src = r.vec_id GROUP BY 1, 2),
         |m_$out AS (
         |  SELECT dst, lbl FROM (
         |    SELECT dst, lbl,
         |      row_number() OVER (PARTITION BY dst ORDER BY n DESC, lbl ASC) AS rn
         |    FROM v_$out) WHERE rn = 1),
         |$out AS (
         |  SELECT p.vec_id, coalesce(m.lbl, p.lbl) AS lbl
         |  FROM $prev p LEFT JOIN m_$out m ON p.vec_id = m.dst)""".stripMargin
    s"""WITH knn AS ($simKnnGraphSql),
       |und AS (
       |  SELECT DISTINCT least(src_id, nbr_id) AS a, greatest(src_id, nbr_id) AS b
       |  FROM knn WHERE src_id <> nbr_id),
       |edges AS (SELECT a AS src, b AS dst FROM und
       |          UNION ALL SELECT b AS src, a AS dst FROM und),
       |l0 AS (SELECT vec_id, vec_id AS lbl FROM embeddings),
       |${step("l0", "l1")},
       |${step("l1", "l2")},
       |${step("l2", "l3")}
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |  min(vec_id) AS min_member
       |FROM l3 GROUP BY lbl""".stripMargin
  }

  // ------------------------------------------------------- sim_pq_topk
  private val PqM = 8       // subspaces (64 dims / 8 per subvector)
  private val PqSub = 8     // dims per subvector
  private val PqCodes = 16  // codewords per subspace (seeds: vec_id < 16)

  /** Product-quantization ANN (ADC): the byte-code compression path real
    * 100 TB vector search runs on. Each 64-dim vector is encoded as
    * [[PqM]] 4-bit codes — the id of the nearest codeword per subvector
    * (codebooks seeded from the first [[PqCodes]] corpus vectors,
    * deterministic like sim_topk_ivf's centroids) — cutting 256 bytes of
    * floats to 4 bytes per vector. A query ranks the WHOLE encoded
    * corpus without touching a float vector: it precomputes a
    * [[PqM]]×[[PqCodes]] lookup table of subspace distances, and a
    * candidate's approximate distance is the s-ordered left-to-right sum
    * of 8 LUT entries (asymmetric distance computation). Top-k by
    * (adist asc, vec_id asc); the oracle replicates encode + LUT + fold
    * exactly, so the quantization itself is gated.
    *
    * Scale shape: encoding is a pure map over the corpus against one
    * broadcast 128-entry codebook array (corpus never shuffles; at
    * 100 TB the code column is the stored index — 64× smaller than the
    * embeddings it replaces). Search is broadcast-LUT × encoded-corpus,
    * also a pure map, and the only shuffle is the bounded top-k
    * aggregate carrying k rows per query. */
  def simPqTopK(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    // codebook: 128 structs (s, c, csub, cn2), sorted so slice(cb,
    // s*16+1, 16) is subspace s's codewords in codeword order
    val cbArr = e.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").cast(IntegerType).as("c"),
        explode(expr(s"""transform(sequence(0, ${PqM - 1}),
          |  s -> named_struct('s', s, 'csub', slice(emb, s * $PqSub + 1, $PqSub)))""".stripMargin)).as("sc"))
      .select(col("sc.s").as("s"), col("c"), col("sc.csub").as("csub"),
        expr("vec_dot(sc.csub, sc.csub)").as("cn2"))
      .agg(array_sort(collect_list(struct(col("s"), col("c"), col("csub"), col("cn2")))).as("cb"))
    // encode: per subspace, argmin_{c} (cn2 - 2·sub·csub) over the
    // broadcast codebook — the sub·sub term is constant per (row, s)
    val encoded = e.crossJoin(broadcast(cbArr))
      .withColumn("codes", expr(s"""transform(sequence(0, ${PqM - 1}),
        |  s -> array_min(transform(slice(cb, s * $PqCodes + 1, $PqCodes),
        |    cc -> named_struct(
        |      'key', cc.cn2 - 2 * vec_dot(slice(emb, s * $PqSub + 1, $PqSub), cc.csub),
        |      'c', cc.c))).c)""".stripMargin))
      .select(col("vec_id"), col("codes"))
    // query LUTs: full subspace distance per codebook entry, in
    // codebook order, so lut[s·16 + code + 1] is the ADC term
    val luts = e.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(cbArr))
      .select(col("vec_id").as("query_id"), expr(s"""transform(cb,
        |  cc -> vec_dot(slice(emb, cc.s * $PqSub + 1, $PqSub), slice(emb, cc.s * $PqSub + 1, $PqSub))
        |    - 2 * vec_dot(slice(emb, cc.s * $PqSub + 1, $PqSub), cc.csub) + cc.cn2)""".stripMargin).as("lut"))
    // ADC: s-ordered fold of LUT entries (order fixed so the double sum
    // is bit-reproducible against the oracle's list_reduce)
    explodeTopK(
      encoded.crossJoin(broadcast(luts))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("negadist", expr(s"""-aggregate(sequence(0, ${PqM - 1}), CAST(0 AS DOUBLE),
          |  (a, s) -> a + element_at(lut, s * $PqCodes + element_at(codes, s + 1) + 1))""".stripMargin))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "negadist", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id"), negate(col("cos")).as("adist"), col("rn"))
  }

  val simPqTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sv AS (
       |  SELECT vec_id, CAST(s AS INT) AS s,
       |    emb[($PqSub*s+1):($PqSub*s+$PqSub)] AS sub
       |  FROM e, (SELECT unnest(range($PqM)) AS s)),
       |cb AS (
       |  SELECT s, CAST(vec_id AS INT) AS c, sub AS csub FROM sv WHERE vec_id < $PqCodes),
       |codes AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT sv.vec_id, sv.s, cb.c,
       |      row_number() OVER (PARTITION BY sv.vec_id, sv.s
       |        ORDER BY list_dot_product(cb.csub, cb.csub)
       |          - 2 * list_dot_product(sv.sub, cb.csub) ASC, cb.c ASC) AS rnc
       |    FROM sv JOIN cb ON sv.s = cb.s) t
       |  WHERE rnc = 1),
       |lut AS (
       |  SELECT sv.vec_id AS query_id, sv.s, cb.c,
       |    list_dot_product(sv.sub, sv.sub) - 2 * list_dot_product(sv.sub, cb.csub)
       |      + list_dot_product(cb.csub, cb.csub) AS qd2
       |  FROM sv JOIN cb ON sv.s = cb.s
       |  WHERE sv.vec_id < $NumQueries),
       |ad AS (
       |  SELECT query_id, vec_id, list_reduce(list(qd2 ORDER BY l.s), (a, b) -> a + b) AS adist
       |  FROM codes co JOIN lut l ON l.s = co.s AND l.c = co.code
       |  WHERE co.vec_id <> l.query_id
       |  GROUP BY query_id, vec_id)
       |SELECT query_id, vec_id, adist, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM ad) t
       |WHERE rn <= $TopK""".stripMargin

  // ------------------------------------------------------- sim_ivf_pq
  /** IVF-PQ ANN (coarse cells + PQ-encoded residuals + ADC) — the
    * composed index layout production 100 TB vector search actually
    * deploys (FAISS's IVFPQ): sim_topk_ivf's cell pruning and
    * sim_pq_topk's byte codes are each half of it. Every corpus vector
    * is (1) assigned to its nearest of [[NumCells]] coarse centroids by
    * L2 (ties: lowest cid, as sim_kmeans), (2) its RESIDUAL against
    * that centroid is PQ-encoded as [[PqM]] 4-bit codes (residual
    * codebooks seeded from the first [[PqCodes]] vectors' own
    * residuals). A query probes its [[NumProbes]] nearest cells, builds
    * one [[PqM]]×[[PqCodes]] LUT of subspace distances per probed cell
    * (the query residual differs per cell — that is what distinguishes
    * IVF-PQ from flat PQ), and ranks only the probed cells' candidates
    * by the s-ordered ADC fold. The oracle replicates assign + residual
    * encode + per-cell LUT + fold, so the full index pipeline is gated.
    *
    * Scale shape: assignment and encoding are pure maps over broadcast
    * arrays (16 centroids / 128 codewords) — the corpus never shuffles,
    * and the stored index is (cid, 4-byte code) per vector, 64× smaller
    * than the embeddings. Search touches only probed cells (the
    * LUT join is an equi-join on cid against |Q|·nprobe broadcast
    * rows), and the only shuffle is the bounded top-k aggregate
    * carrying k rows per query. */
  def simIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        expr("vec_dot(emb, emb)").as("cn2"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb"), col("cn2")))).as("cents"))
    // coarse assign (L2 argmin, tie lowest cid) + residual, one pure map
    val assigned = e.crossJoin(broadcast(centsArr))
      .withColumn("best", expr(
        """array_min(transform(cents,
          |  c -> named_struct(
          |    'd2', vec_dot(emb, emb) - 2 * vec_dot(emb, c.cemb) + c.cn2,
          |    'cid', c.cid)))""".stripMargin))
      .withColumn("cemb", expr("filter(cents, c -> c.cid = best.cid)[0].cemb"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        expr("zip_with(emb, cemb, (x, y) -> x - y)").as("resid"))
    // residual codebooks: 128 structs (s, c, csub, cn2) from the seed
    // vectors' OWN residuals, sorted so slice(cb, s*16+1, 16) is
    // subspace s in codeword order
    val cbArr = assigned.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").cast(IntegerType).as("c"),
        explode(expr(s"""transform(sequence(0, ${PqM - 1}),
          |  s -> named_struct('s', s, 'csub', slice(resid, s * $PqSub + 1, $PqSub)))""".stripMargin)).as("sc"))
      .select(col("sc.s").as("s"), col("c"), col("sc.csub").as("csub"),
        expr("vec_dot(sc.csub, sc.csub)").as("cn2"))
      .agg(array_sort(collect_list(struct(col("s"), col("c"), col("csub"), col("cn2")))).as("cb"))
    // encode residuals: per-subspace L2 argmin over the broadcast
    // codebook (sub·sub constant per (row, s), so rank by cn2 - 2·sub·csub)
    val encoded = assigned.crossJoin(broadcast(cbArr))
      .withColumn("codes", expr(s"""transform(sequence(0, ${PqM - 1}),
        |  s -> array_min(transform(slice(cb, s * $PqCodes + 1, $PqCodes),
        |    cc -> named_struct(
        |      'key', cc.cn2 - 2 * vec_dot(slice(resid, s * $PqSub + 1, $PqSub), cc.csub),
        |      'c', cc.c))).c)""".stripMargin))
      .select(col("vec_id"), col("cid"), col("codes"))
    // probes: top-nprobe cells per query by L2, query residual per cell
    val probes = e.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(centsArr))
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        explode(expr(
          s"""slice(array_sort(transform(cents,
             |  c -> named_struct(
             |    'd2', vec_dot(emb, emb) - 2 * vec_dot(emb, c.cemb) + c.cn2,
             |    'cid', c.cid,
             |    'cemb', c.cemb))), 1, $NumProbes)""".stripMargin)).as("p"))
      .select(col("query_id"), col("p.cid").as("cid"),
        expr("zip_with(qemb, p.cemb, (x, y) -> x - y)").as("qresid"))
    // per-cell LUTs: full subspace distance per codebook entry, cb order
    val luts = probes.crossJoin(broadcast(cbArr))
      .select(col("query_id"), col("cid"), expr(s"""transform(cb,
        |  cc -> vec_dot(slice(qresid, cc.s * $PqSub + 1, $PqSub), slice(qresid, cc.s * $PqSub + 1, $PqSub))
        |    - 2 * vec_dot(slice(qresid, cc.s * $PqSub + 1, $PqSub), cc.csub) + cc.cn2)""".stripMargin).as("lut"))
    // ADC over probed cells only: equi-join on cid, s-ordered fold
    explodeTopK(
      encoded.join(broadcast(luts), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("negadist", expr(s"""-aggregate(sequence(0, ${PqM - 1}), CAST(0 AS DOUBLE),
          |  (a, s) -> a + element_at(lut, s * $PqCodes + element_at(codes, s + 1) + 1))""".stripMargin))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "negadist", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id"), negate(col("cos")).as("adist"), col("rn"))
  }

  val simIvfPqSql: String = {
    val d2 = (e: String, c: String) =>
      s"list_dot_product($e, $e) - 2 * list_dot_product($e, $c) + list_dot_product($c, $c)"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCells),
       |assigned AS (
       |  SELECT vec_id, cid,
       |    list_transform(range(1, len(emb) + 1), i -> emb[i] - cemb[i]) AS resid
       |  FROM (
       |    SELECT e.vec_id, c.cid, e.emb, c.cemb,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.emb", "c.cemb")} ASC, c.cid ASC) AS rnc
       |    FROM e CROSS JOIN cents c) t
       |  WHERE rnc = 1),
       |rsv AS (
       |  SELECT vec_id, cid, CAST(s AS INT) AS s,
       |    resid[($PqSub*s+1):($PqSub*s+$PqSub)] AS sub
       |  FROM assigned, (SELECT unnest(range($PqM)) AS s)),
       |cb AS (
       |  SELECT s, CAST(vec_id AS INT) AS c, sub AS csub FROM rsv WHERE vec_id < $PqCodes),
       |codes AS (
       |  SELECT vec_id, cid, s, c AS code FROM (
       |    SELECT rsv.vec_id, rsv.cid, rsv.s, cb.c,
       |      row_number() OVER (PARTITION BY rsv.vec_id, rsv.s
       |        ORDER BY list_dot_product(cb.csub, cb.csub)
       |          - 2 * list_dot_product(rsv.sub, cb.csub) ASC, cb.c ASC) AS rnq
       |    FROM rsv JOIN cb ON rsv.s = cb.s) t
       |  WHERE rnq = 1),
       |probes AS (
       |  SELECT query_id, cid,
       |    list_transform(range(1, len(qemb) + 1), i -> qemb[i] - cemb[i]) AS qresid
       |  FROM (
       |    SELECT e.vec_id AS query_id, c.cid, e.emb AS qemb, c.cemb,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.emb", "c.cemb")} ASC, c.cid ASC) AS rnp
       |    FROM e CROSS JOIN cents c WHERE e.vec_id < $NumQueries) t
       |  WHERE rnp <= $NumProbes),
       |lut AS (
       |  SELECT p.query_id, p.cid, cb.s, cb.c,
       |    list_dot_product(p.qresid[($PqSub*cb.s+1):($PqSub*cb.s+$PqSub)],
       |                     p.qresid[($PqSub*cb.s+1):($PqSub*cb.s+$PqSub)])
       |      - 2 * list_dot_product(p.qresid[($PqSub*cb.s+1):($PqSub*cb.s+$PqSub)], cb.csub)
       |      + list_dot_product(cb.csub, cb.csub) AS qd2
       |  FROM probes p JOIN cb ON true),
       |ad AS (
       |  SELECT l.query_id, co.vec_id,
       |    list_reduce(list(l.qd2 ORDER BY l.s), (a, b) -> a + b) AS adist
       |  FROM codes co JOIN lut l ON l.cid = co.cid AND l.s = co.s AND l.c = co.code
       |  WHERE co.vec_id <> l.query_id
       |  GROUP BY l.query_id, co.vec_id)
       |SELECT query_id, vec_id, adist, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM ad) t
       |WHERE rn <= $TopK""".stripMargin
  }

  // ---------------------------------------------------------- sim_kmeans
  private val KmK = 8      // clusters: centroids seeded from vec_id < 8
  private val KmIters = 2  // Lloyd update rounds before the final assign
  private val KmDims = 64  // embedding dimensionality (TESTDATA)

  /** Lloyd's k-means over the embeddings (K=8, 2 update rounds +
    * final assignment), reporting per-cluster size and exact inertia —
    * the iterative-ML workload shape (repeated broadcast-join assign +
    * shuffle re-centroid) on top of the engine.
    *
    * Determinism contract (so a DuckDB oracle can replicate it):
    * centroids seed from vec_id < K; assignment breaks distance ties by
    * lowest cluster id; centroid means and the inertia sum go through
    * DECIMAL(28,9) so the aggregation is order-independent (double sums
    * would vary with partitioning — see sim_centroids); all distances
    * are the same left-to-right f64 folds as the oracle's
    * list_dot_product.
    *
    * Scale shape: each round is one broadcast nested-loop assign (K
    * tiny) + one (cid, dim)-keyed shuffle whose output is K x dims rows;
    * the corpus is never shuffled. At 100 TB one would localCheckpoint
    * the per-round centroid frame (lineage truncation, as dedup_cluster
    * does) — at gate scale the 3-assign DAG is cheaper re-planned. */
  def simKmeans(s: SparkSession, d: String): DataFrame =
    kmeansFinalAssign(s, d)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2").cast(DecimalType(28, 9))).as("inertia_dec"))
      .select(col("cid").as("cluster_id"), col("n_vecs"),
        col("inertia_dec").cast(DoubleType).as("inertia"))

  /** Final Lloyd assignment frame (vec_id, cid, emb, d2) — the shared
    * core of sim_kmeans (which folds it to per-cluster stats) and
    * sim_semantic_dedup (which prunes within its clusters). */
  private def kmeansFinalAssign(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    // Per-row argmin over the centroid set collapsed to one broadcast
    // array (centroid self-dots pre-folded in): a pure map — the corpus
    // never shuffles for assignment. Lexicographic struct order on
    // (d2, cid) = distance asc, cid asc, the oracle's exact tiebreak.
    def assign(cents: DataFrame): DataFrame = {
      val centsArr = cents.agg(
        array_sort(collect_list(struct(col("cid"), col("cemb"),
          expr("vec_dot(cemb, cemb)").as("cn2")))).as("cents"))
      e.crossJoin(broadcast(centsArr))
        .withColumn("best", expr(
          """array_min(transform(cents,
            |  c -> named_struct(
            |    'd2', vec_dot(emb, emb) - 2 * vec_dot(emb, c.cemb) + c.cn2,
            |    'cid', c.cid)))""".stripMargin))
        .select(col("vec_id"), col("best.cid").as("cid"), col("emb"),
          col("best.d2").as("d2"))
    }
    var cents = e.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    for (_ <- 1 to KmIters) {
      // Centroid update (optimization round, guide §2.3/§2.4): ONE
      // cid-keyed aggregate carrying KmDims per-dimension decimal sums
      // replaces posexplode(64×) → groupBy(cid, dim) → groupBy(cid) +
      // collect_list — the same exact DECIMAL(28,9) sums over the same
      // values (decimal addition is order-independent) and the same
      // mean-of-dim doubles, with one shuffle instead of two and no
      // 64× row explosion per Lloyd round. Dim order is positional
      // (array(c_0..c_63)), the order array_sort(struct(dim, c)) gave.
      val sums = (0 until KmDims).map(i =>
        sum(col("emb").getItem(i).cast(DecimalType(28, 9))).as(s"sx$i"))
      cents = assign(cents)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("nv"), sums: _*)
        .select(col("cid"), array((0 until KmDims).map(i =>
          col(s"sx$i").cast(DoubleType) / col("nv").cast(DoubleType)): _*).as("cemb"))
    }
    // cache(): the final assignment feeds several consumers per gate —
    // semantic dedup's within-cluster pair join references it on both
    // sides, D4 adds the survivors anti-join and the prototype window.
    // Uncached, every reference replays the whole Lloyd chain (measured
    // in corpus_d4_select: 5-6 repeats of the 25-task assign stage,
    // ~6 s CPU each). Intra-invocation reuse only — Bench and Verify
    // clear the SQL cache between queries.
    assign(cents).cache()
  }

  val simKmeansSql: String =
    s"""WITH $kmeansAssignCtes
       |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CAST(d2 AS DECIMAL(28,9))) AS DOUBLE) AS inertia
       |FROM af GROUP BY cid""".stripMargin

  /** CTE chain replicating [[kmeansFinalAssign]] in DuckDB: `e` (f64
    * embeddings), `c0` (seed centroids), the Lloyd iterations, and
    * `af` = the final (vec_id, cid, emb, d2) assignment. Shared by the
    * sim_kmeans and sim_semantic_dedup oracles. */
  private lazy val kmeansAssignCtes: String = {
    val d2 = (e: String, c: String) =>
      s"list_dot_product($e, $e) - 2 * list_dot_product($e, $c) + list_dot_product($c, $c)"
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cid, emb, d2 FROM (
         |    SELECT n.vec_id, c.cid, n.emb, ${d2("n.emb", "c.cemb")} AS d2,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${d2("n.emb", "c.cemb")} ASC, c.cid ASC) AS rn
         |    FROM e n CROSS JOIN $cents c) t
         |  WHERE rn = 1)""".stripMargin
    def centCte(name: String, assigned: String) =
      s"""$name AS (
         |  SELECT cid, list(c ORDER BY dim) AS cemb FROM (
         |    SELECT cid, dim,
         |      CAST(sum(CAST(emb[dim+1] AS DECIMAL(28,9))) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE) AS c
         |    FROM $assigned, (SELECT CAST(unnest(range($KmDims)) AS INT) AS dim) dims
         |    GROUP BY cid, dim) x
         |  GROUP BY cid)""".stripMargin
    val iterCtes = (1 to KmIters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + centCte(s"c$i", s"a$i")
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $KmK),
       |$iterCtes,
       |${assignCte("af", s"c$KmIters")}""".stripMargin
  }

  // ------------------------------------------------ sim_semantic_dedup
  // Prune threshold: ~p99.95 of this corpus's pairwise cosine
  // distribution (max ≈ 0.6), so the gate carries real rows at every SF
  // while staying a strict "semantically near" criterion for this data.
  private val SemTau = 0.4

  /** SemDeDup-style semantic deduplication (public recipe: Abbas et
    * al. 2023, arXiv:2303.09540): cluster the corpus with k-means,
    * then prune near-duplicates by exact cosine WITHIN clusters only —
    * confining the quadratic pair comparison to clusters is the entire
    * scale story. At 100 TB one raises K so |cluster| ≈ N/K stays
    * bounded and the pair join's fan-in never sees the corpus; here K
    * and the Lloyd rounds are sim_kmeans's deterministic contract, so
    * the DuckDB oracle replays clustering AND pruning end to end.
    *
    * Survivor rule is deterministic: a vector is PRUNED when some
    * lower-id member of its cluster is within tau; its NEAREST pointer
    * is the smallest such id, `n_near` counts the qualifying lower-id
    * neighbors, `max_cos` the strongest of them (f64 max is
    * merge-order-independent, and each pair cosine is the same
    * left-to-right fold in both engines). The nearest pointer may
    * itself be a pruned vector, so `keeper` resolves the pointer CHAIN
    * to its head — a vector with no lower-id in-tau neighbor, i.e. a
    * guaranteed SURVIVOR (the same canonicalization dedup_cluster gets
    * from connected components): a consumer deleting pruned rows and
    * remapping references to `keeper` never points at a deleted row.
    * Chains follow strictly decreasing ids, so resolution terminates;
    * pointer jumping (keeper := keeper's keeper, applied to all rows at
    * once) converges in O(log chain length) rounds.
    *
    * Scale shape: assignment is sim_kmeans's broadcast-argmin map (the
    * corpus never shuffles to be assigned); the prune is ONE cid-keyed
    * equi-join with cluster-bounded fan-in, then a vec_id-keyed
    * aggregate; chain resolution joins only the PRUNED set against
    * itself (a small fraction of the corpus), lineage-truncated per
    * round like the graph loops. */
  def simSemanticDedup(s: SparkSession, d: String): DataFrame = {
    val a = kmeansFinalAssign(s, d)
      .select(col("vec_id"), col("cid"), col("emb"))
    val lower = a.select(col("cid"), col("vec_id").as("nbr_id"),
      col("emb").as("nbr_emb"))
    val pruned = a.join(lower, Seq("cid"))
      .filter(col("nbr_id") < col("vec_id"))
      .withColumn("cos", expr(
        "vec_dot(emb, nbr_emb) / (sqrt(vec_dot(emb, emb)) * sqrt(vec_dot(nbr_emb, nbr_emb)))"))
      .filter(col("cos") >= SemTau)
      .groupBy(col("vec_id"), col("cid"))
      .agg(min(col("nbr_id")).as("nearest"),
        count(lit(1)).as("n_near"),
        max(col("cos")).as("max_cos"))
      .localCheckpoint()
    // Pointer-jump the nearest-pointers to their chain heads: a keeper
    // entry exists only for pruned vectors, so a left join that misses
    // means the pointer already names a survivor.
    var canon = pruned.select(col("vec_id"), col("nearest").as("keeper"))
    var moved = true
    while (moved) {
      val hop = canon.as("c")
        .join(canon.select(col("vec_id").as("kv"), col("keeper").as("kk")).as("k"),
          col("c.keeper") === col("kv"), "left")
        .select(col("c.vec_id"), coalesce(col("kk"), col("c.keeper")).as("keeper"),
          col("kk").isNotNull.as("hopped"))
        .localCheckpoint()
      moved = !hop.filter(col("hopped")).isEmpty
      canon = hop.select(col("vec_id"), col("keeper"))
    }
    pruned.join(canon, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("keeper"), col("n_near"), col("max_cos"))
  }

  val simSemanticDedupSql: String =
    s"""WITH RECURSIVE $kmeansAssignCtes,
       |pairs AS (
       |  SELECT a.vec_id, a.cid, b.vec_id AS nbr_id,
       |    list_dot_product(a.emb, b.emb)
       |      / (sqrt(list_dot_product(a.emb, a.emb))
       |         * sqrt(list_dot_product(b.emb, b.emb))) AS cos
       |  FROM af a JOIN af b ON a.cid = b.cid AND b.vec_id < a.vec_id),
       |pruned AS (
       |  SELECT vec_id, cid, min(nbr_id) AS nearest,
       |    CAST(count(*) AS BIGINT) AS n_near, max(cos) AS max_cos
       |  FROM pairs WHERE cos >= $SemTau GROUP BY vec_id, cid),
       |chain(vec_id, k) AS (
       |  SELECT vec_id, nearest FROM pruned
       |  UNION ALL
       |  SELECT c.vec_id, p.nearest FROM chain c JOIN pruned p ON c.k = p.vec_id),
       |heads AS (
       |  SELECT vec_id, k FROM chain
       |  WHERE k NOT IN (SELECT vec_id FROM pruned))
       |SELECT p.vec_id, p.cid, CAST(h.k AS BIGINT) AS keeper,
       |  p.n_near, p.max_cos
       |FROM pruned p JOIN heads h ON p.vec_id = h.vec_id""".stripMargin

  // ------------------------------------------------- corpus_d4_select
  /** D4 DATA SELECTION (public recipe: Tirumala et al. 2023,
    * arXiv:2308.12284 — "Document De-Duplication and Diversification"):
    * the two-stage embedding-space curation Meta used for LLM
    * pretraining data, composed here from gates that already hold —
    * k-means cluster (sim_kmeans's deterministic Lloyd contract), drop
    * SEMANTIC DUPLICATES within clusters (SemDeDup's rule, SemTau), then
    * drop the most PROTOTYPICAL quarter of each cluster's survivors
    * (smallest distance-to-centroid — the redundant "typical" mass whose
    * removal D4 shows improves training efficiency), keeping the
    * diverse tail. Emits one verdict row per vector (kept / dup /
    * proto); the oracle replays clustering, the dup rule, and the
    * per-cluster prototype cut end to end, so a drifted centroid, a
    * missed duplicate, or an off-by-one at the 25% cut each break the
    * hash.
    *
    * Determinism: d2 (distance to final centroid) is the same
    * left-to-right f64 fold both engines; the prototype rank orders by
    * (d2 ASC, vec_id ASC) — a strict total order; the cut is the
    * integer floor n/4 per cluster.
    *
    * Scale shape: assignment is the broadcast-argmin map (corpus never
    * shuffles to be assigned); the dup screen is the cluster-bounded
    * pair join SemDeDup exists to confine; the prototype cut is one
    * per-cluster window over survivors. At 100 TB: K grows so |cluster|
    * stays bounded, and every stage stays cluster-local. */
  def corpusD4Select(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = kmeansFinalAssign(s, d) // (vec_id, cid, emb, d2)
    val lower = a.select(col("cid"), col("vec_id").as("nbr_id"),
      col("emb").as("nbr_emb"))
    // cache(): dups feeds BOTH the survivors anti-join and the final
    // union; uncached, the cluster-bounded pair-cosine screen (the
    // gate's dominant compute) would run twice.
    val dups = a.join(lower, Seq("cid"))
      .filter(col("nbr_id") < col("vec_id"))
      .withColumn("cos", expr(
        "vec_dot(emb, nbr_emb) / (sqrt(vec_dot(emb, emb)) * sqrt(vec_dot(nbr_emb, nbr_emb)))"))
      .filter(col("cos") >= SemTau)
      .select(col("vec_id"), col("cid")).distinct().cache()
    val surv = a.join(dups.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val w = Window.partitionBy(col("cid"))
    val ranked = surv
      .withColumn("rk", org.apache.spark.sql.functions.row_number()
        .over(w.orderBy(col("d2").asc, col("vec_id").asc)))
      .withColumn("n", count(lit(1)).over(w))
    ranked
      .select(col("vec_id"), col("cid"),
        when(col("rk") <= (col("n") / 4).cast(LongType), lit("proto"))
          .otherwise(lit("kept")).as("verdict"))
      .unionByName(dups.select(col("vec_id"), col("cid"), lit("dup").as("verdict")))
      .select(col("vec_id"), col("cid").as("cluster_id"), col("verdict"))
  }

  val corpusD4SelectSql: String =
    s"""WITH $kmeansAssignCtes,
       |pairs AS (
       |  SELECT a.vec_id, a.cid,
       |    list_dot_product(a.emb, b.emb)
       |      / (sqrt(list_dot_product(a.emb, a.emb))
       |         * sqrt(list_dot_product(b.emb, b.emb))) AS cos
       |  FROM af a JOIN af b ON a.cid = b.cid AND b.vec_id < a.vec_id),
       |dups AS (SELECT DISTINCT vec_id, cid FROM pairs WHERE cos >= $SemTau),
       |surv AS (
       |  SELECT af.vec_id, af.cid,
       |    row_number() OVER (PARTITION BY af.cid
       |      ORDER BY af.d2 ASC, af.vec_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY af.cid) AS n
       |  FROM af WHERE af.vec_id NOT IN (SELECT vec_id FROM dups))
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
       |  CASE WHEN rk <= n // 4 THEN 'proto' ELSE 'kept' END AS verdict
       |FROM surv
       |UNION ALL
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, 'dup' AS verdict
       |FROM dups""".stripMargin

  // ------------------------------------------------------ sim_graph_bfs
  private val BfsSeeds = 3 // seed set: vec_id < BfsSeeds
  private val BfsHops = 4  // bounded traversal depth

  /** Multi-source BFS over the k-NN graph: minimum hop distance (≤
    * [[BfsHops]]) from a seed set to every reachable vertex — the
    * "semantic neighborhood expansion" primitive (seed a few curated
    * examples, harvest everything within h hops for targeted curation
    * or contamination blast-radius analysis). The oracle is a DuckDB
    * `WITH RECURSIVE` — the traversal itself is cross-checked, not just
    * a reachability count.
    *
    * Scale shape: textbook iterative frontier expansion — each of the
    * (bounded) rounds is ONE equi-join of the previous frontier against
    * the edge list plus ONE min-hop aggregate keyed on vertex id; the
    * frontier never exceeds the reachable vertex set, and
    * `localCheckpoint` truncates lineage so plans stay flat across
    * rounds (same discipline as dedup_cluster's label propagation). */
  def simGraphBfs(s: SparkSession, d: String): DataFrame = {
    val knn = simKnnGraph(s, d).filter(col("src_id") =!= col("nbr_id"))
      .select(col("src_id").as("src"), col("nbr_id").as("dst"))
    val edges = knn.union(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var dist = embedded(s, d).select(col("vec_id"))
      .filter(col("vec_id") < BfsSeeds)
      .withColumn("hop", lit(0L))
    for (h <- 1 to BfsHops) {
      val next = dist.filter(col("hop") === (h - 1))
        .join(edges, dist("vec_id") === edges("src"))
        .select(col("dst").as("vec_id"), lit(h.toLong).as("hop"))
      dist = dist.union(next)
        .groupBy(col("vec_id")).agg(min(col("hop")).as("hop"))
        .localCheckpoint()
    }
    dist
  }

  val simGraphBfsSql: String =
    s"""WITH RECURSIVE knn AS ($simKnnGraphSql),
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src_id AS src, nbr_id AS dst FROM knn WHERE src_id <> nbr_id
       |    UNION ALL
       |    SELECT nbr_id AS src, src_id AS dst FROM knn WHERE src_id <> nbr_id)),
       |walk(vec_id, hop) AS (
       |  SELECT vec_id, 0 FROM embeddings WHERE vec_id < $BfsSeeds
       |  UNION
       |  SELECT u.dst, w.hop + 1
       |  FROM walk w JOIN und u ON w.vec_id = u.src
       |  WHERE w.hop < $BfsHops)
       |SELECT vec_id, CAST(min(hop) AS BIGINT) AS hop
       |FROM walk GROUP BY vec_id""".stripMargin

  // ------------------------------------------------------- sim_sq8_topk
  /** Scalar-quantized (SQ8) ANN: every dimension linearly quantized to
    * an 8-bit code against per-dimension corpus min/max, queries ranked
    * by asymmetric cosine (full-precision query × decoded corpus) — the
    * third production vector-compression layout next to PQ
    * (sim_pq_topk) and IVF-PQ: 4× smaller than floats with near-exact
    * recall, and unlike PQ the decode is a pure per-dimension affine
    * map. The oracle replicates train (min/max), encode, decode, and
    * scoring, so the quantizer itself is gated.
    *
    * Determinism: code = clamp(floor((x-mn)/step), 0, 255) and
    * decode = mn + code·step are each single IEEE double ops with
    * identical operands on both engines; constant dimensions (mx = mn)
    * decode to mn exactly. The decode is the compiled
    * [[graft.expressions.Sq8Decode]], which runs the same IEEE operations
    * as the oracle's CASE expression. Scale shape: the stats aggregate is
    * map-side-partial over (dim) — the shuffle carries 64 rows per
    * task; encode/decode/score are pure maps over the broadcast
    * 64-entry stats array (the corpus never shuffles; the stored index
    * is 64 bytes/vector); the only shuffle is the bounded top-k
    * aggregate carrying k rows per query. */
  def simSq8TopK(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val stats = e.select(posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("st"))
    val decoded = e.crossJoin(broadcast(stats))
      .withColumn("demb", Sq8Decode.column(col("emb"), col("st")))
      .withColumn("dnrm", expr("sqrt(vec_dot(demb, demb))"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    explodeTopK(
      decoded.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(expr("vec_dot(demb, qemb)"), col("dnrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
  }

  val simSq8TopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sv AS (
       |  SELECT e.vec_id, u.i, e.emb[u.i] AS x
       |  FROM e, (SELECT CAST(unnest(range(1, 65)) AS INT) AS i) u),
       |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM sv GROUP BY i),
       |dv AS (
       |  SELECT sv.vec_id, sv.i,
       |    CASE WHEN st.mx > st.mn THEN
       |      st.mn + least(greatest(floor((sv.x - st.mn) / ((st.mx - st.mn) / 255.0)),
       |        CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) * ((st.mx - st.mn) / 255.0)
       |    ELSE st.mn END AS dval
       |  FROM sv JOIN st ON sv.i = st.i),
       |dec AS (SELECT vec_id, list(dval ORDER BY i) AS demb FROM dv GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, dec.vec_id,
       |    list_dot_product(demb, qemb)
       |      / (sqrt(list_dot_product(demb, demb)) * sqrt(list_dot_product(qemb, qemb))) AS cos
       |  FROM dec CROSS JOIN q WHERE dec.vec_id <> query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // ------------------------------------------------ sim_binary_hamming
  /** Binary-quantized ANN: every embedding collapsed to its 64 sign
    * bits, queries ranked by Hamming distance — the most aggressive
    * production vector-compression layout (1 bit/dim, 32× smaller than
    * floats; the re-rank tier above it is sim_sq8_topk / sim_pq_topk).
    * Random-hyperplane theory makes sign-bit Hamming a cosine proxy,
    * and at 100 TB the binary index is the only tier that fits RAM.
    *
    * Determinism: the signature packs `x > 0` bits MSB-first into TWO
    * int64 words of ≤32 bits each — a 64-bit fold would need the sign
    * bit, which Spark wraps silently but an overflow-checked engine
    * (the oracle) refuses; 32-bit halves keep every intermediate exact
    * on both. Hamming = popcount(xor) per half, an integer — ties at
    * the k-boundary (frequent with integer distances) break on vec_id.
    *
    * Scale shape: encode is a pure per-row map (the stored index is 16
    * bytes/vector, no training pass at all — unlike PQ/SQ8 there are no
    * codebooks to fit or broadcast); scoring is two XOR+popcounts per
    * candidate; the corpus never shuffles — the only shuffle is the
    * bounded top-k aggregate carrying k rows per query. */
  def simBinaryHamming(s: SparkSession, d: String): DataFrame = {
    val bitFold = "(a, x) -> a * 2L + IF(x > 0D, 1L, 0L)"
    val e = embedded(s, d)
      .withColumn("lo", expr(s"aggregate(slice(emb, 1, 32), 0L, $bitFold)"))
      .withColumn("hi", expr(s"aggregate(slice(emb, 33, 32), 0L, $bitFold)"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    explodeTopK(
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", (lit(64L) - bit_count(col("lo").bitwiseXOR(col("qlo")))
          - bit_count(col("hi").bitwiseXOR(col("qhi")))).cast(DoubleType))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id"),
        (lit(64L) - col("cos").cast(LongType)).as("hamming"), col("rn"))
  }

  val simBinaryHammingSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sv AS (
       |  SELECT e.vec_id, u.i, e.emb[u.i] AS x
       |  FROM e, (SELECT CAST(unnest(range(1, 65)) AS INT) AS i) u),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN i <= 32 AND x > 0 THEN (CAST(1 AS BIGINT) << (32 - i))
       |             ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN i > 32 AND x > 0 THEN (CAST(1 AS BIGINT) << (64 - i))
       |             ELSE 0 END) AS BIGINT) AS hi
       |  FROM sv GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
       |      FROM sig WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, s.vec_id,
       |    bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi)) AS ham
       |  FROM sig s CROSS JOIN q WHERE s.vec_id <> q.query_id)
       |SELECT query_id, vec_id, CAST(ham AS BIGINT) AS hamming, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY ham ASC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // -------------------------------------------------- sim_filtered_topk
  /** FILTERED vector search — top-k under a metadata predicate (here:
    * corpus vectors sharing the query's label), the production
    * requirement plain ANN benchmarks skip and engines get wrong in
    * two ways: post-filtering (rank first, filter after — returns
    * fewer than k when the filter bites) and pre-filter drift. This is
    * exact PRE-filter semantics: the predicate restricts the candidate
    * set BEFORE any scoring, so every query gets its true filtered
    * top-k. Queries whose label matches fewer than k others return
    * that many rows — the correct, smaller answer.
    *
    * Scale shape: the label predicate is an equi-condition in the
    * broadcast join (corpus never shuffles; rows failing the filter
    * are dropped before the dot product); with a partitioned/IVF
    * layout the filter would prune cells too. Only the bounded top-k
    * aggregate shuffles. */
  def simFilteredTopK(s: SparkSession, d: String): DataFrame = {
    val e = embedded2(s, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("emb").as("qemb"), col("nrm").as("qnrm"))
    explodeTopK(
      e.join(broadcast(q), col("label") === col("qlabel") &&
          col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
  }

  /** [[embedded]] plus the label column (cached separately). */
  private def embedded2(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
  }

  val simFilteredTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, emb AS qemb
       |      FROM e WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, e.vec_id,
       |    list_dot_product(e.emb, qemb)
       |      / (sqrt(list_dot_product(e.emb, e.emb))
       |         * sqrt(list_dot_product(qemb, qemb))) AS cos
       |  FROM e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // ------------------------------------------------ sim_rerank_two_stage
  private val RerankPool = 50 // stage-1 candidates per query

  /** TWO-STAGE retrieval — the pattern production vector search
    * actually serves: the 16-byte binary index (sim_binary_hamming's
    * sign signatures) prefilters each query to [[RerankPool]]
    * candidates by Hamming distance, and only those candidates get the
    * exact full-precision cosine, re-ranked to the final top-k. The
    * cheap tier bounds the expensive tier's work: exact scoring cost
    * is |Q|·pool, independent of corpus size.
    *
    * Determinism: stage 1 ranks by (integer Hamming asc, vec_id asc) —
    * a strict total order, so the candidate POOL is exactly
    * reproducible (a float-scored prefilter would make pool membership
    * tie-unstable, which is why the re-rank gate needs the binary
    * tier); stage 2 re-ranks by (cos desc, vec_id asc).
    *
    * Scale shape: signatures are a pure map; stage-1 shuffles only the
    * bounded top-pool aggregate; the candidate list (|Q|·pool rows)
    * BROADCASTS back against the corpus for the exact tier, so corpus
    * vectors never shuffle in either stage. */
  def simRerankTwoStage(s: SparkSession, d: String): DataFrame = {
    val bitFold = "(a, x) -> a * 2L + IF(x > 0D, 1L, 0L)"
    val e = embedded(s, d)
      .withColumn("lo", expr(s"aggregate(slice(emb, 1, 32), 0L, $bitFold)"))
      .withColumn("hi", expr(s"aggregate(slice(emb, 33, 32), 0L, $bitFold)"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
        col("hi").as("qhi"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    // stage 1: binary prefilter to the candidate pool
    val pool = explodeTopK(
      e.crossJoin(broadcast(q.select(col("query_id"), col("qlo"), col("qhi"))))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", (lit(64L) - bit_count(col("lo").bitwiseXOR(col("qlo")))
          - bit_count(col("hi").bitwiseXOR(col("qhi")))).cast(DoubleType))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, RerankPool, "cos", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id"))
    // stage 2: exact cosine over pool members only; the |Q|·pool list
    // broadcasts, so the corpus never shuffles
    val exact = e.select(col("vec_id"), col("emb"), col("nrm"))
      .join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qemb"), col("qnrm"))),
        Seq("query_id"))
      .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
    explodeTopK(
      exact.groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
  }

  val simRerankTwoStageSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sv AS (
       |  SELECT e.vec_id, u.i, e.emb[u.i] AS x
       |  FROM e, (SELECT CAST(unnest(range(1, 65)) AS INT) AS i) u),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN i <= 32 AND x > 0 THEN (CAST(1 AS BIGINT) << (32 - i))
       |             ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN i > 32 AND x > 0 THEN (CAST(1 AS BIGINT) << (64 - i))
       |             ELSE 0 END) AS BIGINT) AS hi
       |  FROM sv GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
       |      FROM sig WHERE vec_id < $NumQueries),
       |ham AS (
       |  SELECT query_id, s.vec_id,
       |    bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi)) AS hd
       |  FROM sig s CROSS JOIN q WHERE s.vec_id <> q.query_id),
       |pool AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY hd ASC, vec_id ASC) AS prn
       |    FROM ham) t
       |  WHERE prn <= $RerankPool),
       |qe AS (SELECT vec_id AS query_id, emb AS qemb FROM e
       |       WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT p.query_id, p.vec_id,
       |    list_dot_product(e.emb, qe.qemb)
       |      / (sqrt(list_dot_product(e.emb, e.emb))
       |         * sqrt(list_dot_product(qe.qemb, qe.qemb))) AS cos
       |  FROM pool p
       |  JOIN e ON p.vec_id = e.vec_id
       |  JOIN qe ON p.query_id = qe.query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  // -------------------------------------------------- sim_mmr_diversify
  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR'98): the retrieval-diversification pass between ANN search
    * and what a RAG context / curation batch actually wants — k results
    * that are RELEVANT but not five copies of the same near-duplicate.
    * Per query: top-C relevance candidates, then K greedy rounds each
    * picking argmax  λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)
    * (λ=0.7, C=10, K=4; ties break by vec_id — a strict total order,
    * so selection is engine-exact).
    *
    * Determinism discipline: every round's score is the SAME literal
    * expression on both engines (0.7·rel − 0.3·pen, pen = an exact
    * max over identically-computed pair cosines, pen=0.0 for the empty
    * selected set) — argmax is over bit-identical doubles, so the
    * greedy trajectory cannot diverge. The oracle unrolls the K rounds
    * as explicit CTE stages (no recursion needed for a fixed K).
    *
    * Scale shape: stage 1 is THE PERSISTED INDEX'S SERVE — the same
    * cid-partitioned parquet layout sim_index_build gates, probed
    * partition-pruned (nprobe cells per query, the scan's
    * PartitionFilters carry the cid cut — spec-asserted), so candidate
    * generation costs the probed cells, never the corpus; the greedy
    * rounds then run on the |Q|·C candidate frame ONLY — each round
    * joins candidates against the ≤|Q|·K selected set and takes one
    * |Q|-row argmax. Cost is |Q|·C·K pair cosines, independent of
    * corpus size. This is the production retrieval → diversify
    * pipeline composed end to end: ANN index serve feeding MMR. */
  def simMmrDiversify(s: SparkSession, d: String): DataFrame = {
    val C = 10; val K = 4
    val e = embedded(s, d)
    // stage 1: top-C relevance candidates per query FROM THE PERSISTED
    // INDEX — build the cid-partitioned inverted lists (sim_index_build's
    // layout, its own directory), then serve the MMR query slice
    // partition-pruned; embeddings re-attach for the pairwise-penalty
    // rounds (|Q|·C rows; cached — K rounds read it)
    val centsArr = ivfCentroids(e)
    val idx = scratchDir("sim_ivfmmr")
    ivfAssign(e, centsArr)
      .write.mode("overwrite").partitionBy("cid").parquet(idx)
    val cand = ivfServe(s, e, centsArr, idx, 0L, NumQueries, k = C)
      .select(col("query_id"), col("vec_id"), col("cos").as("rel"))
      .join(e.select(col("vec_id"), col("emb"), col("nrm")), Seq("vec_id"))
    // Greedy rounds: DRIVER-SIDE over the collected candidate frame
    // (guide §5 — bounded collect). The frame is rank-bounded |Q|·C
    // (= 50 rows) at ANY corpus size — the same bounded-driver-work
    // class as ivfServe's probed-cell list — while the distributed form
    // paid ~16 jobs per invocation (4 rounds × anti-join + penalty join
    // + argmax + eager localCheckpoint) to move 50 rows around. The
    // greedy reproduces the cluster arithmetic BIT-EXACTLY: rel / emb /
    // nrm are collected as computed by the cluster; pcos is the same
    // strict left-to-right f64 vec_dot fold (VectorExpressions.dot)
    // over the same doubles, divided by the same (nrm * snrm) product;
    // pen = max (order-independent over exact doubles); score =
    // 0.7*rel − 0.3*pen, literal-for-literal; the argmax is the same
    // (−score, vec_id) total order the distributed min(struct) used.
    // Oracle hash re-proven at sf0.01 and sf0.001.
    val rows = cand
      .select(col("query_id"), col("vec_id"), col("rel"), col("emb"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3).toArray, r.getDouble(4)))
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    rows.groupBy(_._1).foreach { case (q, candsQ) =>
      var selectedQ = List.empty[(Long, Array[Double], Double)] // (vec_id, emb, nrm)
      for (r <- 1 to K) {
        val remaining = candsQ.filter(c => !selectedQ.exists(_._1 == c._2))
        if (remaining.nonEmpty) {
          val scored = remaining.map { case (_, v, rel, emb, nrm) =>
            val pen =
              if (selectedQ.isEmpty) 0.0
              else selectedQ.map { case (_, semb, snrm) =>
                dotD(emb, semb) / (nrm * snrm) }.max
            (v, 0.7 * rel - 0.3 * pen, emb, nrm)
          }
          val best = scored.minBy { case (v, sc, _, _) => (-sc, v) }
          out += ((q, r.toLong, best._1, best._2))
          selectedQ ::= ((best._1, best._3, best._4))
        }
      }
    }
    import s.implicits._
    out.toSeq.toDF("query_id", "rank", "vec_id", "score")
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
  }

  val simMmrDiversifySql: String = {
    val C = 10; val K = 4
    val stages = (2 to K).map { r =>
      val prev = (1 to r - 1).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""sel$r AS ($prev),
         |pen$r AS (
         |  SELECT c.query_id, c.vec_id, c.rel,
         |    max(list_dot_product(c.emb, se.emb) / (c.nrm * se.nrm)) AS pen
         |  FROM cand c
         |  JOIN sel$r sp ON sp.query_id = c.query_id
         |  JOIN e se ON se.vec_id = sp.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$r x
         |                    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.rel),
         |s$r AS (
         |  SELECT query_id, vec_id, 0.7 * rel - 0.3 * pen AS score, CAST($r AS BIGINT) AS rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id ASC) AS rn
         |        FROM pen$r) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM e
       |          WHERE vec_id < $NumCells),
       |assigned AS (
       |  SELECT vec_id, cid, emb, nrm FROM (
       |    SELECT e.vec_id, cents.cid, e.emb, e.nrm,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(e.emb, cents.cemb) / (e.nrm * cents.cnrm) DESC,
       |                 cents.cid ASC) AS rnc
       |    FROM e CROSS JOIN cents) t
       |  WHERE rnc = 1),
       |probes AS (
       |  SELECT query_id, cid, qemb, qnrm FROM (
       |    SELECT e.vec_id AS query_id, cents.cid, e.emb AS qemb, e.nrm AS qnrm,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(e.emb, cents.cemb) / (e.nrm * cents.cnrm) DESC,
       |                 cents.cid ASC) AS rnp
       |    FROM e CROSS JOIN cents
       |    WHERE e.vec_id < $NumQueries) t
       |  WHERE rnp <= $NumProbes),
       |cand AS ( -- the persisted index's serve: top-C within probed cells
       |  SELECT query_id, vec_id, rel, emb, nrm FROM (
       |    SELECT probes.query_id, assigned.vec_id,
       |      list_dot_product(assigned.emb, probes.qemb) / (assigned.nrm * probes.qnrm) AS rel,
       |      assigned.emb, assigned.nrm,
       |      row_number() OVER (PARTITION BY probes.query_id
       |        ORDER BY list_dot_product(assigned.emb, probes.qemb)
       |                   / (assigned.nrm * probes.qnrm) DESC,
       |                 assigned.vec_id ASC) AS rn
       |    FROM probes JOIN assigned ON probes.cid = assigned.cid
       |    WHERE assigned.vec_id <> probes.query_id) t
       |  WHERE rn <= $C),
       |s1 AS (
       |  SELECT query_id, vec_id, 0.7 * rel - 0.3 * 0.0 AS score, CAST(1 AS BIGINT) AS rank
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY 0.7 * rel - 0.3 * 0.0 DESC, vec_id ASC) AS rn
       |        FROM cand) t
       |  WHERE rn = 1),
       |$stages
       |SELECT query_id, rank, vec_id, score
       |FROM (${(1 to K).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")}) u""".stripMargin
  }

  // --------------------------------------------------- sim_recall_audit
  /** ANN quality audit: per-query recall@k of the IVF index against the
    * exact brute-force ground truth — the monitoring query every
    * production vector index ships with (index drift, probe-count
    * tuning, cell-balance regressions all surface here first).
    *
    * Scale shape: both inputs are already k-rows-per-query frames, so
    * the audit joins |Q|·k pairs — independent of corpus size. The
    * recall is fixed-point integer math (hits·1e6 div k), exact on both
    * engines; queries the index misses entirely still appear (left
    * join, 0 hits). */
  def simRecallAudit(s: SparkSession, d: String): DataFrame = {
    // cache(): bf feeds both the hit join and the query-id spine; it is
    // k·|Q| rows, and uncached the brute-force scoring would run twice.
    val bf = simTopKBruteForce(s, d).select(col("query_id"), col("vec_id")).cache()
    val ivf = simTopKIvf(s, d).select(col("query_id"), col("vec_id"))
    val hits = bf.join(ivf, Seq("query_id", "vec_id"), "leftsemi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    bf.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits"))
      .withColumn("recall_fp", expr(s"hits * 1000000L div ${TopK}L"))
  }

  val simRecallAuditSql: String =
    s"""WITH bf AS (${simTopKBruteForceSql.replace("\n", "\n       ")}),
       |ivf AS (${simTopKIvfSql.replace("\n", "\n       ")}),
       |h AS (
       |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS h
       |  FROM bf b JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
       |  GROUP BY 1)
       |SELECT q.query_id, coalesce(h.h, 0) AS hits,
       |  coalesce(h.h, 0) * 1000000 // $TopK AS recall_fp
       |FROM (SELECT DISTINCT query_id FROM bf) q
       |LEFT JOIN h ON q.query_id = h.query_id""".stripMargin

  // ----------------------------------------------------- sim_norm_stats
  /** Embedding-corpus health stats in one row: vector count, zero-norm
    * count (degenerate vectors that poison cosine math), dimension
    * check, and the min/max/mean of the squared norm. The standing
    * pre-index sanity query of any vector pipeline.
    *
    * Determinism: the per-row squared norm is one compiled `vec_dot`
    * fold (fixed evaluation order inside the row); the cross-row MEAN
    * floors norm²·1e6 to int64 first — double multiply and floor are
    * IEEE-identical on both engines, and the int64 sum is
    * shuffle-order-independent. min/max of doubles are order-free.
    *
    * Scale shape: pure map + a single-row aggregate with map-side
    * partials; the corpus never shuffles. */
  def simNormStats(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), size(col("emb")).cast(LongType).as("dim"),
        expr("vec_dot(emb, emb)").as("norm2"))
      .agg(
        count(lit(1)).as("n_vecs"),
        countDistinct(col("dim")).as("n_dims_distinct"),
        sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"),
        expr("sum(CAST(floor(norm2 * 1000000) AS BIGINT)) div count(1)")
          .as("mean_norm2_fp"))
  }

  val simNormStatsSql: String =
    """WITH e AS (
      |  SELECT vec_id, len(embedding) AS dim,
      |    list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                     list_transform(embedding, x -> CAST(x AS DOUBLE))) AS norm2
      |  FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_distinct,
      |  CAST(sum(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
      |  min(norm2) AS min_norm2,
      |  max(norm2) AS max_norm2,
      |  CAST(sum(CAST(floor(norm2 * 1000000) AS BIGINT)) AS BIGINT)
      |    // count(*) AS mean_norm2_fp
      |FROM e""".stripMargin

  // -------------------------------------------------------- sim_ood_hist
  /** Out-of-distribution score histogram: every vector's best cosine
    * against the seed-centroid set (the IVF coarse space), bucketed at
    * 0.1 granularity — the curation readout that surfaces outlier /
    * junk embeddings (low-affinity tail) before they pollute an index
    * or a training mix.
    *
    * Determinism: best-cos = −min(−cos) over one broadcast centroid
    * array (IEEE negation is exact, so it equals the oracle's max);
    * buckets are floor(cos·10) int64. Scale shape: pure broadcast-map
    * over the corpus (never shuffles) + a ≤21-row aggregate. */
  def simOodHist(s: SparkSession, d: String): DataFrame = {
    val e = embedded(s, d)
    val centsArr = e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"), col("nrm").as("cnrm"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb"), col("cnrm")))).as("cents"))
    e.crossJoin(broadcast(centsArr))
      .withColumn("best_cos", expr(
        """-array_min(transform(cents,
          |  c -> -(vec_dot(emb, c.cemb) / (nrm * c.cnrm))))""".stripMargin))
      .select(expr("CAST(floor(best_cos * 10) AS BIGINT)").as("bucket"),
        col("best_cos"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("best_cos")).as("min_cos"),
        max(col("best_cos")).as("max_cos"))
  }

  val simOodHistSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCells),
       |best AS (
       |  SELECT e.vec_id,
       |    max(list_dot_product(e.emb, c.cemb)
       |        / (sqrt(list_dot_product(e.emb, e.emb))
       |           * sqrt(list_dot_product(c.cemb, c.cemb)))) AS best_cos
       |  FROM e CROSS JOIN c GROUP BY e.vec_id)
       |SELECT CAST(floor(best_cos * 10) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(best_cos) AS min_cos, max(best_cos) AS max_cos
       |FROM best GROUP BY 1""".stripMargin

  // ------------------------------------------------------- sim_edge_hist
  /** k-NN graph edge-quality histogram: the distribution of neighbor
    * cosines (0.1 buckets) plus per-bucket rank-1 share — the one-look
    * readout of whether the graph's edges are tight (retrieval-quality
    * neighbors) or noise. Complements sim_ood_hist (vector-level) with
    * the edge-level view.
    *
    * Scale shape: input is the already-bounded k·n edge list; the
    * histogram is a ≤21-row mergeable aggregate on top. */
  def simEdgeHist(s: SparkSession, d: String): DataFrame =
    simKnnGraph(s, d)
      .select(expr("CAST(floor(cos * 10) AS BIGINT)").as("bucket"),
        col("cos"), col("rn"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("rn") === 1L, 1L).otherwise(0L)).as("n_rank1"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"))

  val simEdgeHistSql: String =
    s"""WITH knn AS (${simKnnGraphSql.replace("\n", "\n       ")})
       |SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rank1,
       |  min(cos) AS min_cos, max(cos) AS max_cos
       |FROM knn GROUP BY 1""".stripMargin

  // ----------------------------------------------------- sim_trunc_audit
  /** Matryoshka-truncation audit: how much retrieval quality survives
    * keeping only the first [[TruncDims]] of 64 embedding dimensions —
    * per-query overlap between top-k under FULL-dim cosine and top-k
    * under PREFIX-dim cosine. This is the standing pre-rollout check of
    * MRL-style ("matryoshka") dimension reduction: prefix embeddings
    * cut index memory ~4×, and this readout is the recall you pay.
    * Same output contract as [[simRecallAudit]] (hits of k, recall in
    * integer parts-per-million).
    *
    * Determinism: both rankings score with the compiled `vec_dot`
    * fold (fixed intra-row order), tie-break on vec_id, and a
    * zero-norm truncated vector yields a NaN cosine that ranks FIRST
    * under DESC in both engines (the NaN-total order the bounded
    * aggregator implements).
    *
    * Scale shape: ONE broadcast of the (tiny) query set with both
    * full and prefix columns; the corpus never shuffles; each ranking
    * moves k·|Q| rows; the audit join is k·|Q| × k·|Q| on (query,
    * vec). */
  private val TruncDims = 16

  def simTruncAudit(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.register(s)
    val e = embedded(s, d)
      .withColumn("embt", slice(col("emb"), 1, TruncDims))
      .withColumn("nrmt", expr("sqrt(vec_dot(embt, embt))"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("emb").as("qemb"), col("nrm").as("qnrm"),
        col("embt").as("qembt"), col("nrmt").as("qnrmt"))
    val scored = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
    val full = explodeTopK(scored
        .withColumn("cos", cosine(expr("vec_dot(emb, qemb)"), col("nrm"), col("qnrm")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id")).cache()
    val trunc = explodeTopK(scored
        .withColumn("cos", cosine(expr("vec_dot(embt, qembt)"), col("nrmt"), col("qnrmt")))
        .groupBy(col("query_id"))
        .agg(topKAggN(s, TopK, "cos", "vec_id").as("top")))
      .select(col("query_id"), col("vec_id"))
    val hits = full.join(trunc, Seq("query_id", "vec_id"), "leftsemi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    full.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits"))
      .withColumn("recall_fp", expr(s"hits * 1000000L div ${TopK}L"))
  }

  val simTruncAuditSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    list_transform(embedding[1:$TruncDims], x -> CAST(x AS DOUBLE)) AS embt
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, emb AS qemb, embt AS qembt
       |      FROM e WHERE vec_id < $NumQueries),
       |sc AS (
       |  SELECT query_id, vec_id,
       |    list_dot_product(emb, qemb)
       |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) AS cosf,
       |    list_dot_product(embt, qembt)
       |      / (sqrt(list_dot_product(embt, embt)) * sqrt(list_dot_product(qembt, qembt))) AS cost
       |  FROM e CROSS JOIN q WHERE vec_id <> query_id),
       |f AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosf DESC, vec_id ASC) AS rn FROM sc) z
       |  WHERE rn <= $TopK),
       |t AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cost DESC, vec_id ASC) AS rn FROM sc) z
       |  WHERE rn <= $TopK),
       |h AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS h
       |      FROM f JOIN t ON f.query_id = t.query_id AND f.vec_id = t.vec_id
       |      GROUP BY 1)
       |SELECT q2.query_id, coalesce(h.h, 0) AS hits,
       |  coalesce(h.h, 0) * 1000000 // $TopK AS recall_fp
       |FROM (SELECT DISTINCT query_id FROM f) q2
       |LEFT JOIN h ON q2.query_id = h.query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_trunc_audit"     -> (simTruncAudit _),
    "sim_topk_bruteforce" -> (simTopKBruteForce _),
    "sim_hybrid_rrf"      -> (simHybridRrf _),
    "sim_mmr_diversify" -> (simMmrDiversify _),
    "sim_topk_ivf"        -> (simTopKIvf _),
    "sim_index_build"     -> (simIndexBuild _),
    "sim_index_append"    -> (simIndexAppend _),
    "sim_index_delete"    -> (simIndexDelete _),
    "sim_index_compact"   -> (simIndexCompact _),
    "sim_ivf_rebalance"   -> (simIvfRebalance _),
    "sim_mips_ivf"        -> (simMipsIvf _),
    "sim_topk_lsh"        -> (simTopKLsh _),
    "sim_range_search"    -> (simRangeSearch _),
    "sim_threshold_sweep" -> (simThresholdSweep _),
    "sim_knn_graph"       -> (simKnnGraph _),
    "sim_graph_rank"      -> (simGraphRank _),
    "sim_graph_jaccard"   -> (simGraphJaccard _),
    "sim_graph_lpa"       -> (simGraphLpa _),
    "sim_graph_triangles" -> (simGraphTriangles _),
    "sim_pq_topk"         -> (simPqTopK _),
    "sim_ivf_pq"          -> (simIvfPq _),
    "sim_centroids"       -> (simCentroids _),
    "sim_kmeans"          -> (simKmeans _),
    "corpus_d4_select"    -> (corpusD4Select _),
    "sim_semantic_dedup"  -> (simSemanticDedup _),
    "sim_graph_bfs"       -> (simGraphBfs _),
    "sim_sq8_topk"        -> (simSq8TopK _),
    "sim_binary_hamming"  -> (simBinaryHamming _),
    "sim_rerank_two_stage" -> (simRerankTwoStage _),
    "sim_filtered_topk"   -> (simFilteredTopK _),
    "sim_recall_audit"    -> (simRecallAudit _),
    "sim_norm_stats"      -> (simNormStats _),
    "sim_ood_hist"        -> (simOodHist _),
    "sim_edge_hist"       -> (simEdgeHist _),
  )

  val oracleSql: Map[String, String] = Map(
    "sim_trunc_audit"     -> simTruncAuditSql,
    "sim_topk_bruteforce" -> simTopKBruteForceSql,
    "sim_hybrid_rrf"      -> simHybridRrfSql,
    "sim_mmr_diversify" -> simMmrDiversifySql,
    "sim_topk_ivf"        -> simTopKIvfSql,
    "sim_index_build"     -> simIndexBuildSql,
    "sim_index_append"    -> simIndexAppendSql,
    "sim_index_delete"    -> simIndexDeleteSql,
    "sim_index_compact"   -> simIndexCompactSql,
    "sim_ivf_rebalance"   -> simIvfRebalanceSql,
    "sim_mips_ivf"        -> simMipsIvfSql,
    "sim_topk_lsh"        -> simTopKLshSql,
    "sim_range_search"    -> simRangeSearchSql,
    "sim_threshold_sweep" -> simThresholdSweepSql,
    "sim_knn_graph"       -> simKnnGraphSql,
    "sim_graph_rank"      -> simGraphRankSql,
    "sim_graph_jaccard"   -> simGraphJaccardSql,
    "sim_graph_lpa"       -> simGraphLpaSql,
    "sim_graph_triangles" -> simGraphTrianglesSql,
    "sim_pq_topk"         -> simPqTopKSql,
    "sim_ivf_pq"          -> simIvfPqSql,
    "sim_centroids"       -> simCentroidsSql,
    "sim_kmeans"          -> simKmeansSql,
    "corpus_d4_select"    -> corpusD4SelectSql,
    "sim_semantic_dedup"  -> simSemanticDedupSql,
    "sim_graph_bfs"       -> simGraphBfsSql,
    "sim_sq8_topk"        -> simSq8TopKSql,
    "sim_binary_hamming"  -> simBinaryHammingSql,
    "sim_rerank_two_stage" -> simRerankTwoStageSql,
    "sim_filtered_topk"   -> simFilteredTopKSql,
    "sim_recall_audit"    -> simRecallAuditSql,
    "sim_norm_stats"      -> simNormStatsSql,
    "sim_ood_hist"        -> simOodHistSql,
    "sim_edge_hist"       -> simEdgeHistSql,
  )
}
