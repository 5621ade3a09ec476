package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** The engine's SQL functions, one builder per name. `GraftExtensions`
  * injects every one of them into a session once; the `register(spark)`
  * helpers on the expression companions add theirs to a session that was
  * built without the extensions, and leave a name the session already
  * has untouched. */
object Functions {
  final case class Fn(name: String, usage: String, build: Seq[Expression] => Expression)

  private def litInt(usage: String, what: String)(e: Expression): Int = e match {
    case Literal(n: Int, IntegerType) => n
    case other => throw new IllegalArgumentException(s"$usage needs $what, got $other")
  }

  val All: Seq[Fn] = Seq(
    Fn("char_fold_hash", "char_fold_hash(str) - portable fold hash mod 2^31-1",
      e => CharFoldHash(e.head)),
    Fn("vec_dot", "vec_dot(a, b) - strict left-to-right f64 dot product",
      e => VectorDot(e.head, e(1))),
    Fn("hyperplane_sig", "hyperplane_sig(v, nBits) - random-hyperplane LSH signature",
      e => HyperplaneSig(e.head, litInt("hyperplane_sig(v, nBits)", "a literal bit count")(e(1)))),
    Fn("simhash_pack", "simhash_pack(h) - 62 packed SimHash indicator lanes",
      e => SimhashPack(e.head)),
    Fn("simhash_sig", "simhash_sig(lanes, n) - majority-vote SimHash signature",
      e => SimhashSig(e.head, e(1))),
    Fn("word_shingle_set", "word_shingle_set(text, n) - distinct word n-gram set",
      e => WordShingleSet(e.head, litInt("word_shingle_set(text, n)", "a literal n")(e(1)))),
    Fn("word_tokens", "word_tokens(text) - whitespace tokens of a document",
      e => WordTokens(e.head)),
    Fn("vowel_run_counts", "vowel_run_counts(toks) - [aeiouy]+ run count per token",
      e => new VowelRunCounts(e.head)),
    Fn("sq8_decode", "sq8_decode(emb, st) - SQ8 quantize-and-decode against (dim, mn, mx) bounds",
      e => new Sq8Decode(e.head, e(1))),
    Fn("hilbert_d", "hilbert_d(x, y) - Hilbert-curve index on the 1024x1024 grid",
      e => HilbertIndex(e.head, e(1))),
    Fn("topk_agg", "topk_agg(score, id, k) - bounded per-group top-k buffer",
      e => TopKAgg(e.head, e(1), litInt("topk_agg(score, id, k)", "a literal k")(e(2)))),
    Fn("winnow_fps", "winnow_fps(text, k, w) - winnowing (fp, pos) fingerprint selection", e => {
      val n = litInt("winnow_fps(text, k, w)", "literal ints") _
      WinnowFingerprints(e.head, n(e(1)), n(e(2)))
    }),
    Fn("cdc_chunks", "cdc_chunks(text, w, m) - content-defined chunk boundaries", e => {
      val n = litInt("cdc_chunks(text, w, m)", "literal ints") _
      CdcChunks(e.head, n(e(1)), n(e(2)))
    }))

  private val byName: Map[String, Fn] = All.map(f => f.name -> f).toMap

  /** Adds each of `names` to the session's function registry unless the
    * session already has it (from `GraftExtensions` or an earlier call),
    * so a registered builder is never replaced. */
  def register(spark: SparkSession, names: String*): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized(names.foreach { name =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, byName(name).build, "built-in")
    })
  }
}
