package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.Gen

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, Expression, Literal}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Internals
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkEntry, SparkSpecBase}
import graft.functions.{HashFunctions, TextFunctions}

/** The compiled kernels against the formulations they replaced, in the
  * same session: `word_tokens` against the regex split + `filter`,
  * `word_shingle_set` against the HOF shingle chain, `char_fold_hash`
  * against the HOF fold and the `String` code-point fold,
  * `vowel_run_counts` against the `regexp_extract_all` lambda and
  * `sq8_decode` against the `transform` lambda. Each comparison runs
  * twice: on a local relation, whose projection the optimizer folds
  * with interpreted `eval`, and with that rule off, through whole-stage
  * codegen with no fallback to interpretation. */
class NativeKernelsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def bothPaths(f: => Unit): Unit = {
    f
    withConf(
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(f)
  }

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.nonEmptyListOf(Gen.oneOf("a", "e", "i", "o", "u", "y", "b", "k", "t", "Z")).map(_.mkString),
    3 -> Gen.oneOf(" ", "  ", "   "),
    1 -> Gen.oneOf("\t", "\n", "\r\n"),
    2 -> Gen.oneOf("é", "ü", "λ", "中", "語", "😀", "𝄞", "ÿ"),
    1 -> Gen.oneOf(".", ",", "!"))
  private val genText: Gen[String] = Gen.listOf(piece).map(_.mkString)

  private val edgeTexts = Seq("", " ", "   ", "\t", "\n", " a", "a ", "  a  b  c  ",
    "a\tb c", "a\nb  c\n", "\t a \t", "aeiou y", "😀 😀  😀", "é中😀 𝄞é", "a a a a a")

  /** Byte strings that are not valid UTF-8: lone continuation bytes,
    * truncated and overlong sequences, encoded surrogates, code points
    * past U+10FFFF, and random mixes of those with spaces and vowels. */
  private val invalidUtf8: Seq[Array[Byte]] = {
    val fixed = Seq(Seq(0xff), Seq('a', 0xc3), Seq(0xe2, 0x82, ' ', 'a'), Seq(0xe2, 'a', 'b'),
      Seq(0xc0, 0x80, 'e'), Seq(0xed, 0xa0, 0x80, ' ', 'o'), Seq(0xf4, 0x90, 0x80, 0x80),
      Seq(' ', 0x80, 'a', 0x80, ' ', ' ', 0xf0, 0x9f, 0x98), Seq(0xf0, 0x9f, 0x98, 0x80, 0xbf))
    val byte = Gen.oneOf(' ', 'a', 'e', 'x', '\t', 0x80, 0xbf, 0xc3, 0xa9, 0xe2, 0x82, 0xf0, 0x9f, 0xff, 0xed)
    val random = Gen.listOfN(300, Gen.listOf(byte)).sample.get
    (fixed ++ random).map(_.map(_.toByte).toArray)
      .filterNot(b => UTF8String.fromBytes(b).isValid)
  }

  /** A `text` column of generated, edge-case, NULL and invalid UTF-8
    * documents. The invalid ones go through a binary-to-string cast,
    * which keeps their bytes. */
  private def documents(): DataFrame = {
    val texts = Gen.listOfN(400, genText).sample.get ++ edgeTexts
    val df = (texts.map(t => Option(t.getBytes(UTF_8))) ++ invalidUtf8.map(Option(_)) :+ None)
      .toDF("b").select(col("b").cast("string").as("text"))
    assert(df.filter(!expr("is_valid_utf8(text)")).count() == invalidUtf8.size)
    df
  }

  /** Rows where the two columns differ (NULL-safe, byte for byte). */
  private def mismatches(df: DataFrame, native: Column, reference: Column): Array[String] =
    df.select(col("text"), native.as("n"), reference.as("r"))
      .filter(!(col("n") <=> col("r")))
      .collect().map(r => s"${r.get(0)} -> ${r.get(1)} vs ${r.get(2)}")

  test("word_tokens equals the regex split + filter tokens") {
    bothPaths {
      val bad = mismatches(documents(), WordTokens.column(col("text")),
        TextFunctions.regexTokens(col("text")))
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
    }
  }

  test("word_shingle_set equals the HOF shingle set") {
    bothPaths {
      val df = documents()
      for (n <- Seq(1, 2, 3, 8)) {
        val native = Internals.column(WordShingleSet(Internals.expression(col("text")), n))
        val bad = mismatches(df, native, HashFunctions.shingleSet(col("text"), n))
        assert(bad.isEmpty, s"n=$n\n" + bad.take(5).mkString("\n"))
      }
    }
  }

  test("vowel_run_counts equals the regexp_extract_all lambda, NULL tokens included") {
    val reference = expr("transform(toks, t -> size(regexp_extract_all(t, '[aeiouy]+', 0)))")
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      bothPaths {
        val df = documents().select(col("text"), TextFunctions.regexTokens(col("text")).as("t0"))
          .select(col("text"), concat(col("t0"), array(lit(null).cast("string"))).as("toks"))
        val bad = mismatches(df, VowelRunCounts.column(col("toks")), reference)
        assert(bad.isEmpty, s"ansi=$ansi\n" + bad.take(5).mkString("\n"))
      }
    }
  }

  /** The fold the kernel replaced: code points of the decoded `String`,
    * reduced with `%`. */
  private def stringFold(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 131L + cp) % CharFoldHash.P)

  test("char_fold_hash equals the HOF fold, and the String fold on invalid UTF-8") {
    bothPaths {
      val df = documents()
      val valid = df.filter(expr("is_valid_utf8(text)") || col("text").isNull)
      val bad = mismatches(valid, Internals.column(CharFoldHash(Internals.expression(col("text")))),
        HashFunctions.charFoldHash(col("text")))
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
      // a collected string is the text as Spark's String path decodes it
      df.select(col("text"), Internals.column(CharFoldHash(Internals.expression(col("text")))))
        .filter(col("text").isNotNull).collect()
        .foreach(r => assert(r.getLong(1) == stringFold(r.getString(0)), r.getString(0)))
    }
    invalidUtf8.foreach { b =>
      val s = UTF8String.fromBytes(b)
      assert(CharFoldHash.hash(s) == stringFold(s.toString), b.mkString(","))
    }
  }

  test("char_fold_hash's shift-and-add reduction equals % near every multiple of P") {
    val P = CharFoldHash.P
    val near = for (k <- 0L to 140L; d <- -2L to 2L if k * P + d >= 0) yield k * P + d
    val top = P * 131L + 0x10ffffL
    val random = Gen.listOfN(2000, Gen.chooseNum(0L, top)).sample.get
    (near ++ random :+ top).foreach(x => assert(CharFoldHash.mod(x) == x % P, s"x=$x"))
  }

  test("char_fold_hash folds long inputs of large code points like the HOF and String folds") {
    val big = Seq(0x10ffff, 0xffff, 0x7ff, 0x7f, 0x1f600).map(cp => new String(Character.toChars(cp)))
    val texts = Seq(big.mkString * 2000, big.last * 5000, "\uffff" * 7000,
      Gen.listOfN(6000, Gen.oneOf(big)).sample.get.mkString)
    bothPaths {
      val rows = texts.toDF("text")
        .select(col("text"), Internals.column(CharFoldHash(Internals.expression(col("text")))),
          HashFunctions.charFoldHash(col("text")))
        .collect()
      rows.foreach(r => assert(r.getLong(1) == r.getLong(2) && r.getLong(1) == stringFold(r.getString(0))))
    }
  }

  private val sq8Reference = expr(
    """transform(emb, (x, i) ->
      |  CASE WHEN element_at(st, i + 1).mx > element_at(st, i + 1).mn THEN
      |    element_at(st, i + 1).mn
      |      + least(greatest(floor((x - element_at(st, i + 1).mn)
      |          / ((element_at(st, i + 1).mx - element_at(st, i + 1).mn) / 255D)), 0D), 255D)
      |        * ((element_at(st, i + 1).mx - element_at(st, i + 1).mn) / 255D)
      |  ELSE element_at(st, i + 1).mn END)""".stripMargin)

  private val stType = "array<struct<dim:int,mn:double,mx:double>>"

  /** Vectors of `dims` values with NULLs, NaN, infinities and values
    * outside their dimension's [mn, mx]; bounds with constant dimensions
    * (mx = mn), NaN bounds and reversed bounds. */
  private def sq8Frame(dims: Int, stDims: Int, rows: Int): DataFrame = {
    val x = Gen.frequency(20 -> Gen.choose(-3.0, 3.0), 1 -> Gen.const(Double.NaN),
      1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1e308))
    val vec = Gen.listOfN(dims, Gen.frequency(12 -> x.map(Option(_)), 1 -> Gen.const(None)))
    val bound = Gen.frequency(
      8 -> Gen.zip(Gen.choose(-2.0, 0.0), Gen.choose(0.0, 2.0)),
      2 -> Gen.choose(-1.0, 1.0).map(v => (v, v)),
      1 -> Gen.oneOf((Double.NaN, 1.0), (0.0, Double.NaN), (1.0, -1.0), (-1e308, 1e308)))
    val st = Gen.listOfN(stDims, bound).sample.get.zipWithIndex.map { case ((mn, mx), i) => (i, mn, mx) }
    Gen.listOfN(rows, vec).sample.get.map(v => (v, st)).toDF("emb", "st")
      .select(col("emb"), col("st").cast(stType).as("st"))
  }

  private def bits(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    case other => other
  }

  private def assertSq8Equal(df: DataFrame): Unit = {
    val rows = df.select(Sq8Decode.column(col("emb"), col("st")), sq8Reference).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(bits(r.get(0)) == bits(r.get(1)), s"${r.get(0)} vs ${r.get(1)}"))
  }

  private def condition(f: => Any): String =
    try { f; "none" } catch {
      case e: Throwable => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable => t.getCondition }.getOrElse(e.toString)
    }

  test("sq8_decode equals the transform lambda bit for bit") {
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      bothPaths {
        assertSq8Equal(sq8Frame(16, 16, 300))
        // a NULL vector, and NULL bounds
        assertSq8Equal(sq8Frame(4, 4, 3).union(Seq((Option.empty[Seq[Double]], Option.empty[Seq[(Int, Double, Double)]]))
          .toDF("emb", "st").select(col("emb"), col("st").cast(stType))))
      }
    }
  }

  test("sq8_decode raises what the lambda raises: an index past st, a zero step") {
    withConf("spark.sql.ansi.enabled" -> "true")(bothPaths {
      val short = sq8Frame(8, 5, 4)
      val tiny = Seq((Seq(0.5), Seq((0, 0.0, java.lang.Double.MIN_VALUE)))).toDF("emb", "st")
        .select(col("emb"), col("st").cast(stType).as("st"))
      for (df <- Seq(short, tiny)) {
        val native = condition(df.select(Sq8Decode.column(col("emb"), col("st"))).collect())
        assert(native != "none")
        assert(native == condition(df.select(sq8Reference).collect()))
      }
      withConf("spark.sql.ansi.enabled" -> "false") {
        assertSq8Equal(short)
        assertSq8Equal(tiny)
      }
    })
  }

  /** Every expression of the final (adaptive) plan, subqueries and
    * cached plans included. */
  private def planExpressions(p: SparkPlan): Seq[Expression] =
    collectWithSubqueries(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec => m.expressions ++ planExpressions(m.relation.cachedPlan)
      case n => n.expressions
    }

  /** Whether the executed plan evaluates a `kernel` inside a Project of
    * a whole-stage codegen stage. A stage ends at its InputAdapters. */
  private def codegend(df: DataFrame, kernel: Class[_]): Boolean = {
    df.collect()
    def inStage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(inStage)
    })
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => inStage(w.child))
      .exists {
        case p: ProjectExec => p.projectList.exists(_.exists(kernel.isInstance))
        case _ => false
      }
  }

  test("each kernel runs inside a whole-stage codegen stage") {
    val docs = graft.Tables.documents(spark, sfDir)
    val text = Internals.expression(col("text"))
    val emb = graft.Tables.embeddings(spark, sfDir).select(col("embedding").cast("array<double>").as("emb"))
    val bounds = array_repeat(struct(lit(0).as("dim"), lit(-1.0).as("mn"), lit(1.0).as("mx")),
      size(col("emb")))
    val cases = Seq(
      docs.select(WordTokens.column(col("text"))) -> classOf[WordTokens],
      docs.select(Internals.column(WordShingleSet(text, 3))) -> classOf[WordShingleSet],
      docs.select(Internals.column(CharFoldHash(text))) -> classOf[CharFoldHash],
      docs.select(VowelRunCounts.column(WordTokens.column(col("text")))) -> classOf[VowelRunCounts],
      emb.select(Sq8Decode.column(col("emb"), bounds)) -> classOf[Sq8Decode])
    cases.foreach { case (df, kernel) => assert(codegend(df, kernel), kernel.getSimpleName) }
    // control: the lambda form keeps its Project out of every stage
    assert(!codegend(docs.select(TextFunctions.regexTokens(col("text"))), classOf[ArrayFilter]))
  }

  test("sim_sq8_topk, txt_readability and corpus_chunk run no transform or filter lambda") {
    def isLambda(e: Expression) = e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ArrayFilter]
    val kernels = Map("sim_sq8_topk" -> classOf[Sq8Decode],
      "txt_readability" -> classOf[VowelRunCounts], "corpus_chunk" -> classOf[WordTokens])
    kernels.foreach { case (q, kernel) =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val exprs = planExpressions(df.queryExecution.executedPlan)
      try {
        assert(exprs.exists(_.exists(kernel.isInstance)), s"$q: no ${kernel.getSimpleName}")
        assert(!exprs.exists(_.exists(isLambda)), s"$q: a lambda is left")
      } finally spark.catalog.clearCache()
    }
    // control: the check sees a lambda where there is one
    val control = graft.Tables.documents(spark, sfDir).select(TextFunctions.regexTokens(col("text")))
    control.collect()
    assert(planExpressions(control.queryExecution.executedPlan).exists(_.exists(isLambda)))
  }

  test("register adds each function once: it never replaces a registered builder") {
    val helpers: Seq[(Seq[String], SparkSession => Unit)] = Seq(
      Seq("char_fold_hash") -> CharFoldHash.register,
      Seq("vec_dot", "hyperplane_sig") -> VectorExpressions.register,
      Seq("simhash_pack", "simhash_sig") -> SimhashExpressions.register,
      Seq("word_shingle_set") -> ShingleExpressions.register,
      Seq("hilbert_d") -> HilbertIndex.register,
      Seq("topk_agg") -> TopKAgg.register,
      Seq("winnow_fps") -> WinnowExpressions.register,
      Seq("cdc_chunks") -> CdcExpressions.register)
    def builders(s: SparkSession, names: Seq[String]) =
      names.map(n => s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    // registered twice: the second call keeps the first builder
    val twice = spark.newSession()
    helpers.foreach { case (names, register) =>
      register(twice)
      val first = builders(twice, names)
      register(twice)
      builders(twice, names).zip(first).zip(names).foreach { case ((b, a), n) => assert(b eq a, n) }
    }
    // a builder already in the session (as GraftExtensions injects one) stays
    val injected = spark.newSession()
    val own = (_: Seq[Expression]) => Literal(0)
    helpers.foreach { case (names, register) =>
      names.foreach(injected.sessionState.functionRegistry.createOrReplaceTempFunction(_, own, "scala_udf"))
      register(injected)
      builders(injected, names).zip(names).foreach { case (b, n) => assert(b eq own, n) }
    }
  }
}
