package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path must work in a session that never called the
  * programmatic register() helpers. getOrCreate() reuses the default
  * session, so the default is cleared (and restored) to force a fresh
  * session with the extension applied, on the same SparkContext. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions path exposes the native functions") {
    val base = SparkSpecBase.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base, "must be a fresh session, not the shared one")
      val r = s.sql(
        "SELECT char_fold_hash('abc') AS h, " +
          "vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "hyperplane_sig(array(1.0d, 2.0d), 16) AS s, " +
          "simhash_sig(simhash_pack(char_fold_hash('abc')), 1L) AS sim, " +
          "word_shingle_set('a b c', 2) AS sh, " +
          "hilbert_d(1023L, 1023L) AS hd").head()
      assert(r.getLong(0) == graft.expressions.CharFoldHash.hash("abc"))
      assert(r.getDouble(1) == 11.0)
      assert(!r.isNullAt(2))
      assert(r.getLong(3) == graft.expressions.SimhashExpressions.sig(
        graft.expressions.SimhashExpressions.pack(
          graft.expressions.CharFoldHash.hash("abc")), 1L))
      assert(r.getSeq[String](4) == Seq("a b", "b c"))
      assert(r.getLong(5) == graft.expressions.HilbertIndex.xy2d(1023L, 1023L))
      // the aggregate path: topk_agg usable from pure SQL too
      val agg = s.sql(
        "SELECT topk_agg(CAST(v AS DOUBLE), id, 2) AS top FROM VALUES " +
          "(1.0, 10L), (3.0, 30L), (2.0, 20L) AS t(v, id)").head()
      val items = agg.getStruct(0).getSeq[org.apache.spark.sql.Row](0)
      assert(items.map(_.getLong(1)) == Seq(30L, 20L))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("spark.sql.extensions path exposes the text and SQ8 kernels") {
    val base = SparkSpecBase.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s.sql(
        "SELECT word_tokens('  say  ayeee toy ') AS t, " +
          "vowel_run_counts(word_tokens('say ayeee xyz')) AS v, " +
          "sq8_decode(array(0.5d, 2.0d), array(named_struct('dim', 0, 'mn', 0.0d, 'mx', 1.0d), " +
          "named_struct('dim', 1, 'mn', 3.0d, 'mx', 3.0d))) AS q").head()
      assert(r.getSeq[String](0) == Seq("say", "ayeee", "toy"))
      assert(r.getSeq[Int](1) == Seq(1, 1, 1))
      assert(r.getSeq[Double](2) == Seq(127 * (1.0 / 255), 3.0))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
