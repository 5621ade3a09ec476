package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, reused session).
  * The SQL cache is cleared after every test, as the mains clear it
  * between queries: a query may return a lazy DataFrame over frames it
  * cached, so the release belongs to whoever runs the queries, and
  * without it the cached blocks of every test stay resident in the one
  * session until the JVM exits. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally SparkSession.getDefaultSession.foreach(_.catalog.clearCache())
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Scratch.dir("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
