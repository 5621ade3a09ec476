package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{CallMethodViaReflection, Expression}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.HashFunctions

class CharFoldHashSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("native expression equals the HOF formulation on real tokens") {
    val toks = graft.Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), " +")).as("t"))
      .filter(col("t") =!= "")
    CharFoldHash.register(spark)
    val mismatches = toks
      .withColumn("native", expr("char_fold_hash(t)"))
      .withColumn("hof", HashFunctions.charFoldHash(col("t")))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0)
  }

  test("matches the documented recurrence and handles edge cases") {
    assert(CharFoldHash.hash("the") == 2004401L)
    assert(CharFoldHash.hash("") == 0L)
    assert(CharFoldHash.hash("a") == 97L)
    // supplementary code point folds as one code point
    val cp = new String(Character.toChars(0x1F600))
    assert(CharFoldHash.hash(cp) == 0x1F600L % 2147483647L)
  }

  /** Whether the executed (final, under AQE) plan runs the Project that
    * evaluates `fn` inside a whole-stage-codegen stage. A codegen stage
    * ends at its InputAdapters; anything below one runs outside it. */
  private def projectIsCodegend(fn: String, isFn: Expression => Boolean): Boolean = {
    CharFoldHash.register(spark)
    // needs a non-local scan: a local relation is constant-folded away
    val df = graft.Tables.documents(spark, sfDir).select(expr(fn))
    df.collect() // execute, so the adaptive plan is final
    def inStage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(inStage)
    })
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => inStage(w.child))
      .exists {
        case p: ProjectExec => p.projectList.exists(_.exists(isFn))
        case _ => false
      }
  }

  test("participates in whole-stage codegen") {
    assert(projectIsCodegend("char_fold_hash(text)", _.isInstanceOf[CharFoldHash]))
    // control: an expression that falls back from codegen keeps its
    // Project out of every codegen stage, so the check above can fail
    assert(!projectIsCodegend("reflect('java.lang.String', 'valueOf', text)",
      _.isInstanceOf[CallMethodViaReflection]))
  }
}
