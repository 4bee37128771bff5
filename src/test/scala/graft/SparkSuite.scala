package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for every suite (sbt runs suites in
  * one forked JVM; session startup is ~5s, paid once), built by the
  * same [[GraftSession]] factory as Bench and Verify.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The reference expression-corpus pipe: c=[1,2], D=[3,10]
    * (parser_test.go:861-969), with an explicit row order.
    */
  def corpusPipe: DataFrame = {
    import spark.implicits._
    Seq((1.0, 3.0, 0L), (2.0, 10.0, 1L)).toDF("c", "D", "__seq")
  }

  def col1(df: DataFrame, c: String): Seq[Any] =
    df.orderBy("__seq").select(c).collect().map(_.get(0)).toSeq

  /** Every node of a physical plan, walking into the adaptive plan's
    * current plan and each query stage's plan — a plain
    * `executedPlan.collect` sees only the `AdaptiveSparkPlanExec`
    * leaf. Execute the frame first so the adaptive plan is final.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _ => p.children.flatMap(planNodes)
  })
}
