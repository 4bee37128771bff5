package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit helper: builds the named catalog entries against a SF
  * dir and prints, per entry, TWO plans (the PLANS.md evidence
  * format):
  *
  *   - the FORMATTED plan of the returned frame. Entries that
  *     materialize internally (cache + count before Caches.release)
  *     print the plan of the returned (cached) frame plus whatever
  *     in-plan gates already ran;
  *   - after executing that same QueryExecution, the FINAL ADAPTIVE
  *     plan (`executedPlan` with `isFinalPlan=true`). AQE decisions
  *     like exchange/stage reuse and broadcast demotion only appear
  *     there, so claims about them must be evidenced there (the r4
  *     review caught a reuse claim made off the static plan).
  *
  * Usage: MAIN=graft.PlanDump tools/bench.sh <sfDir> <query> [query…]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      println(s"\n### $name (executed plan, $sfDir)\n")
      val df = fn(spark, sfDir)
      println(df.queryExecution.explainString(
        ExplainMode.fromString("formatted")))
      // execute THIS QueryExecution (df.count() would plan and run a
      // separate one and leave this plan isFinalPlan=false)
      df.queryExecution.toRdd.count()
      println(s"\n### $name (final adaptive plan, executed)\n")
      println(df.queryExecution.executedPlan.toString)
      Caches.release()
      try spark.catalog.clearCache() catch { case _: Throwable => }
    }
    spark.stop()
  }
}
