package graft
/** Local plan-inspection tool: prints the executed plan and a one-line
  * exchange/window/codegen census for each named query — the iteration loop
  * for keeping plans 100 TB-shaped (`.explain` + count the shuffles).
  *
  * Usage: runMain graft.Explain <sfDir> <query1,query2,...> [full|fmt]
  *   full — also print the executed plan
  *   fmt  — print the `.explain("formatted")` text (the plans/rNN artifact
  *          format: numbered operator list + per-operator details)
  * Timing lives in graft.tools.Probe.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val full = args.length > 2 && args(2) == "full"
    val fmt = args.length > 2 && args(2) == "fmt"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the Bench/Verify session; SPARK_GRAFT_CONF overrides reproduce an
    // alternative planning environment (e.g. the pre-r18 sort-merge-join
    // preference) for an A/B without editing code
    val spark = graft.core.Graft.session(cpus, graft.core.Graft.confFromEnv)
    spark.sparkContext.setLogLevel("ERROR")
    def count(s: String, sub: String): Int = s.sliding(sub.length).count(_ == sub)
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      println(s"== $name: exchanges=${count(plan, "Exchange hashpartitioning")}" +
        s" broadcasts=${count(plan, "BroadcastExchange")}" +
        s" windows=${count(plan, "Window [")}" +
        s" sorts=${count(plan, "Sort [")}" +
        s" scans=${count(plan, "FileScan")}" +
        s" wholestage=${count(plan, "WholeStageCodegen")}")
      if (full) println(plan)
      if (fmt) println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
