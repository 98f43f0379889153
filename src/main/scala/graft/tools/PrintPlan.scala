package graft.tools


/** Dev tool: print a query's physical plan (and optionally the AQE final
  * plan after execution) for plan-pin authoring.
  * Usage: `runMain graft.tools.PrintPlan <queryName> [sfDir] [exec]` */
object PrintPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.local(2, 2)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.length > 2 && args(2) == "exec") df.collect()
    println("PLANSTART")
    println(df.queryExecution.executedPlan.toString)
    println("PLANEND")
    graft.Caching.release()
    spark.stop()
  }
}
