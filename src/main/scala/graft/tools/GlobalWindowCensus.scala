package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Inventory of unpartitioned WindowExec nodes across the whole query
  * pack — the round-20 receipt for retiring every single-partition
  * window (r19 verdict item 4). Walks each query's physical plan
  * DEEPLY (through AQE wrappers, query stages and cached-plan bodies)
  * and prints one line per query that still carries a WindowExec with
  * an empty partitionSpec, plus a final count line. The target end
  * state is `TOTAL 0` — at that point a full Verify run emits zero
  * "Moving all data to a single partition" warnings.
  *
  * Usage: `sbt "runMain graft.tools.GlobalWindowCensus [sfDir]"`.
  */
object GlobalWindowCensus {

  def deepGlobals(p: SparkPlan): Seq[WindowExec] = {
    def walk(n: SparkPlan): Seq[SparkPlan] = {
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other                    => other.children
      }
      n +: kids.flatMap(walk)
    }
    walk(p).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(graft.Session.cpus(8), 32)
    var total = 0
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val globals = deepGlobals(df.queryExecution.executedPlan)
      graft.Caching.release(); spark.catalog.clearCache()
      if (globals.nonEmpty) {
        total += globals.size
        val what = globals.map(w =>
          w.windowExpression.map(_.sql).mkString(";").take(120))
        println(s"GLOBALWIN $name n=${globals.size} :: ${what.mkString(" | ")}")
      }
    }
    println(s"GLOBALWIN TOTAL $total")
    spark.stop()
  }
}
