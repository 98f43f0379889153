package graft


/** Plan-audit dev tool: prints the formatted physical plan of the named
  * queries (all of them with no args) against SPARK_GRAFT_SF_DIR, for
  * checking pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  * broadcast choices, and whole-stage-codegen spans per the builder
  * brief's scale checklist. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(4, 4)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
