package graft


/** Plan-audit dev tool: prints the formatted physical plan of the
  * queries matching the optional prefix list (all of them with no
  * args) against SPARK_GRAFT_SF_DIR, for checking pushdown
  * (`PushedFilters`), column pruning (`ReadSchema`), broadcast choices,
  * and whole-stage-codegen spans per the builder brief's scale
  * checklist. Usage: `sbt "runMain graft.Explain [prefixes]"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(4, 4)
    PackRun.select(PackRun.prefixes(args.toSeq)).foreach { name =>
      println(s"\n========== $name ==========")
      try PackRun.coldRun(spark, name)(
        SparkEntry.queries(name)(spark, sfDir).explain("formatted"))
      catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
