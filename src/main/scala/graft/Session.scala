package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one place this repository builds a SparkSession: local mode,
  * UTC session time zone (every timestamp oracle assumes it), no UI,
  * WARN logging, and graft's native Catalyst functions registered. */
object Session {

  def local(cpus: Int, shufflePartitions: Int,
            conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Generated classes this JVM has compiled so far and their total
    * compile milliseconds (Spark's `CodegenMetrics` count and
    * `CodeGenerator.compileTime`). Call only after [[local]]: the first
    * touch of `CodeGenerator` sizes its class cache from the session's
    * conf, which `GraftExtensions.register` sets. */
  def compiles(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  /** `"compiled":n,"compile_ms":ms` since the [[compiles]] reading
    * `since`, as a JSON fragment for a telemetry record. */
  def compiledSince(since: (Long, Double)): String = {
    val (n, ms) = compiles()
    s""""compiled":${n - since._1},"compile_ms":${"%.1f".formatLocal(java.util.Locale.ROOT, ms - since._2)}"""
  }

  /** Local core count: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
