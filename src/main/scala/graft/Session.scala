package graft

import org.apache.spark.sql.SparkSession

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

  /** Local core count: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
