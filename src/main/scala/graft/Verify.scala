package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Write one query's result (or, on ANY failure, an error marker) to
    * `outDir/name`. A failed query must still produce an output dir: the
    * compare step (driver-side and tools/compare.py) iterates produced
    * dirs, so a silently-missing dir shrinks the declared set and the
    * round looks green with fewer queries (this masked the r12-r14 NTZ
    * regression). The marker is ZERO rows with a schema no oracle can
    * match, so it reds out under BOTH check modes (oracle compare: column
    * mismatch; rows-only fallback: 0 rows). The message goes to stderr.
    *
    * Factored out of [[main]] so VerifyMarkerSpec can drive it with a
    * deliberately-failing query and assert the output-dir count never
    * shrinks (the r12-r14 masking bug class, as a named red test). */
  def runQuery(spark: SparkSession, outDir: String, name: String,
               fn: (SparkSession, String) => DataFrame,
               sfDir: String): Unit =
    // a leaked persist would silently warm later queries, so PackRun
    // fails THIS query's gate instead; the marker overwrites its output
    try PackRun.coldRun(spark, name) {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    } catch { case e: Throwable =>
      try {
        import spark.implicits._
        Seq.empty[String].toDF("_verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () } // marker write best-effort
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }

  /** `Verify <sfDir> <outDir> [prefixes]`: the optional prefix list
    * (unset in the driver → all queries) filters the oracle dump
    * identically, so tools/compare.py checks exactly the queries that
    * ran. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = Session.cpus(4)
    val spark = Session.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    val only = PackRun.prefixes(args.drop(2).toSeq)
    val names = PackRun.select(only)
    val compiled0 = Session.compiles()
    names.foreach(name =>
      runQuery(spark, outDir, name, SparkEntry.queries(name), sfDir))
    // one cold pass: the classes its plan shapes cost a fresh JVM
    System.err.println(s"""[verify] {"queries":${names.size},${Session.compiledSince(compiled0)}}""")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => PackRun.matching(only)(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
