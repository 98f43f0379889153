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
               sfDir: String): Unit = {
    def deleteRec(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(deleteRec))
      p.delete()
    }
    def writeErrMarker(): Unit = {
      import spark.implicits._
      Seq.empty[String].toDF("_verify_error")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      Caching.release() // drop library-persisted intermediates
      // the Caching contract (library persists go through
      // graft.Caching.persisted; callers release after the terminal
      // action) is load-bearing for bench honesty — a leaked persist
      // would silently warm later queries, so fail THIS query's gate
      // (replace its output with an error marker) instead. cacheManager
      // sees even caches that never materialized; clearCache() keeps
      // later queries cold.
      if (!spark.sharedState.cacheManager.isEmpty) {
        spark.catalog.clearCache()
        deleteRec(new java.io.File(s"$outDir/$name"))
        writeErrMarker()
        System.err.println(s"[verify] $name leaked cached plans past " +
          "Caching.release() — persist outside graft.Caching.persisted?")
      }
    } catch { case e: Throwable =>
      Caching.release()
      // a query that throws AFTER leaking a persist made outside
      // Caching.persisted would otherwise leave that cache warm for
      // every subsequent query — same leak gate as the success path
      try spark.catalog.clearCache()
      catch { case _: Throwable => () }
      try writeErrMarker()
      catch { case _: Throwable => () } // marker write best-effort
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Session.cpus(4)
    // a non-default value turns any gate run into a partitioning-
    // determinism check (same rows at any shuffle fan-out) without the
    // separate DeterminismCheck entry point — unset = driver contract
    val shufParts = sys.env.get("SPARK_GRAFT_VERIFY_PARTITIONS")
      .map(_.trim.toInt).getOrElse(cpus)
    val spark = Session.local(cpus, shufParts)
    new java.io.File(outDir).mkdirs()
    // dev-only iteration filter (unset in the driver → all queries);
    // the oracle dump is filtered identically so tools/compare.py
    // checks exactly the queries that ran
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) runQuery(spark, outDir, name, fn, sfDir)
    }
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
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
