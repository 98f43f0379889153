package graft

import graft.plans.GraftExtensions
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** `GraftExtensions.register` sizes Spark's JVM-wide cache of compiled
  * generated classes, so a session that re-runs its plan shapes
  * compiles each of them once. */
class CodegenCacheSpec extends SparkSpec {

  private val key = "spark.sql.codegen.cache.maxEntries"

  /** A new session on the suite's SparkContext, built the way a caller
    * outside graft builds one; the suite's session stays the active and
    * default one. */
  private def plainSession(conf: (String, String)*): SparkSession = {
    val shared = spark
    val builder = SparkSession.builder()
    conf.foreach { case (k, v) => builder.config(k, v) }
    try builder.create()
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("a Session.local session sizes the generated-class cache to 4096") {
    assert(spark.conf.get(key) == "4096")
    assert(GraftExtensions.CodegenCacheEntries == 4096)
  }

  test("register sizes a plain SparkSession.builder session") {
    val plain = plainSession()
    assert(plain.conf.get(key) == "100")
    GraftExtensions.register(plain)
    assert(plain.conf.get(key) == "4096")
  }

  test("register keeps a larger value the caller set") {
    val plain = plainSession(key -> "8192")
    GraftExtensions.register(plain)
    assert(plain.conf.get(key) == "8192")
  }

  // Independent of suite order: every session in the test JVM comes from
  // Session.local (SparkSpec.session; ScaleBenchSpec pins graft.Session as
  // the one builder site), so register sized the cache before the JVM's
  // first query, whichever suite ran first. The shapes carry literals
  // unique to this run, so the first pass compiles them whatever ran
  // before, and the second pass needs only that the cache still holds
  // what the first pass just used: the cache evicts least recently used
  // entries, and 4096 leaves room for the earlier suites' classes too.
  test("a second pass over more than 100 plan shapes compiles almost nothing") {
    val salt = 1000 + (System.nanoTime() & 0xffffff)
    // built anew for each pass, as a session re-running a query does: a
    // Dataset keeps its executed plan, so re-collecting the same objects
    // would not generate code again at all
    def frames = (0 until 64).map { i =>
      val k = salt * 64 + i
      spark.range(0, 64, 1, 2)
        .selectExpr(s"id * $k AS v", s"id % ${i % 7 + 2} AS g")
        .filter(s"v <> $k")
        .groupBy("g").agg(sum("v").as("s"))
    }
    def compiledBy(pass: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      pass
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiledBy(frames.foreach(_.collect()))
    val second = compiledBy(frames.foreach(_.collect()))
    info(s"first pass compiled $first classes, second $second")
    assert(first > 100, s"the first pass compiled only $first classes")
    assert(second <= 5, s"the second pass recompiled $second of $first classes")
  }
}
