package graft

import org.apache.spark.sql.functions._

/** The shared pack loop: query selection, and the cache-cold protocol
  * with its leak gate as every pack main sees it. The Verify side of
  * the leak gate is VerifyMarkerSpec's; this pins the Bench side — a
  * leaked persist must come out as a loud failure, never as a timing
  * of warm state. */
class PackRunSpec extends SparkSpec {

  private def cacheEmpty = spark.sharedState.cacheManager.isEmpty

  /** `body`'s result and what it printed to System.err. */
  private def withStderr[A](body: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val a = try body finally System.setErr(old)
    (a, buf.toString("UTF-8"))
  }

  test("select: sorted names by prefix; prefix lists split on commas") {
    assert(PackRun.prefixes(Seq("q17_,q23_", " q9 ", "")) ==
      Seq("q17_", "q23_", "q9"))
    assert(PackRun.select(Nil) == SparkEntry.queries.keys.toSeq.sorted)
    val some = PackRun.select(Seq("q23_", "q17_"))
    assert(some.nonEmpty && some == some.sorted, some)
    assert(some.forall(n => n.startsWith("q17_") || n.startsWith("q23_")), some)
  }

  test("Bench.runOnce: a persist outside Caching.persisted is a loud -1") {
    val (t, err) = withStderr(Bench.runOnce(spark, "/nonexistent", "q_leak",
      (s, _) => {
        val df = s.range(5).select(col("id").as("n"))
        df.persist() // deliberately OUTSIDE graft.Caching.persisted
        df
      }))
    assert(t == -1.0, "a leaked persist must not come out as a timing")
    assert(err.contains("[bench] q_leak FAILED") &&
      err.contains("leaked cached plans"), err)
    assert(cacheEmpty, "the leak gate must clear the cache for later queries")
  }

  test("Bench.runOnce: a Caching.persisted query times and is released") {
    val t = Bench.runOnce(spark, "/nonexistent", "q_ok",
      (s, _) => Caching.persisted(s.range(5).select(col("id").as("n"))))
    assert(t >= 0.0)
    assert(Caching.trackedCount == 0 && cacheEmpty)
  }

  test("coldRun: a throwing body leaves the session cold, then rethrows") {
    val e = intercept[IllegalStateException] {
      PackRun.coldRun(spark, "q_throw") {
        Caching.persisted(spark.range(3).toDF("n")).count()
        spark.range(4).toDF("n").persist().count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(Caching.trackedCount == 0 && cacheEmpty)
  }
}
