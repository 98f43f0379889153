package graft

import org.apache.spark.sql.SparkSession

/** The one loop every pack main runs ([[Verify]], [[Bench]],
  * [[InvarianceCheck]], [[Explain]], the `pack` ScaleBench entry):
  * which queries, and the cache-cold protocol around each one. Each
  * main keeps only its own sink and its own failure report. */
object PackRun {

  /** Sorted `SparkEntry.queries` names [[matching]] `prefixes`. */
  def select(prefixes: Seq[String]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(matching(prefixes))

  /** Whether `name` starts with any of `prefixes`; always true when
    * `prefixes` is empty. */
  def matching(prefixes: Seq[String])(name: String): Boolean =
    prefixes.isEmpty || prefixes.exists(name.startsWith)

  /** The trailing positional prefix list of a main: each argument may
    * itself be a comma list (`q17 q23` or `q17,q23`). */
  def prefixes(args: Seq[String]): Seq[String] =
    args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** A query left cached plans behind after [[Caching.release]]. */
  final class LeakedCache(name: String) extends RuntimeException(
    s"$name leaked cached plans past Caching.release() — persist " +
      "outside graft.Caching.persisted?")

  /** Run `body` (one query's build and sink) cache-cold: release and
    * clear every cache before it, release after it. Persisted
    * intermediates from an earlier query would otherwise satisfy this
    * one's structurally-equal plans through the CacheManager and
    * silently time or check warm state. Cache-cold covers persists and
    * cached results, not compiled classes: Spark's generated-class
    * cache is JVM state like JIT code, and a query whose plan shapes
    * ran before reuses their classes (see `GraftExtensions.register`).
    * Every execution still recomputes its result from scratch.
    *
    * The `Caching` contract (library persists go through
    * `Caching.persisted`, callers release after the terminal action)
    * is then checked: any plan still in the `cacheManager` (which sees
    * even caches that never materialized) clears the cache and throws
    * [[LeakedCache]], so the query fails loudly and later queries stay
    * cold. A throwing body releases and clears the same way before its
    * exception propagates. */
  def coldRun[A](spark: SparkSession, name: String)(body: => A): A = {
    Caching.release()
    spark.catalog.clearCache()
    val result =
      try body
      catch { case t: Throwable =>
        Caching.release()
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        throw t
      }
    Caching.release()
    if (!spark.sharedState.cacheManager.isEmpty) {
      spark.catalog.clearCache()
      throw new LeakedCache(name)
    }
    result
  }
}
