package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.functions._

/** Fourth layer of the 100 TB scan story: row-level RUNTIME filtering.
  * PartitionPruningSpec = static directory pruning, RowGroupPruningSpec
  * = min/max stats inside a file, DynamicPruningSpec = runtime pruning
  * when the fact table is PARTITIONED on the join key. This spec pins
  * the remaining case: the selective predicate lives on the dimension
  * side and the fact join key is NOT a partition column — no directory
  * or stats layer can help, and without intervention every fact row
  * shuffles into the join only to be discarded. Spark's
  * InjectRuntimeFilter rewrites the fact side to
  * `might_contain(bloomOf(filtered dim keys), key)` so the ~no-match
  * majority dies BEFORE the exchange — the engine-internal sibling of
  * ext/BloomPrune's explicit bloom-prefiltered anti-join. At 100 TB the
  * exchange is the bottleneck; the bloom turns "shuffle the table" into
  * "shuffle the survivors".
  *
  * Thresholds are scaled to local fixture sizes exactly as a 100 TB
  * deployment leaves them at defaults (the application side must look
  * expensive enough to be worth protecting: default 10 GB scan
  * threshold → 0 here, same approach as `ScaleBench joinskew`'s skew
  * thresholds); broadcast is disabled because a broadcast hash join
  * already gets its filtering for free on the small side — the runtime
  * filter exists for the genuinely-shuffling joins a 100 TB fact table
  * forces.
  */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (factDir, dimDir) = {
    val base = java.nio.file.Files.createTempDirectory("graft_rtf").toString
    // fact: 400 k rows over 50 k keys; dim: all 50 k keys + a category
    // attribute whose filter keeps 1 % of them
    spark.range(400000L).select(
        pmod(hash($"id"), lit(50000)).as("k"),
        $"id".as("event_id"))
      .write.parquet(s"$base/fact.parquet")
    spark.range(50000L).select(
        $"id".as("k"),
        pmod($"id", lit(100)).as("cat"))
      .write.parquet(s"$base/dim.parquet")
    (s"$base/fact.parquet", s"$base/dim.parquet")
  }

  private def withRuntimeFilterConfs[A](enabled: Boolean)(body: => A): A = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> enabled.toString,
      // the fact side must look scan-expensive enough to protect
      // (default 10 GB — local fixtures never reach it)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // no broadcast: force the shuffle join the rule exists for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def query(): DataFrame = {
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir).filter($"cat" === 7) // 1 % of keys
    fact.join(dim, Seq("k")).groupBy($"cat").agg(count(lit(1)).as("n"))
  }

  // rows leaving the fact-side scan stage = output of the Filter that
  // sits on the fact scan (recurse through AQE wrappers)
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      collectAll(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(s) ++ collectAll(s.plan)
    case other =>
      Seq(other) ++ other.children.flatMap(collectAll) ++
        other.subqueries.flatMap(collectAll)
  }

  private def factFilterRows(df: DataFrame): Long = {
    df.collect()
    val filters = collectAll(df.queryExecution.executedPlan).collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(filters.nonEmpty, "no might_contain FilterExec in:\n" +
      df.queryExecution.executedPlan)
    filters.head.metrics("numOutputRows").value
  }

  test("dim-side filter injects a bloom runtime filter on the fact side") {
    withRuntimeFilterConfs(enabled = true) {
      val q = query()
      val result = q.collect()
      assert(result.length == 1 && result.head.getLong(1) > 0)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n$optimized")
      // the bloom kills the no-match majority BEFORE the exchange:
      // ~1 % of 50 k keys survive → ~4 k of 400 k fact rows (+ fpp)
      val survivors = factFilterRows(q)
      info(s"bloom passed $survivors of 400000 fact rows into the shuffle")
      assert(survivors < 400000L / 10,
        s"bloom filter passed $survivors of 400000 fact rows into the shuffle")
    }
  }

  test("rule off: same result, full fact table enters the shuffle") {
    val (onRows, offRows) = (
      withRuntimeFilterConfs(enabled = true)(query().collect().toSeq),
      withRuntimeFilterConfs(enabled = false) {
        val q = query()
        val r = q.collect().toSeq
        assert(!q.queryExecution.optimizedPlan.toString.contains("might_contain"))
        r
      })
    assert(onRows == offRows, s"on=$onRows off=$offRows")
  }
}
