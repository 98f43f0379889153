package graft

import graft.operators.GlobalAgg
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global ids without a global sort: exact 0..n−1
  * contiguity, order agreement with the (test-scale-only) single-
  * window oracle, determinism across recomputation, and the plan
  * property the operator exists for — NO single-partition exchange. */
class IdsSpec extends SparkSpec {
  import spark.implicits._

  private val n = 100000L
  private lazy val df = spark.range(n).select(
    // scrambled key, unique w.h.p. over the full 64-bit range (a
    // modulus would plant ties, whose relative order is unspecified
    // on BOTH the operator and the oracle — a flake, not a check)
    xxhash64($"id").as("k"),
    $"id".as("payload"))

  test("ids are exactly 0..n-1 and follow orderCols order") {
    val out = GlobalAgg.stableIds(df, Seq(col("k")), numPartitions = Some(16))
    val stats = out.agg(
      count(lit(1)), countDistinct($"row_id"), min($"row_id"), max($"row_id"))
      .head()
    assert(stats.getLong(0) == n && stats.getLong(1) == n)
    assert(stats.getLong(2) == 0L && stats.getLong(3) == n - 1)
    // order property vs the single-window oracle (fine at test scale)
    val oracle = df.withColumn("expect",
      row_number().over(Window.orderBy($"k")).cast("long") - 1L)
    val diff = out.join(oracle, Seq("k", "payload"))
      .filter($"row_id" =!= $"expect").count()
    assert(diff == 0L)
    graft.Caching.release()
  }

  test("deterministic across recomputation; empty partitions tolerated") {
    val a = GlobalAgg.stableIds(df, Seq(col("k")), numPartitions = Some(16))
      .select($"k", $"row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GlobalAgg.stableIds(df, Seq(col("k")), numPartitions = Some(16))
      .select($"k", $"row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    // more partitions than distinct keys → empties must not shift ids
    val tiny = spark.range(5).select($"id".as("k"))
    val t = GlobalAgg.stableIds(tiny, Seq(col("k")), numPartitions = Some(32))
      .orderBy($"k").select($"row_id").as[Long].collect()
    assert(t.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    graft.Caching.release()
  }

  test("chained passes: earlier rank columns ride along bit-exact (q167 contract)") {
    // q167 chains three stableIds calls, each re-range-partitioning
    // the previous OUTPUT on a different axis while earlier rank
    // columns ride along as payload. Pin that contract: ranks from a
    // chained pass equal ranks computed independently on the base
    // frame, for both a same-direction and a reversed second axis.
    val base = spark.range(1000).select(
      xxhash64($"id").as("k"),
      xxhash64($"id" + 7L).as("j"))
    val chained = GlobalAgg.stableIds(
      GlobalAgg.stableIds(base, Seq(col("k")), "k_rid", Some(8)),
      Seq(col("j").desc), "j_rid", Some(8))
    val indepK = GlobalAgg.stableIds(base, Seq(col("k")), "k_rid", Some(8))
      .select($"k", $"k_rid".as("k_expect"))
    val indepJ = GlobalAgg.stableIds(base, Seq(col("j").desc), "j_rid", Some(8))
      .select($"j", $"j_rid".as("j_expect"))
    val bad = chained.join(indepK, Seq("k")).join(indepJ, Seq("j"))
      .filter($"k_rid" =!= $"k_expect" || $"j_rid" =!= $"j_expect")
      .count()
    assert(bad == 0L)
    // and the chained output still carries every base column + both ids
    assert(chained.columns.sorted.toSeq == Seq("j", "j_rid", "k", "k_rid"))
    graft.Caching.release()
  }

  test("plan: distributed end to end — no single-partition exchange") {
    val out = GlobalAgg.stableIds(df, Seq(col("k")), numPartitions = Some(16))
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global-sort bottleneck crept in:\n$p")
    // the ranged frame is a pinned cache (see GlobalAgg scaladoc), so the
    // range exchange lives inside the InMemoryTableScan's cached plan
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"offset join should broadcast:\n$p")
    graft.Caching.release()
  }
}
