package graft

import graft.operators.GapFill
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** GapFill (operators/GapFill.scala): hand-computed interpolation
  * values, bucket-mean semantics, span/edge contract, and the
  * one-sort-pair window plan pin. */
class GapFillSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("interior gaps fill linearly between the nearest observations") {
    val df = Seq(("a", ts(0), 1.0), ("a", ts(3), 7.0), ("a", ts(5), 3.0))
      .toDF("k", "t", "v")
    val out = GapFill.interpolate(df, Seq("k"), "t", "v", 3600L)
      .orderBy($"t").as[(String, Timestamp, Double, Boolean)].collect()
    assert(out.map(_._2) === (0 to 5).map(ts(_)))
    assert(out.map(_._3) === Seq(1.0, 3.0, 5.0, 7.0, 5.0, 3.0))
    assert(out.map(_._4) === Seq(true, false, false, true, false, true))
  }

  test("same-bucket observations average before interpolation") {
    val df = Seq(("a", ts(0, 10), 2.0), ("a", ts(0, 50), 4.0),
      ("a", ts(2), 9.0)).toDF("k", "t", "v")
    val out = GapFill.interpolate(df, Seq("k"), "t", "v", 3600L)
      .orderBy($"t").as[(String, Timestamp, Double, Boolean)].collect()
    assert(out.map(_._3) === Seq(3.0, 6.0, 9.0)) // bucket mean 3, interp 6
  }

  test("keys are independent; single-bucket keys emit one observed row") {
    val df = Seq(("a", ts(0), 1.0), ("a", ts(2), 5.0), ("b", ts(7), 42.0))
      .toDF("k", "t", "v")
    val out = GapFill.interpolate(df, Seq("k"), "t", "v", 3600L)
      .as[(String, Timestamp, Double, Boolean)].collect()
    assert(out.count(_._1 == "a") == 3)
    assert(out.filter(_._1 == "b").toSeq == Seq(("b", ts(7), 42.0, true)))
  }

  test("grid is closed under the step: no rows outside [first, last]") {
    val df = Seq(("a", ts(1, 30), 1.0), ("a", ts(4, 10), 2.0))
      .toDF("k", "t", "v")
    val out = GapFill.interpolate(df, Seq("k"), "t", "v", 3600L)
      .orderBy($"t").as[(String, Timestamp, Double, Boolean)].collect()
    // buckets floor to 01:00 and 04:00
    assert(out.head._2 == ts(1) && out.last._2 == ts(4))
    assert(out.length == 4)
  }

  test("multi-chunk grids produce the identical row set (chunk boundary)") {
    // 3-day span at 60 s step = 4321 grid rows < 8192 (single chunk) vs
    // a 14-day span = 20161 rows (3 chunks): verify the chunked explode
    // never duplicates or drops boundary rows — count + endpoints +
    // exact minute spacing
    val df = Seq(("a", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("a", Timestamp.valueOf("2024-01-15 00:00:00"), 29.0))
      .toDF("k", "t", "v")
    val out = GapFill.interpolate(df, Seq("k"), "t", "v", 60L)
      .orderBy($"t").as[(String, Timestamp, Double, Boolean)].collect()
    assert(out.length == 14 * 1440 + 1)
    assert(out.head._2 == ts(0) && out.map(_._2).distinct.length == out.length)
    assert(out.sliding(2).forall { case Array(a, b) =>
      b._2.getTime - a._2.getTime == 60000L })
    // linearity spot-check at a chunk boundary (row 8192)
    val mid = out(8192)
    assert(math.abs(mid._3 - (1.0 + 28.0 * 8192.0 / 20160.0)) < 1e-9)
  }

  test("plan: running frames both directions, no O(n^2) following frame") {
    val df = Seq(("a", ts(0), 1.0), ("a", ts(3), 7.0)).toDF("k", "t", "v")
    val p = GapFill.interpolate(df, Seq("k"), "t", "v", 3600L)
      .queryExecution.executedPlan.toString
    // both fills are RUNNING (unboundedPreceding..currentRow) frames —
    // the forward direction rides a DESC sort of the same partition.
    // An unboundedFollowing frame here re-scans the remaining rows per
    // row (O(n²) per key): `ScaleBench pack` round 20 measured q101 at
    // ×13 time for ×4 data on exactly that plan before this shape.
    assert(p.contains("unboundedpreceding$(), currentrow$()"), p)
    assert(!p.toLowerCase.contains("unboundedfollowing"),
      s"O(n²)-per-key following frame reintroduced:\n$p")
    // two Window nodes (asc + desc), one exchange: the desc pass
    // re-sorts within the same partitioning, it must NOT re-shuffle
    val windowNodes = p.linesIterator.count(_.contains("Window ["))
    assert(windowNodes == 2, s"expected asc+desc WindowExec pair:\n$p")
  }
}
