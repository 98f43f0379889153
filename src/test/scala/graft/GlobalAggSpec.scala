package graft

import graft.operators.GlobalAgg
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two unpartitioned-window replacements (r19 verdict #4): scalar
  * broadcast-back and distributed running totals must match the
  * single-partition window forms they retire, bit for bit, and must
  * themselves plan with ZERO empty-partitionSpec WindowExec. */
class GlobalAggSpec extends SparkSpec {
  import spark.implicits._

  // unique scrambled keys: ties would make running-sum intermediates
  // unspecified on both sides (same reasoning as IdsSpec)
  private lazy val df = spark.range(50000).select(
    xxhash64($"id").as("k"),
    ($"id" % 977).as("v"))

  private def deepGlobals(d: org.apache.spark.sql.DataFrame) =
    PlanInvariantsSpec.deepWindows(d).filter(_.partitionSpec.isEmpty)

  test("withScalars matches the global-window form") {
    val viaWindow = df
      .withColumn("t", sum($"v").over(Window.partitionBy()))
      .withColumn("mx", max($"k").over(Window.partitionBy()))
      .select($"k", $"v", $"t", $"mx")
      .collect().map(_.toSeq).toSet
    val out = GlobalAgg.withScalars(df,
      (sum($"v"), "t"), (max($"k"), "mx"))
    assert(deepGlobals(out).isEmpty, "withScalars planned a global window")
    val viaScalar = out.select($"k", $"v", $"t", $"mx")
      .collect().map(_.toSeq).toSet
    Caching.release()
    assert(viaScalar == viaWindow)
  }

  test("withScalars: empty frame stays empty (window-form semantics)") {
    val out = GlobalAgg.withScalars(df.filter($"v" < 0),
      (sum($"v"), "t"))
    assert(out.count() == 0L)
    Caching.release()
  }

  test("runningLong matches the ordered global window, asc + desc + totals") {
    val w = Window.orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df
      .withColumn("cum", sum($"v").over(w))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val out = GlobalAgg.runningLong(df, Seq($"k"),
      Seq(($"v", "cum")), grandTotals = Map("cum" -> "tot"),
      numPartitions = Some(16))
    assert(deepGlobals(out).isEmpty, "runningLong planned a global window")
    val rows = out.collect()
    Caching.release()
    val total = df.agg(sum($"v")).head().getLong(0)
    assert(rows.forall(r => r.getAs[Long]("tot") == total))
    assert(rows.forall(r => expect(r.getAs[Long]("k")) == r.getAs[Long]("cum")))

    // descending order, two value columns through one pass
    val wd = Window.orderBy($"k".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expectD = df
      .withColumn("c1", sum($"v").over(wd))
      .withColumn("c2", sum(lit(1L)).over(wd))
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    val outD = GlobalAgg.runningLong(df, Seq($"k".desc),
      Seq(($"v", "c1"), (lit(1L), "c2")), numPartitions = Some(16))
    val rowsD = outD.collect()
    Caching.release()
    assert(rowsD.forall { r =>
      expectD(r.getAs[Long]("k")) ==
        ((r.getAs[Long]("c1"), r.getAs[Long]("c2")))
    })
  }

  test("runningLong: frame far smaller than partition count") {
    val tiny = spark.range(3).select($"id".as("k"), lit(10L).as("v"))
    val out = GlobalAgg.runningLong(tiny, Seq($"k"), Seq(($"v", "cum")),
      numPartitions = Some(32))
      .orderBy($"k").collect().map(_.getAs[Long]("cum")).toSeq
    Caching.release()
    assert(out == Seq(10L, 20L, 30L))
  }

  test("runningLong: empty frame") {
    val out = GlobalAgg.runningLong(df.filter($"v" < 0), Seq($"k"),
      Seq(($"v", "cum")), grandTotals = Map("cum" -> "tot"))
    assert(out.count() == 0L)
    Caching.release()
  }
}
