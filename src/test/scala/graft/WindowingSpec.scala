package graft

import graft.operators.Windowing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W4/W5 — window counts (⌊(n−L)/step⌋+1), content, overlap semantics
  * (fraction vs rows, channel_utils.py:187-188), truncate-to-min. */
class WindowingSpec extends SparkSpec {

  import spark.implicits._

  private def series(key: Long, n: Int) =
    (0 until n).map { i =>
      (key, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + 8L * i)), i.toDouble)
    }.toDF("key", "ts", "value")

  /** The exploded formulation [[Windowing.windows]]' sweep replaced: each
    * row numbered per key, emitted into every complete window that holds
    * it (an exploded id range), and each window assembled by a
    * (key, window_id) `collect_list` sorted on the row index. */
  private def emitCollect(df: DataFrame, seqLen: Int, step: Int): DataFrame = {
    val withIdx = df
      .withColumn("idx", row_number().over(Window.partitionBy("key").orderBy("ts")).cast("long") - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("key")))
    val lastWin = least(floor(col("idx") / step), floor((col("n") - seqLen) / step))
    val firstWin = greatest(lit(0L),
      ceil((col("idx") - seqLen + 1).cast("double") / step).cast("long"))
    withIdx
      .withColumn("window_id", explode(when(firstWin <= lastWin, sequence(firstWin, lastWin))
        .otherwise(array().cast("array<long>"))))
      .groupBy("key", "window_id")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("value")))),
        s => s("value")).as("value"))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Seq[Option[Double]])] =
    df.select("key", "window_id", "value").collect().toSeq.map { r =>
      (r.getLong(0), r.getLong(1),
        r.getSeq[java.lang.Double](2).map(v => Option(v).map(_.doubleValue)))
    }.sortBy(r => (r._1, r._2))

  test("stepOf: fractional overlap is a share of seqLen; int is rows") {
    assert(Windowing.stepOf(512, 0.5, fractional = true) == 256)
    assert(Windowing.stepOf(512, 0, fractional = false) == 512)
    assert(Windowing.stepOf(512, 128, fractional = false) == 384)
    assert(Windowing.stepOf(4, 4, fractional = false) == 1) // min 1 guard
  }

  test("window count matches ⌊(n−L)/step⌋+1 (ConvertToTensor.py:60)") {
    // the FIXTURES.md §6 case: n=1300, L=512 → 2 windows at overlap 0
    for ((n, l, step, expect) <- Seq((1300, 512, 512, 2), (1300, 512, 256, 4),
        (20, 16, 8, 1), (24, 16, 8, 2), (15, 16, 8, 0), (16, 16, 8, 1))) {
      val out = Windowing.windows(series(1, n), Seq($"key"), Seq($"ts"),
        Seq($"value"), l, step)
      assert(out.count() == expect, s"n=$n L=$l step=$step")
    }
  }

  test("window content is the ordered slice [w*step, w*step+L)") {
    val out = Windowing.windows(series(1, 24), Seq($"key"), Seq($"ts"),
        Seq($"value"), 16, 8)
      .orderBy("window_id")
      .select("window_id", "value")
      .as[(Long, Seq[Double])].collect().toSeq
    assert(out.size == 2)
    assert(out(0)._2 == (0 until 16).map(_.toDouble))
    assert(out(1)._2 == (8 until 24).map(_.toDouble))
    assert(out.forall(_._2.size == 16)) // no partial tails
  }

  test("windows equals the emit + collect_list formulation") {
    // keys shorter than, equal to and longer than L, rows scattered over
    // four input tasks, every 7th value null (it keeps its slot)
    val df = Seq(1 -> 5, 2 -> 16, 3 -> 17, 4 -> 40, 5 -> 101).flatMap { case (k, n) =>
      (0 until n).map { i =>
        (k.toLong, 1600000000L + 8L * i,
          if ((i + k) % 7 == 0) null else java.lang.Double.valueOf(k * 1000 + i * 0.5))
      }
    }.toDF("key", "ts", "value").repartition(4)
    for ((l, step) <- Seq((16, 8), (16, 16), (4, 7), (1, 1), (16, 3), (17, 20))) {
      val got = Windowing.windows(df, Seq($"key"), Seq($"ts"), Seq($"value"), l, step)
      val want = rows(emitCollect(df, l, step))
      assert(want.nonEmpty, s"L=$l step=$step")
      assert(rows(got) == want, s"L=$l step=$step")
    }
    // the null slots survive into the windows
    assert(rows(Windowing.windows(df, Seq($"key"), Seq($"ts"), Seq($"value"), 16, 8))
      .exists(_._3.contains(None)))
  }

  test("truncateToMin drops rows beyond the shortest series (W5)") {
    val df = series(1, 10).unionByName(series(2, 6))
    val out = Windowing.truncateToMin(df, Seq(lit(1).as("g")), Seq($"key"),
      Seq($"ts"))
    val counts = out.groupBy("key").count().orderBy("key")
      .as[(Long, Long)].collect().toSeq
    assert(counts == Seq((1L, 6L), (2L, 6L)))
  }
}
