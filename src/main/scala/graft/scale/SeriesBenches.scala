package graft.scale

import graft.Caching
import graft.ScaleBench._
import graft.operators.{GlobalAgg, Layout, Postprocess}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window, rank, join and layout scale entries of [[graft.ScaleBench]]. */
object SeriesBenches {

  /** n rows over n/10⁵ keys (10⁵ rows per key — fine-grained sensor
    * channels), ts ascending per key, hash-spread double values. */
  private def keyedSeries(spark: SparkSession, n: Long): DataFrame = {
    val keys = math.max(1L, n / 100000L)
    spark.range(n).select(
      pmod(col("id"), lit(keys)).as("key"),
      (col("id") / lit(keys)).cast("long").as("ts"),
      (pmod(xxhash64(col("id")), lit(100000L)) / 100.0).as("value"))
  }

  /** W7's sliding median ([[Postprocess.slidingMedian]], the dual-heap
    * sorted sweep) per (n, k ∈ {2, 50}) — k = 2 is the reference's own
    * smoothing window, k = 50 a wide filter; O(log k) per row, so the two
    * should cost about the same. */
  val median: Entry = Entry(Seq(10000000L, 30000000L),
    Seq(Seq("n", "k", "sec")),
    (ctx, n) => {
      import ctx.spark.implicits._
      val df = keyedSeries(ctx.spark, n)
      df.count() // untimed warm-up of the input pipeline both legs share
      // untimed warm-up of the sweep's code on one key, so the first
      // timed leg does not carry its JIT compilation
      noop(Postprocess.slidingMedian(df.filter($"key" === 0), $"key", Seq($"ts"), $"value", 2))
      Seq(2, 50).map { k =>
        Seq("n" -> n, "k" -> k,
          "sec" -> secs(noop(Postprocess.slidingMedian(df, $"key", Seq($"ts"), $"value", k))))
      }
    })

  /** [[Postprocess.ewma]] (the keyed sorted sweep, a ring of the last
    * `span` values) per (n, span ∈ {10, 100}) — O(span) multiply-adds
    * per row. Before timing, one key's first 1,000 rows are checked
    * (1e-9) against a driver-side weighted mean of the same collected
    * rows. `sec` is the min of two runs: the first run at a size pays
    * that plan's codegen and JIT warm-up (0.96 vs 1.75 s at 2 M rows,
    * span 10, on 4 vCPU). */
  val ewma: Entry = Entry(Seq(10000000L, 30000000L),
    Seq(Seq("n", "span", "sec")),
    (ctx, n) => {
      import ctx.spark.implicits._
      val alpha = 0.3
      def run(df: DataFrame, span: Int) =
        Postprocess.ewma(df, $"key", Seq($"ts"), $"value", alpha, span)
      val df = keyedSeries(ctx.spark, n)
      df.count() // untimed input-pipeline warm-up
      Seq(10, 100).map { span =>
        val got = run(df.filter($"key" === 0 && $"ts" < 1000), span)
          .orderBy("ts").select("value", "ewma").as[(Double, Double)].collect()
        val vs = got.map(_._1)
        val ok = got.indices.forall { i =>
          val frame = vs.slice(math.max(0, i - span + 1), i + 1)
          val wts = frame.indices.map(j => math.pow(1 - alpha, frame.length - 1 - j))
          val want = frame.zip(wts).map { case (x, w) => x * w }.sum / wts.sum
          math.abs(got(i)._2 - want) < 1e-9
        }
        require(got.nonEmpty && ok, s"ewma disagrees with the driver-side mean at span=$span")
        Seq("n" -> n, "span" -> span, "sec" -> minOf2(noop(run(df, span))))
      }
    })

  /** Distributed vs single-task exact ranks (the q167 rewrite): three
    * chained [[GlobalAgg.stableIds]] passes vs three unpartitioned
    * `row_number()` windows (n ≤ 8·10⁶: past that the single task just
    * burns CPU) over three hash-scrambled axes; both must sum to
    * 3·n(n+1)/2 — a wrong offset or a dropped row cannot hide. Cache
    * teardown runs outside both timed blocks. */
  val rank: Entry = Entry(Seq(2000000L, 8000000L, 32000000L),
    Seq(Seq("n", "stableids_sec", "window_sec", "checksum_ok")),
    (ctx, n) => {
      val expect = 3L * n * (n + 1) / 2
      val df = ctx.spark.range(n).select(
        xxhash64(col("id")).as("a"),
        xxhash64(col("id") + 1L).as("b"),
        xxhash64(col("id") + 2L).as("c"))
      val (sSum, sSec) = timed {
        import GlobalAgg.stableIds
        stableIds(stableIds(stableIds(df, Seq(col("a")), "ra"),
            Seq(col("b")), "rb"), Seq(col("c")), "rc")
          .agg(sum(col("ra") + col("rb") + col("rc") + 3L)).head().getLong(0)
      }
      Caching.release(); ctx.spark.catalog.clearCache()
      val (wSum, wSec) =
        if (n <= 8000000L) timed {
          val wg = Window.partitionBy()
          df.withColumn("ra", row_number().over(wg.orderBy(col("a"))))
            .withColumn("rb", row_number().over(wg.orderBy(col("b"))))
            .withColumn("rc", row_number().over(wg.orderBy(col("c"))))
            .agg(sum(col("ra").cast("long") + col("rb") + col("rc")))
            .head().getLong(0)
        } else (expect, -1.0)
      ctx.spark.catalog.clearCache()
      val ok = sSum == expect && wSum == expect
      require(ok, s"rank checksum mismatch at n=$n: " +
        s"stableIds=$sSum window=$wSum expect=$expect")
      Seq(Seq("n" -> n, "stableids_sec" -> sSec, "window_sec" -> wSec,
        "checksum_ok" -> ok))
    })

  /** q129's rolling WAU: DISTINCT (day, user) first, then the 7×
    * explode (`dedup_first_sec`, the shipped shape) vs explode raw
    * events then one giant distinct (`expand_first_sec`, n ≤ 10⁸) —
    * "collapse to the bounded frame before you fan out". n events over
    * n/100 users × 60 days; the forms are checked equal on a 2·10⁵-row
    * slice before timing. */
  val analytics: Entry = Entry(Seq(30000000L, 100000000L),
    Seq(Seq("n", "pairs", "dedup_first_sec", "expand_first_sec")),
    (ctx, n) => {
      import ctx.spark.implicits._
      def events(m: Long) = ctx.spark.range(m).select(
        pmod(xxhash64(col("id") * 13 + 5), lit(math.max(m / 100, 1L))).as("user_id"),
        pmod(xxhash64(col("id") * 29 + 1), lit(60L)).cast("int").as("day"))
      def wau(df: DataFrame) =
        df.select(explode(sequence(lit(0), lit(6))).as("k"), $"user_id", $"day")
          .select(($"day" + $"k").as("day"), $"user_id")
          .distinct()
          .groupBy($"day").agg(count(lit(1)).as("wau"))
      def dedupFirst(df: DataFrame) = wau(df.distinct())
      val df = events(n)
      df.count() // untimed input warm-up
      val sample = events(200000L)
      require(dedupFirst(sample).orderBy("day").as[(Int, Long)].collect().toSeq ==
        wau(sample).orderBy("day").as[(Int, Long)].collect().toSeq, "forms disagree")
      val pairs = df.distinct().count()
      val dedupSec = minOf2(noop(dedupFirst(df)))
      val naiveSec = if (n > 100000000L) -1.0 else minOf2(noop(wau(df)))
      Seq(Seq("n" -> n, "pairs" -> pairs, "dedup_first_sec" -> dedupSec,
        "expand_first_sec" -> naiveSec))
    })

  /** Planted-hot-key SKEW JOIN: key 0 owns 50% of the probe side (a
    * ~96-byte incompressible payload, so the hot partition really
    * crosses the byte threshold), the build side forced non-broadcast
    * as it would be at 100 TB, and the SAME sort-merge join timed with
    * AQE's skew-join split on vs off. Thresholds scaled down to local
    * size (16 MB skew / 8 MB advisory). The probe side is materialized
    * once per n so the A/B times the join, not md5 generation. */
  val joinSkew: Entry = Entry(Seq(10000000L, 30000000L),
    Seq(Seq("n", "hot_rows", "skew_on_sec", "skew_off_sec", "skew_handled")),
    (ctx, n) => {
      import ctx.spark.implicits._
      val spark = ctx.spark
      val build = spark.range(100001L).select($"id".as("k"),
        pmod($"id" * 31, lit(1000L)).as("w"))
      withTempDir(s"graft_joinskew_$n") { dir =>
        spark.range(n).select(
          when(pmod($"id", lit(2)) === 0, lit(0L))
            .otherwise(pmod($"id", lit(100000L)) + 1).as("k"),
          concat(md5($"id".cast("string")), md5(($"id" + 1).cast("string")),
            md5(($"id" + 2).cast("string"))).as("payload"))
          .write.mode("overwrite").parquet(dir)
        def run(skewOn: Boolean): (Double, Boolean) =
          withConf(spark, "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString) {
            val df = spark.read.parquet(dir).join(build, Seq("k"))
              .select(sum(length($"payload") + $"w").as("s"))
            val sec = secs(df.collect())
            val plan = df.queryExecution.executedPlan.toString
            (sec, plan.contains("skew=true") || plan.contains("skewed"))
          }
        withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m") {
          run(skewOn = true) // untimed warm-up (JIT + codegen)
          val (onSec, handled) = run(skewOn = true)
          val (offSec, _) = run(skewOn = false)
          Seq(Seq("n" -> n, "hot_rows" -> n / 2, "skew_on_sec" -> onSec,
            "skew_off_sec" -> offSec, "skew_handled" -> handled))
        }
      }
    })

  /** The writer's price of Z-order ([[Layout]]; ZOrderSpec measures
    * the read benefit), 32 files: `fit_sec` is the one approxQuantile
    * pass of Layout.cutPoints, `linear_sec` a one-column
    * repartitionByRange + sort (Container's layout), `zorder_sec`
    * Layout.zorderWrite on the interleaved key — same machinery, same
    * shuffle count, so the delta is the whole price. */
  val layout: Entry = Entry(Seq(3000000L, 10000000L),
    Seq(Seq("n", "fit_sec", "linear_sec", "zorder_sec")),
    (ctx, n) => {
      val spark = ctx.spark
      val numFiles = 32
      withTempDir(s"graft_layout_$n") { base =>
        spark.range(n).select(
          col("id").as("event_id"),
          pmod(col("id"), lit(100000)).cast("int").as("x"),
          pmod(hash(col("id")), lit(100000)).cast("int").as("y"))
          .write.parquet(s"$base/src") // materialized once, cold for both legs
        val src = spark.read.parquet(s"$base/src")
        // untimed warm-up of the write path (JIT, committers)
        src.limit(10000).write.mode("overwrite").parquet(s"$base/warm")
        val (cuts, fitSec) = timed(Layout.cutPoints(src, Seq("x", "y"), buckets = 64))
        val linearSec = secs(src.repartitionByRange(numFiles, col("x"))
          .sortWithinPartitions(col("x"), col("y"))
          .write.mode("overwrite").parquet(s"$base/linear"))
        val zorderSec = secs(Layout.zorderWrite(src,
          Seq(col("x") -> cuts("x"), col("y") -> cuts("y")),
          numFiles = numFiles, path = s"$base/zorder"))
        val a = spark.read.parquet(s"$base/linear").count()
        val b = spark.read.parquet(s"$base/zorder").count()
        require(a == n && b == n, s"row loss: linear=$a zorder=$b n=$n")
        Seq(Seq("n" -> n, "fit_sec" -> fitSec, "linear_sec" -> linearSec,
          "zorder_sec" -> zorderSec))
      }
    })
}
