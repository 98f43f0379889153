package graft

import graft.operators.{Postprocess, Resample, Sessionize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Resample guard, postprocessing (min-duration incl. trailing run,
  * sliding median even/odd), sessionization, and a ScalaCheck
  * run-length-reconstruction property. */
class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  private def series(vals: Seq[Double]) =
    vals.zipWithIndex.map { case (v, i) =>
      (1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + 8L * i)), v)
    }.toDF("key", "ts", "value")

  test("downsampleMean refuses to upsample (UnifiedNILM.py:118-120)") {
    val df = series(Seq(1, 2, 3, 4))
    val e = intercept[IllegalArgumentException] {
      Resample.downsampleMean(df, Seq("key"), "ts", $"value", seconds = 4,
        inferredRateSeconds = Some(8.0))
    }
    assert(e.getMessage.contains("refusing to upsample"))
  }

  test("downsampleMean buckets epoch-aligned, left-closed, mean") {
    val df = series(Seq(10, 20, 30, 40)) // ts at +0, +8, +16, +24 s
    val out = Resample.downsampleMean(df, Seq("key"), "ts", $"value",
        seconds = 16, inferredRateSeconds = Some(8.0))
      .orderBy("bucket_start")
      .select("value").as[Double].collect()
    assert(out.toSeq == Seq(15.0, 35.0)) // [0,16) and [16,32)
  }

  test("minDurationFilter zeroes short ON runs incl. trailing run") {
    // states: 1 1 1 | 0 0 | 1 1  with minLen 3 → trailing run of 2 zeroed
    val df = series(Seq(20, 20, 20, 0, 0, 20, 20))
    val out = Postprocess.minDurationFilter(df, $"key", Seq($"ts"),
        Postprocess.threshold($"value", 10.0), minLen = 3)
      .orderBy("ts")
      .select("state", "state_filtered")
      .as[(Int, Int)].collect().toSeq
    assert(out.map(_._1) == Seq(1, 1, 1, 0, 0, 1, 1))
    assert(out.map(_._2) == Seq(1, 1, 1, 0, 0, 0, 0))
  }

  test("minDurationFilter keeps OFF runs regardless of length") {
    val df = series(Seq(0, 20, 0, 20, 20, 20))
    val out = Postprocess.minDurationFilter(df, $"key", Seq($"ts"),
        Postprocess.threshold($"value", 10.0), minLen = 2)
      .orderBy("ts").select("state_filtered").as[Int].collect().toSeq
    assert(out == Seq(0, 0, 0, 1, 1, 1)) // lone ON zeroed, short OFFs kept
  }

  test("slidingMedian odd and even frame sizes (quantile_cont semantics)") {
    val df = series(Seq(1, 9, 5, 7, 3))
    val out = Postprocess.slidingMedian(df, $"key", Seq($"ts"), $"value", k = 1)
      .orderBy("ts").select("median_value").as[Double].collect().toSeq
    // frames: [1,9]→5.0 (even, interpolated), [1,9,5]→5, [9,5,7]→7,
    // [5,7,3]→5, [7,3]→5.0
    assert(out == Seq(5.0, 5.0, 7.0, 5.0, 5.0))
  }

  test("ewma matches hand-computed pandas adjust=True weighting") {
    val df = series(Seq(1, 2, 4, 8))
    val out = Postprocess.ewma(df, $"key", Seq($"ts"), $"value",
        alpha = 0.5, span = 10)
      .orderBy("ts").select("ewma").as[Double].collect().toSeq
    // pandas ewm(alpha=0.5, adjust=True).mean() on [1,2,4,8]:
    // t1: 1; t2: (0.5+2)/1.5; t3: (0.25+1+4)/1.75 = 3;
    // t4: (0.125 + 0.5 + 2 + 8)/1.875
    val want = Seq(1.0, 2.5 / 1.5, 3.0, 10.625 / 1.875)
    out.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-12, s"got $g want $w") }
  }

  test("ewma: both branches match a driver-side brute force") {
    // one sweep serves every span (the name is from the lag/collect_list
    // pair it replaced): spans 1, 12, 20 and 100 against an independent
    // per-row weighted mean; key k3 has 7 rows, fewer than most spans
    val rnd = new scala.util.Random(3)
    val df = (Seq.tabulate(200)(i => ("k" + i % 3, i.toLong, rnd.nextInt(1000) / 7.0)) ++
      Seq.tabulate(7)(i => ("k3", i.toLong, rnd.nextInt(1000) / 7.0)))
      .toDF("key", "ts", "value")
    val rows = df.as[(String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    def brute(span: Int) = rows.toSeq.sortBy(_._1).flatMap { case (_, vs) =>
      vs.indices.map { i =>
        val frame = vs.slice(math.max(0, i - span + 1), i + 1)
        val wts = frame.indices.map(j =>
          math.pow(0.7, frame.size - 1 - j))
        frame.zip(wts).map { case (x, wt) => x * wt }.sum / wts.sum
      }
    }
    Seq(1, 12, 20, 100).foreach { span =>
      val got = Postprocess.ewma(df, $"key", Seq($"ts"), $"value",
          alpha = 0.3, span = span)
        .orderBy("key", "ts").select("ewma").as[Double].collect().toSeq
      val want = brute(span)
      assert(got.length == want.length, s"span $span")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"span $span: got $g want $w") }
    }
  }

  /** The lag-column composition [[Postprocess.ewma]]'s sweep replaced
    * (it served span ≤ 16): terms j = 0..span-1 summed newest first,
    * a missing or null lag adding exact 0.0 to both sums. Kept here as
    * the sweep's bit-exact reference. */
  private def lagEwma(df: DataFrame, alpha: Double, span: Int): DataFrame = {
    val w = Window.partitionBy($"key").orderBy($"ts")
    val num = (0 until span).map { j =>
      coalesce(lag($"value", j).over(w) * math.pow(1 - alpha, j), lit(0.0))
    }.reduce(_ + _)
    val den = (0 until span).map { j =>
      when(lag($"value", j).over(w).isNotNull,
        lit(math.pow(1 - alpha, j))).otherwise(lit(0.0))
    }.reduce(_ + _)
    df.withColumn("ewma", num / den)
  }

  test("ewma equals the lag-column composition exactly (spans 10, 16)") {
    // five keys of uneven length over four input tasks and two shuffle
    // partitions, signed values and scattered nulls (no all-null frame)
    val df = spark.range(0, 900, 1, 4).select(
      concat(lit("k"), (pmod(($"id" * 7) % 11, lit(5))).cast("string")).as("key"),
      $"id".as("ts"),
      when($"id" % 17 === 5, lit(null).cast("double"))
        .otherwise((pmod(xxhash64($"id"), lit(2000L)) - 1000) / 7.0).as("value"))
    def ewmas(out: DataFrame) = out.select("key", "ts", "ewma")
      .as[(String, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    for (span <- Seq(10, 16)) {
      val got = ewmas(Postprocess.ewma(df, $"key", Seq($"ts"), $"value",
        alpha = 0.3, span = span))
      assert(got.length == 900)
      assert(got == ewmas(lagEwma(df, 0.3, span)), s"span $span")
    }
  }

  test("ewma span truncates the tail; keys do not bleed") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 4.0),
      ("b", 1L, 100.0)).toDF("key", "ts", "value")
    val out = Postprocess.ewma(df, $"key", Seq($"ts"), $"value",
        alpha = 0.5, span = 2)
      .orderBy("key", "ts").select("ewma").as[Double].collect().toSeq
    // span=2 → frame is (prev, cur): t3 sees only [2,4]: (1+4)/1.5
    val want = Seq(1.0, 2.5 / 1.5, 5.0 / 1.5, 100.0)
    out.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-12, s"got $g want $w") }
  }

  test("slidingMedianScipy matches precomputed scipy.ndimage.median_filter vectors") {
    // golden vectors for x = [5,1,4,2,8,3,9,7,6,0] computed from
    // median_filter's documented semantics (mode='reflect' pad,
    // rank size//2 selection — it is rank_filter(size//2), no
    // interpolation); boundary values hand-checked: size=3 first
    // window is reflect-pad [5|5,1] → sorted [1,5,5][1] = 5
    val x = Seq(5.0, 1, 4, 2, 8, 3, 9, 7, 6, 0)
    val golden = Map(
      3 -> Seq(5.0, 4, 2, 4, 3, 8, 7, 7, 6, 0),
      4 -> Seq(5.0, 5, 4, 4, 4, 8, 8, 7, 7, 6),
      5 -> Seq(4.0, 4, 4, 3, 4, 7, 7, 6, 6, 6))
    val df = series(x.map(_.toInt))
    for ((sz, want) <- golden) {
      val out = Postprocess.slidingMedianScipy(df, $"key", Seq($"ts"), $"value", sz)
        .orderBy("ts").select("median_value").as[Double].collect().toSeq
      assert(out == want, s"size=$sz")
    }
  }

  /** The window compositions [[Postprocess.slidingMedian]]'s sweep
    * replaced — lag/lead columns for k ≤ 8, an `array_sort(collect_list)`
    * frame beyond — kept here as its quantile_cont reference. */
  private def windowMedian(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy($"key").orderBy($"ts")
    val arr =
      if (k <= 8) {
        val neighbors = (-k to k).map {
          case 0 => $"value"
          case i if i < 0 => lag($"value", -i).over(w)
          case i => lead($"value", i).over(w)
        }
        array_sort(filter(array(neighbors: _*), v => v.isNotNull))
      } else
        array_sort(collect_list($"value").over(w.rowsBetween(-k, k)))
    val n = size(arr)
    val mid = ((n + lit(1)) / lit(2)).cast("int")
    val lo = (n / lit(2)).cast("int")
    df.withColumn("median_value",
      when(n % 2 === 1, element_at(arr, mid))
        .when(n > 0, (element_at(arr, lo) + element_at(arr, lo + lit(1))) / 2.0)
        .otherwise(lit(null)).cast("double"))
  }

  test("slidingMedianPartitioned matches the window-composition form") {
    // multi-key, nulls, duplicate values, enough rows to cross task
    // boundaries; k ≤ 8 against the lag/lead reference, k > 8 against
    // the collect_list one, and a bigint value column pins the cast
    val vals = (0 until 400).map { i =>
      if (i % 17 == 0) None else Some(((i * 2654435761L) % 97) % 13)
    }
    val asDouble = vals.zipWithIndex.map { case (v, i) =>
      (s"k${i % 3}", i.toLong, v.map(_.toDouble))
    }.toDF("key", "ts", "value")
    val asLong = vals.zipWithIndex.map { case (v, i) =>
      (s"k${i % 3}", i.toLong, v)
    }.toDF("key", "ts", "value")
    def medians(df: DataFrame) = df.select("key", "ts", "median_value")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).sortBy(t => (t._1, t._2)).toSeq
    for (df <- Seq(asDouble, asLong); k <- Seq(0, 2, 3, 8, 9, 12)) {
      val got = Postprocess.slidingMedian(df, $"key", Seq($"ts"), $"value", k)
      assert(got.schema("median_value").dataType == DoubleType)
      assert(medians(got) == medians(windowMedian(df, k)),
        s"k=$k value ${df.schema("value").dataType}")
    }
  }

  test("slidingMedianPartitioned: all-null frame yields null, empty key ok") {
    val df = Seq(("a", 1L, null: java.lang.Double),
        ("a", 2L, null: java.lang.Double), ("b", 1L, 5.0: java.lang.Double))
      .toDF("key", "ts", "value")
    val out = Postprocess.slidingMedian(df, $"key", Seq($"ts"), $"value", 1)
      .orderBy("key", "ts").select("median_value").collect()
      .map(r => Option(r.get(0))).toSeq
    assert(out == Seq(None, None, Some(5.0)))
  }

  test("slidingMedianScipy is partition-local (keys do not bleed)") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 0.0), ("a", 3, 10.0),
        ("b", 1, 99.0), ("b", 2, 99.0), ("b", 3, 99.0))
      .toDF("key", "ts", "value")
    val out = Postprocess.slidingMedianScipy(df, $"key", Seq($"ts"), $"value", 3)
      .orderBy("key", "ts").select("median_value").as[Double].collect().toSeq
    // a: [10|10,0]→10, [10,0,10]→10, [0,10|10]→10 ; b: all 99
    assert(out == Seq(10.0, 10.0, 10.0, 99.0, 99.0, 99.0))
  }

  test("runs produces alternating run-length encoding") {
    val df = series(Seq(20, 20, 0, 20, 0, 0, 0))
    val out = Postprocess.runs(df, $"key", Seq($"ts"),
        Postprocess.threshold($"value", 10.0))
      .orderBy("run_id").select("state", "run_len")
      .as[(Int, Long)].collect().toSeq
    assert(out == Seq((1, 2L), (0, 1L), (1, 1L), (0, 3L)))
  }

  test("sessionize splits on gaps > threshold") {
    val ts = Seq(0L, 10L, 20L, 100L, 110L, 500L)
    val df = ts.zipWithIndex.map { case (t, i) =>
      (1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + t)), i.toLong)
    }.toDF("key", "ts", "event_id")
    val out = Sessionize.sessions(df, $"key", $"ts", gapSeconds = 30)
      .orderBy("ts").select("session_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 1L, 1L, 2L, 2L, 3L))
  }

  test("property: bucket means recombine to the global mean (A1)") {
    val gen = Gen.listOfN(30, Gen.choose(0.0, 1000.0)).suchThat(_.nonEmpty)
    val prop = Prop.forAll(gen) { vals =>
      val df = series(vals)
      // weighted mean of bucket means == global mean
      val withCounts = df
        .groupBy(window($"ts", "24 seconds")).agg(
          avg($"value").as("m"), count(lit(1)).as("c"))
      val (sumW, n) = withCounts
        .agg(sum($"m" * $"c"), sum($"c")).as[(Double, Long)].head()
      math.abs(sumW / n - vals.sum / vals.size) < 1e-9
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: keep-first dedup is idempotent (P11)") {
    val gen = Gen.listOfN(20, Gen.choose(0, 5)).suchThat(_.nonEmpty)
    val prop = Prop.forAll(gen) { tsOffsets =>
      // duplicate timestamps on purpose: offsets collide mod 5
      val df = tsOffsets.zipWithIndex.map { case (o, i) =>
        (1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + o)), i.toLong)
      }.toDF("key", "ts", "ord")
      import org.apache.spark.sql.expressions.Window
      def dedup(x: org.apache.spark.sql.DataFrame) = x
        .withColumn("rn", row_number().over(
          Window.partitionBy($"key", $"ts").orderBy($"ord")))
        .filter($"rn" === 1).drop("rn")
      val once = dedup(df).orderBy("ts", "ord").collect().toSeq
      val twice = dedup(dedup(df)).orderBy("ts", "ord").collect().toSeq
      once == twice && once.size == tsOffsets.distinct.size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("eventsSliced: pushed raw-nanos bounds match the plain filter") {
    val d = "/root/testdata/sf0.001"
    val plain = graft.Tables.events(spark, d)
      .filter($"ts".between(
        lit("2024-01-03 00:00:00").cast("timestamp"),
        lit("2024-01-04 00:00:00").cast("timestamp")))
      .select($"event_id").as[Long].collect().toSet
    val pushed = graft.Tables
      .eventsSliced(spark, d, "2024-01-03 00:00:00", "2024-01-04 00:00:00")
      .select($"event_id").as[Long].collect().toSet
    assert(pushed == plain && plain.nonEmpty)
  }

  test("property: run-length encoding reconstructs the series") {
    val gen = Gen.listOfN(24, Gen.oneOf(0, 1)).suchThat(_.nonEmpty)
    val prop = Prop.forAll(gen) { states =>
      val df = series(states.map(s => if (s == 1) 50.0 else 0.0))
      val runs = Postprocess.runs(df, $"key", Seq($"ts"),
          Postprocess.threshold($"value", 10.0))
        .orderBy("run_id").select("state", "run_len")
        .as[(Int, Long)].collect().toSeq
      val reconstructed = runs.flatMap { case (st, len) =>
        Seq.fill(len.toInt)(st)
      }
      val alternates = runs.map(_._1).sliding(2).forall {
        case Seq(a, b) => a != b
        case _ => true
      }
      reconstructed == states && alternates
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
