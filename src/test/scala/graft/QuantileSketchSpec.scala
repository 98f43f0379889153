package graft

import graft.ext.Sketches
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.spark.sql.functions._

/** Mergeable KLL quantile sketches — the honest contract, mirroring
  * SketchesSpec's HLL standard: sharded-then-merged estimates agree
  * with single-pass and with TRUTH within KLL's normalized-rank error
  * band (k=200 → ~1.65 % single-sided, we allow 5 % absolute rank),
  * exactness below the compaction threshold, KB-size state, and SQL
  * null semantics. No SparkEntry query: DuckDB has no KLL, so no
  * value-level oracle exists — this spec is the gate (same standard as
  * the HLL and streaming ops). Estimates are not run-deterministic
  * (KLL compaction is randomized), so every assertion is band-based.
  */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val n = 100000L
  // deterministic pseudo-uniform doubles in [0, 100000): hash-spread ids
  private lazy val df = spark.range(n).select(
    $"id",
    (pmod(hash($"id"), lit(100000)) + lit(0.0)).as("v"),
    pmod($"id", lit(8)).as("shard"),
    pmod($"id", lit(2)).as("grp"))

  // exact rank of value v in the generated data (driver-side oracle)
  private lazy val sortedVals: Array[Double] =
    df.select($"v").as[Double].collect().sorted

  private def trueRank(x: Double): Double = {
    var lo = 0; var hi = sortedVals.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedVals(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo.toDouble / sortedVals.length
  }

  // every sketch frame here is one `qsketch` column, so the estimate
  // is the only column quantileEstimates leaves
  private def estimate(sketchDf: org.apache.spark.sql.DataFrame,
                       q: Double): Double =
    Sketches.quantileEstimates(sketchDf, Seq(q)).head().getDouble(0)

  test("below the compaction threshold the sketch is exact") {
    val small = spark.range(150).select(($"id" * 7 % 150).cast("double").as("v"))
    val blob = small.agg(kll_sketch_agg_double($"v", 200).as("qsketch"))
    // 150 distinct values 0..149 scaled by nothing: INCLUSIVE quantile =
    // smallest value with rank >= q
    assert(estimate(blob, 0.0) == 0.0)
    assert(estimate(blob, 1.0) == 149.0)
    assert(estimate(blob, 0.5) == 74.0) // rank 75/150 = 0.5 → 75th smallest
  }

  test("sharded-then-merged tracks truth and single-pass within the rank band") {
    val single = df.agg(kll_sketch_agg_double($"v", 200).as("qsketch"))
    val shards = Sketches.quantileShardSketches(
      df, Seq("grp"), "v", $"shard")
    val merged = Sketches.quantileUnionSketches(shards, Seq.empty)
    Seq(0.1, 0.5, 0.9, 0.99).foreach { q =>
      val eSingle = estimate(single, q)
      val eMerged = estimate(merged, q)
      assert(math.abs(trueRank(eSingle) - q) < 0.05,
        s"single-pass p$q: est $eSingle has true rank ${trueRank(eSingle)}")
      assert(math.abs(trueRank(eMerged) - q) < 0.05,
        s"sharded+merged p$q: est $eMerged has true rank ${trueRank(eMerged)}")
    }
  }

  test("hierarchical rollup (shard→grp→global) stays in band and chains") {
    val shards = Sketches.quantileShardSketches(df, Seq("grp"), "v", $"shard")
    val mid = Sketches.quantileUnionSketches(shards, Seq("grp"))
    assert(mid.count() == 2)
    val global = Sketches.quantileUnionSketches(mid, Seq.empty)
    Seq(0.25, 0.75).foreach { q =>
      val e = estimate(global, q)
      assert(math.abs(trueRank(e) - q) < 0.05,
        s"hierarchical p$q: est $e has true rank ${trueRank(e)}")
    }
    // quantileEstimates convenience: one column per quantile
    val est = Sketches.quantileEstimates(mid, Seq(0.5, 0.99))
    assert(est.columns.toSeq == Seq("grp", "q50", "q99"))
    est.collect().foreach { r =>
      assert(r.getDouble(1) < r.getDouble(2)) // p50 < p99 on uniform data
    }
    // 0.995 and 1.0 both name `q100`: rejected, not silently overwritten
    val clash = intercept[IllegalArgumentException] {
      Sketches.quantileEstimates(mid, Seq(0.5, 0.995, 1.0))
    }
    assert(clash.getMessage.contains("q100"), clash.getMessage)
  }

  test("state stays KB-sized regardless of input rows") {
    val blob = df.agg(kll_sketch_agg_double($"v", 200).as("qsketch"))
      .head().getAs[Array[Byte]]("qsketch")
    assert(blob.length < 8192, s"sketch blob ${blob.length} B for $n rows")
  }

  test("nulls are skipped; empty sketch reads NaN; rank inverts quantile") {
    val withNulls = spark.range(100).select(
      when($"id" % 2 === 0, $"id".cast("double")).as("v")) // odds → null
    val blob = withNulls.agg(
      kll_sketch_agg_double($"v", 200).as("qsketch"))
    assert(estimate(blob, 1.0) == 98.0) // nulls never enter
    val empty = spark.range(10)
      .select(lit(null).cast("double").as("v"))
      .agg(kll_sketch_agg_double($"v", 200).as("qsketch"))
    assert(estimate(empty, 0.5).isNaN)
    // rank(quantile(q)) ≈ q on the big sketch
    val big = df.agg(kll_sketch_agg_double($"v", 200).as("qsketch"))
    val med = estimate(big, 0.5)
    val r = big.select(kll_sketch_get_rank_double(
      col("qsketch"), lit(med)).as("r")).head().getDouble(0)
    assert(math.abs(r - 0.5) < 0.05, s"rank($med) = $r")
  }

  test("analysis-time guards: k range and types are loud") {
    val e1 = intercept[Exception] {
      df.agg(kll_sketch_agg_double($"v", 4).as("s")).collect()
    }
    assert(e1.getMessage.contains("KLL_SKETCH_K_OUT_OF_RANGE"), e1.getMessage)
    val e2 = intercept[Exception] {
      df.agg(kll_sketch_agg_double($"id", 200).as("s")).collect()
    }
    assert(e2.getMessage.contains("double") ||
      e2.getMessage.contains("DOUBLE"), e2.getMessage)
  }

  test("sketch bytes written by DataSketches directly still read and roll up") {
    // the encoding persisted at ingest before the built-ins: a heap
    // KllDoublesSketch(k=200) serialized with toByteArray
    val sk = KllDoublesSketch.newHeapInstance(200)
    (1 to 150).foreach(i => sk.update(i.toDouble))
    val stored = Seq(sk.toByteArray).toDF("qsketch")
    val rolled = Sketches.quantileUnionSketches(stored, Seq.empty)
    Seq(stored, rolled).foreach { s =>
      assert(estimate(s, 0.5) == 75.0)
      val r = s.select(kll_sketch_get_n_double($"qsketch"),
        kll_sketch_get_rank_double($"qsketch", lit(75.0))).head()
      assert(r.getLong(0) == 150L)
      assert(r.getDouble(1) == 0.5) // INCLUSIVE: 75 of 150 values <= 75
    }
  }
}
