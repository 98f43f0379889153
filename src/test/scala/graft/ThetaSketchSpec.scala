package graft

import graft.ext.Sketches
import org.apache.datasketches.theta.SetOperation
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Theta sketches — distinct counting with set algebra, the honest
  * contract: exact below 2^lgK retained entries (and deterministic
  * always — k-min-hash under a fixed seed has no random state, unlike
  * KLL), estimation-mode unions within the ~1/√(2^lgK) RSE band, and
  * intersection error relative to the UNION size (a small overlap of
  * two large sets carries a wider relative band — asserted as such,
  * not hidden). No SparkEntry query: DuckDB has no theta sketch, so
  * this spec is the gate (the HLL/KLL/streaming standard).
  */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  // A: tokens 0..59999; B: 40000..99999 → |A|=60k |B|=60k |A∩B|=20k
  // |A∪B|=100k |A\B|=40k, with duplicate occurrences (×3) to prove
  // distinctness; 8 shards each
  private lazy val corpus = spark.range(300000L).select(
    (($"id" % 100000L)).as("tok_id"),
    pmod($"id", lit(8)).as("shard"))
  private lazy val dfA = corpus.filter($"tok_id" < 60000)
    .select(concat(lit("t"), $"tok_id").as("tok"), $"shard", lit("a").as("side"))
  private lazy val dfB = corpus.filter($"tok_id" >= 40000)
    .select(concat(lit("t"), $"tok_id").as("tok"), $"shard", lit("b").as("side"))

  private def sketchOf(df: org.apache.spark.sql.DataFrame,
                       lgK: Int = 12): Array[Byte] =
    Sketches.thetaUnionSketches(
      Sketches.thetaShardSketches(df, Seq("side"), "tok", $"shard", lgK),
      Seq.empty, lgK).head().getAs[Array[Byte]]("tsketch")

  private def estimate(sketch: Column): Long =
    spark.range(1).select(theta_sketch_estimate(sketch)).head().getLong(0)
  private def est(a: Array[Byte]): Long = estimate(lit(a))
  private def inter(a: Array[Byte], b: Array[Byte]): Long =
    estimate(theta_intersection(lit(a), lit(b)))
  private def diff(a: Array[Byte], b: Array[Byte]): Long =
    estimate(theta_difference(lit(a), lit(b)))
  private def union(a: Array[Byte], b: Array[Byte]): Long =
    estimate(theta_union(lit(a), lit(b)))

  test("exact mode: small sets give exact counts and exact set ops") {
    // 1000 distinct < 2^12 nominal entries → no sampling anywhere
    val a = dfA.filter($"tok" rlike "^t[0-9]{1,3}$") // t0..t999
    val blobA = sketchOf(a)
    assert(est(blobA) == 1000L)
    // t500..t1499 (all within dfA's t0..t59999 id space) → overlap t500..t999
    val b = dfA.filter($"tok".isin((500 until 1500).map("t" + _): _*))
    val blobB = sketchOf(b)
    assert(est(blobB) == 1000L)
    assert(inter(blobA, blobB) == 500L)
    assert(diff(blobA, blobB) == 500L)
    assert(union(blobA, blobB) == 1500L)
  }

  test("estimation mode: union/intersect/diff/jaccard track truth in band") {
    val blobA = sketchOf(dfA)
    val blobB = sketchOf(dfB)
    // lgK=12 → RSE ≈ 1/sqrt(4096) ≈ 1.6 %; allow 3σ ≈ 5 % on unions
    def within(e: Long, truth: Double, tol: Double, what: String): Unit =
      assert(math.abs(e - truth) <= truth * tol,
        f"$what: est $e vs truth $truth%.0f (tol ${tol * 100}%.0f%%)")
    within(est(blobA), 60000, 0.05, "|A|")
    within(est(blobB), 60000, 0.05, "|B|")
    within(union(blobA, blobB), 100000, 0.05, "|A∪B|")
    // intersection error is relative to the union: 3σ·(∪/∩) = 5 %·5 = 25 %
    within(inter(blobA, blobB), 20000, 0.25, "|A∩B|")
    within(diff(blobA, blobB), 40000, 0.15, "|A\\B|")
    val j = inter(blobA, blobB).toDouble / union(blobA, blobB)
    assert(math.abs(j - 0.2) < 0.05, s"jaccard $j vs 0.2")
  }

  test("deterministic: recomputation and re-sharding reproduce the bytes") {
    val b1 = sketchOf(dfA)
    val b2 = sketchOf(dfA)
    assert(java.util.Arrays.equals(b1, b2), "same topology must be bit-equal")
    // different shard topology: same retained-hash SET → same compact
    // ordered bytes in exact mode; in estimation mode theta may differ
    // per topology, so compare the ESTIMATE band instead
    val reSharded = Sketches.thetaUnionSketches(
      Sketches.thetaShardSketches(dfA, Seq("side"), "tok",
        pmod(hash($"tok"), lit(3)), 12), Seq.empty, 12)
    val e1 = est(b1).toDouble
    val e2 = est(reSharded.head().getAs[Array[Byte]]("tsketch"))
    assert(math.abs(e1 - e2) <= e1 * 0.05, s"$e1 vs $e2")
  }

  test("overlap report: thetaOverlap computes the slice matrix from blobs") {
    val sa = Sketches.thetaUnionSketches(
      Sketches.thetaShardSketches(dfA, Seq.empty, "tok", $"shard"), Seq.empty)
    val sb = Sketches.thetaUnionSketches(
      Sketches.thetaShardSketches(dfB, Seq.empty, "tok", $"shard"), Seq.empty)
    val rep = Sketches.thetaOverlap(sa, sb, Seq.empty).head()
    assert(math.abs(rep.getAs[Long]("est_a") - 60000) < 3000)
    assert(math.abs(rep.getAs[Long]("est_overlap") - 20000) < 5000)
    assert(math.abs(rep.getAs[Long]("est_only_a") - 40000) < 6000)
    assert(math.abs(rep.getAs[Double]("est_jaccard") - 0.2) < 0.05)
  }

  test("disjoint slices: overlap reads zero; state stays KB-sized") {
    val a = sketchOf(dfA.filter($"tok_id" < 30000))
    val b = sketchOf(dfB.filter($"tok_id" >= 70000))
    assert(inter(a, b) == 0L)
    assert(a.length < 40000, s"blob ${a.length} B") // 4k entries × 8 B + header
  }

  test("nulls are skipped; lgK guard is loud") {
    val withNulls = spark.range(100).select(
      when($"id" % 2 === 0, concat(lit("x"), $"id")).as("tok"),
      lit(0).as("shard"), lit("n").as("side"))
    val blob = sketchOf(withNulls)
    assert(est(blob) == 50L)
    val err = intercept[Exception] {
      dfA.agg(theta_sketch_agg($"tok", 2).as("s")).collect()
    }
    assert(err.getMessage.contains("THETA_INVALID_LG_NOM_ENTRIES"),
      err.getMessage)
  }

  test("sketch bytes written by DataSketches directly still read and roll up") {
    // the encoding persisted at ingest before the built-ins: a theta
    // Union(lgK=12) result serialized with toByteArray
    val u = SetOperation.builder().setLogNominalEntries(12).buildUnion()
    (0 until 1000).foreach(i => u.update(s"t$i"))
    val stored = u.getResult.toByteArray
    assert(est(stored) == 1000L)
    val rolled = Sketches.thetaUnionSketches(
      Seq(stored, stored).toDF("tsketch"), Seq.empty)
      .head().getAs[Array[Byte]]("tsketch")
    assert(est(rolled) == 1000L)
    // same hash seed: set algebra against a freshly built sketch is exact
    val fresh = sketchOf(dfA.filter($"tok" rlike "^t[0-9]{1,3}$"))
    assert(inter(stored, fresh) == 1000L)
  }
}
