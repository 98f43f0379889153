package graft.tools

import graft.ext.Sketches
import org.apache.spark.sql.functions._

/** Dumps the engine's sketch ESTIMATES (HLL distinct, KLL quantiles,
  * theta overlap) on the `documents` table so `tools/sketch_check.py`
  * can cross-check them against an INDEPENDENT implementation (DuckDB:
  * its own HLL for approx-distinct, plus exact recomputation for the
  * quantile-rank and overlap bands) — the round-16 verdict's missing
  * third route for the estimation regimes, which SketchesSpec can only
  * gate against this library's own exact recomputation (a consistently
  * mis-parameterized estimator that stayed inside its self-declared
  * band would pass; an independent engine's estimate won't follow it).
  *
  * The sketched key is the 3-word SHINGLE stream, not single tokens:
  * the synthetic corpus has a ~31-word per-source vocabulary, so plain
  * tokens would leave every sketch in its exact (coupon / below-k)
  * regime and the check would never touch the estimators. Shingles run
  * ~1.4 k distinct per source — above theta's k=512 at lgK=9 and far
  * above HLL's coupon limit at lgK=7, so both ESTIMATION regimes are
  * genuinely exercised (lgK=12 is dumped alongside as the production
  * parameterization). Shingling (lower → split `\s+` → drop empties →
  * join 3-grams with single spaces) is mirrored verbatim in
  * sketch_check.py's SQL — stream identity is a precondition for the
  * bands to mean anything.
  *
  * Usage: `sbt "runMain graft.tools.SketchDump [sfDir] [outDir]"`, then
  * `python3 tools/sketch_check.py [sfDir] [outDir]`.
  */
object SketchDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/sketch_dump")
    val spark = graft.Session.local(8, 32)

    val docs = graft.Tables.documents(spark, sfDir)
    // (source, doc_id, sh): 3-word shingles of the cleaned token list
    val tok = docs.select(col("source"), col("doc_id"),
        filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0).as("toks"))
      .select(col("source"), col("doc_id"),
        explode(when(size(col("toks")) >= 3,
            expr("transform(sequence(0, size(toks) - 3), i -> " +
              "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .otherwise(array())).as("sh"))

    // HLL sharded-by-ingest-batch then merged — the production path —
    // at lgK=12 (production parameterization, near-exact at this
    // cardinality) and lgK=7 (128 registers « 1.4 k distinct: forced
    // dense-estimation regime)
    Seq(12, 7).foreach { lgK =>
      val shards = Sketches.shardSketches(tok, Seq("source"), "sh",
        pmod(col("doc_id"), lit(8)), lgK = lgK)
      Sketches.mergeSketches(shards, Seq("source"))
        .orderBy("source")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/hll_lgk$lgK")
      // global rollup of the same persisted shard bytes (merge path at
      // corpus scope — ~7 k distinct, estimation regime at both lgKs)
      Sketches.mergeSketches(shards.drop("source"), Seq.empty)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/hll_global_lgk$lgK")
    }

    // KLL k=200 over per-doc n_chars (an exact-mirrorable value),
    // sharded then merged, p50/p99 estimates out of the merged blobs
    val kllShards = Sketches.quantileShardSketches(docs, Seq("source"),
      "n_chars", pmod(col("doc_id"), lit(8)))
    Sketches.quantileEstimates(
        Sketches.quantileUnionSketches(kllShards, Seq("source")),
        Seq(0.5, 0.99))
      .orderBy("source")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/kll")

    // theta lgK=9 (k=512 < per-source shingle cardinality → ESTIMATION
    // regime, the one q94's exact-regime oracle cannot reach):
    // all-pairs source overlap from the blobs
    val thetaBySrc = Sketches.thetaUnionSketches(
      Sketches.thetaShardSketches(tok, Seq("source"), "sh",
        pmod(col("doc_id"), lit(8)), lgK = 9),
      Seq("source"), lgK = 9)
    Sketches.thetaOverlap(
        thetaBySrc.withColumnRenamed("source", "src_a"),
        thetaBySrc.withColumnRenamed("source", "src_b"), Seq.empty)
      .filter(col("src_a") < col("src_b"))
      .orderBy("src_a", "src_b")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/theta")

    graft.Caching.release()
    println(s"""{"metric":"sketch_dump","out":"$outDir"}""")
    spark.stop()
  }
}
