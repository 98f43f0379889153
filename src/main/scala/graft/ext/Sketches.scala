package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches over Apache DataSketches, all through Spark's
  * built-in functions (TypedImperativeAggregates, no UDF, nothing to
  * register): HLL distinct counts (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate`), KLL quantiles (`kll_*_double`) and theta
  * set algebra (`theta_*`, bigint estimates).
  *
  * The 100 TB story this module exists for: a production corpus arrives
  * in shards, and "how many distinct tokens / users / urls" must not
  * cost a 100 TB re-read per question. Per-shard sketches are computed
  * once at ingest (ONE map-side-combinable aggregate), persisted as
  * small binary rows (2^lgK registers ≈ 4 KB at lgK=12), and every
  * later rollup — per source, per month, global — is a union of those
  * bytes, never of the raw data. Dense-mode HLL registers combine by
  * element-wise max (associative + commutative); below the dense
  * threshold DataSketches keeps exact coupon lists whose union
  * promotes to the dense estimator, so a sharded-then-merged estimate
  * can differ from the single-pass one by the sketch's OWN error (≈1 %
  * measured at lgK=12), never more — and for fixed input and shard
  * topology the result is deterministic (set-valued state, merge-order
  * independent). SketchesSpec pins all of this: sharded-vs-single and
  * flat-vs-hierarchical within the error band, determinism exactly,
  * and the accuracy bound vs exact distinct (lgK=12 → RSE ≈ 1.04 /
  * sqrt(2^12) ≈ 1.6 %, we allow 3σ).
  *
  * Not exposed as a `SparkEntry.queries` entry: DuckDB's HLL
  * (`approx_count_distinct`) is a different sketch implementation, so
  * no oracle SQL can reproduce these estimates value-for-value; the
  * CLAUDE.md both-sides gate therefore doesn't apply and correctness
  * evidence is SketchesSpec (the same standard as the streaming ops).
  */
object Sketches {

  /** (source, doc_id, tok) frame: lowercased whitespace tokens of the
    * `documents` table — the corpus-vocabulary input shape. */
  def tokens(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text",
             groupCol: String = "source"): DataFrame =
    docs.select(col(groupCol), col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)

  /** Single-pass per-group distinct estimate (the baseline the sharded
    * path must reproduce exactly). */
  def distinctSketch(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_sketch_agg(col(valueCol), lit(lgK)))
        .as("est_distinct"))

  /** The incremental path, stage 1: per-(group, shard) sketches — the
    * small binary rows a pipeline persists at ingest time. `shardCol`
    * is whatever partitions the arriving data (ingest batch, day,
    * file); correctness never depends on it. */
  def shardSketches(df: DataFrame, groupCols: Seq[String],
                    valueCol: String, shardCol: Column,
                    lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col) :+ shardCol.as("shard"): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** The incremental path, stage 2: bytes-only rollup of persisted
    * sketches to any coarser grouping — no raw data touched. */
  def mergeSketches(shards: DataFrame, groupCols: Seq[String]): DataFrame =
    shards.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("est_distinct"))

  /** Partial rollup that keeps the result a SKETCH (for chained /
    * hierarchical merges: shard → day → month → global). */
  def unionSketches(shards: DataFrame, groupCols: Seq[String]): DataFrame =
    shards.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))

  // ---- quantile sketches (DataSketches KLL via Spark's kll_*_double) ----
  // Same ingest-once / rollup-bytes-forever shape as the HLL path, for
  // DISTRIBUTIONS instead of distinct counts: p50/p99 token counts,
  // quality-score CDFs, length histograms — per shard at ingest, then
  // any coarser grouping without touching raw data. Spark's
  // approx_percentile sketch lives and dies inside one aggregation;
  // these blobs persist. Accuracy is KLL's normalized-rank bound
  // (k=200 → ~1.65 % single-sided at 99 % confidence; merge follows
  // the smallest k involved) and estimates are NOT run-deterministic
  // (compaction flips random coins) — QuantileSketchSpec pins the band.
  // Nulls are skipped; quantile and rank reads are INCLUSIVE.

  val DefaultK = 200

  /** Single-pass per-group quantile sketch blob (~KB binary rows). */
  def quantileShardSketches(df: DataFrame, groupCols: Seq[String],
                            valueCol: String, shardCol: Column,
                            k: Int = DefaultK): DataFrame =
    df.groupBy(groupCols.map(col) :+ shardCol.as("shard"): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double"), k)
        .as("qsketch"))

  /** Bytes-only rollup of persisted quantile sketches to any coarser
    * grouping, keeping the result a sketch (chainable). */
  def quantileUnionSketches(shards: DataFrame, groupCols: Seq[String],
                            k: Int = DefaultK): DataFrame =
    shards.groupBy(groupCols.map(col): _*)
      .agg(kll_merge_agg_double(col("qsketch"), k).as("qsketch"))

  /** Read estimates out of sketch rows: one column per requested
    * quantile (`q50`, `q99`, …) — runs on aggregated rows only. An
    * empty sketch (every input null) reads NaN; quantiles whose column
    * names collide (0.995 and 1.0 are both `q100`) are rejected. */
  def quantileEstimates(sketches: DataFrame,
                        quantiles: Seq[Double]): DataFrame = {
    val names = quantiles.map(q => s"q${(q * 100).round}")
    require(names.distinct.size == names.size,
      s"quantiles ${quantiles.mkString(", ")} collide in column names " +
        names.mkString(", "))
    val s = col("qsketch")
    val estimates = names.zip(quantiles).map { case (name, q) =>
      when(kll_sketch_get_n_double(s) === 0, lit(Double.NaN))
        .otherwise(kll_sketch_get_quantile_double(s, lit(q))).as(name)
    }
    sketches.select(col("*") +: estimates: _*).drop("qsketch")
  }

  // ---- theta sketches (set algebra on distinct counts) ----
  // The overlap/contamination-RATE question HLL cannot answer: per-slice
  // sketches at ingest, then |A∩B| / |A\B| / Jaccard for ANY pair of
  // slices as scalar math on KB blobs — never a join of raw corpora.
  // Spark's theta_* built-ins; estimates are bigint. Exact below 2^lgK
  // retained entries, and deterministic for fixed input + shard
  // topology (k-min-hash, no random state); ThetaSketchSpec pins
  // exactness and the estimation-mode bands.

  val DefaultLgK = 12

  /** Single-pass per-(group, shard) theta sketches of a string key. */
  def thetaShardSketches(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, shardCol: Column,
                         lgK: Int = DefaultLgK): DataFrame =
    df.groupBy(groupCols.map(col) :+ shardCol.as("shard"): _*)
      .agg(theta_sketch_agg(col(valueCol), lgK).as("tsketch"))

  /** Bytes-only union rollup to any coarser grouping (chainable). */
  def thetaUnionSketches(shards: DataFrame, groupCols: Seq[String],
                         lgK: Int = DefaultLgK): DataFrame =
    shards.groupBy(groupCols.map(col): _*)
      .agg(theta_union_agg(col("tsketch"), lgK).as("tsketch"))

  /** Pairwise overlap report between two sketch frames (each one
    * `tsketch` row per key): per-side distinct, intersection,
    * difference (bigint estimates), and Jaccard (double) — all from the
    * blobs, next to every non-sketch column of both sides. The join
    * carries only sketch rows (slices, not data), so an all-pairs
    * overlap matrix over S slices is S² KB-sized rows. */
  def thetaOverlap(a: DataFrame, b: DataFrame,
                   joinCols: Seq[String]): DataFrame = {
    val l = a.withColumnRenamed("tsketch", "ts_a")
    val r = b.withColumnRenamed("tsketch", "ts_b")
    val j = if (joinCols.isEmpty) l.crossJoin(r) else l.join(r, joinCols)
    val (ta, tb) = (col("ts_a"), col("ts_b"))
    val overlap = theta_sketch_estimate(theta_intersection(ta, tb))
    j.select(col("*"),
        theta_sketch_estimate(ta).as("est_a"),
        theta_sketch_estimate(tb).as("est_b"),
        overlap.as("est_overlap"),
        theta_sketch_estimate(theta_difference(ta, tb)).as("est_only_a"),
        (overlap / theta_sketch_estimate(theta_union(ta, tb)))
          .as("est_jaccard"))
      .drop("ts_a", "ts_b")
  }
}
