package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid gap fill with linear interpolation — the upsample
  * sibling of [[Resample]] (A1 downsamples to a coarser grid; this
  * fills the holes a sparse series leaves in a regular grid). The NILM
  * reference's pandas pipelines lean on `resample().mean()` +
  * `fillna`; a linear-interpolation gap fill is the standard next step
  * for sensor series with dropouts (and the F6 `fillna` family's
  * continuous counterpart).
  *
  * ==Semantics==
  * Per key: bucket observations to the grid (`step` seconds, mean per
  * bucket), span the grid from the key's first to last non-empty
  * bucket, and fill interior empty buckets by linear interpolation
  * between the nearest non-empty buckets on each side:
  *
  *   v(t) = v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev)
  *
  * Grid ends are observed by construction (the span starts/ends at
  * non-empty buckets), so every empty bucket has both neighbors —
  * no extrapolation policy needed.
  *
  * ==Scale shape (100 TB)==
  * The only raw-data-sized wide operation is the bucket-mean
  * aggregation — map-side combinable, so each task emits one partial
  * row per (key, bucket) it saw, and a raw series of any density
  * collapses to grid cardinality before it ever shuffles. Everything
  * downstream (span agg, grid join, both window passes) operates on
  * bucket/grid-sized frames, all hashed on the same key family. The
  * backward fill is a `last ignoreNulls` RUNNING frame
  * (unboundedPreceding..currentRow — incrementally maintained, O(n)
  * per key); the forward fill is the SAME running-frame shape over the
  * DESCENDING order, not a (currentRow..unboundedFollowing) frame —
  * Spark executes an unboundedFollowing frame by re-scanning the
  * remaining rows for EVERY row, O(n²) per key, which
  * `ScaleBench pack` round 20 measured as a superlinear bend on q101
  * (×4 data → ×13 time) before this rewrite. The two directions cost
  * one exchange plus two in-partition sorts (asc + desc), both over
  * the grid-sized frame. The grid explode is `sequence(min, max,
  * step)` per key — rows ∝ span/step, generated map-side after the
  * span agg, never collected.
  */
object GapFill {

  /** @param step grid step in seconds (buckets are ts floored to it) */
  def interpolate(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  valCol: String, step: Long): DataFrame = {
    val keys = keyCols.map(col)
    val bucket = timestamp_seconds(
      (unix_timestamp(col(tsCol)) / step).cast("long") * step)
    val hourly = df
      .groupBy(keys :+ bucket.as("__h"): _*)
      .agg(avg(col(valCol)).as("__v"))
    val span = hourly.groupBy(keys: _*)
      .agg(min(col("__h")).as("__mn"), max(col("__h")).as("__mx"))
    // two-level grid explode: sequence(min, max, step) materializes the
    // WHOLE grid as one array inside one row — a decade-long key at a
    // 1 s step would be a ~3·10^8-element cell (executor OOM long
    // before Spark's sequence-length cap). Chunking bounds every
    // generated array at `chunk` elements while producing the identical
    // row set (GapFillSpec pins multi-chunk ≡ values).
    val chunk = 8192L
    val chunkStarts = sequence(col("__mn"), col("__mx"),
      expr(s"INTERVAL ${step * chunk} SECONDS"))
    val grid = span
      .select(keys ++ Seq(explode(chunkStarts).as("__c"), col("__mx")): _*)
      .select(keys :+ explode(sequence(col("__c"),
        least(col("__c") + expr(s"INTERVAL ${step * (chunk - 1)} SECONDS"),
          col("__mx")),
        expr(s"INTERVAL $step SECONDS"))).as("__h"): _*)
    val g = grid.join(hourly, keyCols :+ "__h", "left")
    val back = Window.partitionBy(keys: _*).orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward fill as a DESC running frame: last-non-null-so-far over
    // __h descending ≡ first-non-null-ahead over __h ascending, but
    // executes as an incrementally-maintained frame instead of the
    // O(n²)-per-key unboundedFollowing re-scan (see scaladoc)
    val fwd = Window.partitionBy(keys: _*).orderBy(col("__h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsH = when(col("__v").isNotNull, col("__h"))
    val pv = last(col("__v"), ignoreNulls = true).over(back)
    val ph = last(obsH, ignoreNulls = true).over(back)
    val nv = last(col("__v"), ignoreNulls = true).over(fwd)
    val nh = last(obsH, ignoreNulls = true).over(fwd)
    val frac = (unix_timestamp(col("__h")) - unix_timestamp(ph)).cast("double") /
      (unix_timestamp(nh) - unix_timestamp(ph)).cast("double")
    g.select(keys ++ Seq(col("__h").as(tsCol),
      coalesce(col("__v"), pv + (nv - pv) * frac).as(valCol),
      col("__v").isNotNull.as("observed")): _*)
  }
}
