package graft.nilm

import graft.operators.Windowing
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** E2/E3 training-set assembly — the Spark-native
  * `prepare_nilm_tensors` (`channel_utils.py:144-248`) +
  * `ConvertToTensor.py:8-92` lifecycle:
  *
  *   1. global appliance order: sorted distinct universal labels,
  *      aggregate excluded (`channel_utils.py:155-162`);
  *   2. per (dataset, house): the aggregate channel series and one
  *      series per appliance label (absent label → zeros,
  *      `channel_utils.py:210-212`);
  *   3. align series across channels;
  *   4. stride windows of `seqLen` every `step` rows (W4), partial
  *      tails dropped;
  *   5. X = aggregate window `array<float>`, Y = per-window
  *      `array<array<float>>` in global label order (S10's tensor
  *      shape `[N, L]` / `[N, L, Z]`, flattened to window rows).
  *
  * Deliberate divergences from the reference (SURVEY §7.4): alignment
  * is BY TIMESTAMP (a pivot over the house's ts axis, missing → 0, J1
  * semantics) rather than the reference's positional truncate-to-min
  * (`channel_utils.py:213-220`), which silently pairs values from
  * different times when series are offset — after resampling to a
  * common rate the two coincide, and the ts form is the correct one
  * at scale ([[graft.operators.Windowing.truncateToMin]] still provides
  * the positional form as an operator). Duplicate (ts, label) readings
  * sum (the reference's dict insert silently keeps the LAST channel of
  * a duplicated label, `channel_utils.py:205-207`).
  *
  * Houses without an aggregate channel are skipped
  * (`channel_utils.py:208-209`); houses shorter than `seqLen` yield no
  * windows. One sorted sweep per house ([[Windowing.windows]]) emits X
  * and Y of each window together from the same rows, so the X–Y pairing
  * (J5) holds by construction, not by a positional pairing.
  *
  * The label order is a collected scalar (A17 — tiny action feeding the
  * plan, like the reference's global sort) and the per-house series are
  * pivoted to label columns before windowing so Y assembly is one pass.
  */
object TensorPrep {

  /** Sorted global appliance order, aggregate/empty excluded. */
  def applianceOrder(ds: NilmDataset): Seq[String] =
    ds.channels
      .select(lower(col("universal_label")).as("l"))
      .filter(col("l") =!= "aggregate" && col("l") =!= "")
      .distinct().orderBy("l")
      .collect().map(_.getString(0)).toSeq

  /** Overlap-form entry point mirroring the reference facade
    * (`channel_utils.py:187-188`): `overlap < 1` is a FRACTION of
    * `seqLen` (0.5 → step = seqLen/2); `overlap >= 1` counts overlap
    * SAMPLES (the reference's int form; step = seqLen − overlap).
    * Step is clamped to ≥ 1 either way. */
  def windowsOverlap(ds: NilmDataset, seqLen: Int, overlap: Double,
                     labels: Option[Seq[String]] = None): DataFrame =
    windows(ds, seqLen,
      graft.operators.Windowing.stepOf(seqLen, overlap,
        fractional = overlap < 1.0),
      labels)

  /** Window rows: dataset, house_id, window_id, x array<float>,
    * y array<array<float>> (label order = [[applianceOrder]]). */
  def windows(ds: NilmDataset, seqLen: Int, step: Int,
              labels: Option[Seq[String]] = None): DataFrame = {
    val order = labels.getOrElse(applianceOrder(ds))
    // label every reading; aggregate channel keeps its own tag
    val labeled = ds.readings.join(
        broadcast(ds.channels.select(
          col("dataset"), col("house_id"), col("channel_id"),
          lower(col("universal_label")).as("l"),
          lower(col("raw_label")).as("rl"))),
        Seq("dataset", "house_id", "channel_id"))
      .withColumn("series",
        when(col("rl") === "aggregate", "aggregate").otherwise(col("l")))
      .filter(col("series") === "aggregate" ||
        col("series").isin(order: _*))
    // wide per-ts frame in ONE conditional-agg pass (equivalent to a
    // fixed-vocabulary pivot + fill): aggregate + one column per label,
    // absent → 0; an aggregate-reading count rides along so the
    // houses-must-have-an-aggregate filter (channel_utils.py:208-209)
    // derives from this (house×ts)-sized frame instead of a second
    // scan of the fact table.
    val series = "aggregate" +: order
    val aggs = series.map(sv =>
      sum(when(col("series") === sv, col("power"))).as(sv)) :+
      count(when(col("series") === "aggregate", 1)).as("__n_agg")
    // persisted: feeds both the house filter and the windowing pass —
    // one scan of the fact table total; this aligned frame is exactly
    // what the reference materializes per house (and what a production
    // pipeline would checkpoint). Registered with graft.Caching — the
    // caller releases after its terminal action.
    // repartition on house_id ALONE: hash partitioning on a SUBSET of
    // the group keys satisfies the clustering the (dataset, house_id,
    // ts) pivot agg needs, so the pivot runs on ONE exchange of the raw
    // readings. `dataset` is deliberately NOT a partitioning key:
    // adapters synthesize it as a literal, and a literal in the
    // partitioning defeats the semantic-equality check against the
    // agg's aliased attribute. The persisted pivot is read back through
    // an InMemoryTableScan that reports no partitioning, so above it the
    // house filter's agg (of per-task partial counts) and the window
    // sweep (of the whole frame) each plan a (dataset, house_id)
    // exchange (pinned in PlanInvariantsSpec). A house's rows concentrate in one task — the
    // per-house series is the reference's own unit of work, bounded by
    // one house's history.
    val wideAll = graft.Caching.persisted(labeled
      .repartition(col("house_id"))
      .groupBy("dataset", "house_id", "ts")
      .agg(aggs.head, aggs.tail: _*)
      .na.fill(0.0, series))
    val housesWithAgg = wideAll
      .groupBy("dataset", "house_id")
      .agg(sum(col("__n_agg")).as("__na"))
      .filter(col("__na") > 0)
      .select("dataset", "house_id")
    // the sweep reads its values from the input row: x is the aggregate,
    // y one float per label in `order`, so y comes out array<array<float>>
    val xy = wideAll
      .join(broadcast(housesWithAgg), Seq("dataset", "house_id"))
      .select(col("dataset"), col("house_id"), col("ts"),
        col("aggregate").cast("float").as("x"),
        array(order.map(l => col(s"`$l`").cast("float")): _*).as("y"))
    Windowing.windows(xy, Seq(col("dataset"), col("house_id")), Seq(col("ts")),
      Seq(col("x"), col("y")), seqLen, step)
  }

  /** P8 activity mask (`train_bert_single.py:76-78`): keep windows
    * whose array has more than `minCount` values above `threshold`. */
  def activityFilter(windows: DataFrame, arr: org.apache.spark.sql.Column,
                     threshold: Double, minCount: Int = 5): DataFrame =
    windows.filter(
      size(filter(arr, v => v > threshold)) > minCount)

  /** A13 + F7 + F8 (`train_bert_single.py:48-53, 68-72`): normalize the
    * X windows by the 0.99 quantile of all X values and clamp to [0, 1].
    * The scalar stays in-plan (cross-join of a 1-row agg) — no
    * driver-side collect. Adds `x_norm`. */
  def normalizeClip(windows: DataFrame): DataFrame = {
    val mp = windows
      .select(explode(col("x")).as("v"))
      .agg(percentile(col("v"), lit(0.99)).as("__max_power"))
    windows.crossJoin(mp)
      .withColumn("x_norm",
        transform(col("x"), v =>
          least(greatest(v / col("__max_power"), lit(0.0)), lit(1.0))
            .cast("float")))
      .drop("__max_power")
  }

  /** S10: the tensor sink — parquet with array columns, partitioned by
    * (dataset, house_id) like the container. */
  def write(windowsDf: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    windowsDf
      .repartition(col("dataset"), col("house_id"))
      .write.mode(mode).partitionBy("dataset", "house_id").parquet(path)
}
