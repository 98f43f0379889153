package graft.nilm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The canonical NILM data model: a narrow `readings` fact table plus a
  * small `channels` dimension — the Spark-native form of the reference's
  * `BaseNILMDataset` / `TimeSeriesNILMDataset`
  * (`UnifiedNILM/UnifiedNILM.py:126-154, 383-491`).
  *
  * readings: dataset STRING, house_id BIGINT, channel_id STRING,
  *           ts TIMESTAMP, power DOUBLE
  * channels: dataset, house_id, channel_id, raw_label, universal_label,
  *           unit, data_type, sample_rate_s, manufacturer, model,
  *           acquisition_device
  *
  * Scale design: `readings` is the 100 TB table — partitioned by
  * (dataset, house_id) on disk, shuffled only on explicit groupBys;
  * `channels` is dimension-sized and always broadcast. Label/type/device
  * predicates are applied to the dimension first and reach the fact scan
  * as a broadcast semi-join (Catalyst pushes the dataset/house equality
  * predicates into the parquet scan directly).
  */
/** Typed row of the canonical readings fact table. */
final case class Reading(dataset: String, house_id: Long, channel_id: String,
                         ts: java.sql.Timestamp, power: Double)

/** Typed row of the channels dimension. */
final case class ChannelMeta(dataset: String, house_id: Long,
                             channel_id: String, raw_label: String,
                             universal_label: String, unit: String,
                             data_type: String,
                             sample_rate_s: Option[Long],
                             manufacturer: String, model: String,
                             acquisition_device: String)

final case class NilmDataset(readings: DataFrame, channels: DataFrame) {

  /** Typed views for call sites that want compile-time schemas
    * (`Dataset[T]` with case-class encoders); the engine's operators
    * stay on DataFrame where schemas are dynamic. */
  def typedReadings: org.apache.spark.sql.Dataset[Reading] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Reading]
    readings.select("dataset", "house_id", "channel_id", "ts", "power")
      .as[Reading]
  }

  def typedChannels: org.apache.spark.sql.Dataset[ChannelMeta] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ChannelMeta]
    channels.as[ChannelMeta]
  }

  /** Cross-dataset merge (T4) — schemas are canonical, so `unionByName`
    * is exact (reference: `channel_utils.py:29-41`). */
  def union(other: NilmDataset): NilmDataset =
    NilmDataset(readings.unionByName(other.readings),
      channels.unionByName(other.channels))

  /** Readings of the channels selected by `dimPred`, optionally sliced
    * to [start, end] *inclusive* (pandas `.loc` semantics,
    * `UnifiedNILM.py:397`). The dimension side is broadcast. */
  def readingsWhere(dimPred: Column,
                    start: Option[String] = None,
                    end: Option[String] = None): DataFrame = {
    val dims = channels.filter(dimPred)
      .select("dataset", "house_id", "channel_id")
    val joined = readings.join(broadcast(dims),
      Seq("dataset", "house_id", "channel_id"))
    slice(joined, start, end)
  }

  private def slice(df: DataFrame, start: Option[String], end: Option[String]) = {
    val s = start.map(x => col("ts") >= lit(x).cast("timestamp"))
    val e = end.map(x => col("ts") <= lit(x).cast("timestamp"))
    (s ++ e).foldLeft(df)(_ filter _)
  }

  /** `get_appliance_power` (`UnifiedNILM.py:385-401`): all channels with
    * the universal label, case-insensitive, inclusively sliced. */
  def getAppliancePower(universalLabel: String,
                        start: Option[String] = None,
                        end: Option[String] = None): DataFrame =
    readingsWhere(lower(col("universal_label")) === universalLabel.toLowerCase,
      start, end)

  /** `get_aggregate` (`UnifiedNILM.py:403-411`): the directly-metered
    * aggregate channel (raw_label == "aggregate", case-insensitive). */
  def getAggregate(start: Option[String] = None,
                   end: Option[String] = None): DataFrame =
    readingsWhere(lower(col("raw_label")) === "aggregate", start, end)

  /** `get_channels_by_power_type` (`UnifiedNILM.py:414-434`): dimension
    * rows matching data_type and (optionally) acquisition device. */
  def getChannelsByPowerType(powerType: String,
                             acquisitionDevice: Option[String] = None): DataFrame = {
    val base = channels.filter(lower(col("data_type")) === powerType.toLowerCase)
    acquisitionDevice.fold(base)(d =>
      base.filter(lower(col("acquisition_device")) === d.toLowerCase))
  }

  /** `compute_aggregate_from_appliances` (`UnifiedNILM.py:438-491`):
    * sum all non-aggregate channels of `powerType` minus the exclusion
    * sets, aligned on timestamp. The reference full-outer-concats the
    * series and `fillna(0)`s before a row-wise sum (J1 + A2); on the
    * narrow layout that is exactly `groupBy(ts).sum(power)` — absent
    * channels contribute 0 by absence, no N-way join needed. One
    * map-side-combinable shuffle on (dataset, house_id, ts).
    *
    * (The reference's `power_{ch_id}` stale-rename bug at
    * `UnifiedNILM.py:485` — every column named after the *last* loop
    * variable — is deliberately not replicated; see SURVEY §7.4.)
    */
  def computeAggregateFromAppliances(
      powerType: String = "active",
      excludeLabels: Seq[String] = Nil,
      excludeChannels: Seq[String] = Nil,
      excludeAcquisitionDevices: Seq[String] = Nil,
      start: Option[String] = None,
      end: Option[String] = None): DataFrame = {
    val exL = excludeLabels.map(_.toLowerCase)
    val exD = excludeAcquisitionDevices.map(_.toLowerCase)
    var pred = lower(col("raw_label")) =!= "aggregate" &&
      lower(col("data_type")) === powerType.toLowerCase
    if (exL.nonEmpty) pred = pred && !lower(col("universal_label")).isin(exL: _*)
    if (excludeChannels.nonEmpty) pred = pred && !col("channel_id").isin(excludeChannels: _*)
    if (exD.nonEmpty) pred = pred && !lower(col("acquisition_device")).isin(exD: _*)
    readingsWhere(pred, start, end)
      .groupBy(col("dataset"), col("house_id"), col("ts"))
      .agg(sum(col("power")).as("aggregate_computed"))
  }

  /** `resample_all_channels` (`UnifiedNILM.py:162-185`): bucket-mean
    * every channel to `seconds`, SKIPPING channels whose current rate
    * is already coarser (the per-channel no-upsample guard,
    * `UnifiedNILM.py:118-120` — those pass through unchanged, as in the
    * reference). Uses the dimension's `sample_rate_s`; channels with an
    * unknown rate are resampled (the reference infers, then proceeds).
    * One shuffle for the resampled readings; pass-through channels are
    * not shuffled at all. */
  def resampleAllChannels(seconds: Long): NilmDataset = {
    val keys = Seq("dataset", "house_id", "channel_id")
    val rateDim = broadcast(
      channels.select((keys :+ "sample_rate_s").map(col): _*))
    val tagged = readings.join(rateDim, keys)
    val tooCoarse = col("sample_rate_s") > seconds
    val passThrough = tagged.filter(tooCoarse)
      .select("dataset", "house_id", "channel_id", "ts", "power")
    val resampled = graft.operators.Resample.bucketAgg(
        tagged.filter(!tooCoarse || col("sample_rate_s").isNull),
        "ts", s"$seconds seconds", keys,
        avg(col("power")).as("power"))
      .select(col("dataset"), col("house_id"), col("channel_id"),
        col("bucket_start").as("ts"), col("power"))
    val newDim = channels.withColumn("sample_rate_s",
      when(col("sample_rate_s") > seconds, col("sample_rate_s"))
        .otherwise(lit(seconds)))
    NilmDataset(resampled.unionByName(passThrough), newDim)
  }

  /** A16: dataset-level sample rate = median of the per-channel rates
    * (`REFITLoader.py:111-116`). One row per dataset. */
  def sampleRateSummary: DataFrame =
    channels
      .filter(col("sample_rate_s").isNotNull)
      .groupBy("dataset")
      .agg(floor(percentile(col("sample_rate_s"), lit(0.5))).cast("long")
        .as("median_rate_s"),
        count(lit(1)).as("n_channels"))

  /** `get_common_channels` (`channel_utils.py:7-81`): houses that have
    * ALL `requiredLabels` (relational division, T2), then the best
    * channel per (house, label) by (variance, length) descending (W3 +
    * A12). `requiredDataTypes` optionally restricts candidate channels
    * to the allowed `data_type`s BEFORE scoring
    * (`channel_utils.py:10,36,53`) — a house only qualifies if every
    * required label still has a candidate after the type filter
    * (`channel_utils.py:75`, the `len(filtered)` check, which is what
    * the division below computes). An EMPTY `requiredLabels` is the
    * reference's `required_labels=None` form: every channel is a
    * candidate and no house is excluded — best channel per
    * (house, label) for all houses (`channel_utils.py:46,75` both
    * guard on the set being provided). Returns one row per
    * (dataset, house_id, universal_label) with the winning channel_id,
    * its sample variance and row count. */
  def commonChannels(requiredLabels: Seq[String] = Nil,
                     requiredDataTypes: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val req = requiredLabels.map(_.toLowerCase)
    val types = requiredDataTypes.map(_.toLowerCase)
    val cand = channels
      .filter(if (req.isEmpty) lit(true)
              else lower(col("universal_label")).isin(req: _*))
      .filter(if (types.isEmpty) lit(true)
              else lower(col("data_type")).isin(types: _*))
    // per-channel score over the fact table — persisted: the score
    // frame is dimension-sized (one row per channel) but feeds both the
    // division branch and the final ranked join, which would otherwise
    // each rescan the fact table. Registered with graft.Caching: the
    // caller releases it after the terminal action (see Caching's
    // contract).
    val scored = graft.Caching.persisted(readings.join(
        broadcast(cand.select("dataset", "house_id", "channel_id",
          "universal_label")),
        Seq("dataset", "house_id", "channel_id"))
      .groupBy("dataset", "house_id", "channel_id", "universal_label")
      .agg(variance(col("power")).as("variance"),
        count(lit(1)).as("n")))
    val ranked = {
      val w = Window.partitionBy("dataset", "house_id", "universal_label")
        .orderBy(col("variance").desc, col("n").desc, col("channel_id"))
      val base =
        if (req.isEmpty) scored // no-labels form: every house qualifies
        else {
          // division: houses holding every required label
          val eligible = scored
            .groupBy("dataset", "house_id")
            .agg(countDistinct(lower(col("universal_label"))).as("n_labels"))
            .filter(col("n_labels") === req.size)
            .select("dataset", "house_id")
          scored.join(broadcast(eligible), Seq("dataset", "house_id"))
        }
      base.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .drop("rk")
    }
    ranked
  }
}

object NilmDataset {

  /** Adapter: the driver's `events` table viewed as a NILM dataset —
    * house = user_id, channel = (event_type, props.k parity), power =
    * value. Channel metadata is derived deterministically so every
    * label-mapping tier, power type, and acquisition device is
    * represented (the DuckDB oracles re-derive the same dimension).
    *
    * raw-label pool: view → "aggregate" (the metered mains channel),
    * click → "Fridge_Freezer" (tier-1 exact after normalization),
    * purchase → "washing machine" (tier-1), signup → "big vivarium tank"
    * (tier-3 universal-name substring), error → "mystery gadget 9000"
    * (fallback "other").
    */
  def fromEvents(spark: SparkSession, sfDir: String): NilmDataset = {
    // persisted: the JSON-parsed frame feeds BOTH the readings and the
    // dimension (distinct) branches — one parse scan instead of two per
    // facade query. The shred itself is the native graft_json_long
    // scanner (codegen'd, ~2× get_json_object's interpreted Jackson
    // parse; parity property-tested in JsonLongKeySpec). Registered
    // with graft.Caching — the caller releases after its terminal
    // action.
    graft.plans.GraftExtensions.register(spark)
    val ev = graft.Caching.persisted(graft.Tables.events(spark, sfDir)
      .withColumn("k", expr("graft_json_long(props, 'k')"))
      .withColumn("channel_id",
        concat(col("event_type"), lit("_"), (col("k") % 2).cast("string"))))
    // second-truncated ts so distinct channels actually share timestamps
    // (the raw event ts is µs-unique, which would make J1 alignment
    // degenerate); duplicate (channel, ts) seconds are kept — the sum
    // semantics of compute_aggregate handle them, and pandas concat on
    // duplicate indexes is a reference behavior we deliberately don't
    // mirror (it cross-joins).
    val readings = ev.select(
      lit("events").as("dataset"),
      col("user_id").as("house_id"),
      col("channel_id"),
      date_trunc("second", col("ts")).as("ts"),
      col("value").as("power"))
    // the raw-label pool is a plan-time constant, so the universal
    // labels resolve at plan time through the Scala mapper — the
    // ~380-branch match expression never runs per dimension row (it
    // cost ~1 ms/row interpreted, which dominated every facade query
    // at sf0.1 before this)
    def byType(f: String => String) =
      when(col("event_type") === "view", f("aggregate"))
        .when(col("event_type") === "click", f("Fridge_Freezer"))
        .when(col("event_type") === "purchase", f("washing machine"))
        .when(col("event_type") === "signup", f("big vivarium tank"))
        .otherwise(f("mystery gadget 9000"))
    val dims = ev
      .select(col("user_id").as("house_id"), col("event_type"),
        col("channel_id"), (col("k") % 2).as("parity"))
      .distinct()
      .withColumn("raw_label", byType(identity))
      .select(
        lit("events").as("dataset"),
        col("house_id"),
        col("channel_id"),
        col("raw_label"),
        byType(Labels.mapLabel).as("universal_label"),
        when(col("parity") === 0, "watts").otherwise("VA").as("unit"),
        when(col("parity") === 0, "active").otherwise("apparent").as("data_type"),
        lit(8L).as("sample_rate_s"),
        lit("Unknown").as("manufacturer"),
        lit("Unknown").as("model"),
        when(col("event_type").isin("view", "click"), "Shelly")
          .otherwise("EMONESP").as("acquisition_device"))
    NilmDataset(readings, dims)
  }

  /** SQL fragments the DuckDB oracles share with [[fromEvents]]. */
  object EventsOracle {
    val kExpr = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    val channelExpr = s"event_type || '_' || CAST($kExpr % 2 AS VARCHAR)"
    val rawLabelExpr =
      """CASE event_type WHEN 'view' THEN 'aggregate'
         WHEN 'click' THEN 'Fridge_Freezer'
         WHEN 'purchase' THEN 'washing machine'
         WHEN 'signup' THEN 'big vivarium tank'
         ELSE 'mystery gadget 9000' END"""
    val deviceExpr =
      "CASE WHEN event_type IN ('view','click') THEN 'Shelly' ELSE 'EMONESP' END"
    val dataTypeExpr =
      s"CASE WHEN $kExpr % 2 = 0 THEN 'active' ELSE 'apparent' END"
  }
}
