package graft.sources

import graft.nilm.{Labels, NilmDataset}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** S1/S5/J2/J3/F3/F4/P9: the UK-DALE raw layout — per-channel
  * whitespace-separated `channel_N.dat` files (`timestamp power`, epoch
  * seconds) under `house_N/` directories, plus a combined metadata JSON
  * (`UKDALELoader.py:17-117`).
  *
  * Spark-first shape: ONE distributed csv scan over the
  * `house_* / channel_*.dat` files (each file a split; no per-channel
  * driver loop), house/channel ids parsed from `input_file_name()`, metadata
  * attached via a broadcast join, rates inferred per channel with one
  * window pass. Malformed rows are skipped per-row (PERMISSIVE nulls →
  * filter) rather than dropping the whole channel like the reference's
  * per-file try/except (`UKDALELoader.py:116-117`) — a deliberate
  * improvement, noted per SURVEY §7.4.
  *
  * The reference's hard-coded `house_id != 4` dev filter
  * (`UKDALELoader.py:49-50`) is not replicated.
  */
object UkdaleSource {

  /** `ACQUISITION_DEVICE_POWER_TYPES` (UKDALELoader.py:9-14). */
  val DevicePowerTypes: Map[String, (String, String)] = Map(
    "EcoManagerWholeHouseTx" -> (("apparent", "VA")),
    "EcoManagerTxPlug" -> (("active", "watts")),
    "CurrentCostTx" -> (("apparent", "VA")),
    "SoundCardPowerMeter" -> (("active", "watts")))

  private val deviceDataType = DevicePowerTypes.map { case (k, v) => k -> v._1 }
  private val deviceUnit = DevicePowerTypes.map { case (k, v) => k -> v._2 }

  /** Full load: raw tree → canonical NilmDataset. */
  def load(spark: SparkSession, path: String): NilmDataset = {
    val fileRe = ".*/house_(\\d+)/channel_(\\d+)\\.dat$"
    val raw = spark.read
      .schema("ts_s LONG, power DOUBLE")
      .option("sep", " ")
      .option("mode", "PERMISSIVE")
      .csv(globFiles(spark, s"$path/house_*/channel_*.dat"): _*)
      .withColumn("__file", input_file_name())
      // strict channel_N.dat match drops button_press files
      // (UKDALELoader.py:64-65) and malformed names in one predicate
      .withColumn("house_id", regexp_extract(col("__file"), fileRe, 1))
      .withColumn("channel_n", regexp_extract(col("__file"), fileRe, 2))
      .filter(col("house_id") =!= "" && col("ts_s").isNotNull &&
        col("power").isNotNull)
      .select(
        col("house_id").cast("long").as("house_id"),
        col("channel_n").cast("int").as("channel_n"),
        timestamp_seconds(col("ts_s")).as("ts"),
        col("power"))

    val readings = raw.select(
      lit("ukdale").as("dataset"),
      col("house_id"),
      concat(lit("channel_"), col("channel_n")).as("channel_id"),
      col("ts"),
      col("power"))

    val rates = Rates.inferPerKey(raw,
      Seq(col("house_id"), col("channel_n")), col("ts"))

    val meta = HouseMetadata.read(spark,
      s"$path/metadata/ukdale_combined_metadata.json",
      "manufacturer", "model", "acquisition_device")
    val channels = Labels.attachUniversal(rates
      .join(broadcast(meta), Seq("house_id", "channel_n"), "left")
      .withColumn("raw_label",
        coalesce(col("raw_label_meta"),
          concat(lit("channel_"), col("channel_n"))))
      .withColumn("acquisition_device",
        coalesce(col("acquisition_device"), lit("Unknown"))), "raw_label")
      .select(
        lit("ukdale").as("dataset"),
        col("house_id"),
        concat(lit("channel_"), col("channel_n")).as("channel_id"),
        col("raw_label"),
        col("universal_label"),
        coalesce(element_at(typedlit(deviceUnit), col("acquisition_device")),
          lit("unknown")).as("unit"),
        coalesce(element_at(typedlit(deviceDataType), col("acquisition_device")),
          lit("unknown")).as("data_type"),
        col("rate_s").as("sample_rate_s"),
        coalesce(col("manufacturer"), lit("Unknown")).as("manufacturer"),
        coalesce(col("model"), lit("Unknown")).as("model"),
        col("acquisition_device"))

    NilmDataset(readings, channels)
  }
}
