package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S4/F10/F12/P9/A3: Shelly MQTT JSON-lines logs
  * (`ola_dataset/preprocess_shelly.py:16-63`) — one JSON object per
  * line: `{"ts": epoch_s, "payload": {"dst": "<device>/events",
  * "params": {"switch:0": {"apower": W}}}}`.
  *
  * Distributed text scan + `from_json` (malformed lines → null → one
  * filter, replicating the reference's per-line try/except), `/events`
  * suffix strip, duplicate (ts, device) readings averaged before any
  * pivot (`preprocess_shelly.py:63`). Returns the narrow layout; the
  * wide frame is a derived view (A4), never the storage format.
  *
  * Structured Streaming note: this same parse works under `readStream`
  * on a file/Kafka source unchanged — schema and transforms are
  * identical (SURVEY §2.9).
  */
object MqttSource {

  val schema: StructType = StructType(Seq(
    StructField("ts", DoubleType),
    StructField("payload", StructType(Seq(
      StructField("dst", StringType),
      StructField("params", StructType(Seq(
        StructField("switch:0", StructType(Seq(
          StructField("apower", DoubleType))))))))))))

  /** Parsed per-reading rows: device STRING, ts TIMESTAMP, apower
    * DOUBLE (duplicates averaged). `glob` should match the
    * `mqtt.log.YYYYMMDD` files. */
  def load(spark: SparkSession, glob: String): DataFrame = {
    val parsed = spark.read.text(globFiles(spark, glob): _*)
      .select(from_json(col("value"), schema).as("j"))
      .select(
        col("j.ts").as("ts_s"),
        col("j.payload.dst").as("dst"),
        col("j.payload.params.`switch:0`.apower").as("apower"))
      // reference keeps only dict payloads with dst containing "/events"
      // and a present apower (preprocess_shelly.py:28-43)
      .filter(col("ts_s").isNotNull && col("dst").isNotNull &&
        col("dst").contains("/events") && col("apower").isNotNull)
      .withColumn("device", regexp_replace(col("dst"), "/events", ""))
    parsed
      .groupBy(col("device"),
        timestamp_seconds(col("ts_s")).as("ts"))
      .agg(avg(col("apower")).as("apower"))
  }

  /** The derived wide view (A4 + F6): one column per device, missing →
    * 0.0 (`preprocess_shelly.py:64`). Bounded eager distinct for the
    * pivot vocabulary (device count is dimension-sized). */
  def pivoted(readings: DataFrame): DataFrame =
    readings.groupBy("ts").pivot("device").agg(first("apower")).na.fill(0.0)
}
