package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The appliance-metadata JSON shared by UK-DALE and REFIT:
  * `{"House N": [{channel, appliance_raw_label, ...}, ...], ...}`
  * (`UKDALELoader.py:39-58`, `REFITLoader.py:68-75`). */
object HouseMetadata {

  /** One row per (house_id, channel_n) with `raw_label_meta` and the
    * per-channel `fields`. The top-level keys are dynamic, so the
    * (dim-sized) schema is introspected driver-side and each house
    * exploded. */
  def read(spark: SparkSession, file: String, fields: String*): DataFrame = {
    val meta = spark.read.option("multiLine", value = true).json(file)
    meta.schema.fieldNames.filter(_.startsWith("House ")).map { hk =>
      meta.select(explode(col(s"`$hk`")).as("e"))
        .select(Seq(
          lit(hk.stripPrefix("House ").trim.toInt).as("house_id"),
          col("e.channel").cast("int").as("channel_n"),
          col("e.appliance_raw_label").as("raw_label_meta")) ++
          fields.map(f => col(s"e.$f").as(f)): _*)
    }.reduce(_ unionByName _)
  }
}
