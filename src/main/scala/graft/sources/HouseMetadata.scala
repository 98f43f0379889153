package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The appliance-metadata JSON shared by UK-DALE and REFIT:
  * `{"House N": [{channel, appliance_raw_label, ...}, ...], ...}`
  * (`UKDALELoader.py:39-58`, `REFITLoader.py:68-75`). */
object HouseMetadata {

  /** One row per (house_id, channel_n) with `raw_label_meta` and the
    * per-channel `fields` (strings; absent = null). One read, parsed
    * into a declared `map<string, array<struct>>` that absorbs the
    * dynamic house keys, so building runs no Spark job; a malformed
    * file or a non-integer `House` key fails the read. */
  def read(spark: SparkSession, file: String, fields: String*): DataFrame = {
    val entry = StructType((Seq("channel", "appliance_raw_label") ++ fields)
      .map(StructField(_, StringType)))
    val houses = from_json(col("value"), MapType(StringType, ArrayType(entry)),
      Map("mode" -> "FAILFAST"))
    val id = trim(col("key").substr(7, Int.MaxValue)).try_cast("int")
    spark.read.option("wholetext", value = true).text(file)
      .select(explode(houses))
      .filter(col("key").startsWith("House "))
      .select(
        when(id.isNull, raise_error(concat(
          lit("metadata key is not 'House <integer>': "), col("key"))))
          .otherwise(id).as("house_id"),
        explode(col("value")).as("e"))
      .select(Seq(
        col("house_id"),
        col("e.channel").cast("int").as("channel_n"),
        col("e.appliance_raw_label").as("raw_label_meta")) ++
        fields.map(f => col(s"e.$f").as(f)): _*)
  }
}
