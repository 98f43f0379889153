package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.util.Using

import graft.nilm.{Labels, NilmDataset}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S2/S5/P1/P10/F3/F4: REFIT wide CSVs — `CLEAN_HouseN.csv` with
  * `Unix, Time, Issues, Aggregate, Appliance1..9` columns; `Time` and
  * `Issues` dropped, every remaining column is a channel whose id is
  * its 1-based position (`REFITLoader.py:36-116`).
  *
  * Houses have independent column sets, so files are enumerated
  * driver-side (house count is tiny) and each house's frame is
  * unpivoted to the narrow layout with the built-in `unpivot` — the
  * wide→narrow `stack` is executor-side; nothing per-row runs on the
  * driver. Metadata joins broadcast; rates are the median positive
  * delta of the house's shared index (`REFITLoader.py:83-89`).
  */
object RefitSource {

  private def listHouseFiles(spark: SparkSession, path: String): Seq[(Int, String)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter { f =>
        f.getName.startsWith("CLEAN_House") && f.getName.endsWith(".csv")
      }
      .sortBy(_.getName) // deterministic ingest order (O6)
      .map(f => (f.getName.stripPrefix("CLEAN_House").stripSuffix(".csv").toInt,
        f.toString))
  }

  /** One house: wide csv → narrow (house_id, channel_n, col_name, ts, power).
    * The column names come from the file's first line, read through
    * the Hadoop FS, so no Spark job infers the header. */
  def loadHouse(spark: SparkSession, houseId: Int, file: String): DataFrame = {
    val p = new Path(file)
    val header = Using.resource(new BufferedReader(new InputStreamReader(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p),
      StandardCharsets.UTF_8)))(_.readLine())
    require(header != null, s"empty REFIT csv: $file")
    val names = header.split(",", -1).map(_.stripPrefix("\"").stripSuffix("\""))
    val chanCols = names.filterNot(Set("Unix", "Time", "Issues")) // P1
    val narrow = spark.read.option("header", value = true)
      .schema(StructType(names.map(StructField(_, StringType)))).csv(file)
      .withColumn("ts", timestamp_seconds(col("Unix").cast("long")))
      .unpivot(
        Array(col("ts")),
        chanCols.map(c => col(s"`$c`").cast("double").as(c)),
        "col_name", "power")
    val pos = chanCols.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    narrow
      .withColumn("house_id", lit(houseId.toLong))
      .withColumn("channel_n", element_at(typedlit(pos), col("col_name")))
  }

  def load(spark: SparkSession, path: String): NilmDataset = {
    val perHouse = listHouseFiles(spark, path)
      .map { case (hid, f) => loadHouse(spark, hid, f) }
    require(perHouse.nonEmpty, s"no CLEAN_House*.csv under $path")
    val narrow = perHouse.reduce(_ unionByName _)

    val readings = narrow.select(
      lit("refit").as("dataset"),
      col("house_id"),
      concat(lit("channel_"), col("channel_n")).as("channel_id"),
      col("ts"),
      col("power"))

    // shared house index → per-house rate (REFITLoader.py:83-89); the
    // reference falls back to "8S" when no positive delta exists
    val houseRates = Rates.inferPerKey(
        narrow.select(col("house_id"), col("ts")).distinct(),
        Seq(col("house_id")), col("ts"))
      .withColumn("rate_s", coalesce(col("rate_s"), lit(8L)))

    val meta = HouseMetadata.read(spark,
      s"$path/refit_appliance_metadata.json", "manufacturer", "model")
    val channels = Labels.attachUniversal(narrow
      .select("house_id", "channel_n", "col_name").distinct()
      .join(broadcast(meta), Seq("house_id", "channel_n"), "left")
      .join(broadcast(houseRates.select("house_id", "rate_s")), Seq("house_id"))
      // raw label: "aggregate" for Aggregate* columns, else metadata,
      // else the trimmed column name (REFITLoader.py:68-75)
      .withColumn("raw_label",
        when(lower(col("col_name")).startsWith("aggregate"), "aggregate")
          .otherwise(coalesce(col("raw_label_meta"), trim(col("col_name"))))),
        "raw_label")
      .select(
        lit("refit").as("dataset"),
        col("house_id"),
        concat(lit("channel_"), col("channel_n")).as("channel_id"),
        col("raw_label"),
        col("universal_label"),
        lit("watts").as("unit"),
        lit("active").as("data_type"),
        col("rate_s").as("sample_rate_s"),
        coalesce(col("manufacturer"), lit("")).as("manufacturer"),
        coalesce(col("model"), lit("")).as("model"),
        lit("IAM").as("acquisition_device"))

    NilmDataset(readings, channels)
  }
}
