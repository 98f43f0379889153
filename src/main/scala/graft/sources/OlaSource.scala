package graft.sources

import graft.nilm.{Labels, NilmDataset}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** S3 + the OLA dataset semantics (`OlaLoader.py:6-150`): two wide
  * frames — Shelly (one column per device) and EMONESP (columns with
  * `_W/_VA/_Q/_PF` metric suffixes) — become channels of house 1, plus
  * a computed "aggregate" channel: the keep-first-deduped, outer-aligned
  * row-sum of all Shelly columns and the EMONESP `_W` columns
  * (`OlaLoader.py:108-149`).
  *
  * Spark has no native HDF5 source (SURVEY §2.1 S3), so the `.h5`
  * containers are converted to parquet by the driver-side dev tool
  * `tools/h5_to_parquet.py` — parallel across (file, row-chunk) tasks,
  * emitting a directory-of-parts dataset with an explicit [[RowIdxCol]]
  * ingest-order column; this module consumes the converted wide frames
  * (or any DataFrame of the same shape — the tests feed in-memory
  * frames and multi-part directories). Suffix parsing is F2; keep-first
  * dedup is P11/W2; the row-sum is J1+A2 on the narrow layout.
  */
object OlaSource {

  /** `suffix_map` (OlaLoader.py:77-82). Note `_Q` keeps unit "VA" in
    * the reference. */
  val SuffixMap: Seq[(String, (String, String))] = Seq(
    "_W" -> (("active", "watts")),
    "_VA" -> (("apparent", "VA")),
    "_Q" -> (("reactive", "VA")),
    "_PF" -> (("pf", "unitless")))

  /** Explicit ingest-order column written by the parallel converter
    * (`tools/h5_to_parquet.py`): global row index within the source
    * file. Makes keep-first dedup exact regardless of how the
    * directory-of-parts parquet is listed or partitioned. */
  val RowIdxCol = "row_idx"

  private def narrow(wide: DataFrame, tsCol: String,
                     cols: Seq[String]): DataFrame = {
    // prefer the converter's explicit order; monotonically_increasing_id
    // is the fallback for ad-hoc frames and is only order-stable when
    // the input is a single ordered source (single in-memory frame or
    // one-file scan)
    val ordered =
      if (wide.columns.contains(RowIdxCol))
        wide.withColumn("__ord", col(RowIdxCol))
      else wide.withColumn("__ord", monotonically_increasing_id())
    ordered
      .withColumn("ts", timestamp_seconds(col(tsCol).cast("double")))
      .unpivot(Array(col("ts"), col("__ord")),
        cols.map(c => col(s"`$c`").cast("double").as(c)).toArray,
        "col_name", "power")
  }

  /** Keep-first per (col_name, ts) in ingest order (OlaLoader.py:117). */
  private def dedupKeepFirst(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("col_name"), col("ts")).orderBy(col("__ord"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Full load from the two converted wide frames; either may be null
    * (the reference skips missing files). `tsCol` is the epoch-seconds
    * index column produced by the converter. */
  def load(spark: SparkSession, shellyWide: DataFrame, emonWide: DataFrame,
           tsCol: String = "timestamp"): NilmDataset = {
    require(shellyWide != null || emonWide != null, "no OLA input frames")

    def rateOf(df: DataFrame): Option[Long] =
      if (df == null) None
      else Rates.inferPerKey(
          df.select(timestamp_seconds(col(tsCol).cast("double")).as("ts"))
            .withColumn("k", lit(1)),
          Seq(col("k")), col("ts"))
        .collect().headOption.flatMap(r => Option(r.getAs[Long]("rate_s")))

    def dataCols(df: DataFrame): Seq[String] =
      if (df == null) Seq.empty[String]
      else df.columns.filter(c => c != tsCol && c != RowIdxCol).toSeq
    val shellyCols = dataCols(shellyWide)
    val emonCols = dataCols(emonWide)
    // EMONESP columns must carry a known suffix; others are ignored
    // (OlaLoader.py:86-106 `break` on first suffix hit)
    val emonMatched = emonCols.flatMap { c =>
      SuffixMap.collectFirst {
        case (suf, (dt, unit)) if c.endsWith(suf) =>
          (c, c.stripSuffix(suf), dt, unit)
      }
    }

    val shellyNarrow =
      if (shellyCols.isEmpty) None
      else Some(narrow(shellyWide, tsCol, shellyCols))
    val emonNarrow =
      if (emonMatched.isEmpty) None
      else Some(narrow(emonWide, tsCol, emonMatched.map(_._1)))

    def readingsOf(n: DataFrame, prefix: String) =
      n.select(
        lit("ola").as("dataset"), lit(1L).as("house_id"),
        concat(lit(prefix), col("col_name")).as("channel_id"),
        col("ts"), col("power"))
        .filter(col("power").isNotNull)

    val channelReadings =
      (shellyNarrow.map(readingsOf(_, "shelly_")) ++
        emonNarrow.map(readingsOf(_, "emonesp_"))).toSeq

    // computed aggregate: keep-first dedup per frame, align on ts,
    // missing → 0 by absence, row-sum (OlaLoader.py:139-149)
    val aggInputs =
      (shellyNarrow.map(dedupKeepFirst) ++
        emonNarrow.map(n => dedupKeepFirst(
          n.filter(col("col_name").isin(
            emonMatched.filter(_._3 == "active").map(_._1): _*))))).toSeq
    val aggReadings = aggInputs
      .map(_.select(col("ts"), col("power")))
      .reduce(_ unionByName _)
      .filter(col("power").isNotNull)
      .groupBy("ts").agg(sum("power").as("power"))
      .select(lit("ola").as("dataset"), lit(1L).as("house_id"),
        lit("aggregate").as("channel_id"), col("ts"), col("power"))

    val readings = (channelReadings :+ aggReadings).reduce(_ unionByName _)

    val shellyRate = rateOf(shellyWide)
    val emonRate = rateOf(emonWide)
    def chanRow(channelId: String, raw: String, unit: String, dt: String,
                rate: Option[Long], manufacturer: String, model: String,
                device: String) =
      (channelId, raw, Labels.mapLabel(raw), unit, dt,
        rate.map(java.lang.Long.valueOf).orNull, manufacturer, model, device)
    val chanRows =
      shellyCols.map(c => chanRow(s"shelly_$c", c, "watts", "active",
        shellyRate, "Unknown", "Unknown", "Shelly")) ++
        emonMatched.map { case (c, base, dt, unit) =>
          chanRow(s"emonesp_$c", base, unit, dt, emonRate,
            "Unknown", "Unknown", "EMONESP")
        } :+
        chanRow("aggregate", "aggregate", "watts", "active",
          shellyRate.orElse(emonRate), "Computed", "Sum", "Composite")

    import spark.implicits._
    val channels = chanRows
      .toDF("channel_id", "raw_label", "universal_label", "unit",
        "data_type", "sample_rate_s", "manufacturer", "model",
        "acquisition_device")
      .select(lit("ola").as("dataset"), lit(1L).as("house_id"),
        col("channel_id"), col("raw_label"), col("universal_label"),
        col("unit"), col("data_type"), col("sample_rate_s"),
        col("manufacturer"), col("model"), col("acquisition_device"))

    NilmDataset(readings, channels)
  }

  /** Converted-parquet entry point (see `tools/h5_to_parquet.py`).
    * Either frame may be absent; one that exists but cannot be read
    * fails the load. */
  def loadConverted(spark: SparkSession, path: String): NilmDataset = {
    def opt(p: String) =
      if (pathExists(spark, p)) spark.read.parquet(p) else null
    load(spark, opt(s"$path/shelly_data.parquet"),
      opt(s"$path/emonesp_data.parquet"))
  }
}
