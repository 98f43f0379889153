package graft.sources

import graft.nilm.NilmDataset
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S7/S8: the canonical container — the Parquet replacement for the
  * reference's HDF5 persistence (`UnifiedNILM.py:314-381` writer,
  * `205-312` reader).
  *
  * Layout:
  *   `<root>/readings/` — partitioned by (dataset, house_id): partition
  *     pruning makes per-house queries touch only their files, and the
  *     100 TB table parallelizes by partition;
  *   `<root>/channels/` — the dimension table (one small parquet).
  *
  * The reference's shared-vs-per-channel timestamp dedup
  * (`UnifiedNILM.py:358-371`) is storage-level compaction that Parquet's
  * columnar encoding subsumes; float32 power compaction
  * (`UnifiedNILM.py:346,367`) is applied on write.
  */
object Container {

  /** Spark's DEFAULT parquet timestamp encoding is INT96, which carries
    * NO min/max row-group statistics — a ts-clustered layout written
    * with it silently loses the entire row-group pruning layer (every
    * time-slice reads every row group; measured in
    * RowGroupPruningSpec: 400 k of 400 k rows vs 1.4 % with MICROS).
    * Every container write therefore pins TIMESTAMP_MICROS for its
    * duration; the caller's conf is restored afterwards. */
  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def write(ds: NilmDataset, root: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    withMicrosTimestamps(ds.readings.sparkSession) {
      ds.readings
        .withColumn("power", col("power").cast("float")) // F13
        // shuffle by (partition cols, channel): each task writes whole
        // channels into its house's partition dir. Repartitioning by
        // (dataset, house_id) alone would cap write parallelism at the
        // house count and emit one arbitrarily-large file per house —
        // a year of one house doesn't fit one write task at 100 TB.
        // Channel files stay internally ts-clustered (source order), so
        // with MICROS stats a per-channel time slice prunes row groups.
        // Measured at 300 M rows / 6.7 GB raw (`ScaleBench ingest`, SCALE.md
        // round 20): the write is encoder-bound, not layout-bound —
        // 23 files, no small-file or listing pathology. Residual
        // caveat: a single EXTREME-rate channel (kHz waveforms × years)
        // is still one write task; at that shape split the shuffle key
        // by a coarse time bucket (year keeps ts-clustering) or use
        // writeBucketed with a bucket count sized to the rate.
        .repartition(col("dataset"), col("house_id"), col("channel_id"))
        .write.mode(mode)
        .partitionBy("dataset", "house_id")
        .parquet(s"$root/readings")
      ds.channels.coalesce(1).write.mode(mode).parquet(s"$root/channels")
    }

  /** Bucketed variant for co-located joins/aggregations: readings
    * bucketed AND sorted by (channel_id) within (dataset, house_id)
    * partitions, registered as a table (bucketing requires the
    * catalog). Per-channel groupBys and self-joins on the bucket key
    * then read pre-clustered data — no exchange. The 100 TB layout:
    * bucket count sized so a bucket's rows fit an executor's memory. */
  def writeBucketed(ds: NilmDataset, tableName: String,
                    buckets: Int = 8): Unit =
    withMicrosTimestamps(ds.readings.sparkSession) {
      ds.readings
        .withColumn("power", col("power").cast("float"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, "channel_id")
        .sortBy("channel_id", "ts")
        .format("parquet")
        .saveAsTable(tableName)
    }

  def read(spark: SparkSession, root: String): NilmDataset = {
    val readings = spark.read.parquet(s"$root/readings")
      .withColumn("power", col("power").cast("double"))
      .select("dataset", "house_id", "channel_id", "ts", "power")
    val channels = spark.read.parquet(s"$root/channels")
    NilmDataset(readings, channels)
  }
}
