package graft

import graft.sources.{Container, MqttSource, RefitSource, UkdaleSource}
import org.apache.spark.sql.functions._

/** S1/S2/S4/S5/S7/S8 golden E2E over the FIXTURES.md mini-fixtures. */
class SourcesSpec extends SparkSpec {

  import spark.implicits._

  test("UK-DALE: distributed .dat scan → canonical readings + channels") {
    val ds = UkdaleSource.load(spark, fixture("ukdale"))
    val ch = ds.channels.orderBy("house_id", "channel_id").collect()

    // button_press file skipped; 3 channels in house 1, 1 in house 2
    assert(ch.map(r => (r.getAs[Long]("house_id"), r.getAs[String]("channel_id"))).toSeq ==
      Seq((1L, "channel_1"), (1L, "channel_2"), (1L, "channel_3"), (2L, "channel_1")))

    val byId = ch.map(r => (r.getAs[Long]("house_id"), r.getAs[String]("channel_id")) -> r).toMap
    val h1c1 = byId((1L, "channel_1"))
    assert(h1c1.getAs[String]("raw_label") == "aggregate")
    assert(h1c1.getAs[String]("universal_label") == "aggregate")
    assert(h1c1.getAs[String]("data_type") == "apparent") // EcoManagerWholeHouseTx
    assert(h1c1.getAs[String]("unit") == "VA")
    assert(h1c1.getAs[Long]("sample_rate_s") == 6L) // median of 6,6,7,5,6

    val h1c2 = byId((1L, "channel_2"))
    assert(h1c2.getAs[String]("universal_label") == "kettle")
    assert(h1c2.getAs[String]("data_type") == "active")

    // unknown acquisition device → unknown/unknown (UKDALELoader.py:92-94)
    val h1c3 = byId((1L, "channel_3"))
    assert(h1c3.getAs[String]("universal_label") == "washing_machine")
    assert(h1c3.getAs[String]("data_type") == "unknown")
    assert(h1c3.getAs[String]("unit") == "unknown")

    // malformed row in channel_2.dat skipped per-row (P9)
    val counts = ds.readings.groupBy("house_id", "channel_id").count()
      .orderBy("house_id", "channel_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(counts == Seq((1L, "channel_1", 6L), (1L, "channel_2", 4L),
      (1L, "channel_3", 3L), (2L, "channel_1", 3L)))

    // A16: dataset-level rate = median of channel rates [6,6,8,10] → 7
    val summary = ds.sampleRateSummary.collect().head
    assert(summary.getAs[String]("dataset") == "ukdale")
    assert(summary.getAs[Long]("median_rate_s") == 7L)
    assert(summary.getAs[Long]("n_channels") == 4L)

    // deterministic content hash (golden) — decimal sum avoids ANSI
    // long-overflow on the hash aggregation
    def contentHash(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum(xxhash64($"dataset", $"house_id", $"channel_id",
        unix_micros($"ts"), $"power").cast("decimal(38,0)")))
        .as[java.math.BigDecimal].head()
    assert(contentHash(ds.readings) ==
      contentHash(UkdaleSource.load(spark, fixture("ukdale")).readings))
  }

  test("REFIT: wide csv unpivot, aggregate detection, metadata fallback") {
    val ds = RefitSource.load(spark, fixture("refit"))
    val ch = ds.channels.filter($"house_id" === 1).orderBy("channel_id").collect()
    val byId = ch.map(r => r.getAs[String]("channel_id") -> r).toMap

    // Aggregate column → raw "aggregate"; Appliance1 has metadata →
    // Fridge; Appliance2 has none → falls back to the column name
    assert(byId("channel_1").getAs[String]("raw_label") == "aggregate")
    assert(byId("channel_2").getAs[String]("raw_label") == "Fridge")
    assert(byId("channel_2").getAs[String]("universal_label") == "fridge")
    assert(byId("channel_2").getAs[String]("manufacturer") == "LG")
    assert(byId("channel_3").getAs[String]("raw_label") == "Appliance2")
    assert(byId("channel_3").getAs[String]("universal_label") == "other")

    // rate: dup timestamp creates a 0 delta which P10 drops → 8S
    assert(ch.forall(_.getAs[Long]("sample_rate_s") == 8L))

    // house 1: 5 csv rows × 3 channels; house 2 (different column
    // count): 3 rows × 2 channels — per-house schemas are independent
    val perHouse = ds.readings.groupBy("house_id").count()
      .orderBy("house_id").as[(Long, Long)].collect().toSeq
    assert(perHouse == Seq((1L, 15L), (2L, 6L)))
    val h2 = ds.channels.filter($"house_id" === 2)
      .select("channel_id", "raw_label").orderBy("channel_id")
      .as[(String, String)].collect().toSeq
    assert(h2 == Seq(("channel_1", "aggregate"), ("channel_2", "Appliance1")))
    // house 2 rate: deltas of 10 s
    assert(ds.channels.filter($"house_id" === 2)
      .select("sample_rate_s").distinct().as[Long].head() == 10L)
    // Time/Issues never leak into the narrow layout
    assert(ds.readings.columns.toSeq ==
      Seq("dataset", "house_id", "channel_id", "ts", "power"))
  }

  test("channels: one row per read channel, canonical columns, both sources") {
    // the universal label is attached by an inner join on raw_label; a
    // null raw_label would drop its channel, so every channel present
    // in the readings must come back exactly once
    val canonical = Seq("dataset", "house_id", "channel_id", "raw_label",
      "universal_label", "unit", "data_type", "sample_rate_s",
      "manufacturer", "model", "acquisition_device")
    for ((ds, channels) <- Seq(
        UkdaleSource.load(spark, fixture("ukdale")) -> 4L,
        RefitSource.load(spark, fixture("refit")) -> 5L)) {
      assert(ds.channels.columns.toSeq == canonical)
      assert(ds.channels.count() == channels)
      assert(ds.channels.select("house_id", "channel_id").distinct().count() == channels)
      assert(ds.readings.select("house_id", "channel_id").distinct().count() == channels)
    }
  }

  test("MQTT: json-lines parse skips malformed, averages duplicates") {
    val out = MqttSource.load(spark, fixture("mqtt") + "/mqtt.log.*")
      .orderBy("device", "ts")
      .select($"device", unix_timestamp($"ts"), $"apower")
      .as[(String, Long, Double)].collect().toSeq
    // bad json, non-dict payload, dst without /events, missing apower all
    // dropped; duplicate (ts, device) averaged (55.5, 44.5 → 50.0)
    assert(out == Seq(
      ("shelly-kitchen", 1600000000L, 50.0),
      ("shelly-kitchen", 1600000010L, 60.0),
      ("shelly-lamp", 1600000010L, 5.0)))
  }

  test("MQTT: pivoted wide view fills missing with 0") {
    val wide = MqttSource.pivoted(MqttSource.load(spark, fixture("mqtt") + "/mqtt.log.*"))
      .orderBy("ts")
    assert(wide.columns.toSeq == Seq("ts", "shelly-kitchen", "shelly-lamp"))
    val rows = wide.select($"`shelly-kitchen`", $"`shelly-lamp`")
      .as[(Double, Double)].collect().toSeq
    assert(rows == Seq((50.0, 0.0), (60.0, 5.0)))
  }

  test("bucketed container: per-bucket-key aggregation needs no exchange") {
    val ds = UkdaleSource.load(spark, fixture("ukdale"))
    Container.writeBucketed(ds, "graft_readings_bucketed", buckets = 4)
    val agg = spark.table("graft_readings_bucketed")
      .groupBy("channel_id").agg(sum("power"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed groupBy should not shuffle:\n$plan")
    assert(agg.count() == 3) // channel_1, channel_2, channel_3
    // typed views expose the same rows
    assert(ds.typedReadings.count() == ds.readings.count())
    assert(ds.typedChannels.filter(_.universal_label == "kettle").count() == 1)
  }

  test("E1 golden composition: raw tree → container → facade query") {
    val root = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    Container.write(UkdaleSource.load(spark, fixture("ukdale")), root)
    val ds = Container.read(spark, root)
    // compute-aggregate over the restored container: house 1 actives are
    // kettle (EcoManagerTxPlug); washing machine is 'unknown' type
    val agg = ds.computeAggregateFromAppliances(powerType = "active")
      .orderBy("ts")
    val vals = agg.select($"aggregate_computed").as[Double].collect().toSeq
    assert(vals == Seq(2000.0, 2100.0, 2050.0, 1990.0)) // kettle series
    // and the directly-metered aggregate is sliced inclusively
    val sliced = ds.getAggregate(
      start = Some("2020-09-13 12:26:46"), end = Some("2020-09-13 12:26:56"))
    // house1 aggregate ts :46,:52 + house2 ts :48,:56 — end-inclusive
    assert(sliced.count() == 4)
  }

  test("Container: partitioned parquet round-trip preserves content") {
    val ds = UkdaleSource.load(spark, fixture("ukdale"))
    val root = java.nio.file.Files.createTempDirectory("graft_container").toString
    Container.write(ds, root)
    val back = Container.read(spark, root)

    assert(back.readings.count() == ds.readings.count())
    assert(back.channels.count() == ds.channels.count())
    // float32 write then double read: compare at float precision
    val a = ds.readings
      .select($"dataset", $"house_id".cast("long"), $"channel_id",
        unix_micros($"ts"), $"power".cast("float"))
      .as[(String, Long, String, Long, Float)].collect().toSet
    val b = back.readings
      .select($"dataset", $"house_id".cast("long"), $"channel_id",
        unix_micros($"ts"), $"power".cast("float"))
      .as[(String, Long, String, Long, Float)].collect().toSet
    assert(a == b)
    // partition layout on disk: dataset=ukdale/house_id=N
    val dirs = new java.io.File(s"$root/readings/dataset=ukdale").list().sorted
    assert(dirs.count(_.startsWith("house_id=")) == 2)

    // ts must be INT64 (TIMESTAMP_MICROS), not Spark's default INT96:
    // INT96 carries no min/max row-group statistics, so the layout's
    // "internally ts-clustered" property would prune nothing (the trap
    // RowGroupPruningSpec measures; Container pins the conf per-write)
    def firstParquet(f: java.io.File): java.io.File =
      if (f.isFile)
        if (f.getName.endsWith(".parquet")) f else null
      else Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .iterator.map(firstParquet).find(_ != null).orNull
    val pf = firstParquet(new java.io.File(s"$root/readings"))
    assert(pf != null, "no parquet file written")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(pf.getAbsolutePath))
    val tsType = footer.getFileMetaData.getSchema
      .getType(Array("ts"): _*)
      .asPrimitiveType().getPrimitiveTypeName.toString
    assert(tsType == "INT64",
      s"container ts written as $tsType — stats-less INT96 would defeat " +
        "row-group pruning on every time slice")
  }
}
