package graft

import graft.sources.OlaSource
import org.apache.spark.sql.functions._

/** S3/F2/P11/J1+A2 — OLA wide-frame semantics: suffix parsing, ignored
  * suffix-less columns, keep-first dedup feeding the computed
  * aggregate, shelly+emon channel assembly. */
class OlaSourceSpec extends SparkSpec {

  import spark.implicits._

  // shelly: 2 devices, one duplicated timestamp (second row must lose)
  private def shelly = Seq(
    (1600000000L, 100.0, 10.0),
    (1600000010L, 110.0, 11.0),
    (1600000010L, 999.0, 999.0), // dup ts → dropped for the aggregate
    (1600000020L, 120.0, 12.0))
    .toDF("timestamp", "kitchen", "lamp")

  // emon: active/_W, reactive/_Q, pf/_PF and one suffix-less (ignored)
  private def emon = Seq(
    (1600000000L, 50.0, 5.0, 0.9, 1.0),
    (1600000010L, 60.0, 6.0, 0.8, 1.0),
    (1600000020L, 70.0, 7.0, 0.7, 1.0))
    .toDF("timestamp", "heater_W", "heater_Q", "heater_PF", "junkcol")

  test("channels: shelly devices + suffix-parsed emon, junk ignored") {
    val ds = OlaSource.load(spark, shelly, emon)
    val ch = ds.channels.orderBy("channel_id").collect()
      .map(r => (r.getAs[String]("channel_id"), r.getAs[String]("raw_label"),
        r.getAs[String]("data_type"), r.getAs[String]("unit"),
        r.getAs[String]("acquisition_device"))).toSeq
    assert(ch == Seq(
      ("aggregate", "aggregate", "active", "watts", "Composite"),
      ("emonesp_heater_PF", "heater", "pf", "unitless", "EMONESP"),
      ("emonesp_heater_Q", "heater", "reactive", "VA", "EMONESP"),
      ("emonesp_heater_W", "heater", "active", "watts", "EMONESP"),
      ("shelly_kitchen", "kitchen", "active", "watts", "Shelly"),
      ("shelly_lamp", "lamp", "active", "watts", "Shelly")))
    // junkcol appears nowhere
    assert(!ds.readings.select("channel_id").distinct()
      .as[String].collect().exists(_.contains("junk")))
  }

  test("aggregate: keep-first dedup, ts-aligned sum of shelly + emon _W") {
    val ds = OlaSource.load(spark, shelly, emon)
    val agg = ds.readings.filter($"channel_id" === "aggregate")
      .orderBy("ts")
      .select(unix_timestamp($"ts"), $"power")
      .as[(Long, Double)].collect().toSeq
    // t0: 100+10+50 = 160; t10: 110+11+60 = 181 (dup 999s dropped);
    // t20: 120+12+70 = 202
    assert(agg == Seq(
      (1600000000L, 160.0), (1600000010L, 181.0), (1600000020L, 202.0)))
  }

  test("channel data keeps duplicate timestamps (only the aggregate dedups)") {
    val ds = OlaSource.load(spark, shelly, emon)
    val kitchen = ds.readings.filter($"channel_id" === "shelly_kitchen")
    assert(kitchen.count() == 4) // dup ts kept in channel data
  }

  test("rates: per-frame median positive delta reaches the channels") {
    val ds = OlaSource.load(spark, shelly, emon)
    val rates = ds.channels
      .select($"channel_id", $"sample_rate_s").as[(String, Long)]
      .collect().toMap
    assert(rates("shelly_kitchen") == 10L)
    assert(rates("emonesp_heater_W") == 10L)
    assert(rates("aggregate") == 10L)
  }

  test("multi-part converted dataset: row_idx keeps ingest order across parts") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    // simulate the parallel converter's directory-of-parts output, with
    // part FILENAMES deliberately ordered so that file-listing order
    // contradicts ingest order: the later chunk (row_idx 2..3, holding
    // the duplicate-ts row that must LOSE keep-first) gets the
    // alphabetically-first part name. monotonically_increasing_id would
    // crown the wrong row; the explicit row_idx must not.
    val base = Files.createTempDirectory("ola_conv")
    val dsDir = base.resolve("shelly_data.parquet")
    Files.createDirectories(dsDir)
    def writePart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("ola_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, dsDir.resolve(name))
    }
    val chunkA = Seq( // ingest rows 0..1
      (1600000000L, 100.0, 10.0, 0L),
      (1600000010L, 110.0, 11.0, 1L))
      .toDF("timestamp", "kitchen", "lamp", "row_idx")
    val chunkB = Seq( // ingest rows 2..3 (dup ts 1600000010 must lose)
      (1600000010L, 999.0, 999.0, 2L),
      (1600000020L, 120.0, 12.0, 3L))
      .toDF("timestamp", "kitchen", "lamp", "row_idx")
    writePart(chunkB, "part-00000.parquet") // listing-first, ingest-last
    writePart(chunkA, "part-00001.parquet")
    val ds = OlaSource.loadConverted(spark, base.toString)
    // row_idx must not surface as a channel
    assert(!ds.channels.select("channel_id").as[String].collect()
      .exists(_.contains("row_idx")))
    val agg = ds.readings.filter($"channel_id" === "aggregate")
      .orderBy("ts").select(unix_timestamp($"ts"), $"power")
      .as[(Long, Double)].collect().toSeq
    assert(agg == Seq(
      (1600000000L, 110.0), (1600000010L, 121.0), (1600000020L, 132.0)))
  }

  test("missing emon frame: shelly-only load still works") {
    val ds = OlaSource.load(spark, shelly, null)
    assert(ds.channels.count() == 3) // 2 shelly + aggregate
    val agg = ds.readings.filter($"channel_id" === "aggregate")
      .orderBy("ts").select($"power").as[Double].collect().toSeq
    assert(agg == Seq(110.0, 121.0, 132.0))
  }

  test("loadConverted: a missing converted frame loads the other one") {
    val base = java.nio.file.Files.createTempDirectory("ola_conv")
    emon.write.parquet(base.resolve("emonesp_data.parquet").toString)
    val ds = OlaSource.loadConverted(spark, base.toString)
    assert(ds.channels.select("channel_id").as[String].collect().sorted.toSeq ==
      Seq("aggregate", "emonesp_heater_PF", "emonesp_heater_Q", "emonesp_heater_W"))
    val agg = ds.readings.filter($"channel_id" === "aggregate")
      .orderBy("ts").select($"power").as[Double].collect().toSeq
    assert(agg == Seq(50.0, 60.0, 70.0))
  }

  test("loadConverted: a converted frame that cannot be read fails the load") {
    // present but corrupt (no parquet footer): an error, not "absent"
    val base = java.nio.file.Files.createTempDirectory("ola_conv")
    shelly.write.parquet(base.resolve("shelly_data.parquet").toString)
    java.nio.file.Files.write(base.resolve("emonesp_data.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      OlaSource.loadConverted(spark, base.toString).readings.count()
    }
  }
}
