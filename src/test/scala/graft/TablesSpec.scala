package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.operators.{RangeJoin, Sessionize}

/** Guards against testdata schema drift: the driver regenerated
  * `events.parquet` between rounds (TIMESTAMP(NANOS) →
  * Timestamp(isAdjustedToUTC=false, MICROS) = Spark TimestampNTZType) and
  * the old `Tables.events` fell through to the raw frame, breaking every
  * `unix_micros` call site at plan time — while `sbt test` stayed green
  * because no spec read a realistically-typed parquet through
  * `Tables.events`. These tests write fixtures with BOTH logical types
  * the driver has shipped and run the q06/q19/q39/q57 operator cores
  * through them, so the suite reddens the moment `Tables.events` stops
  * normalizing either one.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** events rows: (event_id, ts-as-UTC-string, user_id, event_type, value). */
  private val rows = Seq(
    (1L, "2024-01-01 00:00:00", 1L, "purchase", 5.0),
    (2L, "2024-01-01 00:00:10", 1L, "view", 1.0),
    (3L, "2024-01-01 00:00:30", 1L, "view", 2.0),
    (4L, "2024-01-01 02:00:00", 1L, "view", 3.0), // gap > 30 min → new session
    (5L, "2024-01-01 00:00:00", 2L, "view", 4.0),
    (6L, "2024-01-01 00:00:05", 2L, "purchase", 6.0))

  private def base =
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))

  /** Fixture mirroring the CURRENT testdata: parquet
    * Timestamp(isAdjustedToUTC=false, MICROS) → TimestampNTZType. */
  private lazy val ntzDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toString
    base.withColumn("ts", $"ts_s".cast(TimestampNTZType)).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Fixture mirroring the LEGACY testdata as `Tables.events` sees it
    * under `nanosAsLong`: a raw int64 nanos column. */
  private lazy val nanosDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ns").toString
    base.withColumn("ts",
        (unix_timestamp($"ts_s".cast("timestamp")) * 1000000000L).cast(LongType))
      .drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("fixture mirrors the real logical type (raw read is NTZ)") {
    // if this fails the fixture itself drifted from what it claims to pin
    val raw = spark.read.parquet(s"$ntzDir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
  }

  test("events normalizes NTZ and legacy nanos to TIMESTAMP, same values") {
    for (d <- Seq(ntzDir, nanosDir)) {
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType, d)
      val got = ev.select(date_format($"ts", "yyyy-MM-dd HH:mm:ss"))
        .as[String].collect().sorted
      assert(got.toSeq == rows.map(_._2).sorted, d)
    }
  }

  test("q06 core: unix_micros lag deltas resolve and are exact") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val got = Tables.events(spark, ntzDir)
      .withColumn("d", unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
      .filter($"d" > 0)
      .groupBy($"user_id").agg(percentile($"d", lit(0.5)).as("med"))
      .as[(Long, Double)].collect().toMap
    // user 1 deltas: 10s, 20s, 7170s → median 20s; user 2: 5s
    assert(got == Map(1L -> 20e6, 2L -> 5e6))
  }

  test("q19 core: sessionize splits on the 30-min gap") {
    val got = Sessionize
      .sessions(Tables.events(spark, ntzDir), $"user_id", $"ts", gapSeconds = 1800L)
      .groupBy($"user_id")
      .agg(countDistinct($"session_id").as("n"), max($"session_len").as("len"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L), (2L, 1L, 2L)))
  }

  test("q39 core: span + capped-interval aggregates resolve") {
    val got = Tables.events(spark, ntzDir)
      .groupBy($"user_id")
      .agg(((unix_micros(max($"ts")) - unix_micros(min($"ts"))) / 1000000L)
        .as("span_s"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 7200.0, 2L -> 5.0))
  }

  test("q57 core: range join buckets NTZ-sourced timestamps") {
    val ev = Tables.events(spark, ntzDir)
    val intervals = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("interval_id"), $"user_id",
        $"ts".as("start_ts"), ($"ts" + expr("INTERVAL '1' HOUR")).as("end_ts"))
    val points = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts", $"value")
    val got = RangeJoin.pointsInIntervals(intervals, points, Seq("user_id"),
        "start_ts", "end_ts", "ts", bucketSeconds = 3600L,
        joinType = "left_outer")
      .groupBy($"interval_id").agg(count($"ts").as("n"))
      .as[(Long, Long)].collect().toMap
    // user 1's purchase (00:00:00) covers views at 00:00:10 and 00:00:30
    // but not 02:00:00; user 2's purchase (00:00:05) covers none (its
    // only view is earlier).
    assert(got == Map(1L -> 2L, 6L -> 0L))
  }

  test("eventsSliced on NTZ: inclusive bounds, TIMESTAMP output") {
    val sliced = Tables.eventsSliced(spark, ntzDir,
      "2024-01-01 00:00:05", "2024-01-01 00:00:30")
    assert(sliced.schema("ts").dataType == TimestampType)
    val ids = sliced.select($"event_id").as[Long].collect().sorted.toSeq
    // 00:00:05 (event 6) and 00:00:30 (event 3): both endpoints inclusive;
    // 00:00:00 (events 1, 5) below the lower bound.
    assert(ids == Seq(2L, 3L, 6L))
  }

  test("eventsSliced on NTZ: bounds reach PushedFilters") {
    val sliced = Tables.eventsSliced(spark, ntzDir,
      "2024-01-01 00:00:05", "2024-01-01 00:00:30")
    val p = sliced.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(",")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThanOrEqual(ts"), s"no ts range pushdown in [$pushed]\n$p")
  }

  test("table(): relation resolved once per session, re-resolved on rewrite") {
    // r21: spark.read.parquet re-lists and re-infers per call (~100 ms
    // per table), so table() memoizes the resolved logical relation
    // per (session, path) — metadata only, mtime-guarded. This pins
    // both halves: reuse while the path is untouched, and
    // re-resolution after an in-place rewrite (a layout rebuilt over
    // an earlier one at the same path).
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    spark.range(5).toDF("x").write.parquet(s"$dir/t.parquet")
    val a = Tables.table(spark, dir, "t")
    val b = Tables.table(spark, dir, "t")
    assert(a eq b, "second resolve must reuse the memoized relation")
    assert(a.count() == 5L)
    Thread.sleep(1100) // cross safely over coarse-mtime filesystems
    spark.range(7).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val c = Tables.table(spark, dir, "t")
    assert(!(c eq a), "rewrite must invalidate the memoized relation")
    assert(c.count() == 7L)
  }
}
