package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the driver-generated star-schema testdata
  * (TESTDATA.md: region nation customer supplier part orders lineitem
  * events documents embeddings — one parquet per table under a sf dir).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and
  * resolves its inputs through here, so partition pruning / pushdown
  * behavior is uniform. A partitioned layout (`events.parquet/
  * event_date=…/`) needs no reader change — Spark partition discovery
  * handles it — and [[eventsSliced]] derives the partition-column
  * predicate from the ts bounds so directories outside the slice are
  * pruned before any file opens (PartitionPruningSpec pins this).
  *
  * ==Session-state side effects==
  * [[events]] / [[eventsSliced]] mutate the CALLER's session, and
  * deliberately never restore:
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — required to read
  *     legacy TIMESTAMP(NANOS) parquet at all; a no-op for other files,
  *     but if the same session later reads OTHER nanos parquet it did
  *     not want truncated to int64, this flips that read's schema at a
  *     distance.
  *   - `spark.sql.session.timeZone=UTC` — the NTZ→TIMESTAMP cast is
  *     value-identical to the naive-UTC DuckDB oracle ONLY under a UTC
  *     session; a non-UTC caller would silently shift every absolute ts.
  *     Pinning it here means any session-TZ-sensitive expression the
  *     caller runs afterwards (string→timestamp casts, from_unixtime)
  *     also evaluates in UTC.
  * Both are the documented contract for driver-owned sessions calling
  * [[SparkEntry.queries]]; callers embedding this library in a session
  * with different requirements should snapshot/restore these confs.
  */
object Tables {

  /** Session-catalog-style relation reuse (r21, optimization guide §6
    * file-listing/metastore): `spark.read.parquet` re-lists the path
    * and re-infers the footer schema on EVERY call (~100 ms per table
    * on the bench host), which at 195 queries × ~2 tables per build
    * dominated the sub-second tail of the pack. A catalog resolves a
    * table once per session; this memo is exactly that — the resolved
    * LOGICAL relation (file index + schema, plan metadata only), never
    * data: nothing is persisted, every action still scans the parquet
    * (the bench's cache-cold contract is about query RESULTS, and its
    * own warm-up pass explicitly names the parquet footer cache as
    * intended warm state). Guarded by the path's mtime so an in-place
    * rewrite (a layout rebuilt over an earlier one, as in the specs'
    * fixtures) re-resolves; keyed per session so concurrent sessions resolve
    * independently. */
  private val relationCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Long, DataFrame)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val mtime = new java.io.File(path).lastModified
    relationCache.compute((spark, path), (_, v) =>
      if (v != null && v._1 == mtime) v
      else (mtime, spark.read.parquet(path)))._2
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has drifted across testdata generations:
    *   - Timestamp(isAdjustedToUTC=false, MICROS) → Spark TimestampNTZType.
    *     Every downstream call site (`unix_micros`, interval math) needs
    *     TIMESTAMP, so cast — value-identical because every entry point
    *     pins spark.sql.session.timeZone=UTC, and the driver's DuckDB
    *     oracle reads the same parquet as naive-UTC.
    *   - legacy TIMESTAMP(NANOS), which Spark's TimestampType (µs) cannot
    *     hold — read the raw int64 nanos via the legacy conf and truncate
    *     to µs (integer DIV: double division would lose precision at
    *     1e18). DuckDB truncates ns→µs the same way. Conf is set here
    *     (not only in the session builder) because the driver may call
    *     queries with its own session; it is session-wide and deliberately
    *     NOT restored (Spark captures SQLConf lazily at action time), and
    *     it is a no-op for non-nanos files. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ branch's cast-to-TIMESTAMP is only oracle-identical under
    // UTC (see object scaladoc); pin rather than trust the caller
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  /** Events with an inclusive [start, end] ts slice that actually pushes
    * to the parquet scan: filters on the converted `ts` sit above the
    * ns→µs expression and never reach `PushedFilters`, so the same
    * bounds are ALSO applied to the raw int64 nanos column below the
    * conversion (row-group stats pruning at scale). Timestamps are UTC
    * `yyyy-MM-dd HH:mm:ss` strings. */
  def eventsSliced(s: SparkSession, d: String,
                   start: String, end: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(s, d, "events")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    def epochS(x: String) =
      java.time.Instant.from(fmt.parse(x)).getEpochSecond
    val sliced = raw.schema("ts").dataType match {
      case LongType =>
        raw
          .filter(col("ts") >= epochS(start) * 1000000000L &&
            col("ts") <= epochS(end) * 1000000000L + 999999999L)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          .filter(col("ts").between(
            lit(start).cast("timestamp"), lit(end).cast("timestamp")))
      case TimestampNTZType =>
        // Filter BELOW the NTZ→TZ cast, with NTZ literals, so the bounds
        // sit directly on the scanned column and reach PushedFilters
        // (row-group stats pruning at scale; pinned in PlanInvariantsSpec).
        raw
          .filter(col("ts").between(
            lit(start).cast(TimestampNTZType), lit(end).cast(TimestampNTZType)))
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        raw.filter(col("ts").between(
          lit(start).cast("timestamp"), lit(end).cast("timestamp")))
    }
    // Partitioned layout (SURVEY §4: a 100 TB events table is laid out
    // `partitionBy(event_date)`): Spark cannot derive a partition
    // predicate from the ts bounds on its own, so when the layout carries
    // an `event_date` partition column, add the day-range bound
    // explicitly — it reaches the scan as PartitionFilters and whole
    // partition directories are skipped before any file is opened
    // (pinned in PartitionPruningSpec). Inclusive on both ends: the day
    // of `end` still contains in-range rows.
    if (raw.schema.fieldNames.contains("event_date"))
      sliced.filter(col("event_date").between(
        lit(start.take(10)).cast("date"), lit(end.take(10)).cast("date")))
    else sliced
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
