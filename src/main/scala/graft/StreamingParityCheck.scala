package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ↔ batch differential gate (r19 verdict #1): replay the
  * driver's events parquet as a time-ordered file stream through the
  * [[graft.streaming.StreamingOps]] operators and assert EXACT
  * multiset equality (`exceptAll` both ways) with the batch answers on
  * the same rows — the SURVEY §2.9 "same operators, swappable source"
  * claim proven where the oracle tables live (sf0.1), not just on
  * spec fixtures.
  *
  * Replay: events are sliced into `Chunks` time-ordered parquet files
  * (strictly increasing mtimes; the file source's oldest-first order)
  * and consumed with `maxFilesPerTrigger=1`, so every leg crosses
  * ~`Chunks` micro-batch boundaries and its state survives that many
  * store round-trips. A far-future sentinel row rides last so the
  * final watermark seals every real window (its own window stays open
  * and is never emitted; stateful legs filter it before the operator).
  *
  * Exactness: `value` is carried as integer cents in a DOUBLE —
  * integer-valued doubles add exactly (sums ≪ 2^53), so stream-side
  * partial/state aggregation order cannot produce ULP drift and
  * `avg = exactSum / count` is bit-identical on both sides. (user_id,
  * ts) is unique in the events table at these SFs, so the stateful
  * operators' same-timestamp drop rules never fire — parity is over
  * every row.
  *
  * Legs (5 operator families + crash/restart):
  *   1. bucket_mean   — watermarked tumbling-window mean (q01 shape)
  *   2. sessionize    — flatMapGroupsWithState gap sessions (q19 shape)
  *   3. session_agg   — native session_window summaries (q187 shape)
  *   4. funnel        — stateful stage progression (q102 shape)
  *   5. ttl_dedup     — event-time-TTL exact dedup (first-wins)
  *   6. crash_restart — leg 1 re-run, KILLED mid-stream after ≥
  *      `CrashAfterBatches` micro-batches and restarted on the same
  *      checkpoint + sink; the sink's commit log must make the final
  *      output identical (exactly-once across the crash — the
  *      IncrementalIngest discipline under a stateful query)
  *
  * Usage: `sbt "runMain graft.StreamingParityCheck [sfDir]"` (default
  * sf0.1). One PASS/FAIL line per leg + a JSON summary; exits nonzero
  * on any mismatch.
  */
object StreamingParityCheck {

  private val Chunks = 24
  private val CrashAfterBatches = 8
  private val Sentinel = "__sentinel"
  private val Gap = 1800L
  private val Lateness = "1 hour"

  import graft.streaming.StreamingOps

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = java.nio.file.Files.createTempDirectory("graft_sparity").toString
    val spark = Session.local(Session.cpus(8), 32)
    import spark.implicits._

    // the parity frame: device/ts/apower(+event_type) — integer cents
    // as double (exact under any summation order), user_id as the
    // device key string
    val base = Tables.events(spark, sfDir).select(
      col("user_id").cast("string").as("device"),
      col("ts"),
      round(col("value") * 100, 0).as("apower"),
      col("event_type"))
    val replayDir = buildReplay(spark, base, s"$out/replay")
    val schema = spark.read.parquet(replayDir).schema
    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(replayDir)
    def noSentinel(df: DataFrame): DataFrame =
      df.filter(col("device") =!= Sentinel)

    var failures = List.empty[String]
    def leg(name: String)(run: => (DataFrame, DataFrame)): Unit = {
      val t0 = System.nanoTime()
      val (streamOut, batchOut) = run
      val extra = streamOut.exceptAll(batchOut).count()
      val missing = batchOut.exceptAll(streamOut).count()
      val n = batchOut.count()
      Caching.release(); spark.catalog.clearCache()
      val sec = (System.nanoTime() - t0) / 1e9
      val ok = extra == 0 && missing == 0 && n > 0
      if (!ok) failures ::= name
      println(f"${if (ok) "PASS" else "FAIL"} $name rows=$n " +
        f"stream_extra=$extra stream_missing=$missing ($sec%.1f s)")
    }

    def runToEnd(df: DataFrame, dir: String,
                 checkpoint: String): Unit = {
      val q = df.writeStream.format("parquet")
        .option("path", dir).option("checkpointLocation", checkpoint)
        .start()
      q.processAllAvailable(); q.stop()
    }

    // 1. watermarked bucket mean (q01 shape). The sentinel's window is
    // never sealed; every real window is (watermark ends 60 days past
    // the data).
    leg("bucket_mean") {
      runToEnd(StreamingOps.bucketMean(
        stream().select(col("device"), col("ts"), col("apower")),
        "1 hour", Lateness), s"$out/bm", s"$out/bm_cp")
      (noSentinel(spark.read.parquet(s"$out/bm")),
        base.groupBy(col("device"), window(col("ts"), "1 hour").as("w"))
          .agg(avg(col("apower")).as("apower"))
          .select(col("device"), col("w.start").as("bucket_start"),
            col("apower")))
    }

    // 2. gap sessionize (q19 shape): ids must match the batch operator
    // row-for-row across ~24 state round-trips
    leg("sessionize") {
      runToEnd(StreamingOps.sessionize(
        noSentinel(stream()).select(col("device"), col("ts"),
          col("apower")), Gap).toDF(), s"$out/sz", s"$out/sz_cp")
      (spark.read.parquet(s"$out/sz"),
        graft.operators.Sessionize.assignSessions(
          base.select(col("device"), col("ts"), col("apower")),
          col("device"), col("ts"), Nil, Gap)
          .select(col("device"), col("ts"), col("apower"),
            col("session_id").cast("long")))
    }

    // 3. native session_window summaries (q187's session shape): both
    // sides use session_window — the differential is the watermark /
    // state machinery, sealed by the sentinel
    leg("session_agg") {
      runToEnd(StreamingOps.sessionAgg(
        stream().select(col("device"), col("ts"), col("apower")),
        Gap, Lateness), s"$out/sa", s"$out/sa_cp")
      (noSentinel(spark.read.parquet(s"$out/sa")),
        base.groupBy(col("device"),
            session_window(col("ts"), s"$Gap seconds").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("apower")).as("sum_apower"))
          .select(col("device"), col("sw.start").as("session_start"),
            col("sw.end").as("session_end"), col("n_events"),
            col("sum_apower")))
    }

    // 4. funnel stages (q102 shape: view → click → purchase, 7-day
    // horizon); batch rows derive from the q102 operator's ts_i grid
    leg("funnel") {
      val steps = Seq("view", "click", "purchase")
      runToEnd(StreamingOps.funnelStages(
        noSentinel(stream()).select(col("device").cast("long")
          .as("user_id"), col("ts"), col("event_type")),
        steps, 7L * 86400L).toDF(), s"$out/fn", s"$out/fn_cp")
      val bf = graft.operators.Funnel.funnel(
        base.select(col("device").cast("long").as("user_id"), col("ts"),
          col("event_type")),
        "user_id", "ts", "event_type", steps, 7L * 86400L)
      (spark.read.parquet(s"$out/fn"),
        steps.indices.map(i => bf.filter(col(s"ts_${i + 1}").isNotNull)
          .select(col("user_id"), lit(i + 1).as("stage"),
            col(s"ts_${i + 1}").as("ts"))).reduce(_ union _))
    }

    // 5. event-time-TTL exact dedup: first occurrence per content key,
    // TTL far beyond the span so the batch mirror is min-(ts, doc_id)
    // per key; ~250 planted keys × ~400 duplicates each stress the
    // cross-batch SeenState path
    leg("ttl_dedup") {
      val asDocs = (df: DataFrame) => df.select(
        xxhash64(col("device"), col("ts")).as("doc_id"), col("ts"),
        concat(col("event_type"), lit("_"),
          pmod(col("apower").cast("long"), lit(50L)).cast("string"))
          .as("text"))
      runToEnd(StreamingOps.dedupDocsExact(
        asDocs(noSentinel(stream())).withWatermark("ts", Lateness),
        100L * 86400L).toDF(), s"$out/dd", s"$out/dd_cp")
      (spark.read.parquet(s"$out/dd"),
        asDocs(base)
          .groupBy(md5(col("text")).as("__k"))
          .agg(min(struct(col("ts"), col("doc_id"), col("text")))
            .as("m"))
          .select(col("m.doc_id"), col("m.ts"), col("m.text")))
    }

    // 6. crash/restart: leg 1 again, killed after >= CrashAfterBatches
    // micro-batches, restarted on the SAME checkpoint + sink — the
    // parquet sink's commit log must yield the identical final output
    leg("crash_restart") {
      val mk = () => StreamingOps.bucketMean(
        stream().select(col("device"), col("ts"), col("apower")),
        "1 hour", Lateness).writeStream.format("parquet")
        .option("path", s"$out/cr").option("checkpointLocation",
          s"$out/cr_cp").start()
      val q1 = mk()
      // poll to the crash point. Two distinct failure modes (advisor
      // r20): 'stream FINISHED before the crash point' is a fixture
      // bug (CrashAfterBatches too high) and must fail loudly; the
      // deadline merely bounds a hung stream on a loaded host, so it
      // is generous (480 s vs the old 120 s) and its expiry message
      // names the load condition instead of masquerading as a parity
      // failure.
      val deadline = System.nanoTime() + 480L * 1000000000L
      while (Option(q1.lastProgress).forall(_.batchId <
          CrashAfterBatches) && q1.isActive &&
          System.nanoTime() < deadline) Thread.sleep(100)
      val crashedAt = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
      val stillActive = q1.isActive
      q1.stop() // hard stop mid-stream; no graceful drain
      if (crashedAt < CrashAfterBatches) {
        require(stillActive,
          s"stream finished before the crash point (batch $crashedAt) — " +
            "the leg would not test restart; lower CrashAfterBatches")
        throw new IllegalStateException(
          s"480 s deadline expired at batch $crashedAt < $CrashAfterBatches " +
            "with the stream still active — host overload, not a parity " +
            "failure; re-run when quieter")
      }
      val q2 = mk()
      q2.processAllAvailable(); q2.stop()
      println(s"[parity] crash_restart: killed after batch $crashedAt, " +
        s"resumed to completion")
      (noSentinel(spark.read.parquet(s"$out/cr")),
        base.groupBy(col("device"), window(col("ts"), "1 hour").as("w"))
          .agg(avg(col("apower")).as("apower"))
          .select(col("device"), col("w.start").as("bucket_start"),
            col("apower")))
    }

    println(s"""{"metric":"streaming_parity","sf":"$sfDir","legs":6,""" +
      s""""failed":${failures.size},"chunks":$Chunks}""")
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"FAILED legs: ${failures.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Slice `base` into `Chunks` time-ordered single-file chunks with
    * strictly increasing mtimes, plus the far-future sentinel file. */
  private def buildReplay(spark: SparkSession, base: DataFrame,
                          dir: String): String = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(dir))
    val bounds = base.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = hi - lo + 1
    val chunked = base.withColumn("__c",
      ((unix_micros(col("ts")) - lo) * Chunks / span).cast("int"))
    val t0 = System.currentTimeMillis()
    (0 until Chunks).foreach { k =>
      val tmp = s"$dir/__tmp$k"
      chunked.filter(col("__c") === k).drop("__c")
        .coalesce(1).write.parquet(tmp)
      promote(tmp, s"$dir/chunk-$k.parquet", t0 + k * 2000L)
    }
    // sentinel: one far-future row to push the final watermark past
    // every real window (filtered out of every comparison)
    val tmp = s"$dir/__tmpS"
    spark.range(1).select(lit(Sentinel).as("device"),
      timestamp_micros(lit(hi + 60L * 86400L * 1000000L)).as("ts"),
      lit(0.0).as("apower"), lit("view").as("event_type"))
      .coalesce(1).write.parquet(tmp)
    promote(tmp, s"$dir/chunk-sentinel.parquet", t0 + Chunks * 2000L)
    dir
  }

  /** Move the single part file of a one-partition write to `dest` and
    * pin its mtime (the file source replays oldest-mtime first). */
  private def promote(tmpDir: String, dest: String, mtime: Long): Unit = {
    import java.nio.file.{Files, Paths}
    // Files.list/walk return open directory streams — close them
    // (advisor r20: one leaked handle per chunk)
    val part = scala.util.Using.resource(Files.list(Paths.get(tmpDir)))(
      _.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")))
    require(part.length == 1, s"expected 1 part file in $tmpDir: ${part.toSeq}")
    Files.move(Paths.get(part.head), Paths.get(dest))
    Files.setLastModifiedTime(Paths.get(dest),
      java.nio.file.attribute.FileTime.fromMillis(mtime))
    // clean the rest of the tmp dir
    scala.util.Using.resource(Files.walk(Paths.get(tmpDir)))(
      _.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p)))
  }
}
