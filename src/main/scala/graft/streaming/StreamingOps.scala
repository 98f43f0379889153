package graft.streaming

import graft.sources.MqttSource
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.9): the reference is
  * batch-only, so this is the designed extension — the batch parse and
  * bucket-aggregate logic reused verbatim under `readStream`, with
  * watermarks for late data and within-watermark dedup for duplicates.
  *
  * Design rule: the streaming readings schema is identical to the batch
  * one, so every downstream operator (resample, threshold, sessionize)
  * applies unchanged; only the source/sink edges differ.
  */
object StreamingOps {

  /** S4 as a stream: MQTT JSON-lines files appearing under `path`
    * (same per-line schema as [[MqttSource]]; a Kafka source would
    * substitute `readStream.format("kafka")` with the same parse). */
  def mqttStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .text(path)
      .select(from_json(col("value"), MqttSource.schema).as("j"))
      .select(
        col("j.ts").as("ts_s"),
        col("j.payload.dst").as("dst"),
        col("j.payload.params.`switch:0`.apower").as("apower"))
      .filter(col("ts_s").isNotNull && col("dst").isNotNull &&
        col("dst").contains("/events") && col("apower").isNotNull)
      .select(
        regexp_replace(col("dst"), "/events", "").as("device"),
        timestamp_seconds(col("ts_s")).as("ts"),
        col("apower"))

  /** A1/A5 online: event-time bucket mean with a watermark — the
    * streaming form of resample-mean. Late rows beyond `lateness` are
    * dropped at the state boundary instead of growing state forever. */
  def bucketMean(readings: DataFrame, bucket: String,
                 lateness: String): DataFrame =
    readings
      .withWatermark("ts", lateness)
      .groupBy(col("device"), window(col("ts"), bucket).as("w"))
      .agg(avg(col("apower")).as("apower"))
      .select(col("device"), col("w.start").as("bucket_start"),
        col("apower"))

  /** P11 online: keep-first per (device, ts) with bounded state —
    * `dropDuplicatesWithinWatermark` is the streaming form of the batch
    * keep-first dedup. */
  def dedupKeepFirst(readings: DataFrame, lateness: String): DataFrame =
    readings
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("device", "ts")

  case class Reading(device: String, ts: java.sql.Timestamp, apower: Double)
  case class Transition(device: String, ts: java.sql.Timestamp, on: Boolean)

  /** Event time in MICROseconds — `Timestamp.getTime` truncates to ms,
    * which would make gap/ordering comparisons disagree with the batch
    * operators (they compare `unix_micros`). */
  private def micros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  case class SessionRow(device: String, ts: java.sql.Timestamp,
                        apower: Double, session_id: Long)

  /** Per-device sessionizer state: running session counter + max event
    * time processed in µs (same late-row guard as [[OnOffState]]). */
  case class SessionState(sessionId: Long, maxTsUs: Long)

  /** The streaming form of [[graft.operators.Sessionize]]: gap-based
    * session assignment with `flatMapGroupsWithState` — a reading more
    * than `gapSeconds` after the previous one starts a new session.
    * State per device is two longs (bounded); rows are processed in
    * event-time order within a batch and late rows (at-or-before the
    * max seen event time) are dropped, so session ids never travel
    * backward across micro-batches. Ids are 1-based per device,
    * consistent with the batch operator. */
  def sessionize(readings: DataFrame, gapSeconds: Long): Dataset[SessionRow] = {
    implicit val re = Encoders.product[Reading]
    implicit val oe = Encoders.product[SessionRow]
    implicit val se = Encoders.product[SessionState]
    implicit val ke = Encoders.STRING
    readings.as[Reading]
      .groupByKey(_.device)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (device: String, rows: Iterator[Reading], state: GroupState[SessionState]) =>
          val st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          var sid = st.sessionId
          var maxTs = st.maxTsUs
          val out = scala.collection.mutable.ArrayBuffer[SessionRow]()
          rows.toSeq.sortBy(r => micros(r.ts)).foreach { r =>
            val t = micros(r.ts)
            if (t > maxTs) {
              if (sid == 0L || t - maxTs > gapSeconds * 1000000L) sid += 1
              out += SessionRow(device, r.ts, r.apower, sid)
              maxTs = t
            }
          }
          state.update(SessionState(sid, maxTs))
          out.iterator
      }
  }

  /** Per-SESSION summary aggregation via Spark's native
    * `session_window` — the watermark-managed alternative to the
    * per-row custom-state [[sessionize]]: state is merged session
    * windows (closed and evicted once the watermark passes a session's
    * end), late rows are handled by the watermark instead of a
    * hand-rolled max-ts guard, and the output is one row per completed
    * session (device, bounds, event count, power sum) rather than one
    * per reading. Use this form when the consumer wants session
    * SUMMARIES; use [[sessionize]] when every reading needs its
    * session id attached in-flight.
    *
    * Boundary convention (differs from the batch operator by the
    * equal-gap tie): `session_window` closes when the next event's ts
    * is AT or beyond the previous end (= last ts + gap), i.e. an
    * inter-event delta exactly equal to `gapSeconds` starts a NEW
    * session, where [[graft.operators.Sessionize]] breaks only on
    * strictly-greater deltas. On real sensor streams an exact-gap tie
    * is measure-zero; callers replicating batch output around ties
    * should pass the gap one tick larger. Output in append mode emits
    * only sessions the watermark has sealed — the streaming-correct
    * contract (a still-open session could otherwise grow). */
  def sessionAgg(readings: DataFrame, gapSeconds: Long,
                 lateness: String): DataFrame =
    readings
      .withWatermark("ts", lateness)
      .groupBy(col("device"),
        session_window(col("ts"), s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("apower")).as("sum_apower"))
      .select(col("device"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("sum_apower"))

  /** Trending terms per event-time window — the streaming form of
    * q69's heavy-hitters profile: tokenize, tumbling-window groupBy,
    * ONE Misra–Gries aggregate (`graft_heavy_hitters`, mergeable,
    * O(capacity) state per window) whose partial merge happens in the
    * state store. This is deliberately a SINGLE streaming aggregation:
    * the exact "rank then top-k" form would need a second aggregation
    * over the first (unsupported in append mode), while the sketch
    * keeps bounded state AND exact counts while a window's distinct
    * terms stay under `capacity` (the q69 exactness argument). Output
    * per watermark-sealed window: (window_start, window_end, hh) with
    * `hh` the count-descending (item, count) array. Register
    * [[graft.plans.GraftExtensions]] on the session first. */
  def trendingTerms(docs: DataFrame, windowDur: String, lateness: String,
                    capacity: Int): DataFrame =
    docs.withWatermark("ts", lateness)
      .select(col("ts"),
        explode(graft.ext.TextOps.words(col("text"))).as("term"))
      .groupBy(window(col("ts"), windowDur).as("w"))
      .agg(call_function("graft_heavy_hitters",
        col("term"), lit(capacity)).as("hh"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("hh"))

  case class TaggedAsOf(device: String, ts: java.sql.Timestamp, side: Int,
                        apower: Option[Double], ref: Option[Double])
  case class Enriched(device: String, ts: java.sql.Timestamp,
                      apower: Option[Double], ref_value: Option[Double],
                      ref_ts: Option[java.sql.Timestamp])

  case class RefSample(tsUs: Long, value: Option[Double],
                       ts: java.sql.Timestamp)

  /** Per-device as-of state: a SORTED buffer of reference samples that
    * future readings may still match, plus the max reading event time
    * processed. The buffer is trimmed after every batch to the newest
    * reference at-or-before the max reading time (older references can
    * never win again — late readings are dropped, so every future
    * reading is newer) and hard-capped at `maxRefBuffer`; it therefore
    * holds one floor entry plus however far the reference stream runs
    * AHEAD of the readings stream. */
  case class AsOfState(refs: Seq[RefSample], maxReadTsUs: Long)

  /** The streaming form of [[graft.operators.AsOfJoin.backward]]: a
    * readings stream enriched with the most recent sample from a
    * reference stream (`device, ts, ref`) at-or-before each reading —
    * stream-stream, via one `flatMapGroupsWithState` over the tagged
    * union (the same union-and-carry idea as the batch operator, with
    * the running `last()` window replaced by per-key state).
    *
    * Semantics mirror the batch operator: within a batch rows process
    * in (event-time, side) order with reference rows first at an equal
    * timestamp (inclusive at-or-before ties), and because state buffers
    * every reference a future reading could still need, a reference
    * arriving in an EARLIER batch than a slightly older reading still
    * matches correctly — the one uncovered skew is a reference arriving
    * in a LATER batch than a reading it should have served (bound that
    * with the enclosing query's watermark). A reading STRICTLY before
    * the max reading time already processed is dropped (the late-row
    * guard of [[onOffTransitions]], relaxed to admit equal timestamps —
    * a same-time second reading is not out of order and the batch
    * operator keeps it); a matched reference timestamp is always <= the
    * reading's — never a future sample. */
  def asOfEnrich(readings: DataFrame, refs: DataFrame,
                 maxRefBuffer: Int = 1024): Dataset[Enriched] = {
    implicit val tagE = Encoders.product[TaggedAsOf]
    implicit val outE = Encoders.product[Enriched]
    implicit val stE = Encoders.product[AsOfState]
    implicit val keyE = Encoders.STRING
    val l = readings.select(col("device"), col("ts"), lit(1).as("side"),
      col("apower").cast("double").as("apower"),
      lit(null).cast("double").as("ref"))
    val r = refs.select(col("device"), col("ts"), lit(0).as("side"),
      lit(null).cast("double").as("apower"),
      col("ref").cast("double").as("ref"))
    l.unionByName(r).as[TaggedAsOf]
      .groupByKey(_.device)
      .flatMapGroupsWithState[AsOfState, Enriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (device: String, rows: Iterator[TaggedAsOf], state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(Vector.empty, Long.MinValue))
          // ordered mutable buffer: O(log n) insert/floor-lookup (the
          // immutable-splice form was O(n) copying per reference row)
          val buf = scala.collection.mutable.TreeMap.empty[Long, RefSample]
          st.refs.foreach(r => buf.update(r.tsUs, r))
          var maxRead = st.maxReadTsUs
          val out = scala.collection.mutable.ArrayBuffer[Enriched]()
          rows.toSeq.sortBy(t => (micros(t.ts), t.side)).foreach { row =>
            val t = micros(row.ts)
            if (row.side == 0) {
              // equal-ts refs keep the first (callers pre-aggregate
              // duplicates, as in batch); a null ref VALUE is still a
              // real sample — it matches and enriches with null
              if (!buf.contains(t)) buf.update(t, RefSample(t, row.ref, row.ts))
            } else if (t >= maxRead) {
              // >= : a second reading at the SAME event time is not out
              // of order — dropping it would lose data the batch
              // operator keeps (re-delivery of an identical row across
              // batches therefore re-emits; exactly-once dedup is the
              // upstream dropDuplicatesWithinWatermark's job)
              val m = buf.rangeTo(t).lastOption.map(_._2)
              out += Enriched(device, row.ts, row.apower,
                m.flatMap(_.value), m.map(_.ts))
              maxRead = t
            }
          }
          // trim: drop refs older than the newest one at-or-before the
          // max reading time (they can never match a future reading),
          // then cap the buffer — but cap only the ahead-of-maxRead
          // tail, keeping the floor entry unconditionally: evicting the
          // floor would silently null enrichments that batch
          // AsOfJoin.backward matches whenever the reference stream
          // runs more than maxRefBuffer ahead of the readings
          buf.rangeTo(maxRead).keys.toSeq.dropRight(1)
            .foreach(buf.remove)
          val floor = buf.rangeTo(maxRead).values.toVector
          val ahead = buf.iteratorFrom(maxRead + 1).map(_._2)
            .toVector.takeRight(maxRefBuffer)
          state.update(AsOfState(floor ++ ahead, maxRead))
          out.iterator
      }
  }

  case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)
  // not `private`: the encoder's generated projections need access
  case class KeyedDoc(key: String, doc_id: Long,
                      ts: java.sql.Timestamp, text: String)

  /** Dedup state: the first occurrence's event time (µs). Presence
    * alone means "seen"; the timestamp makes the spec's claims
    * checkable and survives as documentation of WHICH row won. */
  case class SeenState(firstTsUs: Long)

  /** Streaming exact dedup for a document ingest stream: emit the FIRST
    * occurrence of each content hash (md5 of the text — the q23 batch
    * exact-dedup key), drop every later duplicate seen within `ttl`,
    * and expire state via event-time timeout so the state store holds
    * only keys seen in the trailing TTL horizon.
    *
    * Contrast with `dropDuplicatesWithinWatermark`: that ties the dedup
    * horizon to the watermark delay (built for at-least-once source
    * retries); a corpus-ingest dedup wants a horizon much LONGER than
    * the lateness bound — hours of lateness, days of dedup — which is
    * exactly what a separate event-time TTL gives, while state stays
    * bounded by the TTL horizon instead of growing forever. First-wins
    * tie-break inside a batch is (event time, doc_id) — the batch
    * operator's keep-first (min id) rule at equal timestamps.
    *
    * The input MUST carry a watermark on `ts` (event-time timeout
    * requires one); duplicates seen before expiry REFRESH the TTL, so a
    * continuously re-crawled page stays deduped as long as it keeps
    * reappearing within the horizon. */
  def dedupDocsExact(docs: DataFrame, ttlSeconds: Long): Dataset[DocEvent] =
    dedupDocsByKey(docs, md5(col("text")), ttlSeconds)

  /** Streaming NEAR-dup dedup: the [[dedupDocsExact]] stateful core
    * keyed on the 60-bit SimHash signature
    * ([[graft.functions.SimHash60]], a pure projection — safe in a
    * streaming plan) instead of the content hash. Signature-equal
    * documents collapse to their first occurrence within the TTL:
    * SimHash is a bag-of-tokens vote, so token reorderings and
    * vote-preserving edits dedup here that md5 keying would keep.
    * (Banded Hamming≤3 matching — the batch q68 semantics — needs
    * cross-band coordination that would chain two stateful operators;
    * signature equality is the single-key streaming form.) */
  def dedupDocsNear(docs: DataFrame, ttlSeconds: Long): Dataset[DocEvent] = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    dedupDocsByKey(docs, expr("graft_simhash(text)").cast("string"),
      ttlSeconds)
  }

  private def dedupDocsByKey(docs: DataFrame, key: Column,
                             ttlSeconds: Long): Dataset[DocEvent] = {
    implicit val ke = Encoders.STRING
    implicit val kde = Encoders.product[KeyedDoc]
    implicit val de = Encoders.product[DocEvent]
    implicit val se = Encoders.product[SeenState]
    docs
      .select(key.as("key"), col("doc_id").cast("long"),
        col("ts"), col("text"))
      .as[KeyedDoc]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SeenState, DocEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[KeyedDoc], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // single pass: min-(ts, doc_id) row (the first-wins winner)
            // and max ts (the TTL anchor) — a materialize + sort here
            // would be O(m log m) allocation per key per batch for two
            // extremes a fold gets in O(m)/zero garbage (this lambda is
            // the per-key hot path of the 600 k rows/s state side)
            var first: KeyedDoc = null
            var firstUs = Long.MaxValue
            var maxTsMs = Long.MinValue
            while (rows.hasNext) {
              val d = rows.next()
              val us = micros(d.ts)
              if (first == null || us < firstUs ||
                  (us == firstUs && d.doc_id < first.doc_id)) {
                first = d; firstUs = us
              }
              if (d.ts.getTime > maxTsMs) maxTsMs = d.ts.getTime
            }
            val out =
              if (state.exists || first == null) Iterator.empty
              else {
                state.update(SeenState(firstUs))
                Iterator.single(DocEvent(first.doc_id, first.ts, first.text))
              }
            // TTL from the NEWEST occurrence (duplicates keep the key
            // alive), clamped above the current watermark — setting a
            // timeout at-or-before it is an error when stragglers arrive
            if (first != null)
              state.setTimeoutTimestamp(math.max(
                maxTsMs + ttlSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            out
          }
      }
  }

  /** The built-in-operator formulation of [[dedupDocsNear]] for the
    * TTL ≈ watermark-delay case: key the stream on the SimHash
    * signature and let `dropDuplicatesWithinWatermark` run the
    * first-wins state machine. No JVM lambda per key, no
    * product-encoder state round-trip — the operator's state is the
    * key plus one expiry timestamp, managed natively — so this is the
    * throughput ceiling for the stateful side (measured:
    * `ScaleBench streaming` `dedup_near_ww` arm, SCALE.md round 12).
    *
    * Semantic differences vs [[dedupDocsNear]] — why BOTH ship:
    * the dedup horizon here IS the input's watermark delay (a corpus
    * wanting hours of lateness but DAYS of dedup horizon needs the
    * event-time-TTL form), duplicates do not refresh the horizon, and
    * "first" is first-PROCESSED (arrival order) rather than the
    * event-time (ts, doc_id) minimum within a batch — fine for
    * at-least-once ingest dedup, observable under same-batch ties. */
  def dedupDocsNearWithinWatermark(docs: DataFrame): Dataset[DocEvent] = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    implicit val de = Encoders.product[DocEvent]
    docs
      .select(expr("graft_simhash(text)").cast("string").as("key"),
        col("doc_id").cast("long"), col("ts"), col("text"))
      .dropDuplicatesWithinWatermark("key")
      .select(col("doc_id"), col("ts"), col("text"))
      .as[DocEvent]
  }

  /** Per-device transition-detector state: current ON/OFF plus the
    * max event time already processed (µs) — the event-time guard that
    * makes cross-batch ordering sound (a bare boolean state would let
    * a late row in a later micro-batch emit a transition that travels
    * BACKWARD in event time). */
  case class OnOffState(on: Boolean, maxTsUs: Long)

  /** W6/W8 online: per-device ON/OFF transition detection with custom
    * state — the `flatMapGroupsWithState` form of the batch threshold +
    * run-length pass (postprocessing.py:32-42 + 5-24's edge detection).
    * State is (boolean, max-event-ts) per device — bounded. Each
    * micro-batch's rows are ordered by event time before the scan, and
    * rows at-or-before the state's max-seen event time are DROPPED:
    * they arrived after a newer reading was already processed, and
    * emitting their transition now would be out of event-time order
    * (the enclosing query's watermark bounds how long such late rows
    * can keep arriving; this guard makes the operator itself safe
    * regardless). Emits one row per state change, including the
    * initial OFF→ON if the first reading is above threshold. */
  def onOffTransitions(readings: DataFrame,
                       threshold: Double): Dataset[Transition] = {
    implicit val re = Encoders.product[Reading]
    implicit val te = Encoders.product[Transition]
    implicit val se = Encoders.product[OnOffState]
    implicit val ke = Encoders.STRING
    readings.as[Reading]
      .groupByKey(_.device)
      .flatMapGroupsWithState[OnOffState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (device: String, rows: Iterator[Reading], state: GroupState[OnOffState]) =>
          val st = state.getOption.getOrElse(OnOffState(on = false, Long.MinValue))
          var on = st.on
          var maxTs = st.maxTsUs
          val out = scala.collection.mutable.ArrayBuffer[Transition]()
          rows.toSeq.sortBy(r => micros(r.ts)).foreach { r =>
            val t = micros(r.ts)
            if (t > maxTs) { // late (<= max-seen) rows are dropped
              val nowOn = r.apower >= threshold
              if (nowOn != on) {
                out += Transition(device, r.ts, nowOn)
                on = nowOn
              }
              maxTs = t
            }
          }
          state.update(OnOffState(on, maxTs))
          out.iterator
      }
  }

  case class FunnelEvt(user_id: Long, ts: java.sql.Timestamp,
                       event_type: String)
  case class FunnelStage(user_id: Long, stage: Int,
                         ts: java.sql.Timestamp)

  /** Per-user funnel state: event-time µs of each stage reached so far
    * (size ≤ steps, so state is bounded by the funnel depth — a few
    * longs per user regardless of event volume) + max processed event
    * time for the late-row guard. */
  case class FunnelState(stageTsUs: Seq[Long], maxTsUs: Long)

  /** The streaming form of [[graft.operators.Funnel]]: emits a row the
    * moment a user advances a stage — (user, stage, event time) —
    * under the batch operator's exact semantics (earliest step-1, each
    * later step strictly after the previous and within
    * `horizonSeconds` of step 1). Rows are processed in event-time
    * order within a batch; rows strictly before the max processed
    * event time are dropped (the [[sessionize]]/[[onOffTransitions]]
    * late-row contract), so when batches arrive in event-time order
    * the emitted stages are IDENTICAL to the batch operator on the
    * same rows (StreamingSpec pins the equivalence on random streams).
    * Equal-timestamp rows are not late — strict `>` between
    * consecutive stages already makes co-timestamped progression
    * impossible, matching batch. */
  def funnelStages(events: DataFrame, steps: Seq[String],
                   horizonSeconds: Long): Dataset[FunnelStage] = {
    require(steps.size >= 2, "funnel needs at least two steps")
    implicit val ee = Encoders.product[FunnelEvt]
    implicit val fe = Encoders.product[FunnelStage]
    implicit val se = Encoders.product[FunnelState]
    implicit val ke = Encoders.scalaLong
    val stepIdx = steps.zipWithIndex.toMap
    val horizonUs = horizonSeconds * 1000000L
    events.as[FunnelEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[FunnelEvt],
         state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(
            FunnelState(Seq.empty, Long.MinValue))
          val reached = st.stageTsUs.toBuffer
          var maxTs = st.maxTsUs
          val out = scala.collection.mutable.ArrayBuffer[FunnelStage]()
          rows.toSeq.sortBy(r => micros(r.ts)).foreach { r =>
            val t = micros(r.ts)
            if (t >= maxTs || maxTs == Long.MinValue) {
              if (t > maxTs) maxTs = t
              stepIdx.get(r.event_type).foreach { i =>
                val advances = i == reached.size &&
                  (i == 0 || (t > reached(i - 1) &&
                    t <= reached.head + horizonUs))
                if (advances) {
                  reached += t
                  out += FunnelStage(user, i + 1, r.ts)
                }
              }
            }
          }
          state.update(FunnelState(reached.toSeq, maxTs))
          out.iterator
      }
  }
}
