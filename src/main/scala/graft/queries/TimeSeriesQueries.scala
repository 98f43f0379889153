package graft.queries

import graft.Tables._
import graft.operators.{AsOfJoin, GlobalAgg, RangeJoin, Resample, Sessionize, Postprocess}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series operators from SURVEY.md §2 over the `events` table
  * (ts TIMESTAMP, user_id, event_type, value). `user_id` plays the role of
  * the reference's (house, channel) key; `value` the power reading.
  *
  * Each query delegates to the reusable operator in graft.operators so the
  * NILM API surface and the oracle-checked queries share one implementation.
  */
object TimeSeriesQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 resample-mean: pandas `data.resample("1H").mean()`
    // (UnifiedNILM.py:66-124) → epoch-aligned left-closed buckets.
    "q01_resample_avg" -> ((s, d) => {
      import s.implicits._
      // value is exact hundredths in this data (q04's layout-gate
      // lesson, applied to the whole rounded-avg class): a float avg is
      // a summation-order-dependent double whose 6dp rounding can tie;
      // summing integer cents and dividing ONCE is bit-exact at any
      // partitioning/layout. Oracle mirrors the same arithmetic.
      Resample.bucketAgg(events(s, d), "ts", "1 hour",
          Seq("user_id"),
          round(sum(round($"value" * 100).cast("long")).cast("double") /
            (count($"value") * 100), 6).as("avg_value"))
        .orderBy($"user_id", $"bucket_start")
    }),

    // P3 inclusive time-range slice: pandas `.loc[start:end]` is inclusive
    // on BOTH ends (UnifiedNILM.py:397,410). eventsSliced pushes the
    // bounds to the parquet scan as raw int64-nanos predicates (the
    // converted-ts filter alone never reaches PushedFilters).
    "q02_time_slice" -> ((s, d) => {
      import s.implicits._
      eventsSliced(s, d, "2024-01-03 00:00:00", "2024-01-04 00:00:00")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    }),

    // P11/W2 duplicate dedup keep-first (OlaLoader.py:117): first event per
    // (user, type) by time, event_id as the deterministic ingest-order tie.
    "q05_dedup_keepfirst" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id", $"value")
        .orderBy($"user_id", $"event_type")
    }),

    // W1+A9 sample-rate inference: median positive inter-sample delta
    // (UKDALELoader.py:77-82, REFITLoader.py:83-89).
    "q06_rate_infer" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .withColumn("delta_us", unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
        .filter($"delta_us" > 0)
        .groupBy($"user_id")
        // median stays in exact µs: interpolation of integer deltas
        // yields only .0/.5 doubles, so no rounding is needed — a
        // round(x/1e6, 4) form hit values like x.xxxx50 where Spark's
        // BigDecimal HALF_UP and DuckDB's float round() disagree
        // (surfaced at sf0.1)
        .agg(percentile($"delta_us", lit(0.5)).as("median_delta_us"),
             round(avg($"delta_us") / 1e6, 4).as("mean_delta_s"),
             count(lit(1)).as("n_deltas"))
        .orderBy($"user_id")
    }),

    // W3/O5 top-1 per group by score (channel_utils.py:57-72 picks the
    // highest-variance channel per label).
    "q07_top1_per_group" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"value".desc, $"event_id")
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type", $"value")
        .orderBy($"user_id")
    }),

    // A4 pivot to wide layout (preprocess_shelly.py:64) — fixed vocabulary
    // so the plan needs no extra pass to discover columns.
    "q08_pivot_counts" -> ((s, d) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t =>
        sum(when($"event_type" === t, 1L).otherwise(0L)).as(s"n_$t")) :+
        round(sum($"value"), 2).as("total_value")
      events(s, d).groupBy($"user_id")
        .agg(aggs.head, aggs.tail: _*)
        .orderBy($"user_id")
    }),

    // A5-A8 daily insights: events per day, distinct active users, span
    // (insights_oladatasets.ipynb cells 1-2).
    "q18_daily_insights" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(date_trunc("day", $"ts").as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("active_users"),
          round(sum($"value"), 2).as("total_value"))
        .orderBy($"day")
    }),

    // W6 sessionization / run-length (postprocessing.py:5-24): gap > 30 min
    // starts a new session; per user count sessions and longest run.
    "q19_sessionize" -> ((s, d) => {
      import s.implicits._
      Sessionize.sessions(events(s, d), $"user_id", $"ts", gapSeconds = 1800L)
        .groupBy($"user_id")
        .agg(
          countDistinct($"session_id").as("n_sessions"),
          max($"session_len").as("max_session_len"))
        .orderBy($"user_id")
    }),

    // W7 sliding median smoothing (postprocessing.py:27-30): ±2-row median
    // of value per user ordered by time — the reference's own window size,
    // through the one sorted dual-heap sweep per key (the sweep is opaque
    // to column pruning, so the input is projected first).
    "q20_sliding_median" -> ((s, d) => {
      import s.implicits._
      Postprocess.slidingMedian(events(s, d).select($"user_id", $"event_id", $"ts", $"value"),
          $"user_id", Seq($"ts", $"event_id"), $"value", k = 2)
        .select($"user_id", $"event_id", round($"median_value", 4).as("median_value"))
        .orderBy($"user_id", $"event_id")
    }),

    // W7 at a wide window (postprocessing.py:27-30 with a wide filter,
    // e.g. 40 s over 10 Hz data): the same operator as q20 at k = 12 —
    // O(log k) per row, so the wide frame costs what the narrow one does
    // (SCALE.md `median`).
    "q89_sliding_median_heap" -> ((s, d) => {
      import s.implicits._
      Postprocess.slidingMedian(events(s, d).select($"user_id", $"event_id", $"ts", $"value"),
          $"user_id", Seq($"ts", $"event_id"), $"value", k = 12)
        .select($"user_id", $"event_id", round($"median_value", 4).as("median_value"))
        .orderBy($"user_id", $"event_id")
    }),

    // W8+W6 threshold → binary → run filtering (postprocessing.py:32-42):
    // per user, longest consecutive run of events with value >= 100.
    "q21_run_length" -> ((s, d) => {
      import s.implicits._
      Postprocess.runs(events(s, d), $"user_id", Seq($"ts", $"event_id"),
          ($"value" >= 100).cast("int"))
        .filter($"state" === 1)
        .groupBy($"user_id")
        .agg(max($"run_len").as("max_on_run"), count(lit(1)).as("n_on_runs"))
        .orderBy($"user_id")
    }),

    // As-of join (UnifiedNILM.py:205-312 pairs mains with the latest
    // appliance sample): each purchase picks up the most recent view's
    // value at-or-before its timestamp, per user. Right side is
    // pre-aggregated per (user, ts) so the at-or-before match is unique.
    "q56_asof_join" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").agg(max($"value").as("ref_value"))
        .withColumn("ref_ts", $"ts")
      AsOfJoin.backward(purchases, views, Seq("user_id"), "ts",
          Seq("ref_ts", "ref_value"))
        .select($"event_id", $"user_id", $"value", $"ref_ts", $"ref_value")
        .orderBy($"event_id")
    }),

    // Point-in-interval range join (activation-window slicing,
    // bert_single_appliance/preprocessing.py): views landing in the hour
    // after each purchase, counted per purchase. Bucketed equi-join —
    // never a per-key cross product.
    "q57_range_join" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val intervals = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("interval_id"), $"user_id",
          $"ts".as("start_ts"), ($"ts" + expr("INTERVAL '1' HOUR")).as("end_ts"))
      val points = ev.filter($"event_type" === "view")
        .select($"user_id", $"ts", $"value")
      RangeJoin.pointsInIntervals(intervals, points, Seq("user_id"),
          "start_ts", "end_ts", "ts", bucketSeconds = 3600L,
          joinType = "left_outer")
        .groupBy($"interval_id")
        .agg(count($"ts").as("n_views"),
             coalesce(round(sum($"value"), 2), lit(0.0)).as("view_value"))
        .orderBy($"interval_id")
    }),

    // Forward as-of: each purchase picks up the NEXT view at-or-after
    // its timestamp (merge_asof direction='forward') — q56's time axis
    // reversed, same single-shuffle union-and-carry plan.
    "q64_asof_forward" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").agg(max($"value").as("next_value"))
        .withColumn("next_ts", $"ts")
      AsOfJoin.forward(purchases, views, Seq("user_id"), "ts",
          Seq("next_ts", "next_value"))
        .select($"event_id", $"user_id", $"value", $"next_ts", $"next_value")
        .orderBy($"event_id")
    }),

    // Heavy hitters per event type via the native Misra–Gries aggregate
    // (graft_heavy_hitters): single pass, O(capacity) state per group,
    // map-side partial merge — never one shuffle row per DISTINCT user.
    // Counts are EXACT while the per-group distinct count stays below
    // the capacity — 65536 covers the testdata well past sf1 (sf0.1 has
    // 1500 distinct users; bounded state is the point, exactness the
    // oracle convenience). The over-capacity undercount regime is
    // property-tested in NativeAggSpec.
    "q69_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      events(s, d)
        .groupBy($"event_type")
        .agg(expr("graft_heavy_hitters(CAST(user_id AS STRING), 65536)").as("hh"),
          approx_count_distinct($"user_id", 0.02).as("__nd"))
        // fail loudly if a larger scale factor ever pushes a group past
        // the sketch capacity — beyond it Misra–Gries counts silently
        // become undercounts and the exact row_number oracle would
        // mismatch for reasons that are expected, not a bug. The guard
        // is a HyperLogLog sketch too (approx_count_distinct at an
        // explicit 2% rsd — the no-arg default is 5%, which would make
        // the margin only ~2σ — checked against a 10% margin below
        // capacity, i.e. ~5σ), so the plan stays sketch-only — no
        // exact distinct shuffle rides along
        .where(coalesce(assert_true($"__nd" <= 58982,
          lit("q69: distinct users per event_type exceeds graft_heavy_hitters " +
            "capacity 65536; counts are approximate past that — raise the " +
            "capacity or switch the oracle to a tolerance check")), lit(true)))
        .select($"event_type", posexplode(slice($"hh", 1, 3)).as(Seq("rnk", "e")))
        .select($"event_type", ($"rnk" + 1).cast("long").as("rank"),
          $"e.item".as("top_user"), $"e.count".as("cnt"))
        .orderBy($"event_type", $"rank")
    }),

    // Linear-interpolation gap fill (operators/GapFill.scala) — the
    // upsample sibling of q01's resample-mean: hourly grid per user
    // over the 'click' series, interior holes filled between the
    // nearest observed buckets. user_id < 50 bounds the output (the
    // predicate pushes to the scan); the raw-sized wide op is the
    // map-side-combinable bucket mean, both window directions share
    // one sort (pinned in GapFillSpec).
    "q101_gap_fill" -> ((s, d) => {
      import s.implicits._
      // Float-parity note: the interpolated values are compared
      // UNROUNDED, as raw bit-identical doubles. Interpolating
      // 2-decimal inputs lands exactly on decimal half-boundaries
      // (e.g. 128.6934375), where Spark's round() (BigDecimal of the
      // SHORTEST decimal repr) and DuckDB's (the exact binary value)
      // legitimately disagree — so instead of rounding, the bucket
      // means are snapped to 6dp up front (identity for these ≤4dp
      // averages, but pins both engines to the same bits) and every
      // downstream op (+,−,×,÷ in one association order) is IEEE-
      // deterministic from there.
      val hourly = events(s, d)
        .filter($"event_type" === "click" && $"user_id" < 50)
        .groupBy($"user_id", date_trunc("hour", $"ts").as("ts"))
        // exact-integer bucket mean (cents summed, ONE division): both
        // order-independent and the same bits in both engines — the
        // stronger form of the 6dp snap the comment above motivates
        .agg(round(sum(round($"value" * 100).cast("long")).cast("double") /
          (count($"value") * 100), 6).as("value"))
      graft.operators.GapFill.interpolate(hourly,
          Seq("user_id"), "ts", "value", 3600L)
        .orderBy($"user_id", $"ts")
    }),

    // Ordered-step funnel (operators/Funnel.scala): earliest
    // view → click → purchase progression per user, later steps
    // bounded to 7 days after the first view. Every wide op hashes on
    // user_id (co-partitioned agg/join chain, no per-user buffering).
    "q102_funnel" -> ((s, d) => {
      import s.implicits._
      graft.operators.Funnel.funnel(events(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"), 7L * 86400L)
        .select($"user_id", $"ts_1".as("ts_view"), $"ts_2".as("ts_click"),
          $"ts_3".as("ts_purchase"), $"stage")
        .orderBy($"user_id")
    }),

    // Cohort retention matrix: users cohorted by the Monday week of
    // their FIRST event; retention(k) = fraction of the cohort active
    // k weeks later. ONE user-keyed shuffle computes both the cohort
    // and the activity set (min + collect_set in one agg — per-user
    // state is bounded by calendar weeks, not events); the explode is
    // map-side, the (cohort, offset) rollup is map-side combinable,
    // and the denominator joins back as a broadcast cohort-sized
    // frame. datediff div 7 is exact integer arithmetic (both weeks
    // are Monday-truncated).
    "q107_cohort_retention" -> ((s, d) => {
      import s.implicits._
      val weeks = events(s, d).select($"user_id",
        date_trunc("week", $"ts").cast("date").as("week"))
      val perUser = weeks.groupBy($"user_id")
        .agg(min($"week").as("cohort_week"), collect_set($"week").as("wks"))
      val act = perUser
        .select($"cohort_week", explode($"wks").as("week"))
        .select($"cohort_week",
          expr("datediff(week, cohort_week) div 7").as("week_offset"))
      val counts = act.groupBy($"cohort_week", $"week_offset")
        .agg(count(lit(1)).as("n_users"))
      val sizes = counts.filter($"week_offset" === 0)
        .select($"cohort_week", $"n_users".as("__cohort_size"))
      counts.join(broadcast(sizes), "cohort_week")
        .select($"cohort_week", $"week_offset", $"n_users",
          round($"n_users" / $"__cohort_size", 6).as("retention"))
        .orderBy($"cohort_week", $"week_offset")
    }),

    // Trailing EWMA smoothing (operators/Postprocess.ewma): pandas
    // ewm(adjust=True) weighting over the last 10 samples per user —
    // the recency-weighted level tracker beside q20's impulse-killing
    // sliding median. The same user-keyed sorted sweep as q20; each row
    // sums its ring of the last 10 values newest first, so the value is
    // bit-stable across partitionings (both engines sum in the same
    // association order; pow wobble absorbed by round 6).
    "q109_ewma" -> ((s, d) => {
      import s.implicits._
      graft.operators.Postprocess.ewma(
          events(s, d).select($"user_id", $"ts", $"event_id", $"value"),
          key = $"user_id", orderCols = Seq($"ts", $"event_id"),
          value = $"value", alpha = 0.3, span = 10)
        .select($"user_id", $"event_id", $"value",
          round($"ewma", 6).as("ewma"))
        .orderBy($"user_id", $"event_id")
    }),

    // Time-weighted average for IRREGULARLY sampled series: each value
    // holds until the next sample (step interpolation), so the mean
    // weights each value by its holding duration — the correct
    // "average level" where q01's bucket mean would over-weight burst
    // periods. One keyed window derives the per-segment duration
    // (lead), the rollup is a map-side-combinable weighted sum.
    // Zero-length segments (equal-ts ties) carry no weight and drop.
    "q113_time_weighted_avg" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val dtUs = lead(unix_micros($"ts"), 1).over(w) - unix_micros($"ts")
      events(s, d)
        .select($"user_id", $"ts", $"event_id", $"value")
        .withColumn("dt_us", dtUs)
        .filter($"dt_us".isNotNull && $"dt_us" > 0)
        .groupBy($"user_id")
        .agg(round(sum($"value" * $"dt_us") / sum($"dt_us"), 6).as("twa"),
          count(lit(1)).as("n_segments"))
        .orderBy($"user_id")
    }),

    // Equi-width histogram per group (dashboard / data-quality
    // binning): 20 bins spanning each event_type's [min, max]. The
    // per-type bounds are a group-cardinality broadcast frame, so bin
    // assignment is map-only and the rollup is one map-side-combinable
    // (type, bin) agg — no corpus sort, no window. Bin arithmetic is
    // the identical float expression in both engines (same association
    // order), so bin edges cannot disagree.
    "q114_histogram" -> ((s, d) => {
      import s.implicits._
      val bins = 20
      val ev = events(s, d).select($"event_type", $"value")
      val mm = ev.groupBy($"event_type")
        .agg(min($"value").as("__mn"), max($"value").as("__mx"))
      val width = ($"__mx" - $"__mn") / bins
      val bin = when($"__mx" === $"__mn", lit(0))
        .otherwise(least(floor(($"value" - $"__mn") / width), lit(bins - 1)))
        .cast("int")
      ev.join(broadcast(mm), "event_type")
        .select($"event_type", bin.as("bin"), $"__mn", $"__mx")
        .groupBy($"event_type", $"bin")
        .agg(count(lit(1)).as("n"),
          first($"__mn").as("__mn0"), first($"__mx").as("__mx0"))
        .select($"event_type", $"bin",
          round($"__mn0" + $"bin" * (($"__mx0" - $"__mn0") / bins), 6)
            .as("bin_lo"),
          round($"__mn0" + ($"bin" + 1) * (($"__mx0" - $"__mn0") / bins), 6)
            .as("bin_hi"),
          $"n")
        .orderBy($"event_type", $"bin")
    }),

    // CUBE grouping sets — all four rollup combinations of
    // (event_type, day-of-week) in ONE pass with grouping_id
    // disambiguating genuine nulls from subtotal rows. Spark expands
    // the cube BEFORE the map-side partial aggregate, so the exchange
    // carries ≤ |types|×|dows|×4 rows per task, not 4× the corpus.
    // dow is normalized to 0=Sunday on both engines (Spark dayofweek
    // is 1-based, DuckDB 0-based).
    "q116_cube" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"event_type", (dayofweek($"ts") - 1).cast("long").as("dow"),
          $"value")
        .cube($"event_type", $"dow")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          round(sum($"value"), 2).as("sum_value"))
        .select($"gid", $"event_type", $"dow", $"n", $"sum_value")
        .orderBy($"gid", $"event_type", $"dow")
    }),

    // Week-over-week growth: the corpus aggregates ONCE to the tiny
    // (type, week) series; the lag window runs over that result, never
    // the raw events. First week of each type has no prior → null pct.
    "q117_wow_growth" -> ((s, d) => {
      import s.implicits._
      val wk = events(s, d)
        .groupBy($"event_type",
          date_trunc("week", $"ts").cast("date").as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"event_type").orderBy($"week")
      wk.withColumn("prev_n", lag($"n", 1).over(w))
        .withColumn("wow_pct",
          round(($"n" - $"prev_n") * 100.0 / $"prev_n", 6))
        .orderBy($"event_type", $"week")
    }),

    // First-order Markov transition matrix over per-user event
    // sequences (the product-analytics "what happens after X" op, and
    // the degenerate-loop detector for synthetic event data). One
    // user-keyed window derives each event's predecessor; the pair
    // rollup is map-side combinable; row-normalization joins the
    // |types|-row totals back broadcast.
    "q118_event_transitions" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tr = events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type").agg(count(lit(1)).as("n"))
      val tot = tr.groupBy($"prev_type").agg(sum($"n").as("__tot"))
      tr.join(broadcast(tot), "prev_type")
        .select($"prev_type", $"event_type", $"n",
          round($"n" / $"__tot", 6).as("p"))
        .orderBy($"prev_type", $"event_type")
    }),

    // Distribution-drift monitoring via the Population Stability Index
    // — the data-quality check a 100 TB pipeline runs between a
    // baseline period and the current period before trusting new data.
    // Bins are fixed from the BASELINE's [min,max] (out-of-range
    // current values clamp into the edge bins, so range drift shows up
    // there); both periods bin in ONE scan (the baseline/current flag
    // rides the row), counts Laplace-smooth with +1 per bin so empty
    // bins stay finite, and the per-type PSI is a sum over the
    // observed-bin rows. Bounds and totals are type-cardinality
    // broadcast frames; nothing re-scans events.
    "q123_psi_drift" -> ((s, d) => {
      import s.implicits._
      val bins = 10
      // session-TZ (UTC-pinned) literal — java.sql.Timestamp.valueOf would
      // resolve in the JVM default timezone and shift vs the naive oracle
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val ev = events(s, d).select($"event_type", $"value",
        ($"ts" < cutoff).as("is_base"))
      val mm = ev.filter($"is_base").groupBy($"event_type")
        .agg(min($"value").as("__mn"), max($"value").as("__mx"))
      val width = ($"__mx" - $"__mn") / bins
      val bin = when($"__mx" === $"__mn", lit(0))
        .otherwise(greatest(least(floor(($"value" - $"__mn") / width),
          lit(bins - 1)), lit(0))).cast("int")
      val counts = ev.join(broadcast(mm), "event_type")
        .groupBy($"event_type", bin.as("bin"))
        .agg(sum(when($"is_base", 1L).otherwise(0L)).as("cb"),
          sum(when($"is_base", 0L).otherwise(1L)).as("cc"))
      val tots = counts.groupBy($"event_type")
        .agg(sum($"cb").as("__nb"), sum($"cc").as("__nc"))
      val p = ($"cb" + 1) / ($"__nb" + bins)
      val q = ($"cc" + 1) / ($"__nc" + bins)
      counts.join(broadcast(tots), "event_type")
        .groupBy($"event_type")
        .agg(first($"__nb").as("n_base"), first($"__nc").as("n_current"),
          round(sum((q - p) * log(q / p)), 6).as("psi"))
        .orderBy($"event_type")
    }),

    // Per-user OLS trend: is this user's metric drifting up or down?
    // One map-side-combinable aggregate of the five OLS sums (n, Σx,
    // Σy, Σxy, Σxx) with the closed-form slope/intercept assembled
    // ABOVE the agg — the explicit formula (not regr_slope) so both
    // engines evaluate the identical expression tree over the same
    // sums. x = seconds since 2024-01-01 (small integers — no epoch-
    // magnitude cancellation in Σxx).
    "q124_trend_slope" -> ((s, d) => {
      import s.implicits._
      // Deterministic distributed OLS: EVERY sum is an exact 64-bit
      // integer — x is seconds since 2024-01-01 (small), y is
      // quantized to 1e-4 fixed point via floor(y·10⁴ + 0.5) (floor is
      // bit-deterministic on the identical input double, unlike
      // round(), whose half rule differs between engines). Identical
      // integer sums make every downstream double op (cast, ×, −, /)
      // IEEE-identical in both engines, so the slope ships UNROUNDED
      // and hash-exact — no rounding boundary to straddle (round(…,4)
      // and round(…,6) both measurably failed on half-boundary rows).
      // Long-sum headroom: Σ(x·yq) ≲ rows_per_user · 10¹³ — exact past
      // sf1 with orders of magnitude to spare.
      // NB Column./ is DOUBLE division — `div` keeps x integral
      val x = expr("unix_micros(ts) div 1000000") -
        lit(java.time.LocalDate.of(2024, 1, 1)
          .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond)
      val yq = floor($"value" * 10000 + 0.5).cast("long")
      val sums = events(s, d)
        .select($"user_id", x.as("x"), yq.as("yq"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"yq").as("syq"),
          sum($"x" * $"yq").as("sxyq"), sum($"x" * $"x").as("sxx"))
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      val slope = (d2($"n") * d2($"sxyq") - d2($"sx") * d2($"syq")) /
        (d2($"n") * d2($"sxx") - d2($"sx") * d2($"sx"))
      sums.select($"user_id", $"n".as("n_points"),
          (slope * 86400 / 10000).as("slope_per_day"))
        .orderBy($"user_id")
    }),

    // Rolling 7-day active users + stickiness (DAU/WAU) — the product
    // metric that needs rolling DISTINCT, which no frame aggregate
    // gives you: distinct (day, user) pairs (bounded: days × users,
    // one corpus shuffle), each pair then CONTRIBUTES to the 7 windows
    // ending on day..day+6 via a map-side 7-element explode of the
    // deduped pair frame — never a 7× fan-out of raw events — and the
    // per-window distinct-user count is one more hash agg. Windows are
    // emitted only where the anchor day itself has activity (join back
    // to the observed-day set).
    "q129_rolling_wau" -> ((s, d) => {
      import s.implicits._
      val dayUser = events(s, d)
        .select(date_trunc("day", $"ts").cast("date").as("day"), $"user_id")
        .distinct()
      val dau = dayUser.groupBy($"day").agg(count(lit(1)).as("dau"))
      val wau = dayUser
        .select(explode(sequence(lit(0), lit(6))).as("k"),
          $"day", $"user_id")
        .select(date_add($"day", $"k").as("day"), $"user_id")
        .distinct()
        .groupBy($"day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select($"day", $"dau", $"wau",
          round($"dau" / $"wau", 6).as("stickiness"))
        .orderBy($"day")
    }),

    // CUPED-adjusted experiment readout (Deng et al., WSDM 2013) — the
    // variance-reduction every experimentation platform applies: per
    // user, pre-period spend x and post-period spend y (synthetic
    // variant = user_id % 2), θ = cov(x,y)/var(x) POOLED, adjusted
    // metric a = y − θ·(x − x̄). All moments derive from EXACT integer
    // sums (values quantized at 1e-2 fixed point, matching the data's
    // 2-dp precision — the q124 discipline), θ/means/variances are one
    // identical double expression tree in both engines, and every
    // output ships UNROUNDED and bit-exact. Shapes: one user-keyed
    // agg, a broadcast one-row global frame, a 2-row variant agg.
    "q130_cuped" -> ((s, d) => {
      import s.implicits._
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val vq = floor($"value" * 100 + 0.5).cast("long")
      val per = events(s, d)
        .select($"user_id", ($"ts" < cutoff).as("pre"), vq.as("vq"))
        .groupBy($"user_id")
        .agg(sum(when($"pre", $"vq").otherwise(0L)).as("x"),
          sum(when($"pre", 0L).otherwise($"vq")).as("y"),
          sum(when($"pre", 1L).otherwise(0L)).as("npre"),
          sum(when($"pre", 0L).otherwise(1L)).as("npost"))
        .filter($"npre" > 0 && $"npost" > 0)
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      val g = per.agg(count(lit(1)).as("gn"), sum($"x").as("gsx"),
        sum($"y").as("gsy"), sum($"x" * $"y").as("gsxy"),
        sum($"x" * $"x").as("gsxx"))
      val theta = (d2($"gn") * d2($"gsxy") - d2($"gsx") * d2($"gsy")) /
        (d2($"gn") * d2($"gsxx") - d2($"gsx") * d2($"gsx"))
      val xbar = d2($"gsx") / d2($"gn")
      val v = per.groupBy(pmod($"user_id", lit(2)).as("variant"))
        .agg(count(lit(1)).as("nv"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"y" * $"y").as("syy"), sum($"x" * $"y").as("sxy"),
          sum($"x" * $"x").as("sxx"))
      val j = v.join(broadcast(g))
        .withColumn("__t", theta).withColumn("__xb", xbar)
      val sa = d2($"sy") - $"__t" * d2($"sx") + d2($"nv") * $"__t" * $"__xb"
      val saa = d2($"syy") - lit(2.0) * $"__t" * d2($"sxy") +
        $"__t" * $"__t" * d2($"sxx") +
        lit(2.0) * $"__t" * $"__xb" * d2($"sy") -
        lit(2.0) * $"__t" * $"__t" * $"__xb" * d2($"sx") +
        d2($"nv") * $"__t" * $"__t" * $"__xb" * $"__xb"
      j.select($"variant", $"nv".as("n_users"),
          (d2($"sy") / d2($"nv") / 100).as("mean_post"),
          (sa / d2($"nv") / 100).as("mean_cuped"),
          ((d2($"syy") / d2($"nv") -
            (d2($"sy") / d2($"nv")) * (d2($"sy") / d2($"nv"))) / 10000)
            .as("var_post"),
          ((saa / d2($"nv") - (sa / d2($"nv")) * (sa / d2($"nv"))) / 10000)
            .as("var_cuped"))
        .orderBy($"variant")
    }),

    // Association rules over per-user event-type baskets (market-
    // basket support/confidence/lift — "users who do X also do Y").
    // The basket is the per-user DISTINCT type set (bounded by the
    // type vocabulary), so pair generation is a map-side combination
    // explode of the per-user array — never an all-pairs or user-keyed
    // self-join — and marginals/user-count ride back as broadcast
    // frames. All three metrics are single divisions of exact integer
    // counts: bit-exact unrounded.
    "q131_assoc_rules" -> ((s, d) => {
      import s.implicits._
      val ut = events(s, d).select($"user_id", $"event_type").distinct()
      val sets = ut.groupBy($"user_id")
        .agg(sort_array(collect_set($"event_type")).as("ts"))
      val pairs = sets.select(explode(flatten(
          transform($"ts", (x, i) => transform(
            slice($"ts", i + 2, size($"ts")),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .groupBy($"p.a", $"p.b").agg(count(lit(1)).as("cab"))
      val marg = ut.groupBy($"event_type").agg(count(lit(1)).as("c"))
      val nu = sets.agg(count(lit(1)).as("__nu"))
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      pairs
        .join(broadcast(marg.select($"event_type".as("a"), $"c".as("ca"))), "a")
        .join(broadcast(marg.select($"event_type".as("b"), $"c".as("cb"))), "b")
        .join(broadcast(nu))
        .select($"a", $"b", $"cab",
          (d2($"cab") / d2($"__nu")).as("support"),
          (d2($"cab") / d2($"ca")).as("confidence_a_b"),
          (d2($"cab") * d2($"__nu") / (d2($"ca") * d2($"cb"))).as("lift"))
        .orderBy($"a", $"b")
    }),

    // Conversion-latency distribution — the question that follows
    // q102's funnel COUNTS: how long does view→click and view→purchase
    // take for converters? Durations stay in exact integer µs (the q06
    // discipline: medians of integer µs interpolate to .0/.5 doubles,
    // no rounding needed), the funnel frame is user-keyed and the
    // summary is one global agg.
    "q132_conversion_latency" -> ((s, d) => {
      import s.implicits._
      val f = graft.operators.Funnel.funnel(events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), 7L * 86400L)
      f.filter($"stage" >= 2)
        .select(
          (unix_micros($"ts_2") - unix_micros($"ts_1")).as("us_click"),
          when($"stage" === 3,
            unix_micros($"ts_3") - unix_micros($"ts_1")).as("us_purchase"))
        .agg(count($"us_click").as("n_clicked"),
          percentile($"us_click", lit(0.5)).as("median_us_to_click"),
          count($"us_purchase").as("n_purchased"),
          percentile($"us_purchase", lit(0.5)).as("median_us_to_purchase"))
    }),

    // Two-sided 10% trimmed mean per group — the robust location
    // estimate between q114's mean and q98's median/MAD, computed with
    // ZERO float rank arithmetic: values are exact 1e-2 fixed point
    // (the data's precision), ranks come from the integer cumulative
    // over the per-group VALUE HISTOGRAM (bounded distinct — never a
    // per-group sort of raw rows), boundary ties keep exactly their
    // partial multiplicity via integer clamps, and the final mean is
    // one division of exact longs — bit-exact unrounded.
    "q135_trimmed_mean" -> ((s, d) => {
      import s.implicits._
      val vq = floor($"value" * 100 + 0.5).cast("long")
      val hist = events(s, d)
        .select($"event_type", vq.as("v"))
        .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"event_type").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum($"c").over(w))
      val tot = hist.groupBy($"event_type").agg(sum($"c").as("__n"))
      val k = ($"__n" / 10).cast("long") // floor(n/10) trimmed each side
      val kept = greatest(
        least($"cum", $"__n" - k) - greatest($"cum" - $"c", k), lit(0L))
      cum.join(broadcast(tot), "event_type")
        .select($"event_type", $"v", kept.as("kept"))
        .groupBy($"event_type")
        .agg(sum($"kept").as("n_kept"),
          (sum($"v" * $"kept").cast("double") /
            sum($"kept").cast("double") / 100).as("trimmed_mean"))
        .orderBy($"event_type")
    }),

    // Two-sample Kolmogorov–Smirnov drift statistic (binned form) —
    // the PSI sibling that asks "how far apart are the CDFs" instead
    // of "how surprised is each bin". 100 equi-width bins over the
    // combined range; the sup is found by maximizing the INTEGER
    // cross-product |cumb·nc − cumc·nb| (exact in both engines — no
    // float CDF comparison), and only the final D = num/(nb·nc) is a
    // double division of exact integers, so the value ships unrounded
    // and bit-exact. The cum window runs over the 100-bins-per-type
    // frame, never raw events; at corpus scales beyond long headroom
    // (n_b·n_c ≳ 2⁶³) the same query runs on decimal128.
    "q125_ks_drift" -> ((s, d) => {
      import s.implicits._
      val bins = 100
      // session-TZ (UTC-pinned) literal — java.sql.Timestamp.valueOf would
      // resolve in the JVM default timezone and shift vs the naive oracle
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val ev = events(s, d).select($"event_type", $"value",
        ($"ts" < cutoff).as("is_base"))
      val mm = ev.groupBy($"event_type")
        .agg(min($"value").as("__mn"), max($"value").as("__mx"))
      val width = ($"__mx" - $"__mn") / bins
      val bin = when($"__mx" === $"__mn", lit(0))
        .otherwise(least(floor(($"value" - $"__mn") / width),
          lit(bins - 1))).cast("int")
      val counts = ev.join(broadcast(mm), "event_type")
        .groupBy($"event_type", bin.as("bin"))
        .agg(sum(when($"is_base", 1L).otherwise(0L)).as("cb"),
          sum(when($"is_base", 0L).otherwise(1L)).as("cc"))
      val w = Window.partitionBy($"event_type").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts.select($"event_type",
        sum($"cb").over(w).as("cumb"), sum($"cc").over(w).as("cumc"))
      val tots = counts.groupBy($"event_type")
        .agg(sum($"cb").as("__nb"), sum($"cc").as("__nc"))
      cum.join(broadcast(tots), "event_type")
        .groupBy($"event_type")
        .agg(first($"__nb").as("n_base"), first($"__nc").as("n_current"),
          max(abs($"cumb" * $"__nc" - $"cumc" * $"__nb")).as("__num"))
        .select($"event_type", $"n_base", $"n_current",
          // one-sided data (all rows before or after the cutoff) has no
          // two-sample statistic: emit NULL explicitly — Spark's 0/0
          // double is NaN while DuckDB's is NULL, so the degenerate
          // case must be decided before the division on both sides
          when($"n_base" === 0L || $"n_current" === 0L,
            lit(null).cast("double"))
            .otherwise($"__num".cast("double") /
              ($"n_base" * $"n_current").cast("double")).as("ks"))
        .orderBy($"event_type")
    }),

    // HITS-style hub centrality on the user↔event_type bipartite
    // graph — the link-analysis op a web-crawl curation pipeline runs
    // to score sources, done WITHOUT ever materializing the user×user
    // co-occurrence graph (two power-iteration hops stay on the
    // |users|·|types|-bounded edge list). All arithmetic is integer
    // (counts × integer scores, one DIV-1000 rescale between hops to
    // bound magnitudes), so the scores are bit-exact at any
    // partitioning/layout — no float-summation order anywhere. Plan
    // shape: raw events shuffle ONCE (repartition by user_id feeds the
    // (u,t) rollup into the cache); everything after moves only the
    // COLLAPSED edge list (≤ |users|·|types| rows — the per-user hub
    // windows re-cluster the cached frame because AQE-cached plans
    // report unknown partitioning at planning time) or the |types|-row
    // authority frames, which join back broadcast.
    // At 2⁶³-risk corpus sizes the same query runs on decimal128
    // (Hits.hubScores use128=true — the ANSI overflow guard and the
    // decimal fallback's safe-range bit-agreement are red-tested in
    // HitsSpec). Core lives in ext/Hits so the iteration is reusable
    // and the overflow contract testable with planted counts.
    "q136_hits_centrality" -> ((s, d) => {
      import s.implicits._
      graft.ext.Hits.hubScores(events(s, d), "user_id", "event_type")
        .orderBy($"hub2".desc, $"hub1".desc, $"user_id")
        .limit(20)
    }),

    // Integer-exact CUSUM change-point per event_type: the day k that
    // maximizes |n·P_k − k·S| over the daily-count series (P_k prefix
    // count, S total, n days) — the scaled form of "where does the
    // cumulative sum depart furthest from the uniform-rate line",
    // detected entirely in integers (no mean, no float CUSUM), so the
    // winner and its deviation are bit-exact and order-independent.
    // Ties break to the earliest day. Every window pass runs over the
    // daily-collapsed frame (≤ days×types rows, built map-side from ONE
    // events scan); the per-type totals n and S come from unbounded
    // windows on the SAME event_type clustering — a join-based totals
    // frame would pay a second full scan of events and two more
    // exchanges for a value the partition already holds.
    "q138_changepoint" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type",
          date_trunc("day", $"ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val wt = Window.partitionBy($"event_type")
      val wd = wt.orderBy($"day")
      val cum = daily
        .withColumn("k", row_number().over(wd))
        .withColumn("p", sum($"c").over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__n", count(lit(1)).over(wt))
        .withColumn("__s", sum($"c").over(wt))
      val dev = abs($"__n" * $"p" - $"k" * $"__s")
      val w1 = wt.orderBy($"dev".desc, $"day")
      cum
        .select($"event_type", $"day", $"__n".as("n_days"), dev.as("dev"))
        .withColumn("rn", row_number().over(w1))
        .filter($"rn" === 1)
        .select($"event_type", $"day".as("change_day"), $"n_days",
          $"dev".as("max_scaled_dev"))
        .orderBy($"event_type")
    }),

    // Benford first-significant-digit deviation per event_type — the
    // classic fabricated-data / instrumentation-bug screen over a
    // monetary column. The digit histogram collapses map-side to
    // ≤ 9×|types| rows (ONE exchange over the raw scan); the chi²
    // against Benford's law is then computed on a 9-column pivot of
    // that tiny frame in a FIXED association order (d1..d9 left to
    // right) with shared full-precision digit-probability literals, so
    // the double arithmetic is bit-identical on both engines and
    // layout-independent. Digits come from the exact integer-cents
    // form (values sit on the hundredths grid — BoundarySpec guard),
    // never from float log10.
    "q139_benford" -> ((s, d) => {
      import s.implicits._
      val digits = events(s, d)
        .select($"event_type",
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
        .filter($"cents" > 0)
        .select($"event_type",
          substring($"cents".cast("string"), 1, 1).cast("int").as("dg"))
        .groupBy($"event_type", $"dg").agg(count(lit(1)).as("m"))
      val cs = (1 to 9).map(i =>
        sum(when($"dg" === i, $"m").otherwise(0L)).as(s"c$i"))
      val piv = digits.groupBy($"event_type")
        .agg(sum($"m").as("n"), cs: _*)
      val chi2 = (1 to 9).map { i =>
        val e = $"n".cast("double") * lit(benfordP(i))
        val o = col(s"c$i").cast("double")
        (o - e) * (o - e) / e
      }.reduce(_ + _)
      piv.select($"event_type", $"n".as("n_values"),
          round(chi2, 6).as("benford_chi2"))
        .orderBy($"event_type")
    }),

    // Event-type affinity: user-set Jaccard for every unordered type
    // pair — the co-engagement matrix a mixture/taxonomy designer
    // reads. Scale shape: ONE user-keyed exchange builds per-user
    // distinct-type sets (collect_set combines map-side; set size is
    // bounded by the type taxonomy, not the event count); pair
    // generation is a map-side double-explode of those tiny arrays;
    // everything downstream moves ≤ |types|² rows, and the per-type
    // user counts join back BROADCAST. The sets frame feeds three
    // branches, so it is persisted (the q136 lesson). Never a
    // user×user or event×event self-join.
    "q140_type_affinity" -> ((s, d) => {
      import s.implicits._
      val sets = graft.Caching.persisted(
        events(s, d).select($"user_id", $"event_type")
          .groupBy($"user_id").agg(collect_set($"event_type").as("ts")))
      val pairs = sets
        .select(explode($"ts").as("type_a"), $"ts")
        .select($"type_a", explode($"ts").as("type_b"))
        .filter($"type_a" < $"type_b")
        .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_both"))
      val perType = sets.select(explode($"ts").as("t"))
        .groupBy($"t").agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(perType.select($"t".as("type_a"), $"n".as("n_a"))),
          "type_a")
        .join(broadcast(perType.select($"t".as("type_b"), $"n".as("n_b"))),
          "type_b")
        .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
          round($"n_both".cast("double") /
            ($"n_a" + $"n_b" - $"n_both").cast("double"), 6).as("jaccard"))
        .orderBy($"type_a", $"type_b")
    }),

    // Lag-1 autocorrelation of the daily count series per event_type —
    // the burstiness/regularity diagnostic next to q138's change
    // point. Numerator and denominator are computed in SCALED integers
    // (n·c_k − S is exact; multiply pairs, sum longs — the common n²
    // factor cancels in the ratio), so both sums are bit-exact and
    // order-free; the single final division is the only float op.
    // All window passes run over the daily-collapsed frame (≤
    // days×types rows, ONE events exchange), totals via unbounded
    // windows on the same event_type clustering (the q138 shape).
    // n_days = 1 or an all-equal series yields a 0 denominator → null.
    // At 2⁶³-risk daily volumes the same query runs on decimal128
    // (SeriesStats.lag1Autocorr use128=true — ANSI overflow guard and
    // safe-range bit-agreement red-tested in SeriesStatsSpec; the core
    // is factored out so planted counts can reach the overflow).
    "q141_daily_autocorr" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type",
          date_trunc("day", $"ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      graft.ext.SeriesStats.lag1Autocorr(daily, "event_type", "day", "c")
        .select($"event_type", $"n_points".as("n_days"), $"lag1_autocorr")
        .orderBy($"event_type")
    }),

    // Mann-Kendall trend statistic per event_type — the nonparametric
    // monotone-trend screen (S = Σ_{i<j} sign(c_j − c_i) over the daily
    // count series) that, unlike q124's OLS slope, is outlier-immune
    // and entirely INTEGER: S and n are exact at any partitioning, and
    // tau_a = 2S/(n(n−1)) is one final division. Scale shape: the pair
    // generation self-joins the DAILY-collapsed frame (persisted — both
    // join branches and the totals read the cache, the q136/q140
    // lesson) with the right side BROADCAST on event_type; pair count
    // is days²-bounded per type — calendar-bounded (40 years ≈ 15k
    // days → ~1e8 pairs), never corpus-bounded, and |S| ≤ n²/2 keeps
    // int64 headroom at ANY calendar span. Types with one day keep
    // their row via the left join (S = 0, tau null).
    "q142_mann_kendall" -> ((s, d) => {
      import s.implicits._
      val daily = graft.Caching.persisted(
        events(s, d)
          .groupBy($"event_type",
            date_trunc("day", $"ts").cast("date").as("day"))
          .agg(count(lit(1)).as("c")))
      val a = daily.select($"event_type", $"day".as("da"), $"c".as("ca"))
      val b = daily.select($"event_type", $"day".as("db"), $"c".as("cb"))
      val pairs = a.join(broadcast(b), "event_type")
        .filter($"da" < $"db")
        .groupBy($"event_type")
        .agg(sum(when($"cb" > $"ca", 1L).when($"cb" < $"ca", -1L)
          .otherwise(0L)).as("__s"))
      val tot = daily.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
      tot.join(broadcast(pairs), Seq("event_type"), "left")
        .select($"event_type", $"n_days",
          coalesce($"__s", lit(0L)).as("s_stat"),
          when($"n_days" < 2, lit(null).cast("double"))
            .otherwise(round(
              (lit(2) * coalesce($"__s", lit(0L))).cast("double") /
                ($"n_days" * ($"n_days" - 1)).cast("double"), 6))
            .as("tau_a"))
        .orderBy($"event_type")
    }),

    // Spearman rank correlation for every unordered event-type pair
    // over their day-ALIGNED daily count series — the robust companion
    // to q44's Pearson matrix (rank correlation ignores the heavy-tail
    // magnitudes daily counts have). Tie handling is exact: the
    // 2×average-rank 2·rank_min + ties − 1 is an INTEGER (the 2-scaling
    // cancels in the ratio), so every sum is exact; products/sums run
    // in decimal128 so the n⁴-growth of n·Σxx never hits int64 at any
    // calendar span, and the one sqrt/division of exact values is the
    // only float op (IEEE sqrt is correctly rounded — deterministic on
    // both engines). Scale shape: day-keyed self-join of the persisted
    // daily frame, right side BROADCAST; all four rank windows share
    // ONE (type_a,type_b) exchange (tie counts use the RANGE peer
    // frame, not a third partition key); rows ≤ days×|types|²/2.
    // Constant series (zero rank variance) → null.
    "q143_spearman_pairs" -> ((s, d) => {
      import s.implicits._
      val daily = graft.Caching.persisted(
        events(s, d)
          .groupBy($"event_type",
            date_trunc("day", $"ts").cast("date").as("day"))
          .agg(count(lit(1)).as("c")))
      val a = daily.select($"event_type".as("type_a"), $"day", $"c".as("ca"))
      val b = daily.select($"event_type".as("type_b"), $"day", $"c".as("cb"))
      val wp = Window.partitionBy($"type_a", $"type_b")
      def rank2(c: org.apache.spark.sql.Column) =
        rank().over(wp.orderBy(c)).cast("long") * 2 +
          count(lit(1)).over(wp.orderBy(c).rangeBetween(0, 0)) - 1
      val dec = "decimal(19,0)"
      val ranked = a.join(broadcast(b), "day")
        .filter($"type_a" < $"type_b")
        .withColumn("rx", rank2($"ca").cast(dec))
        .withColumn("ry", rank2($"cb").cast(dec))
      val agg = ranked.groupBy($"type_a", $"type_b")
        .agg(count(lit(1)).as("n_days"),
          sum($"rx").as("sx"), sum($"ry").as("sy"),
          sum($"rx" * $"ry").as("sxy"),
          sum($"rx" * $"rx").as("sxx"),
          sum($"ry" * $"ry").as("syy"))
      val n = $"n_days".cast(dec)
      val num = n * $"sxy" - $"sx" * $"sy"
      val dx = n * $"sxx" - $"sx" * $"sx"
      val dy = n * $"syy" - $"sy" * $"sy"
      agg.select($"type_a", $"type_b", $"n_days",
          when(dx === 0 || dy === 0, lit(null).cast("double"))
            .otherwise(round(num.cast("double") /
              sqrt(dx.cast("double") * dy.cast("double")), 6))
            .as("spearman_rho"))
        .orderBy($"type_a", $"type_b")
    }),

    // Weekday seasonality profile per event_type — the instrumentation
    // screen next to q139's Benford (a pipeline whose Tuesday column
    // collapses has a scheduler bug, not a data shift). Day-of-week is
    // pure epoch-day arithmetic ((days_since_epoch + 3) mod 7, Monday
    // 0 — 1970-01-01 was a Thursday; no locale, no engine dayofweek
    // disagreement), the histogram collapses map-side to ≤ 7×|types|
    // rows in ONE exchange, and the uniformity chi² reduces to
    // (7·Σc² − n²)/n — INTEGER except the single final division
    // (algebra: Σ(c−n/7)²/(n/7) telescopes), carried in decimal128 so
    // Σc² never hits int64 at petabyte per-type counts. No float
    // probability literals at all (tighter than q139's shared-literal
    // discipline — there is nothing to share).
    "q144_weekday_profile" -> ((s, d) => {
      import s.implicits._
      val dow = pmod(datediff(date_trunc("day", $"ts").cast("date"),
        lit("1970-01-01").cast("date")) + 3, lit(7))
      val hist = events(s, d).select($"event_type", dow.as("dw"))
        .groupBy($"event_type", $"dw").agg(count(lit(1)).as("m"))
      val cs = (0 to 6).map(i =>
        sum(when($"dw" === i, $"m").otherwise(0L)).as(s"c$i"))
      val piv = hist.groupBy($"event_type").agg(sum($"m").as("n"), cs: _*)
      val dec = "decimal(19,0)"
      val sq = (0 to 6).map(i =>
        col(s"c$i").cast(dec) * col(s"c$i").cast(dec)).reduce(_ + _)
      val chi2 = (lit(7).cast(dec) * sq -
        $"n".cast(dec) * $"n".cast(dec)).cast("double") / $"n".cast("double")
      piv.select($"event_type", $"n".as("n_events"),
          $"c0".as("mon"), $"c1".as("tue"), $"c2".as("wed"),
          $"c3".as("thu"), $"c4".as("fri"), $"c5".as("sat"),
          $"c6".as("sun"), round(chi2, 6).as("dow_chi2"))
        .orderBy($"event_type")
    }),

    // Longest consecutive-active-day streak histogram — the engagement
    // depth profile (how many users sustained k-day runs). Classic
    // gaps-and-islands done entirely on COLLAPSED frames: the distinct
    // (user, day) grid is one map-side-combined exchange; the island
    // key day_number − row_number is integer; streak lengths and the
    // final histogram are counts. The per-user window and both
    // following aggregates share the user_id clustering (one window
    // exchange; groupBy(user, g) and groupBy(user) reuse it — hash
    // partitioning on a SUBSET of the grouping keys satisfies the
    // clustering), and the ≤ max_streak-row histogram is the only
    // further exchange. Never a window over raw events.
    "q145_streak_hist" -> ((s, d) => {
      import s.implicits._
      val ud = events(s, d)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
        .distinct()
      val wu = Window.partitionBy($"user_id").orderBy($"day")
      val island = datediff($"day", lit("1970-01-01").cast("date")) -
        row_number().over(wu)
      ud.withColumn("g", island)
        .groupBy($"user_id", $"g").agg(count(lit(1)).as("len"))
        .groupBy($"user_id").agg(max($"len").as("streak_days"))
        .groupBy($"streak_days").agg(count(lit(1)).as("n_users"))
        .orderBy($"streak_days")
    }),

    // Goh–Barabási burstiness of the daily count series per event_type:
    // B = (σ−μ)/(σ+μ) ∈ (−1, 1) — the regularity scale q141's
    // autocorrelation doesn't measure (B = −1 perfectly periodic,
    // 0 Poisson, →1 bursty). Multiplying through by n gives
    // B = (√D − S)/(√D + S) with D = n·Σc² − S² — EXACT integer sums
    // (decimal128 for the squares, the q144 headroom argument), one
    // deterministic IEEE sqrt, one division; denominator > 0 always
    // (S ≥ n ≥ 1), n = 1 degenerates to exactly −1. Same one-exchange
    // daily-collapse shape as q138/q141.
    "q146_burstiness" -> ((s, d) => {
      import s.implicits._
      val dec = "decimal(19,0)"
      val daily = events(s, d)
        .groupBy($"event_type",
          date_trunc("day", $"ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val agg = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"), sum($"c").as("s"),
          sum($"c".cast(dec) * $"c".cast(dec)).as("ss"))
      val dRoot = sqrt(($"n_days".cast(dec) * $"ss" -
        $"s".cast(dec) * $"s".cast(dec)).cast("double"))
      agg.select($"event_type", $"n_days",
          round($"s".cast("double") / $"n_days".cast("double"), 6)
            .as("mean_daily"),
          round((dRoot - $"s".cast("double")) /
            (dRoot + $"s".cast("double")), 6).as("burstiness"))
        .orderBy($"event_type")
    }),

    // Daily new-vs-returning split — growth accounting's first-touch
    // attribution (is today's traffic acquisition or retention?).
    // First-ever day per user is a min window over the distinct
    // (user, day) GRID, never raw events; the q145 clustering story:
    // grid exchange → one user_id window exchange → the tiny per-day
    // histogram. n_returning = n_active − n_new is derived, not a
    // second pass. All counts integer.
    "q149_new_returning" -> ((s, d) => {
      import s.implicits._
      val ud = events(s, d)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
        .distinct()
      val first = min($"day").over(Window.partitionBy($"user_id"))
      ud.withColumn("first_day", first)
        .groupBy($"day")
        .agg(count(lit(1)).as("n_active"),
          sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("n_new"))
        .select($"day", $"n_active", $"n_new",
          ($"n_active" - $"n_new").as("n_returning"))
        .orderBy($"day")
    }),

    // Top-decile value concentration per event_type — the whale-share
    // number (what fraction of total monetary mass the top 10% of
    // users carry) read next to q137's Gini. Integer-cents discipline
    // throughout (the q04 class): per-user sums, the decile rank
    // threshold rn ≤ ⌈n/10⌉ rewritten as 10·rn ≤ n+9 — NEVER a float
    // rank cutoff (0.1·n has the ceil(15.000000000000002) failure
    // mode) — and one final division. Windows run over the per-
    // (type,user) collapsed frame; the final aggregate reuses the
    // event_type clustering: two exchanges total.
    "q150_value_concentration" -> ((s, d) => {
      import s.implicits._
      val per = events(s, d)
        .groupBy($"event_type", $"user_id")
        .agg(sum(expr("CAST(round(value * 100, 0) AS BIGINT)"))
          .as("cents"))
      val wt = Window.partitionBy($"event_type")
      val wr = wt.orderBy($"cents".desc, $"user_id")
      per.withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wt))
        .withColumn("tot", sum($"cents").over(wt))
        .groupBy($"event_type")
        .agg(first($"n").as("n_users"), first($"tot").as("__tot"),
          sum(when($"rn" * 10 <= $"n" + 9, $"cents").otherwise(0L))
            .as("__top"))
        .select($"event_type", $"n_users",
          expr("(n_users + 9) DIV 10").as("top_users"),
          when($"__tot" === 0L, lit(null).cast("double"))
            .otherwise(round($"__top".cast("double") /
              $"__tot".cast("double"), 6)).as("top10_share"))
        .orderBy($"event_type")
    }),

    // Weekly churn rate — the retention complement of q149's
    // acquisition split: of the users active in week w, how many do
    // NOT come back in week w+1. "Next active week" is a lead window
    // over the distinct (user, week) GRID (q145/q149's clustering
    // story: grid exchange → one user_id window exchange → the tiny
    // per-week histogram); churn for the last observed week is
    // undefined (no w+1 horizon) and emits NULL, with the global max
    // week a broadcast 1-row-aggregate scalar over the collapsed
    // weekly frame. All counts integer, one 6dp division.
    "q151_weekly_churn" -> ((s, d) => {
      import s.implicits._
      val uw = events(s, d)
        .select($"user_id", date_trunc("week", $"ts").cast("date").as("week"))
        .distinct()
      val nxt = lead($"week", 1).over(
        Window.partitionBy($"user_id").orderBy($"week"))
      val hist = uw
        .withColumn("retained",
          when(nxt === date_add($"week", 7), 1L).otherwise(0L))
        .groupBy($"week")
        .agg(count(lit(1)).as("n_active"), sum($"retained").as("__ret"))
      GlobalAgg.withScalars(hist, (max($"week"), "__mx"))
        .select($"week", $"n_active",
          when($"week" === $"__mx", lit(null).cast("long"))
            .otherwise($"n_active" - $"__ret").as("n_churned"),
          when($"week" === $"__mx", lit(null).cast("double"))
            .otherwise(round(($"n_active" - $"__ret").cast("double") /
              $"n_active".cast("double"), 6)).as("churn_rate"))
        .orderBy($"week")
    }),

    // Inter-event gap percentiles per event_type (p50/p90/max seconds
    // between a user's consecutive events of that type) — the arrival-
    // cadence grid read next to q146's burstiness scalar. The lag runs
    // per (user, type); tie order at equal timestamps cannot change
    // the GAP MULTISET (consecutive differences of a sorted multiset),
    // so the result is deterministic without an id tiebreak — event_id
    // is still in the sort for a stable executed order. Gaps collapse
    // to the integer-seconds HISTOGRAM (q148's shape: cumulative
    // window + conditional min with the integer rank test 100·cum ≥
    // p·n over the ≤ distinct-gaps×types frame, never a per-type sort
    // of raw gaps); the final aggregate reuses the event_type
    // clustering. All integer: micros difference, floor DIV to
    // seconds, nearest-rank picks.
    "q152_gap_percentiles" -> ((s, d) => {
      import s.implicits._
      val wlag = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      val gaps = events(s, d)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("__prev", lag($"ts", 1).over(wlag))
        .where($"__prev".isNotNull)
        .select($"event_type",
          expr("(unix_micros(ts) - unix_micros(__prev)) DIV 1000000")
            .as("gap_s"))
      val hist = gaps.groupBy($"event_type", $"gap_s")
        .agg(count(lit(1)).as("m"))
      val wt = Window.partitionBy($"event_type")
      val wcum = wt.orderBy($"gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum($"m").over(wcum))
        .withColumn("n", sum($"m").over(wt))
      def pick(p: Int) =
        min(when($"cum" * 100 >= lit(p) * $"n", $"gap_s")).cast("long")
      cum.groupBy($"event_type")
        .agg(first($"n").as("n_gaps"), pick(50).as("p50_gap_s"),
          pick(90).as("p90_gap_s"), max($"gap_s").as("max_gap_s"))
        .orderBy($"event_type")
    }),

    // Power-user curve: log2-bucketed histogram of events-per-user —
    // the activity-concentration profile (each bucket k holds users
    // with 2^k ≤ n < 2^(k+1)). The bucket index is pure INTEGER/string
    // arithmetic — length(bin(n)) − 1 = ⌊log2 n⌋ — because the float
    // route has the classic cliff: log(8)/log(2) = 2.9999999999999996
    // floors to 2 on exact powers of two. Two exchanges: the per-user
    // rollup and the ≤ 64-row bucket rollup.
    "q154_activity_histogram" -> ((s, d) => {
      import s.implicits._
      val per = events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("n"))
      per.select((length(bin($"n")) - 1).cast("long").as("bucket"), $"n")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_users"), min($"n").as("min_events"),
          max($"n").as("max_events"), sum($"n").as("total_events"))
        .orderBy($"bucket")
    }),

    // Day-over-day event-mix shift: L1 distance between consecutive
    // days' event_type count vectors (the categorical-drift alarm next
    // to q123's numeric PSI). The pair alignment is a SIGNED UNION of
    // the daily-collapsed histogram — each (day,type,c) contributes
    // (+c,mass c) to its own day and (−c,mass c) to day+1, so
    // Σ|sum| = Σ_t |c_d − c_{d−1}| with NO join and NO per-type lag
    // window; a zero-event gap day correctly scores a full-mass shift
    // on both sides. The first day (no predecessor) and the synthetic
    // max+1 day drop via min/max windows over the ≤ days-row frame.
    // All integer except one final 6dp division.
    "q155_mix_shift" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy(date_trunc("day", $"ts").cast("date").as("day"),
          $"event_type")
        .agg(count(lit(1)).as("c"))
      // explode, not a self-union: one pass over the collapsed frame
      // (a union would plan the daily rollup subtree twice)
      val signed = daily.select($"event_type", explode(array(
          struct($"day".as("day"), $"c".as("diff"), $"c".as("mass")),
          struct(date_add($"day", 1).as("day"), (-$"c").as("diff"),
            $"c".as("mass")))).as("e"))
        .select($"e.day".as("day"), $"event_type",
          $"e.diff".as("diff"), $"e.mass".as("mass"))
      val byDay = signed.groupBy($"day", $"event_type")
        .agg(sum($"diff").as("dd"), sum($"mass").as("mm"))
        .groupBy($"day")
        .agg(sum(abs($"dd")).as("l1"), sum($"mm").as("pair_mass"))
      GlobalAgg.withScalars(byDay,
          (min($"day"), "__mn"), (max($"day"), "__mx"))
        .where($"day" > $"__mn" && $"day" < $"__mx")
        .select($"day", $"l1", $"pair_mass",
          round($"l1".cast("double") / $"pair_mass".cast("double"), 6)
            .as("l1_share"))
        .orderBy($"day")
    }),

    // Daily median value per event_type in exact integer cents —
    // the central-tendency band a drift monitor reads next to q155's
    // mix shift (means are whale-hostage; this is the robust center).
    // The q148/q152 histogram discipline per (day,type) cell: cents
    // collapse map-side, the cumulative window runs over the collapsed
    // frame, the median is a conditional min with the integer rank
    // test, and median_value is ONE IEEE division of exact longs (no
    // rounding — both engines emit the identical double).
    "q156_daily_median_value" -> ((s, d) => {
      import s.implicits._
      val hist = events(s, d)
        .groupBy(date_trunc("day", $"ts").cast("date").as("day"),
          $"event_type",
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
        .agg(count(lit(1)).as("m"))
      val wt = Window.partitionBy($"day", $"event_type")
      val wcum = wt.orderBy($"cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum($"m").over(wcum))
        .withColumn("n", sum($"m").over(wt))
        .groupBy($"day", $"event_type")
        .agg(first($"n").as("n_events"),
          min(when($"cum" * 2 >= $"n", $"cents")).cast("long")
            .as("median_cents"))
        .select($"day", $"event_type", $"n_events", $"median_cents",
          ($"median_cents".cast("double") / 100).as("median_value"))
        .orderBy($"day", $"event_type")
    }),

    // Calendar coverage audit per event_type: recording span vs days
    // actually active — the completeness check a pipeline runs before
    // trusting any daily statistic (q141/q146 assume dense days; this
    // measures how true that is). Distinct (type, day) grid → one
    // per-type reduction; span = datediff + 1 is exact integer date
    // arithmetic, coverage the single 6dp division.
    "q157_calendar_coverage" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"event_type",
          date_trunc("day", $"ts").cast("date").as("day"))
        .distinct()
        .groupBy($"event_type")
        .agg(min($"day").as("first_day"), max($"day").as("last_day"),
          count(lit(1)).as("n_active_days"))
        .select($"event_type", $"first_day", $"last_day", $"n_active_days",
          (datediff($"last_day", $"first_day") + 1).cast("long")
            .as("span_days"),
          round($"n_active_days".cast("double") /
            (datediff($"last_day", $"first_day") + 1).cast("double"), 6)
            .as("coverage"))
        .orderBy($"event_type")
    }),

    // Monetary magnitude histogram per event_type: the same integer
    // ⌊log2⌋ bucket as q154 applied to cents (every value here is
    // ≥ 1 cent, checked by the BoundarySpec grid gate) — the
    // order-of-magnitude profile a pricing-drift monitor reads next
    // to q139's Benford digits, with exact per-bucket mass. Two
    // exchanges; all integer.
    "q160_value_magnitude_hist" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"event_type",
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
        .select($"event_type",
          (length(bin($"cents")) - 1).cast("long").as("bucket"), $"cents")
        .groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("n_events"), min($"cents").as("min_cents"),
          max($"cents").as("max_cents"), sum($"cents").as("total_cents"))
        .orderBy($"event_type", $"bucket")
    }),

    // Hour-of-day activity profile per event_type (long format: one
    // row per observed (type, hour)) — q144's weekday screen at
    // diurnal resolution. The hour comes from pure epoch arithmetic
    // ((us DIV 3600000000) mod 24 — no session-timezone dependence),
    // the histogram collapses map-side to ≤ 24×|types| rows, and the
    // share divides by a per-type total from a window over THAT
    // collapsed frame (reusing no extra scan). One division, 6dp.
    "q161_hourly_profile" -> ((s, d) => {
      import s.implicits._
      val hist = events(s, d)
        .select($"event_type",
          expr("(unix_micros(ts) DIV 3600000000) % 24").as("hour"))
        .groupBy($"event_type", $"hour").agg(count(lit(1)).as("n_events"))
      hist
        .withColumn("__tot",
          sum($"n_events").over(Window.partitionBy($"event_type")))
        .select($"event_type", $"hour", $"n_events",
          round($"n_events".cast("double") / $"__tot".cast("double"), 6)
            .as("share"))
        .orderBy($"event_type", $"hour")
    }),

    // Global session-shape grid: p50/p90/max of session duration
    // (integer seconds) AND session size, one row — what a capacity
    // planner reads next to q19's per-user list. One pass: sessions
    // from the q19 operator (the per-session rollup reuses the user
    // window's clustering via the subset rule), then BOTH percentile
    // grids ride ONE histogram pass — a q155-style explode tags each
    // session with ("dur", s) and ("len", n) rows, the q148 cumulative
    // discipline runs per kind, and conditional aggregation folds the
    // grid into the single output row (no self-referencing subtree, no
    // cache, no crossJoin). Tie order at equal timestamps cannot move
    // a session boundary (gap 0 < threshold), so the grid is
    // deterministic without the event_id tiebreak it still carries.
    "q163_session_percentiles" -> ((s, d) => {
      import s.implicits._
      val sess = Sessionize.assignSessions(
          events(s, d).select($"user_id", $"ts", $"event_id"),
          $"user_id", $"ts", Seq($"event_id"), 1800L)
        .groupBy($"user_id", $"session_id")
        .agg(expr("(max(unix_micros(ts)) - min(unix_micros(ts))) DIV 1000000")
          .as("dur_s"), count(lit(1)).as("len"))
      val vals = sess.select(explode(array(
          struct(lit("dur").as("kind"), $"dur_s".as("v")),
          struct(lit("len").as("kind"), $"len".as("v")))).as("e"))
        .select($"e.kind".as("kind"), $"e.v".as("v"))
      val hist = vals.groupBy($"kind", $"v").agg(count(lit(1)).as("m"))
      val wk = Window.partitionBy($"kind")
      val wcum = wk.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum($"m").over(wcum))
        .withColumn("n", sum($"m").over(wk))
      def pick(kind: String, p: Int) =
        min(when($"kind" === kind && $"cum" * 100 >= lit(p) * $"n", $"v"))
          .cast("long")
      cum.agg(
        max(when($"kind" === "dur", $"n")).cast("long").as("n_sessions"),
        pick("dur", 50).as("p50_duration_s"),
        pick("dur", 90).as("p90_duration_s"),
        max(when($"kind" === "dur", $"v")).cast("long")
          .as("max_duration_s"),
        pick("len", 50).as("p50_events"), pick("len", 90).as("p90_events"),
        max(when($"kind" === "len", $"v")).cast("long").as("max_events"))
    }),

    // Lorenz decile curve per event_type — the full concentration
    // curve behind q150's single top-decile point (and the exact
    // geometry under q137's Gini scalar). Integer throughout: decile
    // of rank rn among n users is ⌈10·rn/n⌉ = (10·rn + n − 1) DIV n
    // (never a float rank cutoff); cumulative share is the one 6dp
    // division. The rank window runs over the per-(type,user)
    // collapsed frame; the decile rollup and both cumulative windows
    // reuse the event_type clustering (subset rule) — two exchanges
    // total. With n < 10 users some deciles are legitimately empty
    // (a rank spans several deciles); rows exist only for non-empty
    // ones and cum_share stays monotone.
    "q164_lorenz_deciles" -> ((s, d) => {
      import s.implicits._
      val per = events(s, d).groupBy($"event_type", $"user_id")
        .agg(sum(expr("CAST(round(value * 100, 0) AS BIGINT)"))
          .as("cents"))
      val wt = Window.partitionBy($"event_type")
      val wr = wt.orderBy($"cents".desc, $"user_id")
      val dec = per.withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wt))
        .select($"event_type",
          expr("(10 * rn + n - 1) DIV n").as("decile"), $"cents")
        .groupBy($"event_type", $"decile")
        .agg(count(lit(1)).as("n_users"), sum($"cents").as("dc"))
      val wcum = wt.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.withColumn("cum", sum($"dc").over(wcum))
        .withColumn("tot", sum($"dc").over(wt))
        .select($"event_type", $"decile", $"n_users",
          $"dc".as("decile_cents"),
          when($"tot" === 0L, lit(null).cast("double"))
            .otherwise(round($"cum".cast("double") / $"tot".cast("double"),
              6)).as("cum_share"))
        .orderBy($"event_type", $"decile")
    }),

    // Time-to-conversion histogram: days from a user's first event of
    // ANY type to their first 'purchase' (the q102 funnel's step
    // vocabulary), with never-converted users in the NULL row — the
    // acquisition-lag distribution growth accounting reads next to
    // q149. One user rollup (both firsts in the same pass), one
    // ≤ span-days histogram; exact integer date arithmetic. Spark
    // sorts NULLS FIRST by default and DuckDB NULLS LAST — the
    // explicit asc_nulls_last aligns them.
    "q165_conversion_lag" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"user_id",
          date_trunc("day", $"ts").cast("date").as("day"), $"event_type")
        .groupBy($"user_id")
        .agg(min($"day").as("fd"),
          min(when($"event_type" === "purchase", $"day")).as("fp"))
        .select(datediff($"fp", $"fd").cast("long").as("lag_days"))
        .groupBy($"lag_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"lag_days".asc_nulls_last)
    }),

    // RFM segmentation grid — the classic recency/frequency/monetary
    // user-base census, all three axes on the integer nearest-rank
    // quintile q(rn) = (5·rn + n − 1) DIV n (the q164 decile formula;
    // never ntile, whose tie placement is row-order-dependent and so
    // layout-dependent). Rank order ties break on user_id, making
    // every quintile assignment bit-exact at any partitioning. The
    // per-user frame is collapsed but NOT bounded — |users| is
    // 10⁸–10⁹ at the 100 TB target, so an unpartitioned rank window
    // here would be a single-task sort of tens of GB (the r18 weak
    // mark). Each axis rank instead comes from GlobalAgg.stableIds:
    // range-partition on the axis order, per-partition running count +
    // a broadcast prefix-offset join — fully distributed, bit-identical
    // ranks (total order via the user_id tie-break). The three passes
    // CHAIN (each re-ranges the previous output, carrying earlier
    // ranks along), so no user-keyed join is ever needed; n rides in
    // as the one-row crossJoin scalar (q42/q108 pattern) and the
    // ≤125-cell grid rollup ends it. The pack-wide census now rejects
    // user-cardinality global windows outright.
    "q167_rfm_segments" -> ((s, d) => {
      import s.implicits._
      val per = graft.Caching.persisted(
        events(s, d).groupBy($"user_id")
          .agg(max(date_trunc("day", $"ts").cast("date")).as("last_day"),
            count(lit(1)).as("freq"),
            sum(expr("CAST(round(value * 100, 0) AS BIGINT)"))
              .as("cents")))
      val nDf = per.agg(count(lit(1)).as("n"))
      val ranked = GlobalAgg.stableIds(
        GlobalAgg.stableIds(
          GlobalAgg.stableIds(per,
            Seq($"last_day".desc, $"user_id"), "r_rid"),
          Seq($"freq".desc, $"user_id"), "f_rid"),
        Seq($"cents".desc, $"user_id"), "m_rid")
      val quint = ranked.crossJoin(nDf)
        .select(expr("(5 * (r_rid + 1) + n - 1) DIV n").as("r_q"),
          expr("(5 * (f_rid + 1) + n - 1) DIV n").as("f_q"),
          expr("(5 * (m_rid + 1) + n - 1) DIV n").as("m_q"),
          $"freq", $"cents")
      quint.groupBy($"r_q", $"f_q", $"m_q")
        .agg(count(lit(1)).as("n_users"), sum($"freq").as("n_events"),
          sum($"cents").as("total_cents"))
        .orderBy($"r_q", $"f_q", $"m_q")
    }),

    // Conversion-path endpoints matrix: among users who ever purchase,
    // first touch (first event type ever) × last touch (the event
    // immediately BEFORE the first purchase; '(start)' when the
    // purchase IS the user's first event) — the attribution table
    // marketing reads next to q102's funnel and q165's lag histogram.
    // ONE user-clustered window sort computes all three per-row
    // signals (rank, lag, running purchase count — same partition +
    // order, one WindowExec); the per-user rollup reuses that
    // clustering (subset rule), so the matrix costs the window
    // exchange plus the ≤ |types|²-cell rollup. Ties in ts break on
    // event_id (ingest order) — deterministic on both engines.
    "q168_touch_matrix" -> ((s, d) => {
      import s.implicits._
      val wu = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val rows = events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("rn", row_number().over(wu))
        .withColumn("prev", lag($"event_type", 1).over(wu))
        .withColumn("cp", sum(when($"event_type" === "purchase", 1L)
          .otherwise(0L)).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      rows.groupBy($"user_id")
        .agg(max(when($"rn" === 1, $"event_type")).as("first_touch"),
          max(when($"event_type" === "purchase" && $"cp" === 1L,
            coalesce($"prev", lit("(start)")))).as("last_touch"))
        .filter($"last_touch".isNotNull)
        .groupBy($"first_touch", $"last_touch")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"first_touch", $"last_touch")
    }),

    // Per-user top-type dominance histogram — the bot/instrumentation
    // screen: a user whose max per-type share sits in decile 10 is a
    // single-behavior account, organic users spread. The share is
    // never a float: decile = ⌈10·cmax/n⌉ = (10·cmax + n − 1) DIV n
    // from the integer per-type counts. Three exchanges, each moving
    // an already-collapsed frame: the (user,type) rollup (map-side
    // partial over the raw scan), the per-user max/sum (≤ |users|·
    // |types| partials), and the ≤10-row histogram — repartitioning
    // raw events by user to share one exchange would move corpus
    // rows without map-side collapse, strictly worse at scale.
    "q170_dominance_hist" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
        .groupBy($"user_id")
        .agg(sum($"c").as("n"), max($"c").as("cmax"))
        .select(expr("(10 * cmax + n - 1) DIV n").as("dominance_decile"),
          $"n")
        .groupBy($"dominance_decile")
        .agg(count(lit(1)).as("n_users"), sum($"n").as("n_events"))
        .orderBy($"dominance_decile")
    }),

    // User-lifespan survival curve: S(k) = share of users whose
    // observed lifespan (last day − first day) reaches k days — the
    // Kaplan-Meier-flavored longevity read behind q107's cohort grid,
    // without per-cohort splitting. Pure integers until the ONE share
    // division: the lifespan histogram collapses to ≤ span-days rows,
    // and "survivors at k" is a cumulative sum from the TOP of that
    // collapsed frame (never a per-user window). Rows exist at
    // observed lifespans only; survivors is right-continuous there.
    "q171_survival_curve" -> ((s, d) => {
      import s.implicits._
      val hist = events(s, d)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
        .groupBy($"user_id")
        .agg(datediff(max($"day"), min($"day")).cast("long")
          .as("lifespan_days"))
        .groupBy($"lifespan_days").agg(count(lit(1)).as("n_ending"))
      // survivors = prefix sum from the TOP (lifespan desc); the user
      // grand total rides out of the same pass's collected subtotals
      GlobalAgg.runningLong(hist, Seq($"lifespan_days".desc),
          Seq(($"n_ending", "survivors")),
          grandTotals = Map("survivors" -> "__n"))
        .select($"lifespan_days", $"n_ending", $"survivors",
          round($"survivors".cast("double") / $"__n".cast("double"), 6)
            .as("surviving_share"))
        .orderBy($"lifespan_days")
    }),

    // DAU/MAU(28) stickiness per day — the engagement ratio product
    // analytics tracks daily. Exact rolling 28-day distinct users
    // WITHOUT a self-join or a per-day re-scan: each (user, active
    // day) pair — already collapsed to ≤ |users|·|days| rows —
    // fans out to the ≤28 window-end days it supports (a bounded,
    // map-side explode of the COLLAPSED frame, never of raw events),
    // then collapses to distinct (window-end, user). Days outside the
    // observed range drop at the inner join with the DAU frame; both
    // join sides are ≤ |days| rows, so the join broadcasts.
    "q173_stickiness" -> ((s, d) => {
      import s.implicits._
      // the collapsed (day, user) frame feeds BOTH the DAU rollup and
      // the 28-day fan-out — persist it rather than re-scanning raw
      // events per branch (it is the natural engagement checkpoint)
      val ud = graft.Caching.persisted(events(s, d)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
        .groupBy($"day", $"user_id").agg(count(lit(1)).as("__c")))
      val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
      val mau = ud
        .select($"user_id",
          explode(sequence($"day", date_add($"day", 27))).as("wday"))
        .groupBy($"wday", $"user_id").agg(count(lit(1)).as("__c"))
        .groupBy($"wday").agg(count(lit(1)).as("mau28"))
      dau.join(broadcast(mau), $"day" === $"wday")
        .select($"day", $"dau", $"mau28",
          round($"dau".cast("double") / $"mau28".cast("double"), 6)
            .as("stickiness"))
        .orderBy($"day")
    }),

    // Audience-overlap Jaccard per event-type pair — "do the same
    // users click and purchase, or are those disjoint populations".
    // Never a user-keyed self-join: each user's ≤|types| sorted type
    // set (persisted — it feeds the pair explode AND the per-type
    // sizes) fans out map-side to its 2-combinations, so the only
    // corpus-volume exchange is the per-user collect; pair and size
    // rollups are |types|-bounded and the size lookups broadcast.
    // Counts are exact integers; Jaccard is the one 6dp division.
    "q176_audience_overlap" -> ((s, d) => {
      import s.implicits._
      val per = graft.Caching.persisted(
        events(s, d).groupBy($"user_id")
          .agg(sort_array(collect_set($"event_type")).as("ts")))
      val pairs = per.select(explode(expr(
          "flatten(transform(ts, (x, i) -> transform(" +
            "slice(ts, i + 2, size(ts)), y -> struct(x AS a, y AS b))))"))
          .as("p"))
        .groupBy($"p.a".as("type_a"), $"p.b".as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      val sizes = per.select(explode($"ts").as("t"))
        .groupBy($"t").agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(sizes.select($"t".as("type_a"), $"n".as("n_a"))),
          Seq("type_a"))
        .join(broadcast(sizes.select($"t".as("type_b"), $"n".as("n_b"))),
          Seq("type_b"))
        .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
          round($"n_both".cast("double") /
            ($"n_a" + $"n_b" - $"n_both").cast("double"), 6).as("jaccard"))
        .orderBy($"type_a", $"type_b")
    }),

    // Weekly seasonality strength: calendar-aligned lag-7
    // autocorrelation of the daily count series per event_type —
    // q141's lag-1 read at the weekly phase, via the RANGE-frame core
    // (ext.SeriesStats.calendarLagAutocorr) so a gappy calendar pairs
    // day d with day d−7 exactly or not at all (a row lag would
    // silently pair across gaps and fake the phase; gap semantics,
    // decimal128 overflow contract and int64 parity are red-tested in
    // SeriesStatsSpec). Scaled-integer numerator/denominator, one
    // final division.
    "q177_weekly_seasonality" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy($"event_type",
          datediff(date_trunc("day", $"ts").cast("date"),
            to_date(lit("1970-01-01"))).cast("long").as("ed"))
        .agg(count(lit(1)).as("c"))
      graft.ext.SeriesStats
        .calendarLagAutocorr(daily, "event_type", "ed", "c", 7)
        .orderBy($"event_type")
    }),

    // Largest week-over-week shift of the exact per-type median value
    // — the distribution-drift alarm in the same units as the metric
    // itself (PSI/KS flag shape changes; this flags the headline
    // median moving). Weekly medians use q156's histogram-cut form
    // (lower median over integer cents — never a float percentile),
    // so the shift is an exact integer cents difference; the
    // consecutive-week lag and the argmax rank (ties → earliest week)
    // run over the ≤ weeks×types collapsed frame on ONE event_type
    // clustering. Types with a single week have no shift and drop.
    "q178_median_drift" -> ((s, d) => {
      import s.implicits._
      val hist = events(s, d)
        .groupBy($"event_type",
          date_trunc("week", $"ts").cast("date").as("week"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
        .agg(count(lit(1)).as("m"))
      val ww = Window.partitionBy($"event_type", $"week")
      val wcum = ww.orderBy($"cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = hist.withColumn("cum", sum($"m").over(wcum))
        .withColumn("n", sum($"m").over(ww))
        .groupBy($"event_type", $"week")
        .agg(min(when($"cum" * 2 >= $"n", $"cents")).as("median_cents"))
      val wt = Window.partitionBy($"event_type")
      val wk = wt.orderBy($"week")
      val shifts = med
        .withColumn("n_weeks", count(lit(1)).over(wt))
        .withColumn("prev", lag($"median_cents", 1).over(wk))
        .filter($"prev".isNotNull)
        .select($"event_type", $"n_weeks", $"week",
          abs($"median_cents" - $"prev").as("shift"))
      val w1 = wt.orderBy($"shift".desc, $"week")
      shifts
        .withColumn("rn", row_number().over(w1))
        .filter($"rn" === 1)
        .select($"event_type", $"n_weeks",
          $"shift".as("max_shift_cents"), $"week".as("shift_week"))
        .orderBy($"event_type")
    }),

    // Session-depth conversion curve: does a longer session convert? —
    // the funnel-shape read product teams act on, composed from the
    // q19 sessionize operator. The per-session rollup reuses the ONE
    // user-window clustering (subset rule); sessions then collapse to
    // a ≤64-row ⌊log2 length⌋ bucket histogram (the q154 integer
    // bit-length bucket). Counts integer, one division per bucket.
    "q187_session_conversion" -> ((s, d) => {
      import s.implicits._
      val sess = Sessionize.assignSessions(events(s, d), $"user_id",
        $"ts", Seq($"event_id"), gapSeconds = 1800L)
      sess.groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("len"),
          max(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .groupBy(expr("length(bin(len)) - 1").cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum($"conv").as("n_converting"))
        .select($"len_bucket", $"n_sessions", $"n_converting",
          round($"n_converting".cast("double") /
            $"n_sessions".cast("double"), 6).as("conversion_rate"))
        .orderBy($"len_bucket")
    })
  )

  /** Benford digit probabilities log10(1+1/d), index 1..9 — shortest
    * round-trip decimal reprs, interpolated into BOTH the Spark plan
    * and the DuckDB oracle so the two engines parse identical doubles. */
  private val benfordP: Array[Double] = Array(0.0,
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  val oracles: Map[String, String] = Map(
    "q01_resample_avg" ->
      """SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
           / (count(value) * 100), 6) AS avg_value
         FROM events GROUP BY user_id, bucket_start
         ORDER BY user_id, bucket_start""",

    "q02_time_slice" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-03 00:00:00'
                      AND TIMESTAMP '2024-01-04 00:00:00'
         ORDER BY event_id""",

    "q05_dedup_keepfirst" ->
      """SELECT user_id, event_type, event_id, value FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type""",

    "q06_rate_infer" ->
      """SELECT user_id,
         quantile_cont(delta_us, 0.5) AS median_delta_us,
         round(avg(delta_us) / 1e6, 4) AS mean_delta_s,
         CAST(count(*) AS BIGINT) AS n_deltas
         FROM (
           SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
           FROM events) t
         WHERE delta_us > 0
         GROUP BY user_id ORDER BY user_id""",

    "q07_top1_per_group" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",

    "q08_pivot_counts" ->
      """SELECT user_id,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
         CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
         round(sum(value), 2) AS total_value
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q18_daily_insights" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
         round(sum(value), 2) AS total_value
         FROM events GROUP BY day ORDER BY day""",

    "q19_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                   > 1800 * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessions AS (
           SELECT user_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged
         ), sized AS (
           SELECT user_id, session_id, count(*) AS session_len
           FROM sessions GROUP BY user_id, session_id
         )
         SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(session_len) AS BIGINT) AS max_session_len
         FROM sized GROUP BY user_id ORDER BY user_id""",

    "q20_sliding_median" ->
      """SELECT user_id, event_id,
         round(quantile_cont(value, 0.5) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) AS median_value
         FROM events ORDER BY user_id, event_id""",

    "q89_sliding_median_heap" ->
      """SELECT user_id, event_id,
         round(quantile_cont(value, 0.5) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING), 4) AS median_value
         FROM events ORDER BY user_id, event_id""",

    "q21_run_length" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CAST(value >= 100 AS INT) AS state,
             CASE WHEN CAST(value >= 100 AS INT) IS DISTINCT FROM
                       lag(CAST(value >= 100 AS INT)) OVER w
                  THEN 1 ELSE 0 END AS edge
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), runs AS (
           SELECT user_id, state,
             sum(edge) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
           FROM flagged
         ), sized AS (
           SELECT user_id, state, run_id, count(*) AS run_len
           FROM runs GROUP BY user_id, state, run_id
         )
         SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS max_on_run,
           CAST(count(*) AS BIGINT) AS n_on_runs
         FROM sized WHERE state = 1
         GROUP BY user_id ORDER BY user_id""",

    // Timestamps are cast to µs TIMESTAMP inside the CTEs so the as-of
    // comparison happens at the same precision as Spark's (two ns values
    // that truncate to one µs must tie on both sides).
    "q56_asof_join" ->
      """WITH p AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase'
         ), v AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(ts AS TIMESTAMP) AS ref_ts, max(value) AS ref_value
           FROM events WHERE event_type = 'view'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)
         )
         SELECT p.event_id, p.user_id, p.value, v.ref_ts, v.ref_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""",

    "q57_range_join" ->
      """WITH p AS (
           SELECT event_id AS interval_id, user_id,
             CAST(ts AS TIMESTAMP) AS start_ts,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS end_ts
           FROM events WHERE event_type = 'purchase'
         ), v AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'view'
         )
         SELECT p.interval_id,
           CAST(count(v.ts) AS BIGINT) AS n_views,
           coalesce(round(sum(v.value), 2), 0) AS view_value
         FROM p LEFT JOIN v
           ON p.user_id = v.user_id AND v.ts >= p.start_ts AND v.ts <= p.end_ts
         GROUP BY p.interval_id ORDER BY p.interval_id""",

    "q64_asof_forward" ->
      """WITH p AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase'
         ), v AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(ts AS TIMESTAMP) AS next_ts, max(value) AS next_value
           FROM events WHERE event_type = 'view'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)
         )
         SELECT p.event_id, p.user_id, p.value, v.next_ts, v.next_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND p.ts <= v.ts
         ORDER BY p.event_id""",

    "q69_heavy_hitters" ->
      """WITH c AS (
           SELECT event_type, CAST(user_id AS VARCHAR) AS u, count(*) AS n
           FROM events GROUP BY event_type, u
         ), r AS (
           SELECT event_type, u, n, row_number() OVER (
             PARTITION BY event_type ORDER BY n DESC, u) AS rank
           FROM c
         )
         SELECT event_type, CAST(rank AS BIGINT) AS rank,
           u AS top_user, CAST(n AS BIGINT) AS cnt
         FROM r WHERE rank <= 3
         ORDER BY event_type, rank""",

    // Recomputes the grid + interpolation with DuckDB windows: same
    // snapped bucket mean, same span-closed generate_series grid, same
    // nearest-observation arithmetic in the same association order —
    // outputs compare as raw BIT-IDENTICAL doubles (no final round:
    // boundary values like x.xxx4375 round differently per engine, see
    // the query-side note); IGNORE NULLS last/first mirror Spark's
    // last/first(ignoreNulls).
    "q101_gap_fill" ->
      """WITH obs AS (SELECT user_id, date_trunc('hour', ts) h,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
             / (count(value) * 100), 6) v
           FROM events WHERE event_type = 'click' AND user_id < 50
           GROUP BY 1, 2),
         span AS (SELECT user_id, min(h) mn, max(h) mx FROM obs
           GROUP BY 1),
         grid AS (SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) h
           FROM span),
         g AS (SELECT grid.user_id, grid.h, obs.v
           FROM grid LEFT JOIN obs USING (user_id, h)),
         w AS (SELECT user_id, h, v,
             last_value(v IGNORE NULLS) OVER b pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
               OVER b ph,
             first_value(v IGNORE NULLS) OVER f nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
               OVER f nh
           FROM g
           WINDOW b AS (PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           f AS (PARTITION BY user_id ORDER BY h
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, h AS ts,
           coalesce(v, pv + ((nv - pv) *
             (CAST(epoch(h) - epoch(ph) AS DOUBLE) /
              CAST(epoch(nh) - epoch(ph) AS DOUBLE)))) AS value,
           v IS NOT NULL AS observed
         FROM w ORDER BY user_id, ts""",

    // Independent per-step CTE chain: min-ts progression with the same
    // strict > lower bound and ts_1 + 7d horizon; stage from the
    // rightmost reached step.
    "q102_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 7 DAY
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) t3
           FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s1.t1 + INTERVAL 7 DAY
           GROUP BY e.user_id)
         SELECT s1.user_id, t1 AS ts_view, t2 AS ts_click,
           t3 AS ts_purchase,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
             AS stage
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         ORDER BY s1.user_id""",

    // Independent route: per-user cohort via min-over-join (not the
    // single-agg collect_set form Spark runs), distinct activity
    // weeks, integer // 7 offsets.
    "q107_cohort_retention" ->
      """WITH w AS (SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         cu AS (SELECT user_id, min(wk) cohort_week
           FROM w GROUP BY user_id),
         act AS (SELECT DISTINCT cu.cohort_week,
             (w.wk - cu.cohort_week) // 7 AS week_offset, w.user_id
           FROM w JOIN cu USING (user_id)),
         c AS (SELECT cohort_week, CAST(week_offset AS BIGINT) week_offset,
             CAST(count(*) AS BIGINT) n_users
           FROM act GROUP BY 1, 2),
         sz AS (SELECT cohort_week, n_users cohort_size
           FROM c WHERE week_offset = 0)
         SELECT c.cohort_week, c.week_offset, c.n_users,
           round(c.n_users / sz.cohort_size, 6) AS retention
         FROM c JOIN sz USING (cohort_week)
         ORDER BY c.cohort_week, c.week_offset""",

    // Same trailing frame, same (1-α)^j weights summed NEWEST-FIRST —
    // the association order of Postprocess.ewma's ring (terms j = 0 up
    // to the frame's oldest row, from the current row's own term).
    "q109_ewma" ->
      """WITH sel AS (SELECT user_id, event_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) vals
           FROM events)
         SELECT user_id, event_id, value,
           round(
             list_reduce(list_transform(generate_series(1, len(vals)),
               j -> vals[len(vals) + 1 - j] * pow(0.7, j - 1)),
               (x, y) -> x + y) /
             list_reduce(list_transform(generate_series(1, len(vals)),
               j -> pow(0.7, j - 1)), (x, y) -> x + y), 6) AS ewma
         FROM sel ORDER BY user_id, event_id""",

    // Same step-interpolation segments (q06's epoch_us idiom), same
    // weighted-sum association.
    "q113_time_weighted_avg" ->
      """WITH s AS (SELECT user_id, value,
             lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(CAST(ts AS TIMESTAMP)) dt
           FROM events)
         SELECT user_id, round(sum(value * dt) / sum(dt), 6) AS twa,
           CAST(count(*) AS BIGINT) n_segments
         FROM s WHERE dt IS NOT NULL AND dt > 0
         GROUP BY user_id ORDER BY user_id""",

    // Identical bin arithmetic ((v-mn)/((mx-mn)/20), floor, cap at 19)
    // so bin edges are the same doubles on both sides.
    "q114_histogram" ->
      """WITH mm AS (SELECT event_type, min(value) mn, max(value) mx
           FROM events GROUP BY event_type),
         b AS (SELECT e.event_type,
             CAST(CASE WHEN mm.mx = mm.mn THEN 0
               ELSE least(floor((e.value - mm.mn) / ((mm.mx - mm.mn) / 20)),
                 19) END AS INTEGER) bin,
             mm.mn, mm.mx
           FROM events e JOIN mm USING (event_type))
         SELECT event_type, bin,
           round(mn + bin * ((mx - mn) / 20), 6) AS bin_lo,
           round(mn + (bin + 1) * ((mx - mn) / 20), 6) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY event_type, bin, mn, mx
         ORDER BY event_type, bin""",

    // GROUPING() bit order matches Spark's grouping_id (first column =
    // most significant bit); NULLS FIRST mirrors Spark's default asc.
    "q116_cube" ->
      """WITH e AS (SELECT event_type,
             CAST(dayofweek(ts) AS BIGINT) dow, value FROM events)
         SELECT CAST(GROUPING(event_type, dow) AS BIGINT) gid,
           event_type, dow,
           CAST(count(*) AS BIGINT) n,
           round(sum(value), 2) sum_value
         FROM e GROUP BY CUBE (event_type, dow)
         ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST""",

    "q117_wow_growth" ->
      """WITH wk AS (SELECT event_type,
             CAST(date_trunc('week', ts) AS DATE) AS wkd,
             CAST(count(*) AS BIGINT) n
           FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, wkd, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY wkd) prev_n
           FROM wk)
         SELECT event_type, wkd AS week, n, prev_n,
           round((n - prev_n) * 100.0 / prev_n, 6) AS wow_pct
         FROM l ORDER BY event_type, wkd""",

    // Same fixed point, same integer rank clamps, same single exact
    // division — compared unrounded.
    "q135_trimmed_mean" ->
      """WITH h AS (SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) v,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         cum AS (SELECT event_type, v, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v)
               AS BIGINT) cum
           FROM h),
         t AS (SELECT event_type, CAST(sum(c) AS BIGINT) n
           FROM h GROUP BY event_type),
         kp AS (SELECT cum.event_type, v,
             greatest(least(cum, t.n - t.n // 10)
               - greatest(cum - c, t.n // 10), 0) kept
           FROM cum JOIN t USING (event_type))
         SELECT event_type, CAST(sum(kept) AS BIGINT) n_kept,
           CAST(sum(v * kept) AS DOUBLE) / CAST(sum(kept) AS DOUBLE) / 100
             AS trimmed_mean
         FROM kp GROUP BY event_type ORDER BY event_type""",

    // q102's per-step CTE chain extended with integer-µs durations and
    // null-skipping quantile_cont medians.
    "q132_conversion_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 7 DAY
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) t3
           FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s1.t1 + INTERVAL 7 DAY
           GROUP BY e.user_id),
         dur AS (SELECT
             epoch_us(CAST(t2 AS TIMESTAMP))
               - epoch_us(CAST(t1 AS TIMESTAMP)) us_click,
             CASE WHEN t3 IS NOT NULL THEN
               epoch_us(CAST(t3 AS TIMESTAMP))
                 - epoch_us(CAST(t1 AS TIMESTAMP)) END us_purchase
           FROM s1 JOIN s2 USING (user_id)
             LEFT JOIN s3 USING (user_id))
         SELECT CAST(count(us_click) AS BIGINT) n_clicked,
           quantile_cont(us_click, 0.5) AS median_us_to_click,
           CAST(count(us_purchase) AS BIGINT) n_purchased,
           quantile_cont(us_purchase, 0.5) AS median_us_to_purchase
         FROM dur""",

    // Independent route: user-keyed SELF-JOIN pair derivation (not the
    // basket-array explode Spark runs); identical single divisions of
    // exact counts, compared unrounded.
    "q131_assoc_rules" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) nu FROM ut),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) c
           FROM ut GROUP BY 1),
         p AS (SELECT a.event_type a, b.event_type b,
             CAST(count(*) AS BIGINT) cab
           FROM ut a JOIN ut b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT p.a, p.b, cab,
           CAST(cab AS DOUBLE) / CAST(nu.nu AS DOUBLE) AS support,
           CAST(cab AS DOUBLE) / CAST(ma.c AS DOUBLE) AS confidence_a_b,
           CAST(cab AS DOUBLE) * CAST(nu.nu AS DOUBLE)
             / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)) AS lift
         FROM p JOIN m ma ON p.a = ma.event_type
           JOIN m mb ON p.b = mb.event_type, nu
         ORDER BY p.a, p.b""",

    // Same exact integer sums (same 1e-2 fixed point), same double
    // expression tree for θ / x̄ / means / variances — every output
    // compared UNROUNDED.
    "q130_cuped" ->
      """WITH per AS (SELECT user_id,
             CAST(sum(CASE WHEN pre THEN vq ELSE 0 END) AS BIGINT) x,
             CAST(sum(CASE WHEN pre THEN 0 ELSE vq END) AS BIGINT) y,
             sum(CASE WHEN pre THEN 1 ELSE 0 END) npre,
             sum(CASE WHEN pre THEN 0 ELSE 1 END) npost
           FROM (SELECT user_id,
               ts < TIMESTAMP '2024-01-15 00:00:00' AS pre,
               CAST(floor(value * 100 + 0.5) AS BIGINT) vq FROM events)
           GROUP BY user_id
           HAVING sum(CASE WHEN pre THEN 1 ELSE 0 END) > 0
              AND sum(CASE WHEN pre THEN 0 ELSE 1 END) > 0),
         g AS (SELECT CAST(count(*) AS BIGINT) gn,
             CAST(sum(x) AS BIGINT) gsx, CAST(sum(y) AS BIGINT) gsy,
             CAST(sum(x * y) AS BIGINT) gsxy,
             CAST(sum(x * x) AS BIGINT) gsxx
           FROM per),
         th AS (SELECT gn, gsx,
             (CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
               - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))
             / (CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)
               - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)) t,
             CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE) xb
           FROM g),
         v AS (SELECT user_id % 2 variant, CAST(count(*) AS BIGINT) nv,
             CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
             CAST(sum(y * y) AS BIGINT) syy,
             CAST(sum(x * y) AS BIGINT) sxy,
             CAST(sum(x * x) AS BIGINT) sxx
           FROM per GROUP BY 1),
         e AS (SELECT variant, nv, sy, syy,
             CAST(sy AS DOUBLE) - t * CAST(sx AS DOUBLE)
               + CAST(nv AS DOUBLE) * t * xb sa,
             CAST(syy AS DOUBLE) - 2.0 * t * CAST(sxy AS DOUBLE)
               + t * t * CAST(sxx AS DOUBLE)
               + 2.0 * t * xb * CAST(sy AS DOUBLE)
               - 2.0 * t * t * xb * CAST(sx AS DOUBLE)
               + CAST(nv AS DOUBLE) * t * t * xb * xb saa
           FROM v, th)
         SELECT variant, nv AS n_users,
           CAST(sy AS DOUBLE) / CAST(nv AS DOUBLE) / 100 AS mean_post,
           sa / CAST(nv AS DOUBLE) / 100 AS mean_cuped,
           (CAST(syy AS DOUBLE) / CAST(nv AS DOUBLE)
             - (CAST(sy AS DOUBLE) / CAST(nv AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(nv AS DOUBLE))) / 10000
             AS var_post,
           (saa / CAST(nv AS DOUBLE)
             - (sa / CAST(nv AS DOUBLE)) * (sa / CAST(nv AS DOUBLE)))
             / 10000 AS var_cuped
         FROM e ORDER BY variant""",

    // Same pair expansion (each distinct (day,user) feeds the 7
    // windows it belongs to), independent DISTINCT route.
    "q129_rolling_wau" ->
      """WITH du AS (SELECT DISTINCT
             CAST(date_trunc('day', ts) AS DATE) AS dy, user_id
           FROM events),
         dau AS (SELECT dy, CAST(count(*) AS BIGINT) dau
           FROM du GROUP BY dy),
         ks AS (SELECT unnest(generate_series(0, 6)) k),
         w AS (SELECT DISTINCT du.dy + CAST(ks.k AS INTEGER) AS dy,
             du.user_id
           FROM du, ks),
         wau AS (SELECT dy, CAST(count(*) AS BIGINT) wau
           FROM w GROUP BY dy)
         SELECT dau.dy AS "day", dau.dau, wau.wau,
           round(dau.dau / wau.wau, 6) AS stickiness
         FROM dau JOIN wau USING (dy) ORDER BY dau.dy""",

    // Identical exact-integer sums (same floor(y·10⁴+0.5) fixed point),
    // identical double expression tree — slope compared UNROUNDED.
    "q124_trend_slope" ->
      """WITH s AS (SELECT user_id,
             CAST(count(*) AS BIGINT) n,
             CAST(sum(x) AS BIGINT) sx,
             CAST(sum(yq) AS BIGINT) syq,
             CAST(sum(x * yq) AS BIGINT) sxyq,
             CAST(sum(x * x) AS BIGINT) sxx
           FROM (SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                 - 1704067200 AS x,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) yq FROM events)
           GROUP BY user_id),
         sl AS (SELECT user_id, n,
             (CAST(n AS DOUBLE) * CAST(sxyq AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(syq AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) slope
           FROM s)
         SELECT user_id, n AS n_points,
           slope * 86400 / 10000 AS slope_per_day
         FROM sl ORDER BY user_id""",

    // Same combined-range bins, same integer cross-product sup, same
    // single exact-integer division — compared unrounded. The nb=0 /
    // nc=0 degenerate case (all data one side of the cutoff) is decided
    // BEFORE the division on both sides: Spark's 0/0 double is NaN,
    // DuckDB's is NULL, so an explicit NULL is the only portable value.
    "q125_ks_drift" ->
      """WITH ev AS (SELECT event_type, value,
             ts < TIMESTAMP '2024-01-15 00:00:00' AS is_base FROM events),
         mm AS (SELECT event_type, min(value) mn, max(value) mx
           FROM ev GROUP BY event_type),
         b AS (SELECT e.event_type,
             CAST(CASE WHEN mm.mx = mm.mn THEN 0
               ELSE least(floor((e.value - mm.mn) / ((mm.mx - mm.mn) / 100)),
                 99) END AS INTEGER) bin,
             e.is_base
           FROM ev e JOIN mm USING (event_type)),
         c AS (SELECT event_type, bin,
             CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) cb,
             CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) cc
           FROM b GROUP BY 1, 2),
         cum AS (SELECT event_type,
             CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY bin)
               AS BIGINT) cumb,
             CAST(sum(cc) OVER (PARTITION BY event_type ORDER BY bin)
               AS BIGINT) cumc
           FROM c),
         t AS (SELECT event_type, CAST(sum(cb) AS BIGINT) nb,
             CAST(sum(cc) AS BIGINT) nc
           FROM c GROUP BY event_type)
         SELECT cum.event_type, t.nb AS n_base, t.nc AS n_current,
           CASE WHEN t.nb = 0 OR t.nc = 0 THEN NULL
             ELSE CAST(max(abs(cumb * t.nc - cumc * t.nb)) AS DOUBLE)
               / CAST(t.nb * t.nc AS DOUBLE) END AS ks
         FROM cum JOIN t USING (event_type)
         GROUP BY cum.event_type, t.nb, t.nc
         ORDER BY cum.event_type""",

    // Same baseline-derived bins, same Laplace smoothing, same
    // (q−p)·ln(q/p) summed over the observed-bin rows.
    "q123_psi_drift" ->
      """WITH ev AS (SELECT event_type, value,
             ts < TIMESTAMP '2024-01-15 00:00:00' AS is_base FROM events),
         mm AS (SELECT event_type, min(value) mn, max(value) mx
           FROM ev WHERE is_base GROUP BY event_type),
         b AS (SELECT e.event_type,
             CAST(CASE WHEN mm.mx = mm.mn THEN 0
               ELSE greatest(least(
                 floor((e.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9), 0)
               END AS INTEGER) bin,
             e.is_base
           FROM ev e JOIN mm USING (event_type)),
         c AS (SELECT event_type, bin,
             CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) cb,
             CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) cc
           FROM b GROUP BY 1, 2),
         t AS (SELECT event_type, sum(cb) nb, sum(cc) nc
           FROM c GROUP BY event_type)
         SELECT c.event_type, CAST(t.nb AS BIGINT) n_base,
           CAST(t.nc AS BIGINT) n_current,
           round(sum(
             (((cc + 1) / (nc + 10)) - ((cb + 1) / (nb + 10))) *
             ln(((cc + 1) / (nc + 10)) / ((cb + 1) / (nb + 10)))), 6) AS psi
         FROM c JOIN t USING (event_type)
         GROUP BY c.event_type, t.nb, t.nc
         ORDER BY c.event_type""",

    "q118_event_transitions" ->
      """WITH seq AS (SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) prev_type
           FROM events),
         tr AS (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) n
           FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT prev_type, sum(n) t FROM tr GROUP BY prev_type)
         SELECT tr.prev_type, tr.event_type, tr.n,
           round(tr.n / tot.t, 6) AS p
         FROM tr JOIN tot USING (prev_type)
         ORDER BY tr.prev_type, tr.event_type""",

    // independent formulation: explicit join-based power iteration
    // (the engine side uses windows over a user-partitioned frame)
    "q136_hits_centrality" ->
      """WITH w AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         a0 AS (SELECT event_type, sum(c) s0 FROM w GROUP BY 1),
         h1 AS (SELECT user_id, sum(w.c * a0.s0) hub1
           FROM w JOIN a0 USING (event_type) GROUP BY 1),
         a1 AS (SELECT w.event_type, sum(w.c * h1.hub1) // 1000 s1
           FROM w JOIN h1 USING (user_id) GROUP BY 1),
         h2 AS (SELECT w.user_id, sum(w.c * a1.s1) hub2
           FROM w JOIN a1 USING (event_type) GROUP BY 1)
         SELECT h1.user_id, CAST(h1.hub1 AS BIGINT) AS hub1,
           CAST(h2.hub2 AS BIGINT) AS hub2
         FROM h1 JOIN h2 USING (user_id)
         ORDER BY hub2 DESC, hub1 DESC, user_id LIMIT 20""",

    "q138_changepoint" ->
      """WITH daily AS (SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) dy,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         cum AS (SELECT event_type, dy,
             row_number() OVER (PARTITION BY event_type ORDER BY dy) k,
             sum(c) OVER (PARTITION BY event_type ORDER BY dy) p
           FROM daily),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
             sum(c) s FROM daily GROUP BY 1),
         dev AS (SELECT c.event_type, c.dy, t.n,
             abs(t.n * c.p - c.k * t.s) dv
           FROM cum c JOIN tot t USING (event_type))
         SELECT event_type, dy AS change_day,
           CAST(n AS BIGINT) AS n_days,
           CAST(dv AS BIGINT) AS max_scaled_dev
         FROM (SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY dv DESC, dy) rn FROM dev)
         WHERE rn = 1 ORDER BY event_type""",

    // identical integer-cents digit extraction, identical fixed
    // left-to-right chi² association order and the SAME probability
    // literals (benfordP interpolated) — both engines run the same
    // IEEE operations
    "q139_benford" -> {
      val cCols = (1 to 9).map(i =>
        s"CAST(sum(CASE WHEN dg = $i THEN m ELSE 0 END) AS BIGINT) c$i")
        .mkString(",\n             ")
      val terms = (1 to 9).map(i =>
        s"(CAST(c$i AS DOUBLE) - CAST(n AS DOUBLE) * ${benfordP(i)}) * " +
        s"(CAST(c$i AS DOUBLE) - CAST(n AS DOUBLE) * ${benfordP(i)}) / " +
        s"(CAST(n AS DOUBLE) * ${benfordP(i)})")
        .mkString("\n           + ")
      s"""WITH digits AS (SELECT event_type,
             CAST(substr(CAST(CAST(round(value * 100, 0) AS BIGINT)
               AS VARCHAR), 1, 1) AS INT) dg
           FROM events WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
         hist AS (SELECT event_type, dg, CAST(count(*) AS BIGINT) m
           FROM digits GROUP BY 1, 2),
         piv AS (SELECT event_type, CAST(sum(m) AS BIGINT) n,
             $cCols
           FROM hist GROUP BY 1)
         SELECT event_type, n AS n_values,
           round($terms, 6) AS benford_chi2
         FROM piv ORDER BY event_type"""
    },

    // set-algebra route: DISTINCT + self-join pair counting (the
    // engine side never self-joins — it explodes per-user type sets)
    "q140_type_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         pt AS (SELECT event_type, CAST(count(*) AS BIGINT) n
           FROM ut GROUP BY 1),
         pr AS (SELECT a.event_type ta, b.event_type tb,
             CAST(count(*) AS BIGINT) nb
           FROM ut a JOIN ut b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT pr.ta AS type_a, pr.tb AS type_b, pa.n AS n_a,
           pb.n AS n_b, pr.nb AS n_both,
           round(CAST(pr.nb AS DOUBLE) /
             CAST(pa.n + pb.n - pr.nb AS DOUBLE), 6) AS jaccard
         FROM pr JOIN pt pa ON pr.ta = pa.event_type
           JOIN pt pb ON pr.tb = pb.event_type
         ORDER BY type_a, type_b""",

    // join-based totals instead of unbounded windows; the scaled
    // integer sums are exact on both engines (DuckDB promotes to
    // HUGEINT, Spark stays in checked int64), and the one division of
    // identical integers is the only float op
    "q141_daily_autocorr" ->
      """WITH daily AS (SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) dy,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
             sum(c) s FROM daily GROUP BY 1),
         lagd AS (SELECT event_type, dy, c, lag(c) OVER (
             PARTITION BY event_type ORDER BY dy) prev FROM daily),
         agg AS (SELECT l.event_type, t.n,
             sum(CASE WHEN l.prev IS NOT NULL THEN
               (t.n * l.c - t.s) * (t.n * l.prev - t.s) END) num,
             sum((t.n * l.c - t.s) * (t.n * l.c - t.s)) den
           FROM lagd l JOIN tot t USING (event_type) GROUP BY 1, 2)
         SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CASE WHEN den = 0 THEN NULL
             ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
           END AS lag1_autocorr
         FROM agg ORDER BY event_type""",

    // plain (non-broadcast, non-cached) pair self-join; identical
    // integer sign arithmetic
    "q142_mann_kendall" ->
      """WITH daily AS (SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) dy,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         s AS (SELECT a.event_type,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
               WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) sv
           FROM daily a JOIN daily b ON a.event_type = b.event_type
             AND a.dy < b.dy
           GROUP BY 1),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) n
           FROM daily GROUP BY 1)
         SELECT t.event_type, t.n AS n_days,
           COALESCE(s.sv, 0) AS s_stat,
           CASE WHEN t.n < 2 THEN NULL
             ELSE round(CAST(2 * COALESCE(s.sv, 0) AS DOUBLE) /
               CAST(t.n * (t.n - 1) AS DOUBLE), 6)
           END AS tau_a
         FROM tot t LEFT JOIN s USING (event_type)
         ORDER BY t.event_type""",

    // tie counts via a plain (ta,tb,value) partition instead of the
    // engine's RANGE peer frame; HUGEINT sums are exact, and the final
    // cast/multiply/sqrt runs the same IEEE ops as the Spark side
    "q143_spearman_pairs" ->
      """WITH daily AS (SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) dy,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         al AS (SELECT a.event_type ta, b.event_type tb, a.c ca, b.c cb
           FROM daily a JOIN daily b ON a.dy = b.dy
             AND a.event_type < b.event_type),
         rk AS (SELECT ta, tb,
             2 * rank() OVER (PARTITION BY ta, tb ORDER BY ca)
               + count(*) OVER (PARTITION BY ta, tb, ca) - 1 rx,
             2 * rank() OVER (PARTITION BY ta, tb ORDER BY cb)
               + count(*) OVER (PARTITION BY ta, tb, cb) - 1 ry
           FROM al),
         ag AS (SELECT ta, tb, CAST(count(*) AS BIGINT) n,
             sum(rx) sx, sum(ry) sy, sum(rx * ry) sxy,
             sum(rx * rx) sxx, sum(ry * ry) syy
           FROM rk GROUP BY 1, 2)
         SELECT ta AS type_a, tb AS type_b, n AS n_days,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
             THEN NULL
             ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
               sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                 CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS spearman_rho
         FROM ag ORDER BY type_a, type_b""",

    // identical epoch-day weekday arithmetic (dates are post-1970 so
    // DuckDB's % agrees with pmod); HUGEINT carries the squares
    "q144_weekday_profile" -> {
      val cCols = (0 to 6).map(i =>
        s"CAST(sum(CASE WHEN dw = $i THEN m ELSE 0 END) AS BIGINT) c$i")
        .mkString(",\n             ")
      val sq = (0 to 6).map(i => s"c$i * c$i").mkString(" + ")
      s"""WITH dws AS (SELECT event_type,
             (CAST(CAST(date_trunc('day', ts) AS DATE)
               - DATE '1970-01-01' AS BIGINT) + 3) % 7 dw
           FROM events),
         hist AS (SELECT event_type, dw, CAST(count(*) AS BIGINT) m
           FROM dws GROUP BY 1, 2),
         piv AS (SELECT event_type, CAST(sum(m) AS BIGINT) n,
             $cCols
           FROM hist GROUP BY 1)
         SELECT event_type, n AS n_events,
           c0 AS mon, c1 AS tue, c2 AS wed, c3 AS thu, c4 AS fri,
           c5 AS sat, c6 AS sun,
           round(CAST(7 * ($sq) - n * n AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS dow_chi2
         FROM piv ORDER BY event_type"""
    },

    "q145_streak_hist" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) dy
           FROM events),
         isl AS (SELECT user_id,
             CAST(dy - DATE '1970-01-01' AS BIGINT)
               - row_number() OVER (PARTITION BY user_id ORDER BY dy) g
           FROM ud),
         runs AS (SELECT user_id, g, CAST(count(*) AS BIGINT) len
           FROM isl GROUP BY 1, 2),
         best AS (SELECT user_id, max(len) streak_days
           FROM runs GROUP BY 1)
         SELECT CAST(streak_days AS BIGINT) AS streak_days,
           CAST(count(*) AS BIGINT) AS n_users
         FROM best GROUP BY 1 ORDER BY streak_days""",

    "q146_burstiness" ->
      """WITH daily AS (SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) dy,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         ag AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
             sum(c) s, sum(c * c) ss
           FROM daily GROUP BY 1)
         SELECT event_type, n AS n_days,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
           round((sqrt(CAST(n * ss - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
             / (sqrt(CAST(n * ss - s * s AS DOUBLE)) + CAST(s AS DOUBLE)),
             6) AS burstiness
         FROM ag ORDER BY event_type""",

    // join-based first-touch route (the engine side uses a min window
    // over the user-clustered grid)
    "q149_new_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) dy
           FROM events),
         fd AS (SELECT user_id, min(dy) f FROM ud GROUP BY 1)
         SELECT ud.dy AS day, CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN ud.dy = fd.f THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(count(*) - sum(CASE WHEN ud.dy = fd.f THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returning
         FROM ud JOIN fd USING (user_id)
         GROUP BY 1 ORDER BY day""",

    // join-based totals instead of the engine's windows; identical
    // integer decile threshold 10·rn ≤ n+9
    "q150_value_concentration" ->
      """WITH per AS (SELECT event_type, user_id,
             sum(CAST(round(value * 100, 0) AS BIGINT)) cents
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
             sum(cents) t FROM per GROUP BY 1),
         r AS (SELECT p.event_type, p.cents, t.n, t.t,
             row_number() OVER (PARTITION BY p.event_type
               ORDER BY p.cents DESC, p.user_id) rn
           FROM per p JOIN tot t USING (event_type))
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
           CAST((max(n) + 9) // 10 AS BIGINT) AS top_users,
           CASE WHEN max(t) = 0 THEN NULL
             ELSE round(CAST(sum(CASE WHEN rn * 10 <= n + 9
                 THEN cents ELSE 0 END) AS DOUBLE)
               / CAST(max(t) AS DOUBLE), 6) END AS top10_share
         FROM r GROUP BY 1 ORDER BY event_type""",

    // independent route: LEFT JOIN to the (user, week+7) row instead
    // of the engine's lead window over the user-clustered grid
    "q151_weekly_churn" ->
      """WITH uw AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) wk FROM events),
         mx AS (SELECT max(wk) m FROM uw),
         j AS (SELECT a.wk, CAST(count(*) AS BIGINT) n_active,
             CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) churned
           FROM uw a LEFT JOIN uw b
             ON b.user_id = a.user_id AND b.wk = a.wk + 7
           GROUP BY 1)
         SELECT wk AS week, n_active,
           CASE WHEN wk = (SELECT m FROM mx) THEN NULL
             ELSE churned END AS n_churned,
           CASE WHEN wk = (SELECT m FROM mx) THEN NULL
             ELSE round(CAST(churned AS DOUBLE)
               / CAST(n_active AS DOUBLE), 6) END AS churn_rate
         FROM j ORDER BY week""",

    // independent implementation: DuckDB's native quantile_disc over
    // the raw gap list vs the engine's histogram-cumulative route
    // (nearest-rank parity proven on the q148 fixtures)
    "q152_gap_percentiles" ->
      """WITH g AS (SELECT event_type,
             (epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id))) // 1000000 gap_s
           FROM events),
         f AS (SELECT event_type, CAST(gap_s AS BIGINT) gap_s
           FROM g WHERE gap_s IS NOT NULL)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(quantile_disc(gap_s, 0.50) AS BIGINT) AS p50_gap_s,
           CAST(quantile_disc(gap_s, 0.90) AS BIGINT) AS p90_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
         FROM f GROUP BY 1 ORDER BY event_type""",

    // same integer bit-length bucket (DuckDB bin() is also minimal-
    // width); the genuinely independent route is the driver-side
    // numberOfLeadingZeros form in AnalyticsSpec
    "q154_activity_histogram" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) n
           FROM events GROUP BY 1)
         SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(n) AS BIGINT) AS min_events,
           CAST(max(n) AS BIGINT) AS max_events,
           CAST(sum(n) AS BIGINT) AS total_events
         FROM per GROUP BY 1 ORDER BY bucket""",

    // independent route: FULL JOIN day-adjacency alignment instead of
    // the engine's signed union
    "q155_mix_shift" ->
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) dy,
             event_type, CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT min(dy) mn, max(dy) mx FROM daily),
         pairs AS (SELECT COALESCE(a.dy, b.dy + 1) dy,
             COALESCE(a.c, 0) ca, COALESCE(b.c, 0) cb
           FROM daily a FULL JOIN daily b
             ON a.event_type = b.event_type AND a.dy = b.dy + 1),
         g AS (SELECT dy, CAST(sum(abs(ca - cb)) AS BIGINT) l1,
             CAST(sum(ca + cb) AS BIGINT) pair_mass
           FROM pairs GROUP BY 1)
         SELECT dy AS day, l1, pair_mass,
           round(CAST(l1 AS DOUBLE) / CAST(pair_mass AS DOUBLE), 6)
             AS l1_share
         FROM g
         WHERE dy > (SELECT mn FROM bounds)
           AND dy <= (SELECT mx FROM bounds)
         ORDER BY day""",

    // independent implementation: DuckDB's native quantile_disc over
    // raw cents per (day, type) vs the engine's histogram-cumulative
    // route; median_value is the same single IEEE division
    "q156_daily_median_value" ->
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) dy,
             event_type,
             CAST(round(value * 100, 0) AS BIGINT) cents
           FROM events)
         SELECT dy AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(quantile_disc(cents, 0.50) AS BIGINT) AS median_cents,
           CAST(quantile_disc(cents, 0.50) AS BIGINT) / 100.0
             AS median_value
         FROM c GROUP BY 1, 2 ORDER BY day, event_type""",

    "q157_calendar_coverage" ->
      """WITH g AS (SELECT DISTINCT event_type,
             CAST(date_trunc('day', ts) AS DATE) dy FROM events),
         a AS (SELECT event_type, min(dy) first_day, max(dy) last_day,
             CAST(count(*) AS BIGINT) n_active_days
           FROM g GROUP BY 1)
         SELECT event_type, first_day, last_day, n_active_days,
           CAST(last_day - first_day + 1 AS BIGINT) AS span_days,
           round(CAST(n_active_days AS DOUBLE)
             / CAST(last_day - first_day + 1 AS DOUBLE), 6) AS coverage
         FROM a ORDER BY event_type""",

    "q160_value_magnitude_hist" ->
      """WITH c AS (SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) cents FROM events)
         SELECT event_type,
           CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents
         FROM c GROUP BY 1, 2 ORDER BY event_type, bucket""",

    // same pure epoch arithmetic for the hour (epoch_us is
    // timezone-free on both engines)
    "q161_hourly_profile" ->
      """WITH h AS (SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 hr FROM events),
         g AS (SELECT event_type, CAST(hr AS BIGINT) hr,
             CAST(count(*) AS BIGINT) n_events
           FROM h GROUP BY 1, 2),
         t AS (SELECT event_type, sum(n_events) tot FROM g GROUP BY 1)
         SELECT g.event_type, g.hr AS "hour", g.n_events,
           round(CAST(g.n_events AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
             AS share
         FROM g JOIN t USING (event_type)
         ORDER BY event_type, g.hr""",

    // independent implementation: DuckDB sessionizes with its own
    // lag/running-sum windows and native quantile_disc over the raw
    // per-session values (vs the engine's explode + histogram route)
    "q163_session_percentiles" ->
      """WITH s AS (SELECT user_id, ts, event_id, epoch_us(ts) us,
             CASE WHEN lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id)
                 > 1800000000 THEN 1 ELSE 0 END brk
           FROM events),
         g AS (SELECT user_id, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) sid
           FROM s),
         p AS (SELECT user_id, sid,
             (max(us) - min(us)) // 1000000 dur_s,
             CAST(count(*) AS BIGINT) len
           FROM g GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(quantile_disc(dur_s, 0.50) AS BIGINT) AS p50_duration_s,
           CAST(quantile_disc(dur_s, 0.90) AS BIGINT) AS p90_duration_s,
           CAST(max(dur_s) AS BIGINT) AS max_duration_s,
           CAST(quantile_disc(len, 0.50) AS BIGINT) AS p50_events,
           CAST(quantile_disc(len, 0.90) AS BIGINT) AS p90_events,
           CAST(max(len) AS BIGINT) AS max_events
         FROM p""",

    // same integer decile formula; the structurally different route is
    // the driver-side sorted walk in AnalyticsSpec
    "q164_lorenz_deciles" ->
      """WITH per AS (SELECT event_type, user_id,
             sum(CAST(round(value * 100, 0) AS BIGINT)) cents
           FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cents DESC, user_id) rn,
             count(*) OVER (PARTITION BY event_type) n
           FROM per),
         d AS (SELECT event_type,
             CAST((10 * rn + n - 1) // n AS BIGINT) decile,
             CAST(count(*) AS BIGINT) n_users,
             CAST(sum(cents) AS BIGINT) dc
           FROM r GROUP BY 1, 2),
         c AS (SELECT event_type, decile, n_users, dc,
             sum(dc) OVER (PARTITION BY event_type ORDER BY decile
               ROWS UNBOUNDED PRECEDING) cum,
             sum(dc) OVER (PARTITION BY event_type) tot
           FROM d)
         SELECT event_type, decile, n_users,
           CAST(dc AS BIGINT) AS decile_cents,
           CASE WHEN tot = 0 THEN NULL
             ELSE round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             END AS cum_share
         FROM c ORDER BY event_type, decile""",

    "q165_conversion_lag" ->
      """WITH p AS (SELECT user_id,
             min(CAST(date_trunc('day', ts) AS DATE)) fd,
             min(CASE WHEN event_type = 'purchase'
               THEN CAST(date_trunc('day', ts) AS DATE) END) fp
           FROM events GROUP BY 1)
         SELECT CAST(fp - fd AS BIGINT) AS lag_days,
           CAST(count(*) AS BIGINT) AS n_users
         FROM p GROUP BY 1 ORDER BY lag_days""",

    // same integer quintile formula; the structurally different route
    // is the driver-side sorted-rank walk in AnalyticsSpec
    "q167_rfm_segments" ->
      """WITH per AS (SELECT user_id,
             max(CAST(date_trunc('day', ts) AS DATE)) last_day,
             CAST(count(*) AS BIGINT) freq,
             sum(CAST(round(value * 100, 0) AS BIGINT)) cents
           FROM events GROUP BY 1),
         r AS (SELECT freq, cents,
             count(*) OVER () n,
             row_number() OVER (ORDER BY last_day DESC, user_id) r_rn,
             row_number() OVER (ORDER BY freq DESC, user_id) f_rn,
             row_number() OVER (ORDER BY cents DESC, user_id) m_rn
           FROM per)
         SELECT CAST((5 * r_rn + n - 1) // n AS BIGINT) AS r_q,
           CAST((5 * f_rn + n - 1) // n AS BIGINT) AS f_q,
           CAST((5 * m_rn + n - 1) // n AS BIGINT) AS m_q,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(freq) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS total_cents
         FROM r GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""",

    "q168_touch_matrix" ->
      """WITH w AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) rn,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) prev,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) cp
           FROM events),
         p AS (SELECT user_id,
             max(CASE WHEN rn = 1 THEN event_type END) first_touch,
             max(CASE WHEN event_type = 'purchase' AND cp = 1
               THEN coalesce(prev, '(start)') END) last_touch
           FROM w GROUP BY 1)
         SELECT first_touch, last_touch,
           CAST(count(*) AS BIGINT) AS n_users
         FROM p WHERE last_touch IS NOT NULL
         GROUP BY 1, 2 ORDER BY first_touch, last_touch""",

    "q170_dominance_hist" ->
      """WITH c AS (SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         u AS (SELECT user_id, sum(c) n, max(c) cmax FROM c GROUP BY 1)
         SELECT CAST((10 * cmax + n - 1) // n AS BIGINT)
             AS dominance_decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events
         FROM u GROUP BY 1 ORDER BY dominance_decile""",

    "q171_survival_curve" ->
      """WITH per AS (SELECT user_id,
             CAST(max(CAST(date_trunc('day', ts) AS DATE))
                - min(CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
               lifespan_days
           FROM events GROUP BY 1),
         h AS (SELECT lifespan_days, CAST(count(*) AS BIGINT) n_ending
           FROM per GROUP BY 1)
         SELECT lifespan_days, n_ending,
           CAST(sum(n_ending) OVER (ORDER BY lifespan_days DESC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS survivors,
           round(CAST(sum(n_ending) OVER (ORDER BY lifespan_days DESC
               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(sum(n_ending) OVER () AS DOUBLE), 6)
             AS surviving_share
         FROM h ORDER BY lifespan_days""",

    "q173_stickiness" ->
      """WITH ud AS (SELECT DISTINCT
             CAST(date_trunc('day', ts) AS DATE) dy, user_id
           FROM events),
         dau AS (SELECT dy, CAST(count(*) AS BIGINT) dau
           FROM ud GROUP BY 1),
         mau AS (SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT)
             mau28
           FROM (SELECT user_id, dy + CAST(i AS INTEGER) AS wday
             FROM ud, unnest(generate_series(0, 27)) t(i))
           GROUP BY 1)
         SELECT a.dy AS day, dau, mau28,
           round(CAST(dau AS DOUBLE) / CAST(mau28 AS DOUBLE), 6)
             AS stickiness
         FROM dau a JOIN mau m ON a.dy = m.wday ORDER BY day""",

    // independent route: a user-keyed SELF-JOIN builds the pair
    // counts (the engine never joins on user — it explodes per-user
    // sorted sets)
    "q176_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
         sz AS (SELECT event_type, CAST(count(*) AS BIGINT) n
           FROM tu GROUP BY 1),
         p AS (SELECT a.event_type ta, b.event_type tb,
             CAST(count(*) AS BIGINT) n_both
           FROM tu a JOIN tu b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT ta AS type_a, tb AS type_b, sa.n AS n_a, sb.n AS n_b,
           n_both,
           round(CAST(n_both AS DOUBLE)
             / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) AS jaccard
         FROM p JOIN sz sa ON ta = sa.event_type
           JOIN sz sb ON tb = sb.event_type
         ORDER BY type_a, type_b""",

    "q177_weekly_seasonality" ->
      """WITH daily AS (SELECT event_type,
             CAST(CAST(date_trunc('day', ts) AS DATE)
               - DATE '1970-01-01' AS BIGINT) ed,
             CAST(count(*) AS BIGINT) c
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, c,
             count(*) OVER (PARTITION BY event_type) n,
             sum(c) OVER (PARTITION BY event_type) s,
             max(c) OVER (PARTITION BY event_type ORDER BY ed
               RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) prev
           FROM daily)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pairs,
           CASE WHEN sum((n*c - s)*(n*c - s)) = 0
               OR sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) = 0
             THEN NULL
             ELSE round(CAST(sum(CASE WHEN prev IS NOT NULL
                 THEN (n*c - s)*(n*prev - s) END) AS DOUBLE)
               / CAST(sum((n*c - s)*(n*c - s)) AS DOUBLE), 6)
             END AS lag7_autocorr
         FROM w GROUP BY 1 ORDER BY event_type""",

    "q178_median_drift" ->
      """WITH h AS (SELECT event_type,
             CAST(date_trunc('week', ts) AS DATE) wk,
             CAST(round(value * 100, 0) AS BIGINT) cents,
             CAST(count(*) AS BIGINT) m
           FROM events GROUP BY 1, 2, 3),
         c AS (SELECT event_type, wk, cents, m,
             sum(m) OVER (PARTITION BY event_type, wk ORDER BY cents
               ROWS UNBOUNDED PRECEDING) cum,
             sum(m) OVER (PARTITION BY event_type, wk) n
           FROM h),
         med AS (SELECT event_type, wk,
             min(CASE WHEN cum * 2 >= n THEN cents END) median_cents
           FROM c GROUP BY 1, 2),
         sh AS (SELECT event_type, wk,
             count(*) OVER (PARTITION BY event_type) n_weeks,
             abs(median_cents - lag(median_cents) OVER (
               PARTITION BY event_type ORDER BY wk)) shift
           FROM med),
         r AS (SELECT event_type,
             CAST(n_weeks AS BIGINT) n_weeks, wk,
             CAST(shift AS BIGINT) shift,
             row_number() OVER (PARTITION BY event_type
               ORDER BY shift DESC, wk) rn
           FROM sh WHERE shift IS NOT NULL)
         SELECT event_type, n_weeks, shift AS max_shift_cents,
           wk AS shift_week
         FROM r WHERE rn = 1 ORDER BY event_type""",

    // DuckDB's own lag + running-sum sessionization (the q163 oracle
    // pattern) with the purchase flag carried through
    "q187_session_conversion" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id)
                 > 1800000000 THEN 1 ELSE 0 END brk
           FROM events),
         g AS (SELECT user_id, event_type,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) sid
           FROM s),
         p AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) len,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               conv
           FROM g GROUP BY 1, 2),
         b AS (SELECT CAST(length(bin(len)) - 1 AS BIGINT) len_bucket,
             CAST(count(*) AS BIGINT) n_sessions,
             CAST(sum(conv) AS BIGINT) n_converting
           FROM p GROUP BY 1)
         SELECT len_bucket, n_sessions, n_converting,
           round(CAST(n_converting AS DOUBLE)
             / CAST(n_sessions AS DOUBLE), 6) AS conversion_rate
         FROM b ORDER BY len_bucket"""
  )
}
