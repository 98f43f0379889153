package graft.queries

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators from SURVEY.md §2 (scans, filters, joins,
  * aggregations, set ops) expressed over the star-schema testdata, each
  * with a DuckDB oracle. The NILM reference performs these via pandas
  * dict/index operations (e.g. metadata probes `UKDALELoader.py:56-58`,
  * exclusion predicates `UnifiedNILM.py:457-475`); here they are
  * declarative so Catalyst pushes filters/prunes columns/broadcasts dims.
  *
  * Oracle-parity conventions (driver compares column-sorted hashes):
  *   - every float aggregate is round()ed identically on both sides;
  *   - DuckDB sum(INTEGER/BIGINT) returns HUGEINT → always CAST to BIGINT;
  *   - every query ends in a total deterministic ORDER BY on both sides.
  */
object RelationalQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J2/J3-style dim joins: fact × two broadcastable dims (the reference's
    // channel→metadata and device→power-type dict probes, UKDALELoader.py:84-94).
    "q03_dim_join" -> ((s, d) => {
      import s.implicits._
      customer(s, d)
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(
          count(lit(1)).as("n_customers"),
          // acctbal is exact cents: sum INTEGER cents, divide once —
          // a double sum's order-dependent half-boundary flipped q04's
          // last digit under the sf0.1 layout gate (SCALE.md r17), and
          // every monetary sum in this file now uses the exact form
          round(sum(round($"c_acctbal" * 100).cast("long"))
            .cast("double") / 100, 2).as("total_acctbal"))
        .orderBy($"r_name")
    }),

    // A2/A18-style grouped sums (TPC-H Q1 shape): the reference's
    // compute-aggregate-from-appliances is the same groupBy+sum semantics
    // (UnifiedNILM.py:438-490).
    "q04_group_agg" -> ((s, d) => {
      import s.implicits._
      // Layout-gate catch (SCALE.md r17): at sf0.1 the double sum under
      // sum_disc_price lands on a 2dp rounding half-boundary, so the
      // summation ORDER — which input layout and partitioning change —
      // flipped the rounded last digit (…231.62 vs …231.63). The
      // q124/q125 fixed-point discipline applies: prices are exact
      // CENTS and discounts exact HUNDREDTHS in this data, so sum
      // integers (cents, cent·(100−disc) ten-thousandths) and divide
      // exactly once at the end. l_quantity is integer-valued, so its
      // double sum is already exact (< 2^53) and order-independent.
      val cents = round($"l_extendedprice" * 100).cast("long")
      val discH = round($"l_discount" * 100).cast("long")
      lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum(cents).cast("double") / 100, 2).as("sum_base_price"),
          round(sum(cents * (lit(100L) - discH)).cast("double") / 10000, 2)
            .as("sum_disc_price"),
          round(sum(discH).cast("double") / (count(lit(1)) * 100), 6)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // P7 exclusion predicates as anti-join (UnifiedNILM.py:457-475):
    // customers that never placed an order.
    "q09_anti_join" -> ((s, d) => {
      import s.implicits._
      customer(s, d)
        .join(orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    }),

    // Semi-join (membership) — parts that ship at least once.
    "q10_semi_join" -> ((s, d) => {
      import s.implicits._
      part(s, d)
        .join(lineitem(s, d), $"p_partkey" === $"l_partkey", "left_semi")
        .select($"p_partkey", $"p_brand")
        .orderBy($"p_partkey")
    }),

    // T2 relational division (channel_utils.py:42-46: house kept only if it
    // has ALL required labels): customers with orders in every one of the
    // order-priority classes present in the data.
    "q11_division" -> ((s, d) => {
      import s.implicits._
      // The divisor (total #priorities) stays in-plan as a broadcast
      // 1-row aggregate — construction is side-effect free and Catalyst
      // sees a single query (no eager driver-side count).
      val o = orders(s, d)
      val total = o.agg(countDistinct($"o_orderpriority").as("total_prio"))
      o.groupBy($"o_custkey")
        .agg(countDistinct($"o_orderpriority").as("n_prio"))
        .join(broadcast(total), $"n_prio" === $"total_prio")
        .select($"o_custkey")
        .orderBy($"o_custkey")
    }),

    // T1/T4 union + distinct (label-vocabulary accumulation,
    // UKDALELoader.py:110-111): nations that have a customer or a supplier.
    "q12_union_distinct" -> ((s, d) => {
      import s.implicits._
      customer(s, d).select($"c_nationkey".as("nationkey"))
        .unionByName(supplier(s, d).select($"s_nationkey".as("nationkey")))
        .distinct()
        .join(nation(s, d), $"nationkey" === $"n_nationkey")
        .select($"nationkey", $"n_name")
        .orderBy($"nationkey")
    }),

    // A12 variance/stddev scoring (channel_utils.py:63-69) per group.
    "q13_variance" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          round(variance($"l_quantity"), 6).as("var_qty"),
          round(stddev($"l_extendedprice"), 4).as("std_price"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }),

    // A14 Pearson correlation (insights_oladatasets.ipynb cell 3).
    "q14_corr" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"))
        .orderBy($"l_returnflag")
    }),

    // Rollup over the region→nation hierarchy (the reference re-runs
    // groupBys per level; we expose native rollup, SURVEY §2.4 note).
    "q15_rollup" -> ((s, d) => {
      import s.implicits._
      customer(s, d)
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(round(sum(round($"c_acctbal" * 100).cast("long"))
            .cast("double") / 100, 2).as("total_bal"),
          count(lit(1)).as("n"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    }),

    // A13 exact quantile (train_bert_single.py:48-53 uses 0.99-quantile
    // normalization): 0.99 quantile of order totals per status. Exact
    // `percentile` buffers each group's values (o_totalprice is
    // high-cardinality — the buffer is the scale caveat); kept exact
    // here because DuckDB's quantile_cont is exact. The engine API for
    // non-oracle use is Quantiles.quantile(..., approx = true)
    // (fixed-size sketch state; see QuantilesSpec for the error bound).
    "q16_quantile" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Quantiles
      orders(s, d)
        .groupBy($"o_orderstatus")
        .agg(
          round(Quantiles.quantile($"o_totalprice", 0.99, approx = false), 4)
            .as("p99_total"),
          round(Quantiles.quantile($"o_totalprice", 0.5, approx = false), 4)
            .as("median_total"))
        .orderBy($"o_orderstatus")
    }),

    // Multi-way join with selective filter: revenue by nation for one
    // region (join-reorder + broadcast showcase; TPC-H Q5 shape).
    "q17_join_chain" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .join(orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "AFRICA")
        .groupBy($"n_name")
        .agg(round(sum(round($"l_extendedprice" * 100).cast("long") *
              (lit(100L) - round($"l_discount" * 100).cast("long")))
            .cast("double") / 10000, 2).as("revenue"))
        .orderBy($"n_name")
    }),

    // Data-quality column profile (operators/Profiler): all statistics
    // for all columns from ONE scan, unpivoted with stack — never a
    // job per column. Exact distincts here for the oracle; the
    // approx_count_distinct switch is the fact-scale default.
    "q67_column_profile" -> ((s, d) => {
      import s.implicits._
      graft.operators.Profiler.numericProfile(lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select($"col_name", $"n", $"n_nulls", $"n_distinct", $"vmin",
          $"vmax", round($"vmean", 4).as("vmean"))
        .orderBy($"col_name")
    }),

    // Snapshot diff / CDC derivation (operators/SnapshotDiff.scala):
    // two full dumps of `orders` derived from deterministic md5 coins
    // (q54 arithmetic — ~10% keys new-only, ~10% deleted, ~10% price
    // bump, ~10% priority reclass, coins independent so some updates
    // touch both columns) → the changelog: insert/delete/update rows
    // with the changed-column list. ONE full-outer SMJ on the unique
    // key is the whole wide cost; bucketed snapshots join
    // exchange-free (pinned in SnapshotDiffSpec).
    "q100_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      def coin(salt: String) =
        conv(substring(md5(concat(lit(salt),
          $"o_orderkey".cast("string"))), 1, 4), 16, 10).cast("long")
      val base = orders(s, d)
      val oldSnap = base.filter(coin("ins") >= 6554)
      // exact double add for the bump — round(x*1.1, 2) lands on 2dp
      // half-boundaries where Spark (shortest-string BigDecimal) and
      // DuckDB (exact binary) round apart (bit at sf0.1, q101 note)
      val newSnap = base.filter(coin("del") >= 6554)
        .withColumn("o_totalprice", when(coin("updp") < 6554,
          $"o_totalprice" + lit(1000.0)).otherwise($"o_totalprice"))
        .withColumn("o_orderpriority", when(coin("updr") < 6554,
          lit("9-RECLASSIFIED")).otherwise($"o_orderpriority"))
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap,
          Seq("o_orderkey"), Seq("o_totalprice", "o_orderpriority"))
        .orderBy($"o_orderkey")
    }),

    // Fuzzy entity resolution at edit distance ≤ 1 (ext/FuzzyJoin):
    // part names augmented with deterministic single-char-deletion
    // mutants (every 10th part, deleted position keyed on p_partkey —
    // both engines derive the identical corpus), exact duplicates
    // collapsed to a min-id representative FIRST (p_name is a 64-value
    // vocabulary — pairing raw rows would be the m² hot-variant
    // blow-up the FuzzyJoin scaladoc warns about), then the FastSS
    // deletion-neighborhood self-join over the distinct strings.
    // Candidates come from ONE variant-keyed join (a string of length
    // L emits L+1 keys), never an all-pairs comparison; the oracle IS
    // the all-pairs levenshtein join — hash-match doubles as the
    // blocking-completeness witness on this corpus.
    "q106_edit_neardup" -> ((s, d) => {
      import s.implicits._
      val p = part(s, d)
      val base = p.select($"p_partkey".cast("long").as("id"),
        $"p_name".as("s"))
      val pos = (expr("p_partkey div 10") % length($"p_name") + 1).cast("int")
      val mut = p.filter($"p_partkey" % 10 === 0)
        .select(($"p_partkey" + 1000000L).cast("long").as("id"),
          concat($"p_name".substr(lit(1), pos - 1),
            $"p_name".substr(pos + 1, length($"p_name") - pos)).as("s"))
      val rep = base.unionByName(mut)
        .groupBy($"s").agg(min($"id").as("id"))
      graft.ext.FuzzyJoin.ed1Pairs(rep, "id", "s")
        .select($"a_id", $"b_id", $"a_str", $"b_str", $"ed")
        .orderBy($"a_id", $"b_id")
    }),

    // Referential-integrity audit (the data-quality gate an ingest
    // pipeline runs before publishing a snapshot): orphan counts and
    // rates along three FK edges, with ~10% of lineitem's FKs
    // deterministically corrupted (md5 coin, out-of-range remap) so
    // the audit has something to catch — the two clean edges prove the
    // zero-orphan path, the planted edge the detection path. Each edge
    // is ONE left join + one count pass; dims broadcast, nothing
    // collected.
    "q115_fk_audit" -> ((s, d) => {
      import s.implicits._
      val coin = conv(substring(md5(concat(lit("fk"),
        ($"l_orderkey" * 10 + $"l_linenumber").cast("string"))), 1, 4),
        16, 10).cast("long")
      val li = lineitem(s, d).select(
        when(coin < 6554, $"l_orderkey" + 100000000L)
          .otherwise($"l_orderkey").as("fk"))
      def edge(name: String, child: DataFrame, parent: DataFrame) =
        child.toDF("fk")
          .join(parent.toDF("__pk").distinct(), $"fk" === $"__pk", "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when($"__pk".isNull, 1L).otherwise(0L)).as("n_orphans"))
          .withColumn("edge", lit(name))
      edge("lineitem_orders", li, orders(s, d).select($"o_orderkey"))
        .unionByName(edge("orders_customer",
          orders(s, d).select($"o_custkey"),
          customer(s, d).select($"c_custkey")))
        .unionByName(edge("customer_nation",
          customer(s, d).select($"c_nationkey"),
          nation(s, d).select($"n_nationkey")))
        .select($"edge", $"n_child", $"n_orphans",
          round($"n_orphans" / $"n_child", 6).as("orphan_rate"))
        .orderBy($"edge")
    }),

    // Unit-price consistency screen: basis-point deviation of
    // l_extendedprice from quantity × p_retailprice, bucketed by
    // 100 bp — the pricing-pipeline sanity audit (a mispriced feed
    // shows as an outlier bucket). dev_bp = (ec·10⁴) DIV (q·rc) −
    // 10⁴ is exact integer (positive operands — truncation IS floor);
    // the 100-bp bucket uses floor() of a double division because
    // dev_bp is SIGNED and Spark's DIV truncates toward zero while
    // DuckDB's // floors — the explicit floor makes both engines
    // agree on negative deviations. Dim lookup broadcasts (part ≪
    // lineitem); histogram ≤ a few hundred rows.
    "q180_price_deviation" -> ((s, d) => {
      import s.implicits._
      val dev = lineitem(s, d)
        .select($"l_partkey",
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("ec"),
          expr("CAST(round(l_quantity, 0) AS BIGINT)").as("q"))
        .join(broadcast(part(s, d).select($"p_partkey",
          expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)").as("rc"))),
          $"l_partkey" === $"p_partkey")
        .select(expr("(ec * 10000) DIV (q * rc) - 10000").as("dev_bp"))
      dev
        .groupBy(floor($"dev_bp" / lit(100.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_items"),
          min($"dev_bp").as("min_dev_bp"), max($"dev_bp").as("max_dev_bp"))
        .select(($"bucket" * 100).as("bucket_lo_bp"), $"n_items",
          $"min_dev_bp", $"max_dev_bp")
        .orderBy($"bucket_lo_bp")
    }),

    // Monthly revenue trend per market segment — the q124 exact-
    // integer OLS discipline on the star schema: y is order value in
    // integer cents summed per (segment, month-index), x the integer
    // month index, so every OLS sum is an exact long and the
    // unrounded slope double is IEEE-identical on both engines
    // (headroom: Σ(x·y) ≲ months²·monthly-cents ≈ 10¹⁴ at sf0.1 —
    // decimal128 per the Hits pattern at 10⁵× that). Customer-dim
    // join broadcasts; the monthly rollup is ≤ months×segments rows
    // and the per-segment reduction reuses nothing it shouldn't.
    "q182_segment_trend" -> ((s, d) => {
      import s.implicits._
      val monthly = orders(s, d)
        .join(broadcast(customer(s, d)
          .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment",
          ((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
            .cast("long").as("mi"))
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("yc"))
      val sums = monthly.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sum($"mi").as("sx"),
          sum($"yc").as("sy"), sum($"mi" * $"yc").as("sxy"),
          sum($"mi" * $"mi").as("sxx"))
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      // decide-before-division (the q192/q141/q143 rule): a segment
      // with one month (or a constant month index) has zero x-variance
      // — Spark's 0/0 is NaN where DuckDB's is NULL, so the degenerate
      // case must be decided BEFORE the division on both engines
      val denom = d2($"n") * d2($"sxx") - d2($"sx") * d2($"sx")
      val slope = when($"n" === 1L || denom === 0.0,
          lit(null).cast("double"))
        .otherwise((d2($"n") * d2($"sxy") - d2($"sx") * d2($"sy")) / denom)
      sums.select($"c_mktsegment", $"n".as("n_months"),
          slope.as("slope_cents_per_month"))
        .orderBy($"c_mktsegment")
    }),

    // Order-header vs line-detail reconciliation — the cross-table
    // consistency audit a warehouse runs nightly: basis-point
    // deviation of Σ(line extended price) from o_totalprice, bucketed
    // by 100 bp. Deliberately a BIG-BIG join: the per-order line
    // rollup (map-side combinable) meets orders on the SHARED
    // o_orderkey clustering — a sort-merge join of two fact-scale
    // frames, the one join shape the dim-broadcast queries never
    // exercise. All arithmetic integer until the q180 floor-of-double
    // bucket (dev_bp is signed).
    "q183_order_reconciliation" -> ((s, d) => {
      import s.implicits._
      val lines = lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
          .as("lc"))
      // merge hint: at test SFs the orders file sits under the
      // broadcast threshold and the planner would BHJ — but at fact
      // scale BOTH sides are huge, so the co-partitioned sort-merge
      // is the only plan that survives; pin the intended shape
      val dev = orders(s, d)
        .select($"o_orderkey",
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("oc"))
        .hint("merge")
        .join(lines, $"o_orderkey" === $"l_orderkey")
        .select(expr("(lc * 10000) DIV oc - 10000").as("dev_bp"))
      dev
        .groupBy(floor($"dev_bp" / lit(100.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          min($"dev_bp").as("min_dev_bp"), max($"dev_bp").as("max_dev_bp"))
        .select(($"bucket" * 100).as("bucket_lo_bp"), $"n_orders",
          $"min_dev_bp", $"max_dev_bp")
        .orderBy($"bucket_lo_bp")
    }),

    // Supply-concentration screen: per brand, the top supplier by
    // revenue and its share — single-supplier brands are the supply-
    // chain risk a procurement review hunts. Revenue collapses
    // map-side to ≤ |brands|·|suppliers| cells after the broadcast
    // part lookup; the rank and total windows share one brand
    // clustering (ties break on suppkey — deterministic argmax).
    "q184_supplier_concentration" -> ((s, d) => {
      import s.implicits._
      val cell = lineitem(s, d)
        .select($"l_partkey", $"l_suppkey",
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("ec"))
        .join(broadcast(part(s, d).select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"l_suppkey")
        .agg(sum($"ec").as("sc"))
      val wb = Window.partitionBy($"p_brand")
      cell
        .withColumn("rn", row_number().over(
          wb.orderBy($"sc".desc, $"l_suppkey")))
        .withColumn("bc", sum($"sc").over(wb))
        .withColumn("n_suppliers", count(lit(1)).over(wb))
        .filter($"rn" === 1)
        .select($"p_brand", $"n_suppliers",
          $"l_suppkey".as("top_suppkey"), $"sc".as("top_cents"),
          $"bc".as("brand_cents"),
          round($"sc".cast("double") / $"bc".cast("double"), 6)
            .as("top_share"))
        .orderBy($"p_brand")
    }),

    // Fulfilment-latency grid: exact p50/p90/max days from order date
    // to line ship date per order priority (the q148/q152 histogram-
    // cut nearest-rank discipline — never a per-priority sort of raw
    // rows). The orders↔lineitem join is again big-big on o_orderkey;
    // lag days are exact integer date arithmetic; the lag histogram
    // collapses to ≤ distinct-lags×priorities rows before any window.
    "q185_ship_lag_percentiles" -> ((s, d) => {
      import s.implicits._
      val hist = orders(s, d)
        .select($"o_orderkey", $"o_orderpriority",
          $"o_orderdate".cast("date").as("od"))
        .hint("merge") // fact-fact: see q183
        .join(lineitem(s, d)
          .select($"l_orderkey", $"l_shipdate".cast("date").as("sd")),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority",
          datediff($"sd", $"od").cast("long").as("lag_days"))
        .agg(count(lit(1)).as("m"))
      val wp = Window.partitionBy($"o_orderpriority")
      val wcum = wp.orderBy($"lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def pick(p: Int) =
        min(when($"cum" * 100 >= lit(p) * $"n", $"lag_days")).cast("long")
      hist.withColumn("cum", sum($"m").over(wcum))
        .withColumn("n", sum($"m").over(wp))
        .groupBy($"o_orderpriority")
        .agg(max($"n").cast("long").as("n_lines"),
          pick(50).as("p50_days"), pick(90).as("p90_days"),
          max($"lag_days").as("max_days"))
        .orderBy($"o_orderpriority")
    }),

    // Repeat-business share by month: of each month's orders, how
    // many come from customers with a PRIOR order — growth-quality
    // accounting on the fact table itself. The first-order flag is a
    // min window on the custkey clustering (one fact-scale exchange,
    // no self-join, no customer-dim read at all); the monthly rollup
    // is ≤ months rows. Ties (a customer's several same-instant
    // firsts) resolve identically on both engines because the flag
    // compares against the MIN (ts, orderkey) pair, not a row number.
    "q186_repeat_share" -> ((s, d) => {
      import s.implicits._
      val wc = Window.partitionBy($"o_custkey")
      val flagged = orders(s, d)
        .select($"o_custkey", $"o_orderdate",
          ((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
            .cast("long").as("mi"),
          struct($"o_orderdate", $"o_orderkey").as("ok"))
        .withColumn("first_ok", min($"ok").over(wc))
        .select($"mi", ($"ok" =!= $"first_ok").as("is_repeat"))
      flagged.groupBy($"mi")
        .agg(count(lit(1)).as("n_orders"),
          sum(when($"is_repeat", 1L).otherwise(0L)).as("n_repeat"))
        .select($"mi".as("month_index"), $"n_orders", $"n_repeat",
          round($"n_repeat".cast("double") / $"n_orders".cast("double"), 6)
            .as("repeat_share"))
        .orderBy($"month_index")
    }),

    // Top part-name tokens by revenue — the text×fact composition a
    // merchandising review runs ("which words sell"). The fact table
    // collapses FIRST (per-part revenue, map-side combinable), the
    // token explode runs over the part dim, and the global top-20 is
    // graft_topk's map-side bounded buffer (≤20 rows per task
    // reach the driver-side final) — never a vocabulary sort. Cents
    // ride exactly through the double score (< 2⁵³), cast back
    // losslessly; ties break token-ascending (deterministic).
    "q188_name_token_revenue" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .groupBy($"l_partkey")
        .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
          .as("pc"))
      graft.plans.GraftExtensions.register(s)
      part(s, d)
        .select($"p_partkey", explode(split($"p_name", " ")).as("token"))
        .join(rev, $"p_partkey" === $"l_partkey")
        .groupBy($"token").agg(sum($"pc").as("tc"))
        .agg(call_function("graft_topk",
          $"tc".cast("double"), $"token", lit(20)).as("tk"))
        .select(posexplode($"tk").as(Seq("__pos", "__e")))
        .select(($"__pos" + 1).cast("long").as("rank"),
          $"__e.id".as("token"),
          $"__e.score".cast("long").as("revenue_cents"))
        .orderBy($"rank")
    }),

    // Cohort LTV grid: cohort month × months-since-first-order →
    // active customers, orders, revenue, revenue per active customer.
    // The cohort label is a min window on ONE custkey clustering of
    // the fact table (no dim read, no self-join); the grid rollup is
    // ≤ months² rows. Integer cents; one division per cell.
    "q189_cohort_ltv" -> ((s, d) => {
      import s.implicits._
      val wc = Window.partitionBy($"o_custkey")
      orders(s, d)
        .select($"o_custkey",
          ((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
            .cast("long").as("mi"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("oc"))
        .withColumn("cohort", min($"mi").over(wc))
        .groupBy($"cohort", ($"mi" - $"cohort").as("age_months"))
        .agg(countDistinct($"o_custkey").as("n_customers"),
          count(lit(1)).as("n_orders"), sum($"oc").as("total_cents"))
        .select($"cohort".as("cohort_month"), $"age_months",
          $"n_customers", $"n_orders", $"total_cents",
          round($"total_cents".cast("double") /
            $"n_customers".cast("double"), 6).as("cents_per_customer"))
        .orderBy($"cohort_month", $"age_months")
    }),

    // Top-5 customers by revenue per market segment — the native
    // partial top-k on the star schema: per-customer revenue collapses
    // map-side from the fact scan, the segment label joins BROADCAST,
    // and graft_topk keeps ≤5 rows per segment per task before the
    // exchange (a window rank would shuffle and sort every customer).
    "q190_segment_top_customers" -> ((s, d) => {
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      val rev = orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("rc"))
        .join(broadcast(customer(s, d)
          .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
      graft.ext.TextOps.topKPerGroup(rev, Seq("c_mktsegment"),
          col("rc").cast("double"), col("o_custkey"), 5)
        .select($"c_mktsegment", $"rank", $"id".as("c_custkey"),
          $"score".cast("long").as("revenue_cents"))
        .orderBy($"c_mktsegment", $"rank")
    }),

    // Geographic revenue rollup: nation revenue + its share of the
    // region — the full dim chain (customer → nation → region), every
    // hop BROADCAST, with the fact table collapsed to per-customer
    // cents BEFORE any dim touches it (the dims annotate ≤ |customers|
    // rows, never raw orders). The region-share window runs over the
    // ≤ |nations| collapsed frame on one region clustering.
    "q191_nation_revenue" -> ((s, d) => {
      import s.implicits._
      val rev = orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("rc"))
        .join(broadcast(customer(s, d)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"), sum($"rc").as("nation_cents"))
      rev
        .withColumn("region_cents",
          sum($"nation_cents").over(Window.partitionBy($"r_name")))
        .select($"r_name", $"n_name", $"n_customers", $"nation_cents",
          round($"nation_cents".cast("double") /
            $"region_cents".cast("double"), 6).as("region_share"))
        .orderBy($"r_name", $"n_name")
    }),

    // Size↔price association per brand: exact-integer Pearson sums
    // (the q124/q14 discipline on the part dim — p_size integer,
    // retail cents integer, every moment an exact long, ONE final
    // expression of IEEE ops shipped unrounded-identical). A
    // zero-variance side yields NULL, decided before the division.
    "q192_size_price_corr" -> ((s, d) => {
      import s.implicits._
      val sums = part(s, d)
        .select($"p_brand", $"p_size".cast("long").as("x"),
          expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)").as("y"))
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"))
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      val varX = d2($"n") * d2($"sxx") - d2($"sx") * d2($"sx")
      val varY = d2($"n") * d2($"syy") - d2($"sy") * d2($"sy")
      val cov = d2($"n") * d2($"sxy") - d2($"sx") * d2($"sy")
      sums.select($"p_brand", $"n".as("n_parts"),
          when($"n" === 1L || varX === 0.0 || varY === 0.0,
            lit(null).cast("double"))
            .otherwise(round(cov / sqrt(varX * varY), 6))
            .as("size_price_corr"))
        .orderBy($"p_brand")
    }),

    // Customer-wealth profile per nation: exact median account balance
    // (histogram-cut over integer cents — c_acctbal can be NEGATIVE,
    // which is exactly where a float percentile's tie handling gets
    // engine-specific) + min/max/count, nation names via one broadcast
    // hop. All windows ride the ≤ distinct-balances×nations frame.
    "q193_nation_balance_median" -> ((s, d) => {
      import s.implicits._
      val hist = customer(s, d)
        .join(broadcast(nation(s, d).select($"n_nationkey", $"n_name")),
          $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name",
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("cents"))
        .agg(count(lit(1)).as("m"))
      val wn = Window.partitionBy($"n_name")
      val wcum = wn.orderBy($"cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum($"m").over(wcum))
        .withColumn("n", sum($"m").over(wn))
        .groupBy($"n_name")
        .agg(max($"n").cast("long").as("n_customers"),
          min($"cents").as("min_cents"),
          min(when($"cum" * 2 >= $"n", $"cents")).cast("long")
            .as("median_cents"),
          max($"cents").as("max_cents"))
        .orderBy($"n_name")
    }),

    // Supply-side geography: lineitem revenue by SUPPLIER nation —
    // the mirror of q191's demand-side rollup, off the supplier dim
    // chain. The fact collapses per suppkey first; both dim hops
    // broadcast; the share window rides the ≤ |nations| frame.
    "q194_supplier_nation_revenue" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .groupBy($"l_suppkey")
        .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
          .as("sc"))
        .join(broadcast(supplier(s, d)
          .select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"), sum($"sc").as("nation_cents"))
      graft.operators.GlobalAgg.withScalars(rev,
          (sum($"nation_cents"), "__t"))
        .select($"n_name", $"n_suppliers", $"nation_cents",
          round($"nation_cents".cast("double") / $"__t".cast("double"), 6)
            .as("global_share"))
        .orderBy($"n_name")
    })
  )

  val oracles: Map[String, String] = Map(
    "q03_dim_join" ->
      """SELECT r_name,
         CAST(count(*) AS BIGINT) AS n_customers,
         round(CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
           / 100, 2) AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    // Same exact-integer (cents / hundredths) fixed-point forms as the
    // Spark side — see the q04 engine comment (layout-gate catch)
    "q04_group_agg" ->
      """WITH l AS (
           SELECT l_returnflag, l_linestatus, l_quantity,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_h
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
         SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS sum_base_price,
         round(CAST(sum(cents * (100 - disc_h)) AS DOUBLE) / 10000, 2)
           AS sum_disc_price,
         round(CAST(sum(disc_h) AS DOUBLE) / (count(*) * 100), 6)
           AS avg_disc,
         CAST(count(*) AS BIGINT) AS count_order
         FROM l
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q09_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q10_semi_join" ->
      """SELECT p_partkey, p_brand FROM part
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         ORDER BY p_partkey""",

    "q11_division" ->
      """SELECT o_custkey FROM orders
         GROUP BY o_custkey
         HAVING count(DISTINCT o_orderpriority) =
                (SELECT count(DISTINCT o_orderpriority) FROM orders)
         ORDER BY o_custkey""",

    "q12_union_distinct" ->
      """SELECT nationkey, n_name FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION
           SELECT s_nationkey AS nationkey FROM supplier
         ) u JOIN nation ON nationkey = n_nationkey
         ORDER BY nationkey""",

    "q13_variance" ->
      """SELECT l_returnflag,
         round(var_samp(l_quantity), 6) AS var_qty,
         round(stddev_samp(l_extendedprice), 4) AS std_price,
         CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q14_corr" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q15_rollup" ->
      """SELECT r_name, n_name,
         round(CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
           / 100, 2) AS total_bal,
         CAST(count(*) AS BIGINT) AS n
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q16_quantile" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.99), 4) AS p99_total,
         round(quantile_cont(o_totalprice, 0.5), 4) AS median_total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q17_join_chain" ->
      """SELECT n_name,
         round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
             (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
           / 10000, 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'AFRICA'
         GROUP BY n_name ORDER BY n_name""",

    "q67_column_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name,
           CAST(count($c) AS BIGINT) AS n,
           CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           CAST(min($c) AS DOUBLE) AS vmin,
           CAST(max($c) AS DOUBLE) AS vmax,
           round(avg($c), 4) AS vmean
           FROM lineitem"""
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(branch).mkString("", " UNION ALL ", " ORDER BY col_name")
    },

    // Rebuilds both snapshots from the same md5 coins, then diffs via
    // an explicit FULL OUTER JOIN with presence flags — change
    // classification and the changed-column list recomputed with
    // IS DISTINCT FROM (the null-safe inequality Spark's <=> negates).
    "q100_snapshot_diff" ->
      """WITH c AS (SELECT o_orderkey, o_totalprice, o_orderpriority,
           CAST(concat('0x', substr(md5('ins' ||
             CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT) ci,
           CAST(concat('0x', substr(md5('del' ||
             CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT) cd,
           CAST(concat('0x', substr(md5('updp' ||
             CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT) cp,
           CAST(concat('0x', substr(md5('updr' ||
             CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT) cq
           FROM orders),
         old AS (SELECT o_orderkey, o_totalprice, o_orderpriority
           FROM c WHERE ci >= 6554),
         nw AS (SELECT o_orderkey,
             CASE WHEN cp < 6554 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END o_totalprice,
             CASE WHEN cq < 6554 THEN '9-RECLASSIFIED'
                  ELSE o_orderpriority END o_orderpriority
           FROM c WHERE cd >= 6554),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) o_orderkey,
             o.o_orderkey IS NOT NULL op, n.o_orderkey IS NOT NULL np,
             o.o_totalprice old_p, n.o_totalprice new_p,
             o.o_orderpriority old_r, n.o_orderpriority new_r
           FROM old o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey),
         t AS (SELECT o_orderkey,
             CASE WHEN NOT op THEN 'insert'
                  WHEN NOT np THEN 'delete'
                  WHEN old_p IS DISTINCT FROM new_p
                    OR old_r IS DISTINCT FROM new_r THEN 'update'
                  ELSE 'unchanged' END change_type,
             CASE WHEN op AND np THEN array_to_string(list_filter([
                 CASE WHEN old_p IS DISTINCT FROM new_p
                   THEN 'o_totalprice' END,
                 CASE WHEN old_r IS DISTINCT FROM new_r
                   THEN 'o_orderpriority' END], x -> x IS NOT NULL), ',')
               ELSE '' END changed_cols,
             old_p, new_p, old_r, new_r
           FROM j)
         SELECT o_orderkey, change_type, changed_cols,
           old_p AS old_o_totalprice, new_p AS new_o_totalprice,
           old_r AS old_o_orderpriority, new_r AS new_o_orderpriority
         FROM t WHERE change_type <> 'unchanged' ORDER BY o_orderkey""",

    // The oracle is the BRUTE-FORCE all-pairs levenshtein join over the
    // identically-derived augmented corpus — agreeing with Spark's
    // deletion-neighborhood route proves the blocking lost no pair.
    "q106_edit_neardup" ->
      """WITH base AS (SELECT CAST(p_partkey AS BIGINT) id, p_name s
           FROM part),
         mut AS (SELECT CAST(p_partkey + 1000000 AS BIGINT) id,
             substr(p_name, 1,
               CAST((p_partkey // 10) % len(p_name) AS INTEGER)) ||
             substr(p_name,
               CAST((p_partkey // 10) % len(p_name) AS INTEGER) + 2) s
           FROM part WHERE p_partkey % 10 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
         rep AS (SELECT s, min(id) id FROM u GROUP BY s)
         SELECT a.id a_id, b.id b_id, a.s a_str, b.s b_str,
           CAST(levenshtein(a.s, b.s) AS BIGINT) ed
         FROM rep a JOIN rep b
           ON a.id < b.id AND abs(len(a.s) - len(b.s)) <= 1
         WHERE levenshtein(a.s, b.s) <= 1
         ORDER BY a_id, b_id""",

    // Same md5 corruption coin, same three LEFT JOIN counts.
    "q115_fk_audit" ->
      """WITH li AS (SELECT CASE WHEN CAST(concat('0x', substr(md5('fk' ||
             CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 4))
             AS BIGINT) < 6554
           THEN l_orderkey + 100000000 ELSE l_orderkey END fk
           FROM lineitem),
         e1 AS (SELECT 'lineitem_orders' edge,
             CAST(count(*) AS BIGINT) n_child,
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) n_orphans
           FROM li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON li.fk = o.o_orderkey),
         e2 AS (SELECT 'orders_customer' edge,
             CAST(count(*) AS BIGINT) n_child,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) n_orphans
           FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON orders.o_custkey = c.c_custkey),
         e3 AS (SELECT 'customer_nation' edge,
             CAST(count(*) AS BIGINT) n_child,
             CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) n_orphans
           FROM customer LEFT JOIN
             (SELECT DISTINCT n_nationkey FROM nation) n
             ON customer.c_nationkey = n.n_nationkey),
         u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
           UNION ALL SELECT * FROM e3)
         SELECT edge, n_child, n_orphans,
           round(n_orphans / n_child, 6) AS orphan_rate
         FROM u ORDER BY edge""",

    // same integer dev_bp; the signed bucket goes through the same
    // explicit floor-of-double (DuckDB // floors, Spark DIV truncates
    // — neither is used on the signed value)
    "q180_price_deviation" ->
      """WITH d AS (SELECT
             (CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 10000)
               // (CAST(round(l_quantity, 0) AS BIGINT)
                 * CAST(round(p_retailprice * 100, 0) AS BIGINT))
               - 10000 AS dev_bp
           FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT CAST(floor(dev_bp / 100.0) AS BIGINT) * 100
             AS bucket_lo_bp,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(dev_bp) AS BIGINT) AS min_dev_bp,
           CAST(max(dev_bp) AS BIGINT) AS max_dev_bp
         FROM d GROUP BY 1 ORDER BY bucket_lo_bp""",

    "q182_segment_trend" ->
      """WITH m AS (SELECT c_mktsegment,
             CAST((year(o_orderdate) - 1995) * 12
               + month(o_orderdate) - 1 AS BIGINT) mi,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) yc
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         s AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) n,
             CAST(sum(mi) AS BIGINT) sx, CAST(sum(yc) AS BIGINT) sy,
             CAST(sum(mi * yc) AS BIGINT) sxy,
             CAST(sum(mi * mi) AS BIGINT) sxx
           FROM m GROUP BY 1)
         SELECT c_mktsegment, n AS n_months,
           CASE WHEN n = 1
                  OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
                THEN NULL
                ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           END AS slope_cents_per_month
         FROM s ORDER BY c_mktsegment""",

    "q183_order_reconciliation" ->
      """WITH l AS (SELECT l_orderkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) lc
           FROM lineitem GROUP BY 1),
         d AS (SELECT (lc * 10000)
               // CAST(round(o_totalprice * 100, 0) AS BIGINT)
               - 10000 AS dev_bp
           FROM orders JOIN l ON o_orderkey = l_orderkey)
         SELECT CAST(floor(dev_bp / 100.0) AS BIGINT) * 100
             AS bucket_lo_bp,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(dev_bp) AS BIGINT) AS min_dev_bp,
           CAST(max(dev_bp) AS BIGINT) AS max_dev_bp
         FROM d GROUP BY 1 ORDER BY bucket_lo_bp""",

    "q184_supplier_concentration" ->
      """WITH cell AS (SELECT p_brand, l_suppkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) sc
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         w AS (SELECT p_brand, l_suppkey, CAST(sc AS BIGINT) sc,
             row_number() OVER (PARTITION BY p_brand
               ORDER BY sc DESC, l_suppkey) rn,
             CAST(sum(sc) OVER (PARTITION BY p_brand) AS BIGINT) bc,
             CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT)
               n_suppliers
           FROM cell)
         SELECT p_brand, n_suppliers, l_suppkey AS top_suppkey,
           sc AS top_cents, bc AS brand_cents,
           round(CAST(sc AS DOUBLE) / CAST(bc AS DOUBLE), 6)
             AS top_share
         FROM w WHERE rn = 1 ORDER BY p_brand""",

    "q185_ship_lag_percentiles" ->
      """WITH h AS (SELECT o_orderpriority,
             CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
               AS BIGINT) lag_days,
             CAST(count(*) AS BIGINT) m
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2),
         c AS (SELECT o_orderpriority, lag_days, m,
             sum(m) OVER (PARTITION BY o_orderpriority ORDER BY lag_days
               ROWS UNBOUNDED PRECEDING) cum,
             sum(m) OVER (PARTITION BY o_orderpriority) n
           FROM h)
         SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN cum * 100 >= 50 * n THEN lag_days END)
             AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN cum * 100 >= 90 * n THEN lag_days END)
             AS BIGINT) AS p90_days,
           CAST(max(lag_days) AS BIGINT) AS max_days
         FROM c GROUP BY 1 ORDER BY o_orderpriority""",

    // independent route: explicit row_number instead of the engine's
    // min-(date,orderkey)-struct comparison
    "q186_repeat_share" ->
      """WITH f AS (SELECT
             CAST((year(o_orderdate) - 1995) * 12
               + month(o_orderdate) - 1 AS BIGINT) mi,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) rn
           FROM orders)
         SELECT mi AS month_index, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS repeat_share
         FROM f GROUP BY 1 ORDER BY month_index""",

    // independent route: full ORDER BY + LIMIT instead of the
    // engine's bounded partial top-k buffer
    "q188_name_token_revenue" ->
      """WITH rev AS (SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) pc
           FROM lineitem GROUP BY 1),
         tok AS (SELECT unnest(string_split(p_name, ' ')) token, pc
           FROM part JOIN rev ON p_partkey = l_partkey),
         t AS (SELECT token, CAST(sum(pc) AS BIGINT) tc
           FROM tok GROUP BY 1)
         SELECT CAST(row_number() OVER (ORDER BY tc DESC, token)
             AS BIGINT) AS rank,
           token, tc AS revenue_cents
         FROM t ORDER BY tc DESC, token LIMIT 20""",

    "q189_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
             CAST((year(o_orderdate) - 1995) * 12
               + month(o_orderdate) - 1 AS BIGINT) mi,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) oc
           FROM orders),
         c AS (SELECT o_custkey, mi, oc,
             min(mi) OVER (PARTITION BY o_custkey) cohort
           FROM o)
         SELECT cohort AS cohort_month, mi - cohort AS age_months,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(oc) AS BIGINT) AS total_cents,
           round(CAST(sum(oc) AS DOUBLE)
             / CAST(count(DISTINCT o_custkey) AS DOUBLE), 6)
             AS cents_per_customer
         FROM c GROUP BY 1, 2 ORDER BY cohort_month, age_months""",

    // independent route: window rank instead of the partial top-k
    "q190_segment_top_customers" ->
      """WITH rev AS (SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) rc
           FROM orders GROUP BY 1),
         j AS (SELECT c_mktsegment, o_custkey, CAST(rc AS BIGINT) rc,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY rc DESC, o_custkey) rn
           FROM rev JOIN customer ON o_custkey = c_custkey)
         SELECT c_mktsegment, CAST(rn AS BIGINT) AS rank,
           o_custkey AS c_custkey, rc AS revenue_cents
         FROM j WHERE rn <= 5 ORDER BY c_mktsegment, rank""",

    "q191_nation_revenue" ->
      """WITH rev AS (SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) rc
           FROM orders GROUP BY 1),
         nn AS (SELECT r_name, n_name,
             CAST(count(*) AS BIGINT) n_customers,
             CAST(sum(rc) AS BIGINT) nation_cents
           FROM rev JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, n_name, n_customers, nation_cents,
           round(CAST(nation_cents AS DOUBLE) / CAST(sum(nation_cents)
             OVER (PARTITION BY r_name) AS DOUBLE), 6) AS region_share
         FROM nn ORDER BY r_name, n_name""",

    "q192_size_price_corr" ->
      """WITH s AS (SELECT p_brand, CAST(count(*) AS BIGINT) n,
             CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
             CAST(sum(x * y) AS BIGINT) sxy,
             CAST(sum(x * x) AS BIGINT) sxx,
             CAST(sum(y * y) AS BIGINT) syy
           FROM (SELECT p_brand, CAST(p_size AS BIGINT) x,
               CAST(round(p_retailprice * 100, 0) AS BIGINT) y FROM part)
           GROUP BY 1)
         SELECT p_brand, n AS n_parts,
           CASE WHEN n = 1
               OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
               OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
             THEN NULL
             ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             END AS size_price_corr
         FROM s ORDER BY p_brand""",

    "q193_nation_balance_median" ->
      """WITH h AS (SELECT n_name,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) cents,
             CAST(count(*) AS BIGINT) m
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         c AS (SELECT n_name, cents, m,
             sum(m) OVER (PARTITION BY n_name ORDER BY cents
               ROWS UNBOUNDED PRECEDING) cum,
             sum(m) OVER (PARTITION BY n_name) n
           FROM h)
         SELECT n_name, CAST(max(n) AS BIGINT) AS n_customers,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(min(CASE WHEN cum * 2 >= n THEN cents END) AS BIGINT)
             AS median_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
         FROM c GROUP BY 1 ORDER BY n_name""",

    "q194_supplier_nation_revenue" ->
      """WITH rev AS (SELECT l_suppkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) sc
           FROM lineitem GROUP BY 1),
         nn AS (SELECT n_name, CAST(count(*) AS BIGINT) n_suppliers,
             CAST(sum(sc) AS BIGINT) nation_cents
           FROM rev JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           GROUP BY 1)
         SELECT n_name, n_suppliers, nation_cents,
           round(CAST(nation_cents AS DOUBLE)
             / CAST(sum(nation_cents) OVER () AS DOUBLE), 6)
             AS global_share
         FROM nn ORDER BY n_name"""
  )
}
