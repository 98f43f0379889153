package graft

/** Physical-plan invariants for flagship queries — the scale properties
  * the bench can only show as slow numbers three rounds later are pinned
  * here as hard assertions: shuffle (Exchange hashpartitioning) counts,
  * broadcast-vs-sort-merge join choices, parquet filter pushdown, and
  * zero-shuffle map-only shapes. Plans are built at sf0.001 (plan shape
  * is data-size independent for these; AQE rewrites would only REMOVE
  * exchanges at runtime, and the asserted counts are the static upper
  * bounds).
  */
class PlanInvariantsSpec extends SparkSpec {
  import PlanInvariantsSpec.deepWindows

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    Caching.release()
    spark.catalog.clearCache()
    s
  }

  /** The AQE FINAL plan (everything before the "Initial Plan" section),
    * after running the query — runtime rewrites like ReusedExchange only
    * show up here. */
  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect()
    // strip cached bodies BEFORE splitting: a nested InMemoryRelation
    // prints its own "== Initial Plan ==" section, and splitting on the
    // first occurrence would chop off the OUTER plan's remainder
    val s = stripCachedBodies(df.queryExecution.executedPlan.toString)
      .split("== Initial Plan ==")(0)
    Caching.release()
    spark.catalog.clearCache()
    s
  }

  private def countOf(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  /** Drop cached-plan bodies (the innerChildren a printed
    * InMemoryRelation carries) so node counts see each EXECUTED operator
    * once: the text printer re-prints a cached subtree at every
    * InMemoryTableScan that references it, so a plan with two reads of
    * one cache would otherwise double-count everything below the cache
    * build. The InMemoryRelation line itself is kept; only its
    * deeper-indented body lines are dropped. */
  private def stripCachedBodies(p: String): String = {
    var skipIndent = -1
    def indentOf(l: String): Int = {
      val i = l.indexWhere(c => !" :+-".contains(c))
      if (i < 0) l.length else i
    }
    p.split("\n").filter { l =>
      val ind = indentOf(l)
      // >= not >: the first body line (e.g. a nested "== Final Plan =="
      // header) prints at exactly the relation's own content column; a
      // genuine outer sibling always resumes strictly shallower
      if (skipIndent >= 0 && ind >= skipIndent) false
      else {
        skipIndent = if (l.contains("InMemoryRelation")) ind else -1
        true
      }
    }.mkString("\n")
  }

  test("q02 time slice: filter is pushed to the parquet scan") {
    val p = plan("q02_time_slice")
    // the raw-nanos slice must reach the scan as PushedFilters, not run
    // as a post-scan Filter over the full column
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("PushedFilters: \\[[^\\]]*\\]", "")
      .contains("PushedFilters"), p)
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(",")
    assert(pushed.contains("GreaterThanOrEqual") ||
      pushed.contains("LessThanOrEqual"), s"no range pushdown in [$pushed]")
  }

  test("q03 dim join: broadcast joins only, no sort-merge") {
    val p = plan("q03_dim_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q19 sessionize: ONE key shuffle carries all window passes + agg") {
    // the r15/r16 weak-mark A/Bs concluded q19's plan is already minimal
    // for the semantics — freeze that: one hashpartitioning(user_id)
    // exchange feeds the lag, running-sum and session-length windows AND
    // the map-side-combined final aggregate; the only other exchange is
    // the terminal orderBy's rangepartitioning; the scan reads just the
    // three live columns
    val p = plan("q19_sessionize")
    assert(countOf(p, "+- Exchange hashpartitioning") == 1, p)
    assert(countOf(p, "+- Window ") == 3, p)
    assert(countOf(p, "Exchange rangepartitioning") == 1, p)
    assert(p.contains("partial_count(distinct"), p) // map-side combine
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 3, s"column pruning lost: $readSchema")
  }

  test("q25 simhash: zero-shuffle projection (sort exchange only)") {
    val p = plan("q25_simhash")
    // native graft_simhash: no aggregate, no hash exchange — the only
    // exchange is the terminal orderBy's range partitioning
    assert(countOf(p, "Exchange hashpartitioning") == 0, p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q75 bm25: one doc-keyed shuffle at runtime, stats reuse it") {
    // statically the stats branch replans the per-doc aggregate, but the
    // two subtrees are canonically identical, so AQE's exchange reuse
    // runs ONE tokenize + shuffle and the one-row stats aggregate reads
    // the same shuffle files — assert on the final plan, not the static
    val p = finalPlan("q75_bm25")
    // a ReusedExchange node REPEATS the target's description — count
    // only operator-position occurrences ("+- Exchange ...")
    assert(countOf(p, "+- Exchange hashpartitioning") == 1, p)
    assert(p.contains("ReusedExchange"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q27 cosine topk: map-side partial topk, no window sort") {
    val p = plan("q27_cosine_topk")
    // graft_topk partial aggregate bounds per-task traffic at k rows;
    // a row_number window formulation would show Window + full sort
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("q90 centroid classify: broadcast centroids, one corpus exchange") {
    val p = plan("q90_centroid_classify")
    // classifier scoring must stay embarrassingly parallel: the k×dim
    // centroid table broadcasts (nested-loop cross with a 10-row build
    // side, NOT a shuffled cartesian), the argmax is graft_topk's
    // map-side-combined k→1 (no Window sort), and the only corpus-sized
    // hash exchange carries one row per vector. 3 hash exchanges total:
    // two tiny centroid aggs + the argmax.
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
  }

  test("q92 chunk overlap: zero shuffle before the terminal sort") {
    val p = plan("q92_chunk_overlap")
    // tokenize → explode starts → slice is pure map work; the only
    // exchange allowed is the terminal orderBy's rangepartitioning
    assert(countOf(p, "Exchange hashpartitioning") == 0, p)
    assert(p.contains("Generate"), p) // the chunk-start explode is real
  }

  test("q97 span removal: gram-keyed aggs only, never doc×doc, no corpus window") {
    val p = plan("q97_span_removal")
    // 3 real hash exchanges — the per-doc gram distinct, the gram
    // document-frequency agg, and the covered-position collect_set.
    // The occurrence build itself is now a map-only Generate over the
    // native graft_shingle_rows extractor (r21: the old posexplode +
    // per-doc lead()-window shape paid an exchange + sort of
    // corpus-token volume, which printed twice under the two cached
    // scans → 5 textual occurrences); the rewrite is a map-side
    // higher-order array filter — nothing pairs documents and NO
    // Window remains anywhere in the plan
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
    assert(!p.contains("Window"), p)
    assert(p.contains("graft_shingle_rows"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("collect_set"), p)
    // offset explode + shingle-array posexplode are real generators
    assert(countOf(p, "Generate explode(sequence") == 1, p)
  }

  test("q93 zorder key: map-only — zero shuffle before the terminal sort") {
    val p = plan("q93_zorder_key")
    // the write-path shape: key evaluation is pure projection work
    assert(countOf(p, "Exchange hashpartitioning") == 0, p)
    assert(p.contains("graft_zorder"), p)
  }

  test("q94 theta overlap: sketch rows join, corpora never do") {
    val p = plan("q94_theta_overlap")
    // per-source sketches = hash agg branches (≤2 exchanges, one per
    // side of the self-join); the S×S pairing joins 20 SKETCH rows via
    // a broadcast nested loop (non-equi a<b), never a shuffled join of
    // token rows
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("theta_sketch_agg"), p)
  }

  test("q23 exact dedup: single hash exchange (map-side combined)") {
    val p = plan("q23_exact_dedup")
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q35 compute aggregate: dims broadcast onto one fact scan") {
    val p = plan("q35_compute_aggregate")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryTableScan"), p) // parsed-events cache reuse
  }

  test("q79 char entropy: no shuffle at all before the terminal sort") {
    val p = plan("q79_char_entropy")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p)
  }

  test("q24 minhash: banded candidates, never a cartesian product") {
    val p = plan("q24_minhash_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the persisted signature frame feeds the band join (both sides)
    // and both verify sides — all four reads hit the cache
    assert(countOf(p, "InMemoryTableScan") >= 4, p)
  }

  test("q28 lsh ann: bucket-equality hash join, never a cartesian") {
    val p = plan("q28_lsh_ann")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q45 embed neardup: bucket-keyed self-join, never a cartesian") {
    val p = plan("q45_embed_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // both sides of the self-join read the one persisted bucketed frame
    assert(countOf(p, "InMemoryTableScan") >= 2, p)
  }

  test("q82 multiprobe lsh: bucket-equality hash join, never a cartesian") {
    val p = plan("q82_lsh_multiprobe")
    // the probe-bucket explode must stay a JOIN KEY fan-out (queries ×
    // (planes+1) broadcast rows), never degrade the bucket join into a
    // nested-loop over the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q83 margin probe lsh: bucket-equality hash join, never a cartesian") {
    val p = plan("q83_lsh_margin_probe")
    // the margin-ordered probe list is query-side string surgery: the
    // corpus side must stay single-bucket behind a hash join — the
    // margin ranking must never leak a sort/window over the corpus or
    // degrade the bucket join into a nested loop
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q88 composed lsh: bucket-local hash join, no cartesian, no window") {
    val p = plan("q88_lsh_composed")
    // the L-table × T-probe composition multiplies only the QUERY-side
    // key list (L×(T+1) broadcast rows per query); the corpus must stay
    // one exploded entry per table behind a hash join, with the margin
    // ranking done by expression (array_sort), never a corpus-side
    // sort/window or a degraded nested loop
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q84 multitable lsh: bucket hash join, cross-table dedup before graft_topk") {
    val p = plan("q84_lsh_multitable")
    // the exploded table keys must stay an equi-join key behind a hash
    // join carrying the self-match exclusion — never a nested loop
    assert("BroadcastHashJoin \\[(?!vec_id)[^\\]]*\\], \\[[^\\]]*\\], Inner, BuildRight, NOT \\(vec_id"
      .r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    // a pair colliding in both tables is dropped BEFORE ranking: the
    // (query, neighbor, cos) grouping prints below the partial top-k
    val dedup = "HashAggregate\\(keys=\\[query_id#\\d+L, neighbor_id#\\d+L, [^\\]]*cos#\\d+\\], functions=\\[\\]"
      .r.findFirstMatchIn(p).map(_.start).getOrElse(-1)
    val topk = p.indexOf("partial_graft_topk")
    assert(topk >= 0 && dedup > topk, s"dedup aggregate must feed graft_topk:\n$p")
  }

  test("q87 sq8 adc: broadcast query side, partial graft_topk, no window") {
    val p = plan("q87_sq8_adc_topk")
    // brute-force ADC over the decoded corpus: the 5-row float query
    // set is the broadcast build side, the corpus streams once into
    // the map-side bounded top-k
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p)
    val bcast = p.indexOf("BroadcastExchange")
    assert(bcast >= 0 && p.substring(bcast).contains("< 5)"),
      s"the broadcast side must be the query set:\n$p")
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("flagship hot paths stay inside whole-stage codegen") {
    // the 100 TB throughput guard the bench can only show as a slow
    // number later: every HashAggregate and Project on these scan→agg
    // paths must carry a *(N) codegen-stage marker in the AQE FINAL
    // plan. A Scala UDF or a native Expression without doGenCode slipped
    // into the path drops the operator out of codegen (interpreted row
    // loop) — this test names the operator the moment it happens.
    // q25 additionally proves the custom graft_simhash expression
    // codegens INSIDE the stage rather than forcing a fallback.
    for (q <- Seq("q01_resample_avg", "q04_group_agg",
        "q30_quality_langid", "q25_simhash")) {
      val p = finalPlan(q)
      val hot = p.split("\n").filter(l =>
        l.contains("HashAggregate") || l.contains("Project ["))
      assert(hot.nonEmpty, s"$q: no hot operators found in final plan\n$p")
      hot.foreach(l => assert(l.contains("*("),
        s"$q: operator outside WholeStageCodegen:\n  $l\n$p"))
    }
  }

  test("q26 jaccard: prefix-filtered self-join, never a cartesian product") {
    val p = plan("q26_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q72 mixture interleave: bounded-buffer ranking, no window sort") {
    val p = plan("q72_mixture_interleave")
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("q69 heavy hitters: sketch-only plan, no exact distinct expansion") {
    val p = plan("q69_heavy_hitters")
    assert(p.contains("graft_heavy_hitters"), p)
    assert(p.contains("approx_count_distinct"), p)
    // an exact countDistinct guard would add an Expand node and a second
    // full shuffle of distinct users — the round-5 defect this pins
    assert(!p.contains("Expand"), p)
  }

  test("q67 column profile: all statistics from ONE scan of the fact table") {
    val p = plan("q67_column_profile")
    assert(countOf(p, "FileScan parquet") == 1, p)
  }

  test("q74 tfidf: string-keyed bounded ranking, no window sort") {
    val p = plan("q74_tfidf_topk")
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("q73 bloom anti-join: sketch prefilter reaches the probe side") {
    val p = plan("q73_bloom_antijoin")
    assert(p.contains("graft_bloom"), p)
  }

  test("q80 corr input: one fact scan, two aggregates, no window") {
    // the Spark half of the corr-clustering split: minute binning is
    // one hash exchange, the k(k-1)/2-corr matrix is ONE global
    // aggregate pass — no per-pair rescans, no window, and only the
    // single 1-row corr result ever reaches the driver-side linkage
    import org.apache.spark.sql.functions.{col, when}
    val devices = Seq("click", "error", "purchase", "signup", "view")
    val corr = graft.ext.CorrCluster.corrUpper(
      graft.ext.CorrCluster.minuteBinned(Tables.events(spark, sf), col("ts"),
        devices, t => when(col("event_type") === t, col("value"))), devices)
    val p = corr.queryExecution.executedPlan.toString
    assert(countOf(p, "FileScan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("q50 fitted centroids ride as a broadcast local relation") {
    // the centroid side must be a literal-backed LocalTableScan fed to
    // a broadcast — never a second scan/shuffle of embeddings — and
    // cell/probe ranking stays on the bounded graft_topk aggregate
    val p = plan("q50_ivf_ann")
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    // round 10: the candidate frame is duplicate-free by construction
    // (single-cell assignment), so no distinct-style re-aggregation of
    // the scored pairs may appear — a regression re-adding it shows up
    // as an extra hash exchange over this static bound
    assert(countOf(p, "Exchange hashpartitioning") <= 3,
      s"${countOf(p, "Exchange hashpartitioning")} hash exchanges:\n$p")
  }

  test("DocumentPipeline.prepare: ONE wide dependency end to end") {
    // redact → score/filter → dedup → sample → shard composes into a
    // single plan whose only exchange is the dedup window's hash
    // partitioning — every other stage is per-row map work fused
    // around it (the single-wide-dependency claim of the q63 facade,
    // asserted on the facade itself with no terminal orderBy attached)
    val df = graft.ext.DocumentPipeline.prepare(
      Tables.documents(spark, sf), "doc_id", "text",
      minQuality = 0.1, sampleFraction = 0.5, nShards = 8, salt = "pin")
    val p = df.queryExecution.executedPlan.toString
    assert(countOf(p, "Exchange") == 1, p)
    assert(p.contains("hashpartitioning"), p)
    assert(countOf(p, "SortMergeJoin") == 0 && countOf(p, "Cartesian") == 0, p)
  }

  test("q71 dup spans: interval-union coverage, no per-token explode") {
    val p = plan("q71_dup_spans")
    // coverage must come from the lead-window gap sum — the explode of
    // sequence(pos, pos+k-1) + distinct shape is k rows per dup gram
    assert(!p.contains("explode(sequence"), p)
    assert(p.contains("lead(pos"), p)
  }

  test("q43 suffix parse: native JSON shred, no Jackson get_json_object") {
    val p = plan("q43_suffix_parse")
    assert(p.contains("graft_json_long"), p)
    assert(!p.contains("get_json_object"), p)
  }

  test("q99 dsir: B-row model broadcast onto the gram stream, no window") {
    val p = plan("q99_dsir_weights")
    // the bucket log-ratio table must ride as a broadcast — a sort-merge
    // join here would shuffle the full gram stream on bucket id
    assert(p.contains("BroadcastHashJoin"), p)
    assert(countOf(p, "SortMergeJoin") == 0, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // doc-keyed scoring agg is map-side combined (partial_count visible)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q101 gap fill: running frames both directions, pushdown intact") {
    val p = plan("q101_gap_fill")
    // the type/user filters must reach the scan; the interpolation
    // fills are asc+desc RUNNING frames (two Window nodes, one
    // exchange) — an unboundedFollowing frame is the O(n²)-per-key
    // shape `ScaleBench pack` round 20 caught on this query (GapFillSpec
    // pins the same on the operator); nothing goes cartesian
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.toLowerCase.contains("unboundedfollowing"), p)
    val windowNodes = p.linesIterator.count(_.contains("Window ["))
    assert(windowNodes == 2, s"expected asc+desc WindowExec pair:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q102 funnel: every exchange hashes on the user key, no cartesian") {
    val p = plan("q102_funnel")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    // all wide ops re-key on user_id only — a different grouping would
    // break the co-partitioned agg/join chain
    val keys = "hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("user_id"), s"unexpected shuffle keys $keys:\n$p")
  }

  test("q100 snapshot diff: ONE key-shuffled join pair, no cartesian") {
    val p = plan("q100_snapshot_diff")
    // full-outer on the unique key: exactly one SMJ (FullOuter), its two
    // side exchanges, and the classification entirely above it
    assert(countOf(p, "SortMergeJoin") == 1, p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    val exchanges = countOf(p, "Exchange hashpartitioning")
    assert(exchanges <= 2, s"expected ≤2 side exchanges, got $exchanges:\n$p")
  }

  test("q104 nb quality: scalar model stats broadcast, no window, no cartesian") {
    // train + apply in one plan: the tf→model join is key-equality, the
    // corpus scalars (totals, prior) ride as broadcast one-row frames —
    // a CartesianProduct or Window here would mean the classifier
    // stopped being a join-and-aggregate pipeline
    val p = plan("q104_nb_quality")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("q106 edit neardup: variant-keyed equality join, never a cartesian") {
    // FastSS blocking: candidates come from hash-joining deletion
    // variants; the all-pairs form would surface as a cartesian (or a
    // non-equi nested loop) over the string table
    val p = plan("q106_edit_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), p) // the deletion-variant explode
  }

  test("q107 cohort retention: user-keyed agg + broadcast denominator") {
    // one user-keyed shuffle builds cohort+activity in a single agg;
    // the cohort-size denominator joins back broadcast — a SortMergeJoin
    // or corpus Window here breaks the shape
    val p = plan("q107_cohort_retention")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val keys = "hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("user_id", "cohort_week"),
      s"unexpected shuffle keys $keys:\n$p")
  }

  test("q109 ewma: one user-keyed window, fold is map-side array work") {
    // the weighted sum is the sorted sweep's per-key work (the test name
    // predates it) — the only hash exchange is the sweep's, on user_id
    val p = plan("q109_ewma")
    assert(!p.contains("CartesianProduct"), p)
    val keys = "hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("user_id"), s"unexpected shuffle keys $keys:\n$p")
  }

  test("q38 windows: one user-keyed sorted sweep, no row copies, no window-keyed agg") {
    // Windowing.windows emits each window from a ring of the key's rows:
    // no exploded copies (Generate), no row-number Window, no collect_list
    // (node names with their trailing space: the sweep's closure class is
    // graft.operators.Windowing$…)
    val p = plan("q38_windows")
    for (absent <- Seq("Generate ", "Window ", "collect_list")) assert(!p.contains(absent), p)
    assert(countOf(p, "MapGroups") == 1, p)
    val keys = "hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(keys == List("user_id"), s"unexpected shuffle keys $keys:\n$p")
  }

  test("q49 tensor windows: the pivot's house exchange, then one sweep exchange") {
    // the persisted pivot is read through an InMemoryTableScan that
    // carries no partitioning, so above it the house filter's agg (of
    // partial counts) and the window sweep (of the whole frame) each
    // plan a (dataset, house_id) exchange
    val full = plan("q49_tensor_windows")
    val p = stripCachedBodies(full)
    for (absent <- Seq("Generate ", "Window ", "collect_list")) assert(!full.contains(absent), full)
    assert(countOf(p, "MapGroups") == 1, p)
    val outer = "hashpartitioning\\(([a-z_]+)#\\d+, ([a-z_]+)#".r.findAllMatchIn(p)
      .map(m => (m.group(1), m.group(2))).toList
    assert(outer == List.fill(2)(("dataset", "house_id")), s"unexpected shuffle keys $outer:\n$p")
    assert(countOf(p, "hashpartitioning(") == 2, p)
    // inside the cache: the pivot's one exchange of the labeled readings
    assert("hashpartitioning\\(house_id#\\d+L?, \\d+\\), REPARTITION_BY_COL".r
      .findFirstIn(full).isDefined, full)
  }

  test("q110 source top terms: bounded-buffer ranking, no window sort") {
    // same contract as q74: graft_topk's map-side partial keeps ≤k
    // rows per source per task; a row_number formulation would show
    // Window + a full per-source sort
    val p = plan("q110_source_top_terms")
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("q111 pmi bigrams: keyed model joins, scalar totals broadcast") {
    // bigrams come from a map-side zip (Generate over the array), the
    // unigram joins are term-keyed equality, and the two corpus totals
    // are broadcast one-row frames — no cartesian, no window anywhere
    val p = plan("q111_pmi_bigrams")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("q112 phrase search: postings equality joins, no cartesian, no window") {
    // each phrase word's postings are a filtered projection joined on
    // (doc_id, pos − offset) EQUALITY — a LIKE-scan or positional
    // cross-join would surface as a cartesian / nested loop
    val p = plan("q112_phrase_search")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the positional posting explode
  }

  test("q113 time-weighted avg: single user-keyed shuffle end to end") {
    val p = plan("q113_time_weighted_avg")
    assert(!p.contains("CartesianProduct"), p)
    val keys = "hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("user_id"), s"unexpected shuffle keys $keys:\n$p")
  }

  test("q114 histogram: per-type bounds broadcast, bin assignment map-only") {
    // the (type, min, max) stats frame must come back as a broadcast —
    // a shuffled join here would re-key the whole event stream just to
    // learn 5 rows of bounds
    val p = plan("q114_histogram")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q115 fk audit: dim key sets broadcast, no cartesian") {
    // each edge is child LEFT JOIN broadcast(distinct parent keys) + one
    // count pass; the three edges union above their own aggregates
    val p = plan("q115_fk_audit")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q116 cube: expand feeds a map-side partial aggregate") {
    // the 4-way cube must expand BELOW the partial HashAggregate so the
    // exchange carries per-task subtotals, not 4× the corpus
    val p = plan("q116_cube")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("q117 wow growth: corpus aggregates before the lag window") {
    // the window runs over the tiny (type, week) series — its sort key
    // appears only above the aggregate, and the only corpus-sized
    // exchange is the weekly rollup's
    val p = plan("q117_wow_growth")
    assert(p.contains("Window"), p) // the lag IS a window — over the agg
    val keys = "hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("event_type"), s"unexpected shuffle keys $keys:\n$p")
  }

  test("q119 bpe pairs: char-pair explode runs over the vocabulary, not the corpus") {
    // the corpus collapses to the word histogram FIRST — the Generate
    // (char-pair explode) must sit above the word HashAggregate, and
    // the only exchanges are the histogram's and the pair rollup's
    val p = plan("q119_bpe_pairs")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val genIdx = p.indexOf("Generate")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(genIdx >= 0 && aggIdx > genIdx,
      s"explode must run above the word histogram aggregate:\n$p")
  }

  test("q120 stupid backoff: term-keyed model joins, scalars broadcast") {
    // bigram derivation is map-side (Generate over the zip), the three
    // model joins are key-equality, the (N, V) scalars broadcast —
    // no cartesian, no window, no corpus-vs-corpus join
    val p = plan("q120_stupid_backoff")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("q121 keep longest: canonical selection is a struct-max agg, no window") {
    // per-cluster keep-longest must be the map-side-combinable
    // max(struct(len, -id)) — a row_number-per-cluster window here
    // reintroduces the skew shape LineDedup's struct-min avoids
    val p = plan("q121_keep_longest")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("row_number"), p)
    // the struct-max is an aggregate node (sort-based for struct
    // ordering), never a Window
    assert(!p.contains("Window"), p)
    assert(p.contains("Aggregate"), p)
  }

  test("q126 filtered ann: eligibility predicate sits BELOW the bucket join") {
    // pre-filter semantics: the label predicate must restrict the
    // candidate set before ranking — a Filter above the join (post-
    // filtering) silently returns fewer than k and misses eligible
    // neighbors just outside the unfiltered top-k
    val p = plan("q126_filtered_ann")
    assert(!p.contains("CartesianProduct"), p)
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val filterIdx = p.indexOf("(label")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"label filter must print below (deeper than) the bucket join:\n$p")
  }

  test("q108 curriculum buckets: corpus stays map-only under broadcast cuts") {
    // the decile machinery (histogram, runningLong cume, cut fold)
    // runs over the tiny distinct-length frame; the CORPUS side must
    // see only a broadcast of the one-row cut array — and the one
    // window is the __pid-partitioned prefix-sum pass, never an
    // unpartitioned sort of anything
    val p = plan("q108_curriculum_buckets")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // one-row cut array
    assert(countOf(p, "windowspecdefinition(__pid") == 1, p)
    assert(countOf(p, "windowspecdefinition") == 1, p)
  }

  test("q136 hits: edge-list iteration — cached rollup, broadcast authority, no SMJ") {
    // the user×user co-occurrence graph must never materialize: both
    // power-iteration hops stay on the (u,t) edge list, the |types|-row
    // authority frames join back BROADCAST, and the raw events scan is
    // paid once into the cached rollup (every later stage reads the
    // InMemoryRelation). A SortMergeJoin here means an authority frame
    // grew a corpus-sized key; a CartesianProduct means co-occurrence.
    val full = plan("q136_hits_centrality")
    assert(!full.contains("CartesianProduct"), full)
    assert(!full.contains("SortMergeJoin"), full)
    // the raw events scan exists exactly once across the whole tree —
    // identical FileScan lines are the printer re-showing the one cached
    // (u,t) rollup body, never a second physical scan
    assert(full.split("\n").filter(_.contains("FileScan parquet"))
      .map(l => l.substring(l.indexOf("FileScan"))).distinct.length == 1, full)
    // EXECUTED top-level shape (cached bodies stripped): both hops read
    // the persisted hub1 frame, so the only live join is a1's broadcast
    // join — the a0-join + hub1-window subtree lives once, inside the
    // cache build; a second BroadcastHashJoin here means a1's branch
    // replanned that subtree instead of reading the InMemoryRelation
    val p = stripCachedBodies(full)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(countOf(p, "InMemoryTableScan") >= 2, p) // both hops read cache
    assert(countOf(p, "Scan parquet") == 0, p)      // events paid in cache build only
    assert(countOf(p, "Window") == 1, p)            // hub2 pass only; hub1 is cached
    // terminal top-20 must be TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q136 hits FINAL plan: hub1 computed once — cache reuse survives AQE") {
    // the pre-execution pin can't see runtime reuse; after running, the
    // AQE final plan must still read the persisted hub1 frame from the
    // InMemoryRelation on BOTH hops, with exactly one live Window (hub2)
    // and one live BroadcastHashJoin (a1) — a duplicated hub1 WindowExec
    // here means the persist silently stopped covering a branch. Counted
    // by walking the executed tree (descending through AQE + query
    // stages), NOT by text: the printer re-prints cached bodies and
    // indents nested AQE sections ambiguously.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("q136_hits_centrality")(spark, sf)
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      p +: kids.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan).map(_.nodeName)
    Caching.release()
    spark.catalog.clearCache()
    val tally = nodes.groupBy(identity).view.mapValues(_.size).toMap
    assert(tally.getOrElse("InMemoryTableScan", 0) == 2, nodes)
    assert(tally.getOrElse("Window", 0) == 1, nodes)
    assert(tally.getOrElse("BroadcastHashJoin", 0) == 1, nodes)
    assert(!nodes.exists(_.startsWith("Scan parquet")), nodes)
    assert(tally.getOrElse("TakeOrderedAndProject", 0) == 1, nodes)
  }

  test("q137 gini: rank arithmetic runs over the length histogram, not raw docs") {
    // the q135 histogram discipline applied to inequality measurement:
    // the cumulative window must take the collapsed (source, length)
    // frame — i.e. sit above a map-side-combined aggregate — and the
    // whole query is join-free with a two-column pruned scan. A window
    // whose input is the raw docs frame would be a per-source sort of
    // the corpus.
    val p = plan("q137_gini_tokens")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "+- Window ") == 1, p)
    assert(p.contains("partial_count"), p) // histogram built map-side
    // window input is the grouped histogram: its Window node must have a
    // HashAggregate strictly below it in the printed tree
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"cumulative window must sit above the length-histogram aggregate:\n$p")
    // one histogram exchange + one window re-cluster on source; the
    // final per-source agg reuses the window's partitioning
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q138 cusum: one scan, windows over the daily-collapsed frame, no joins") {
    // all four window passes (prefix sum + rank, partition totals,
    // argmax rank) must take the ≤ days×types daily frame — built
    // map-side from ONE events scan — and share one event_type
    // clustering: a join-based totals frame would re-scan events, and a
    // window over raw events would be a per-type sort of the corpus
    val p = plan("q138_changepoint")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p) // daily collapse is map-side
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"windows must sit above the daily-collapse aggregate:\n$p")
    // one histogram exchange + one re-cluster to event_type; every
    // window pass reuses the second
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q139 benford: digit histogram collapses map-side, no joins, pruned scan") {
    // the chi² runs over the ≤ 9×|types| digit histogram: one
    // histogram exchange + one re-cluster to event_type, no windows,
    // no joins, and the scan reads ONLY (event_type, value)
    val p = plan("q139_benford")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p) // digit histogram is map-side
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q140 type-affinity: one user exchange into the cached sets, broadcast counts") {
    // the per-user type sets are built by ONE user-keyed exchange
    // (collect_set combines map-side) and persisted; pair generation
    // explodes the cached arrays map-side; the per-type user counts
    // join back BROADCAST. A SortMergeJoin means a corpus-keyed join
    // slipped in; a second parquet scan means a branch missed the cache.
    val full = plan("q140_type_affinity")
    assert(!full.contains("CartesianProduct"), full)
    assert(!full.contains("SortMergeJoin"), full)
    assert(full.split("\n").filter(_.contains("FileScan parquet"))
      .map(l => l.substring(l.indexOf("FileScan"))).distinct.length == 1, full)
    val p = stripCachedBodies(full)
    assert(countOf(p, "BroadcastHashJoin") == 2, p) // n_a + n_b lookups
    assert(countOf(p, "InMemoryTableScan") >= 3, p) // pairs + 2 count branches
    assert(countOf(p, "Scan parquet") == 0, p)      // events paid in cache build
    assert(!p.contains("Window"), p)
  }

  test("q141 autocorr: one scan, windows over the daily-collapsed frame, no joins") {
    // the q138 shape: lag + totals windows all take the ≤ days×types
    // daily frame (map-side collapse from ONE events scan) and share
    // one event_type clustering — a join-based totals frame would pay
    // a second scan and two more exchanges
    val p = plan("q141_daily_autocorr")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"windows must sit above the daily-collapse aggregate:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q142 mann-kendall: pair join broadcasts the cached daily frame, no SMJ") {
    // the days²-bounded pair generation must be a BroadcastHashJoin on
    // event_type over the PERSISTED daily frame (one parquet scan paid
    // in the cache build); the totals→S stitch is the second broadcast.
    // A SortMergeJoin or a second FileScan means the collapse or the
    // cache was lost.
    val full = plan("q142_mann_kendall")
    assert(!full.contains("SortMergeJoin"), full)
    assert(!full.contains("CartesianProduct"), full)
    assert(full.split("\n").filter(_.contains("FileScan parquet"))
      .map(l => l.substring(l.indexOf("FileScan"))).distinct.length == 1, full)
    val p = stripCachedBodies(full)
    assert(countOf(p, "BroadcastHashJoin") == 2, p)
    assert(countOf(p, "InMemoryTableScan") >= 3, p) // a, b, totals branches
    assert(countOf(p, "Scan parquet") == 0, p)
    assert(!p.contains("Window"), p)
  }

  test("q143 spearman: one day-keyed broadcast join, rank windows share one exchange") {
    // the aligned-pair frame comes from ONE BroadcastHashJoin on day
    // over the persisted daily frame; all four rank/tie windows share
    // the (type_a,type_b) clustering (tie counts use the RANGE peer
    // frame, so no window introduces a finer partition key), and the
    // final aggregate reuses it — exactly ONE exchange outside the
    // cache build.
    val full = plan("q143_spearman_pairs")
    assert(!full.contains("SortMergeJoin"), full)
    assert(full.split("\n").filter(_.contains("FileScan parquet"))
      .map(l => l.substring(l.indexOf("FileScan"))).distinct.length == 1, full)
    val p = stripCachedBodies(full)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(countOf(p, "Window") == 2, p) // one per sort order (ca, cb)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(countOf(p, "Scan parquet") == 0, p)
  }

  test("q144 weekday profile: map-side dow histogram, no joins, pruned scan") {
    // the q139 shape: histogram collapses map-side to ≤ 7×|types| rows,
    // chi² runs on the pivot of that tiny frame — one histogram
    // exchange + one re-cluster, no windows, no joins, and the scan
    // reads ONLY (ts, event_type)
    val p = plan("q144_weekday_profile")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p)
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q145 streaks: window over the distinct-day grid, user clustering reused") {
    // gaps-and-islands on COLLAPSED frames: distinct (user,day) grid
    // exchange, ONE per-user window exchange that both downstream
    // aggregates reuse (hash(user_id) satisfies the (user_id,g) and
    // (user_id) clusterings), and the tiny histogram exchange — three
    // total; the window must sit above the distinct aggregate, never
    // over raw events
    val p = plan("q145_streak_hist")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"window must sit above the distinct-day aggregate:\n$p")
  }

  test("q146 burstiness: one scan, daily collapse, no windows, no joins") {
    // the q138/q141 daily-collapse shape minus the windows: histogram
    // exchange + event_type re-cluster, everything else map-side
    val p = plan("q146_burstiness")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q147 ttr/hapax: vocab rollup then source reduction, no joins, pruned scan") {
    // ONE corpus scan explodes into the (source,term) rollup (map-side
    // combine bounds the exchange by per-partition vocabulary); the
    // per-source reduction is the only other exchange; scan reads
    // exactly (source, text)
    val p = plan("q147_ttr_hapax")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q148 percentile grid: cumulative window over the length histogram only") {
    // the q137 shape: lengths collapse map-side to the histogram, the
    // cumulative/total windows and the final aggregate all run on that
    // ≤ distinct-lengths×sources frame and share the source exchange —
    // a per-source sort of raw docs would show as a Window before the
    // collapse
    val p = plan("q148_length_percentiles")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"windows must sit above the histogram aggregate:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q149 new/returning: first-touch window on the grid, q145's 3 exchanges") {
    val p = plan("q149_new_returning")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"window must sit above the distinct-day aggregate:\n$p")
  }

  test("q150 concentration: rank window over per-user sums, clustering reused") {
    // per-(type,user) rollup exchange, ONE event_type window exchange
    // that the final aggregate reuses — two total; the rank runs over
    // the collapsed per-user frame, never raw events
    val p = plan("q150_value_concentration")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"rank window must sit above the per-user aggregate:\n$p")
  }

  test("q151 churn: lead window on the grid, scalar max-week broadcast back") {
    // distinct (user,week) grid exchange → one user_id lead-window
    // exchange → weekly histogram, all inside the ONE persisted frame;
    // the global max week is GlobalAgg.withScalars — a 1-row aggregate
    // over the cache joined back as a one-row BNLJ. The only
    // SinglePartition exchange is that aggregate's ≤-numPartitions
    // partial-row collapse, and no window is unpartitioned. (Counts
    // are on the raw plan text, which re-prints the cached body at
    // each of the two InMemoryTableScans — hence 2× the body's 3
    // exchanges and its scan.)
    val p = plan("q151_weekly_churn")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(countOf(p, "InMemoryTableScan") == 2, p)
    assert(countOf(p, "Exchange SinglePartition") == 1, p)
    assert(countOf(p, "Scan parquet") == 2, p)
    assert(countOf(p, "Exchange hashpartitioning") == 6, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"lead window must sit above the distinct-week aggregate:\n$p")
  }

  test("q152 gaps: lag per (user,type), percentile windows on the histogram") {
    // the lag window re-clusters raw events ONCE on (user_id,
    // event_type); gaps then collapse to the integer-seconds histogram
    // and the cumulative/total windows + final aggregate run over that
    // frame sharing the event_type exchange — 3 total, no joins
    val p = plan("q152_gap_percentiles")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
    assert(p.contains("partial_count"), p)
  }

  test("q153 vocab growth: bucket histograms join broadcast, no raw-doc sort") {
    // two ≤64-row bucket histograms (docs + term-first-occurrence)
    // meet in a broadcast left-outer join; the 1-row min frame enters
    // via two BroadcastNestedLoopJoins (the F8 crossJoin pattern — its
    // subtree scans only doc_id); BOTH cumulative totals ride one
    // GlobalAgg.runningLong pass over the persisted joined frame
    // (__pid-partitioned window + the LocalTableScan offset row — no
    // unpartitioned window anywhere). Raw text re-prints the cached
    // body at the InMemoryTableScan, doubling its counts; the lone
    // live additions are the offsets BroadcastHashJoin, the __pid
    // re-cluster and the terminal sort.
    val p = plan("q153_vocab_growth")
    assert(!p.contains("SortMergeJoin"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") == 4, p)
    assert(countOf(p, "BroadcastHashJoin") == 3, p)
    assert(countOf(p, "windowspecdefinition(__pid") == 2, p)
    assert(countOf(p, "LocalTableScan") == 1, p)
    assert(countOf(p, "Scan parquet") == 7, p)
    assert(countOf(p, "Exchange hashpartitioning") == 7, p)
    assert(countOf(p, "Exchange rangepartitioning") == 3, p)
  }

  test("q154 activity histogram: two rollups, map-side combine, no windows") {
    val p = plan("q154_activity_histogram")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    assert(p.contains("partial_count"), p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 1, s"column pruning lost: $readSchema")
  }

  test("q155 mix shift: one scan, signed explode of the daily collapse") {
    // the day-pair alignment is a map-side explode of the collapsed
    // daily histogram (a self-union or per-type lag join would plan
    // the rollup twice / shuffle raw events twice); the day-range
    // bounds are GlobalAgg.withScalars over the persisted byDay frame
    // — a 1-row min/max aggregate joined back BNLJ, zero windows.
    // Counts double where the cached body re-prints (2 scans/6
    // exchanges = one physical scan/3 exchanges).
    val p = plan("q155_mix_shift")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(countOf(p, "InMemoryTableScan") == 2, p)
    assert(countOf(p, "Exchange SinglePartition") == 1, p)
    assert(countOf(p, "Scan parquet") == 2, p)
    assert(p.contains("Generate explode"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 6, p)
  }

  test("q156 daily median: percentile windows on the cents histogram, 2 exchanges") {
    val p = plan("q156_daily_median_value")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"windows must sit above the histogram aggregate:\n$p")
  }

  test("q157 coverage: distinct grid then per-type reduction, pruned scan") {
    val p = plan("q157_calendar_coverage")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q158 dup sizes: two map-side-combinable rollups, text-only scan") {
    val p = plan("q158_dup_size_hist")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    assert(p.contains("partial_count"), p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 1, s"column pruning lost: $readSchema")
  }

  test("q159 char classes: map-side length arithmetic, one exchange") {
    val p = plan("q159_charclass_profile")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("partial_count"), p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q160 magnitude histogram: one rollup exchange, ts never read") {
    val p = plan("q160_value_magnitude_hist")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q161 hourly profile: share window over the collapsed 24xtypes frame") {
    val p = plan("q161_hourly_profile")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"share window must sit above the histogram aggregate:\n$p")
  }

  test("q162 fertility: map-side audit arithmetic, one exchange") {
    val p = plan("q162_token_fertility")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 3, s"column pruning lost: $readSchema")
  }

  test("q163 session grid: one user window, dual histogram via explode, no joins") {
    // sessionize window re-clusters raw events ONCE on user_id and the
    // per-session rollup reuses it (subset rule); both percentile
    // grids ride one exploded histogram — no self-referencing subtree,
    // no cache, no crossJoin
    val p = plan("q163_session_percentiles")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(p.contains("Generate explode"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
  }

  test("q164 lorenz: rank window over per-user sums, type clustering reused") {
    // per-(type,user) rollup exchange + ONE event_type window exchange
    // that the decile rollup and both cumulative windows reuse
    val p = plan("q164_lorenz_deciles")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"rank window must sit above the per-user aggregate:\n$p")
  }

  test("q165 conversion lag: both firsts in one user rollup, no joins") {
    val p = plan("q165_conversion_lag")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 3, s"column pruning lost: $readSchema")
  }

  test("q166 zipf coverage: histogram-cut form, vocabulary never rank-sorted") {
    // tf rollup + (tf -> n_terms) histogram are the only exchanges;
    // the unpartitioned cumulative window runs over the <= distinct-tf
    // frame — a row_number over the vocabulary would be a
    // single-partition sort of vocabulary-cardinality rows
    val p = plan("q166_zipf_coverage")
    assert(!p.contains("row_number"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the cumulative head mass is GlobalAgg.runningLong over the
    // persisted (tf → m) histogram: a __pid-partitioned window fed by
    // the offsets BroadcastHashJoin + LocalTableScan — the only
    // SinglePartition exchange is the terminal 1-row aggregate's
    // partial collapse. Cached body re-prints double its counts.
    assert(countOf(p, "windowspecdefinition(__pid") == 1, p)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(countOf(p, "LocalTableScan") == 1, p)
    assert(countOf(p, "Exchange SinglePartition") == 1, p)
    assert(countOf(p, "Scan parquet") == 2, p)
    assert(countOf(p, "Exchange hashpartitioning") == 5, p)
  }

  test("q167 rfm: distributed axis ranks — no single-partition sort anywhere") {
    // |users| is NOT a bounded dimension, so the three axis ranks must
    // come from the GlobalAgg.stableIds range-partition + broadcast-prefix-
    // offset pattern (the r18 weak mark was three unpartitioned
    // row_number sorts here): three range exchanges over the cached
    // per-user frame, every rank window partitioned by __pid, the tiny
    // offset frames broadcast back, n as the one-row BNLJ scalar —
    // and NO Exchange SinglePartition / empty-partitionSpec window in
    // the whole tree
    val full = plan("q167_rfm_segments")
    // the ONE SinglePartition exchange allowed is the scalar-n global
    // aggregate (moves <= numPartitions partial count rows, never data)
    assert(countOf(full, "Exchange SinglePartition") <= 1, full)
    assert(!full.contains("SortMergeJoin"), full)
    assert(!full.contains("CartesianProduct"), full)
    // range exchanges sit inside the cached ranged copies (printed as
    // InMemoryRelation bodies), the live tree reads them + broadcasts
    assert(countOf(full, "Exchange rangepartitioning") >= 1, full)
    assert(full.contains("BroadcastHashJoin"), full) // prefix-offset joins
    // executed tree: every WindowExec must carry a partitionSpec.
    // The collect must UNWRAP AdaptiveSparkPlanExec (a leaf under AQE —
    // a naive executedPlan.collect returns nothing and passes
    // vacuously: advisor r19 low #2) and descend into cached-plan
    // bodies (the three ranged copies are InMemoryRelations whose
    // windows a shallow collect never sees). Non-vacuity is pinned:
    // the walk must SEE the three __pid-partitioned rank windows.
    val wins = deepWindows(SparkEntry.queries("q167_rfm_segments")(spark, sf))
    Caching.release(); spark.catalog.clearCache()
    val globals = wins.filter(_.partitionSpec.isEmpty)
    assert(wins.size >= 3, s"expected the three __pid rank windows, " +
      s"saw ${wins.size} — the deep collect went vacuous")
    assert(wins.forall(_.partitionSpec.exists(_.toString.contains("__pid"))),
      s"rank windows must partition by __pid: ${wins.map(_.partitionSpec)}")
    assert(globals.isEmpty,
      s"q167 regressed to an unpartitioned rank window: $globals")
  }

  test("q168 touch matrix: one window sort, user clustering reused") {
    // rank, lag and the running purchase count share one (user_id,
    // (ts, event_id)) sort (the running sum's input projection splits
    // a second Window node off, but it rides the SAME sorted
    // partition — exactly one Sort, one exchange); the per-user
    // rollup reuses both the clustering and the ordering
    // (SortAggregate, no re-sort) — the only other exchange is the
    // <=|types|^2 matrix rollup's
    val p = plan("q168_touch_matrix")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "+- Sort [user_id") == 1, p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q195 media near-dup: banded Hamming join over the cached fp frame") {
    // the fingerprint pass runs ONCE into the persisted (doc_id, fp)
    // frame — both banded self-join sides read the InMemoryRelation;
    // candidates come from the (band, key) equality join (never a
    // cartesian), with the exact bit_count verify in-plan; the
    // broadcast is the planner's size-based choice, not a hint (the
    // q169 rule: a dup-heavy corpus must be free to degrade to a
    // shuffle join)
    val p = plan("q195_media_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(countOf(p, "InMemoryTableScan") == 2, p)
    assert(p.contains("graft_media_fp"), p)
    assert(p.contains("bit_count"), p)
    assert(countOf(p, "Generate explode") == 3, p) // 2 band sides + pair sides
    // verify BEFORE the dedup (r21, the r20 verdict finding): the
    // bit_count(xor) <= maxHamming verify is fused into the band join's
    // own condition — candidates that fail Hamming never reach the
    // distinct's exchange, and the distinct key is (a_id, b_id,
    // hamming), fingerprints dropped
    val joinLine = p.linesIterator
      .find(l => l.contains("BroadcastHashJoin") && l.contains("[bi"))
    assert(joinLine.exists(_.contains("bit_count")),
      s"Hamming verify not fused into the band join: $joinLine\n$p")
    // the per-row 64-md5 synthesis is gone: md5 only appears in the
    // ≤200-row family subtree, so the plan text stays small (the
    // r20 form printed a ~25k-node tree — 367 KB of plan, 4.5 MiB task
    // binaries); a regression re-inflating the tree trips this bound
    assert(p.length < 120000,
      s"q195 plan text ${p.length} chars — per-row synthesis tree is back?")
  }

  test("q169 source matrix: AQE broadcasts pair sides onto the corpus scan") {
    // the exploded near-dup pair sides are tiny on a typical corpus
    // and must end up BROADCAST onto the slim (doc_id, source)
    // projection — but the hint is deliberately NOT forced (pair count
    // is quadratic in duplicate-cluster size; a duplicate-heavy corpus
    // must degrade to a shuffle join, not blow the driver), so the
    // broadcast shows up in the AQE FINAL plan via runtime sizes, not
    // the static one. Pair derivation keeps q24's banded shape (cached
    // signature frame, never a cartesian).
    val p0 = plan("q169_dup_source_matrix")
    assert(!p0.contains("CartesianProduct"), p0)
    assert(!p0.contains("BroadcastNestedLoopJoin"), p0)
    assert(countOf(p0, "InMemoryTableScan") >= 4, p0)
    val p = finalPlan("q169_dup_source_matrix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q171 survival: distributed prefix sum over the lifespan histogram") {
    // user rollup + lifespan histogram collapse inside the persisted
    // ranged frame; survivors is GlobalAgg.runningLong from the TOP
    // (lifespan desc) with the grand total riding out of the same
    // pass's collected subtotals as a literal — so ZERO SinglePartition
    // exchanges remain anywhere. Cached body re-prints double its
    // counts (2 scans, 2× the user/lifespan exchanges + the live __pid
    // re-cluster = 5 hash exchanges in text).
    val p = plan("q171_survival_curve")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(countOf(p, "Exchange SinglePartition") == 0, p)
    assert(countOf(p, "windowspecdefinition(__pid") == 1, p)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(countOf(p, "LocalTableScan") == 1, p)
    assert(countOf(p, "Scan parquet") == 2, p)
    assert(countOf(p, "Exchange hashpartitioning") == 5, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("q172 shingle novelty: native extractor, cached (g,source) frame") {
    // the shingle sets must come from the map-only native expression
    // (no per-doc window, no interpreted transform in the hot path);
    // the collapsed (shingle, source) frame is persisted and read by
    // both the per-shingle count and the per-source totals; the final
    // per-source join broadcasts
    val p = plan("q172_shingle_novelty")
    assert(p.contains("graft_shingle_set"), p)
    assert(countOf(p, "InMemoryTableScan") >= 2, p)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q173 stickiness: bounded fan-out of the cached day-user frame") {
    // ONE raw scan builds the cached (day, user) frame; DAU and the
    // 28x explode both read the cache; the day-level join of the two
    // <= |days| frames broadcasts
    // (no raw-scan count pin: the printed plan repeats the cached
    // body once per InMemoryTableScan, so FileScan appears twice even
    // though the relation is built — and scanned — once)
    val p = plan("q173_stickiness")
    assert(countOf(p, "InMemoryTableScan") >= 2, p)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // the explode runs over the collapsed frame, never raw events:
    // it must appear above an InMemoryTableScan, not above a FileScan
    val eIdx = p.indexOf("Generate explode")
    assert(eIdx >= 0, p)
    val nextIm = p.indexOf("InMemoryTableScan", eIdx)
    val nextFs = p.indexOf("FileScan", eIdx)
    assert(nextIm >= 0 && (nextFs < 0 || nextIm < nextFs),
      s"explode must fan out the cached frame:\n$p")
  }

  test("q174 lift: partitioned margin windows, scalar grand total") {
    // the grand total is GlobalAgg.withScalars over the persisted cell
    // frame (1-row aggregate, BNLJ back); the row/column margins stay
    // PARTITIONED windows (by source, by lang) over the same cache —
    // their two re-cluster exchanges plus the cell rollup's (re-printed
    // at both cache reads) make 4 in text. The only SinglePartition
    // exchange is the scalar aggregate's partial-row collapse.
    val p = plan("q174_source_lang_lift")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(countOf(p, "InMemoryTableScan") == 2, p)
    assert(countOf(p, "Exchange SinglePartition") == 1, p)
    assert(countOf(p, "Scan parquet") == 2, p)
    assert(countOf(p, "Exchange hashpartitioning") == 4, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"margin windows must sit above the cell aggregate:\n$p")
  }

  test("q175 containment: anchor-bucket join over the cached sets, never a cartesian") {
    // the cached shingle-set frame feeds anchor generation and BOTH
    // verify sides; candidates come from the shingle-equality
    // self-join of the df-capped anchors — no cross product anywhere
    val p = plan("q175_containment_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(countOf(p, "InMemoryTableScan") >= 3, p)
  }

  test("q176 audience overlap: per-user set explode, no user self-join") {
    // pair counts come from the map-side 2-combination explode of the
    // cached per-user sorted sets; the only joins are the two
    // broadcast size lookups (|types| rows each)
    val p = plan("q176_audience_overlap")
    assert(countOf(p, "BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "InMemoryTableScan") >= 2, p)
  }

  test("q177 seasonality: range-frame windows on one type clustering") {
    // daily rollup + ONE event_type window exchange; the final
    // per-type aggregate reuses the window's clustering (subset rule)
    val p = plan("q177_weekly_seasonality")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"series windows must sit above the daily rollup:\n$p")
  }

  test("q178 median drift: histogram medians, one type clustering reused") {
    // cents histogram + (type,week) median windows + type-level
    // lag/rank windows: three hash exchanges, each over a collapsed
    // frame; the rank and lag share the type clustering
    val p = plan("q178_median_drift")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q179 embedding dims: map-side posexplode, one rollup exchange") {
    val p = plan("q179_embedding_dims")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.startsWith("embedding:"),
      s"only the vector column may be read: $readSchema")
  }

  test("q180 price deviation: broadcast dim lookup, two pruned scans") {
    val p = plan("q180_price_deviation")
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    // lineitem side must read exactly its three needed columns
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.exists(_.split(",").length == 3), schemas.toString)
  }

  test("q181 shingle df profile: native extractor, scalar postings total") {
    // df rollup + octave histogram collapse inside the persisted
    // frame (body re-printed at both cache reads → 2 scans/4 hash
    // exchanges in text); the postings total is GlobalAgg.withScalars
    // — its partial-row collapse is the only SinglePartition exchange
    // and there is no window at all
    val p = plan("q181_shingle_df_profile")
    assert(p.contains("graft_shingle_set"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(countOf(p, "InMemoryTableScan") == 2, p)
    assert(countOf(p, "Scan parquet") == 2, p)
    assert(countOf(p, "Exchange hashpartitioning") == 4, p)
    assert(countOf(p, "Exchange SinglePartition") == 1, p)
  }

  test("q182 segment trend: broadcast customer dim, integer OLS rollups") {
    val p = plan("q182_segment_trend")
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // monthly rollup + per-segment reduction
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q183 reconciliation: fact-fact merge join on the order key") {
    // the one join shape dim-broadcast queries never exercise: both
    // sides fact-scale, co-partitioned sort-merge on o_orderkey (the
    // hint pins it — at test SFs the planner would broadcast the
    // small orders file and silently hide the scale shape)
    val p = plan("q183_order_reconciliation")
    assert(countOf(p, "SortMergeJoin") == 1, p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q184 supplier concentration: broadcast part dim, one brand clustering") {
    val p = plan("q184_supplier_concentration")
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx,
      s"rank/total windows must sit above the cell rollup:\n$p")
  }

  test("q185 ship lag: fact-fact merge join, histogram-cut percentiles") {
    val p = plan("q185_ship_lag_percentiles")
    assert(countOf(p, "SortMergeJoin") == 1, p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // two merge-join side exchanges + lag-histogram rollup + priority
    // window clustering; the final per-priority aggregate reuses the
    // window's clustering (no fifth exchange)
    assert(countOf(p, "Exchange hashpartitioning") == 4, p)
  }

  test("q186 repeat share: first-order flag on one custkey window") {
    val p = plan("q186_repeat_share")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Window ") == 1, p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 3, s"column pruning lost: $readSchema")
  }

  test("q187 session conversion: per-session rollup reuses the user window") {
    // sessionize window + per-(user,session) rollup on ONE user
    // clustering (subset rule), then the <=64-row bucket histogram
    val p = plan("q187_session_conversion")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    assert(countOf(p, "+- Sort [user_id") == 1, p)
  }

  test("q188 token revenue: fact collapses first, bounded global top-k") {
    // per-part revenue rollup BEFORE the token explode; the global
    // top-20 is the partial top-k aggregate, never a vocabulary sort
    // (no rank window, no rangepartitioning of the token frame)
    val p = plan("q188_name_token_revenue")
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(countOf(p, "Scan parquet") == 2, p)
  }

  test("q189 cohort ltv: cohort label on one custkey window, no dim read") {
    val p = plan("q189_cohort_ltv")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "Window ") == 1, p)
    assert(countOf(p, "Scan parquet") == 1, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 3, s"column pruning lost: $readSchema")
  }

  test("q190 segment top-k: partial top-k after a broadcast dim join") {
    val p = plan("q190_segment_top_customers")
    assert(p.contains("graft_topk"), p)
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p) // a rank window would sort every customer
  }

  test("q191 nation revenue: fact collapses before the broadcast dim chain") {
    // per-customer rollup is the ONLY fact-scale exchange; customer,
    // nation and region all annotate BROADCAST; the share window
    // rides the <= |nations| collapsed frame
    val p = plan("q191_nation_revenue")
    assert(countOf(p, "BroadcastHashJoin") == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx, p)
  }

  test("q192 size-price corr: single dim scan, exact-moment rollup") {
    val p = plan("q192_size_price_corr")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("q193 nation balance: broadcast name hop, histogram-cut median") {
    val p = plan("q193_nation_balance_median")
    assert(countOf(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // cents histogram + nation window clustering; the final rollup
    // reuses the window's clustering
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q194 supplier nation: fact collapses before both broadcast hops") {
    // per-supplier rollup → two broadcast dim hops → nation rollup,
    // all inside the persisted frame (body re-printed at both cache
    // reads → 4 BroadcastHashJoins/6 scans in text); the global share
    // denominator is GlobalAgg.withScalars — no window, and the only
    // SinglePartition exchange is its partial-row collapse
    val p = plan("q194_supplier_nation_revenue")
    assert(countOf(p, "BroadcastHashJoin") == 4, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(countOf(p, "InMemoryTableScan") == 2, p)
    assert(countOf(p, "Exchange SinglePartition") == 1, p)
  }

  test("q170 dominance: three collapsed exchanges, no window, no join") {
    // (user,type) rollup collapses map-side from the raw scan; the
    // per-user max/sum and the <=10-row histogram each move an
    // already-collapsed frame — repartitioning raw events to share an
    // exchange would move corpus rows without map-side combine
    val p = plan("q170_dominance_hist")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Scan parquet") == 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 3, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2, s"column pruning lost: $readSchema")
  }

  test("pack-wide: ZERO unpartitioned windows anywhere (deep walk)") {
    // Round-20 end state of the bounded-global-window rule (r16 nit →
    // r17 collapse rule → r18 cardinality classifier → r19 verdict #4
    // "allowlist shrinks to empty"): an unpartitioned WindowExec IS a
    // single-partition sort of its input, and every frame the pack
    // computes — scalar totals (GlobalAgg.withScalars) and running
    // totals (GlobalAgg.runningLong) alike — now has a distributed
    // form, so NO query may plan one, bounded input or not. Zero
    // tolerance needs no cardinality classifier, which retires the
    // r17/r18 corpusKeys allowlist machinery outright. The walk is
    // DEEP (AQE wrappers, query stages, cached-plan bodies) so a
    // global window hiding inside a persisted subtree reds out too;
    // the red-test below plants exactly those shapes against this
    // same detector.
    //
    // The same walk pins lazy construction (ROADMAP item 3): building a
    // query fires no Spark job unless it is on BuildJobsAllowlist with
    // its reason, and every allowlisted builder must still fire one (a
    // stale entry is an error too). The build-job red-test below
    // plants a collect against the same counter. Every table is
    // resolved first: Tables memoizes the parquet relation (its schema
    // read is a job), so otherwise the first builder to touch a table
    // would be charged for it, depending on suite order.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(Tables.table(spark, sf, _))
    val walked = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (df, jobs) = BuildJobs(spark)(SparkEntry.queries(name)(spark, sf))
      val globals = deepWindows(df).filter(_.partitionSpec.isEmpty)
      Caching.release(); spark.catalog.clearCache()
      (name, globals, jobs)
    }
    val offenders = walked.collect { case (name, globals, _) if globals.nonEmpty =>
      s"$name (${globals.map(_.windowExpression.map(_.sql).mkString(";").take(80))})"
    }
    assert(offenders.isEmpty,
      s"unpartitioned window (single-partition sort) in: $offenders")
    val eager = walked.collect { case (name, _, jobs) if jobs > 0 => name -> jobs }
    val unlisted = eager.filterNot { case (n, _) => BuildJobsAllowlist.reasons.contains(n) }
    assert(unlisted.isEmpty, s"building these queries fired Spark jobs: $unlisted")
    val stale = BuildJobsAllowlist.reasons.keySet -- eager.map(_._1)
    assert(stale.isEmpty, s"allowlisted builders that no longer fire a job: $stale")
  }

  test("build-job census red-test: a planted collect() while building is flagged") {
    import org.apache.spark.sql.functions.lit
    val (_, eagerJobs) = BuildJobs(spark) {
      val n = spark.range(10).collect().length
      spark.range(100).withColumn("n", lit(n))
    }
    assert(eagerJobs >= 1, "the build-job counter missed a planted collect")
    assert(BuildJobs(spark)(spark.range(100).filter("id > 3"))._2 == 0,
      "a lazy build must count zero jobs")
  }

  test("NILM sources: UkdaleSource.load and RefitSource.load fire no Spark job") {
    import graft.sources.{RefitSource, UkdaleSource}
    assert(BuildJobs(spark)(UkdaleSource.load(spark, fixture("ukdale")))._2 == 0)
    assert(BuildJobs(spark)(RefitSource.load(spark, fixture("refit")))._2 == 0)
  }

  test("census red-test: the deep detector sees planted global windows") {
    // non-vacuity of the zero-tolerance census: the detector must flag
    // an unpartitioned window (a) in a plain plan, (b) buried inside a
    // CACHED subtree (where a shallow executedPlan.collect sees only
    // the InMemoryTableScan leaf), and must NOT flag the partitioned
    // replacement shapes the pack actually uses
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{row_number, sum}
    import spark.implicits._
    val base = spark.range(100)
      .select(($"id" % 10).as("user_id"), $"id".as("v"))
    val plain = base
      .withColumn("rn", row_number().over(W.partitionBy().orderBy($"v")))
    assert(deepWindows(plain).exists(_.partitionSpec.isEmpty),
      "detector missed a plain unpartitioned window")
    val cached = Caching.persisted(plain).filter($"rn" > 1)
    cached.count() // materialize so the scan leaf hides the window body
    assert(deepWindows(cached).exists(_.partitionSpec.isEmpty),
      "detector missed an unpartitioned window inside a cached subtree")
    Caching.release(); spark.catalog.clearCache()
    val partitioned = base
      .withColumn("rn", row_number().over(
        W.partitionBy($"user_id").orderBy($"v")))
    val seen = deepWindows(partitioned)
    assert(seen.nonEmpty && seen.forall(_.partitionSpec.nonEmpty),
      "partitioned windows must stay legal")
  }
}

/** Queries whose BUILD still runs Spark jobs, each with its reason. */
object BuildJobsAllowlist {
  private val prefix = "GlobalAgg.runningLong collects per-partition " +
    "subtotals for its prefix offsets (the in-plan offsets frame raised " +
    "the ScaleBench rank exponent and was not adopted)"
  private val components = "DedupClusters.connectedComponents: " +
    "label propagation iterates to a fixpoint, one count per round"
  private val corr = "CorrCluster: the k×k correlation row is collected " +
    "for the driver-side average linkage"
  val reasons: Map[String, String] = Map(
    "q40_pivot_fill" -> ("pivot without explicit values: Spark collects " +
      "the distinct event types to fix the output columns"),
    "q49_tensor_windows" -> ("TensorPrep.applianceOrder collects the label " +
      "order, which is the tensor's column order"),
    "q50_ivf_ann" -> "VectorKMeans.fit: k-means|| seeding and Lloyd rounds",
    "q53_dedup_clusters" -> components,
    "q73_bloom_antijoin" -> ("BloomPrune: the filter blob is aggregated " +
      "once and planted as a literal"),
    "q80_corr_cluster" -> corr,
    "q81_corr_heatmap" -> corr,
    "q121_keep_longest" -> components,
    "q122_cluster_split" -> components,
    "q108_curriculum_buckets" -> prefix,
    "q127_auc" -> prefix,
    "q133_percentile_rank" -> prefix,
    "q153_vocab_growth" -> prefix,
    "q166_zipf_coverage" -> prefix,
    "q167_rfm_segments" -> prefix,
    "q171_survival_curve" -> prefix)
}

object PlanInvariantsSpec {

  /** Every WindowExec reachable from the df's executed plan, descending
    * through AQE wrappers (a leaf to a naive collect), materialized
    * query stages, and cached-plan bodies (InMemoryRelation trees a
    * shallow collect never enters). */
  def deepWindows(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other                    => other.children
      }
      p +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case w: WindowExec => w }
  }
}
