package graft.scale

import graft.Caching
import graft.ScaleBench._
import graft.ext.{DedupClusters, DocumentPipeline, Dsir, FuzzyJoin, LineDedup, SpanDedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-operator scale entries of [[graft.ScaleBench]]. */
object TextBenches {

  /** The planted near-dup corpus, deterministic in `id` (no RNG —
    * repeatable counts): 30 words/doc; the last 10% of docs copy a
    * partner doc with one word substituted (planted high-jaccard
    * pairs, ~n/10 of them); every doc OPENS with one of 20 three-word
    * boilerplate runs, so each opening shingle has df ≈ n/20 — the
    * candidate-growth stressor the PPJoin prefix filter must keep out
    * of prefixes; remaining words hash-spread over a 50k vocabulary.
    * With `hot`, HALF the corpus opens with the SAME boilerplate run
    * (the "cookie-notice on a third of the web" planted hot key). */
  def corpus(spark: SparkSession, n: Long, hot: Boolean = false): DataFrame = {
    val dupStart = n - n / 10
    val base =
      if (hot) col("id")
      else when(col("id") >= dupStart, col("id") - (n / 2)).otherwise(col("id"))
    val opening =
      if (hot) when(col("id") % 2 === 0, lit(0)).otherwise(pmod(col("id"), lit(19)) + 1)
      else pmod(base, lit(20))
    val words = (0 until 30).map { j =>
      val drawn =
        if (j < 3) concat(lit("hot"), opening, lit("_"), lit(j))
        else concat(lit("w"), pmod(xxhash64(base * 37 + j), lit(50000L)))
      // the near-dup mutation: one substituted word keeps jaccard high
      if (j == 13 && !hot)
        when(col("id") >= dupStart, concat(lit("mut"), col("id"))).otherwise(drawn)
      else drawn
    }
    spark.range(n).select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  /** Dedup-family candidate growth — the quantity that decides 100 TB
    * viability — and wall time of the three near-dup shapes: banded
    * MinHash candidates (q24), connected components over them FORCED
    * onto the distributed star path (q53), PPJoin prefix candidates
    * (q26, only for n ≤ 10⁶: its shingle window is the expensive part
    * at local scale). */
  val dedup: Entry = Entry(Seq(30000L, 100000L, 300000L, 1000000L),
    Seq(Seq("n", "all_pairs", "minhash_cands", "minhash_sec",
      "jaccard_cands", "jaccard_sec", "cc_clusters", "cc_sec")),
    (ctx, n) => {
      import ctx.spark.implicits._
      val docs = corpus(ctx.spark, n)
      val ((nMinhash, pairs), tMinhash) = timed {
        val sig = Caching.persisted(docs
          .select($"doc_id", expr("graft_minhash_sig(text)").as("__s"))
          .filter($"__s".isNotNull)
          .select($"doc_id" +:
            (0 until TextOps.NumHashes).map(j => $"__s.m"(j).as(s"m$j")): _*)
          .repartition($"doc_id"))
        val bands = sig
          .select($"doc_id", explode(TextOps.bandStructs).as("band"))
          .select($"doc_id", $"band.bi".as("bi"), $"band.bk".as("bk"))
        val p = Caching.persisted(bands.as("a")
          .join(bands.as("b"),
            col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct())
        (p.count(), p)
      }
      val (nClusters, tCc) = timed {
        DedupClusters.connectedComponents(docs, "doc_id", pairs, driverMaxEdges = 0)
          .select(countDistinct(col("cluster_rep"))).as[Long].head()
      }
      val (nJacc, tJacc) =
        if (n <= 1000000L) timed {
          val sets = TextOps.shingleSets(docs, "doc_id", "text")
          TextOps.prefixCandidates(sets, "doc_id", 8, 10, None).count()
        } else (-1L, -1.0)
      Caching.release()
      ctx.spark.catalog.clearCache()
      Seq(Seq("n" -> n, "all_pairs" -> n * (n - 1) / 2,
        "minhash_cands" -> nMinhash, "minhash_sec" -> tMinhash,
        "jaccard_cands" -> nJacc, "jaccard_sec" -> tJacc,
        "cc_clusters" -> nClusters, "cc_sec" -> tCc))
    })

  /** DSIR importance weighting (q99) on the planted corpus, target
    * slice doc_id % 10 == 0: the model pass and the full scoring pass
    * must both scale linearly, and the plan must keep ONE raw-sized
    * doc-keyed exchange plus the B-row model agg at every n. */
  val dsir: Entry = Entry(Seq(3000000L, 10000000L, 30000000L),
    Seq(Seq("n", "model_sec", "full_sec", "exchanges", "out_rows")),
    (ctx, n) => {
      val docs = corpus(ctx.spark, n)
      val isTarget = col("doc_id") % 10 === 0
      val modelSec = secs(noop(
        Dsir.featureRows(docs, "doc_id", "text", isTarget, 1024)
          .groupBy(col("__bucket"))
          .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"),
            sum(when(col("__tgt"), 0L).otherwise(1L)).as("cr"))))
      val weights = Dsir.importanceWeights(docs, "doc_id", "text", isTarget,
        buckets = 1024, salt = "bench")
      val fullSec = secs(noop(weights))
      Seq(Seq("n" -> n, "model_sec" -> modelSec, "full_sec" -> fullSec,
        "exchanges" -> exchanges(weights), "out_rows" -> weights.count()))
    })

  /** The q63 DocumentPipeline composed end to end: cumulative stage
    * prefixes ([[DocumentPipeline.prepareStaged]] — the real plan) to
    * a noop sink, so `dedup_sec - redact_score_sec` is the one wide
    * stage's marginal cost, plus the exchange count of the full plan
    * (the single-wide-dependency claim PlanInvariantsSpec pins at
    * sf0.001, checked on the plan built at 3-30 M docs). */
  val pipeline: Entry = Entry(Seq(3000000L, 10000000L, 30000000L),
    Seq(Seq("n", "redact_score_sec", "dedup_sec", "full_sec", "exchanges",
      "out_rows")),
    (ctx, n) => {
      val staged = DocumentPipeline.prepareStaged(corpus(ctx.spark, n),
        "doc_id", "text", minQuality = 0.05, sampleFraction = 0.9,
        nShards = 64, salt = "pipe_bench")
      val walls = staged.map { case (name, df) => name -> secs(noop(df)) }.toMap
      val full = staged.last._2
      Seq(Seq("n" -> n, "redact_score_sec" -> walls("redact_score"),
        "dedup_sec" -> walls("dedup"), "full_sec" -> walls("sample_shard"),
        "exchanges" -> exchanges(full), "out_rows" -> full.count()))
    })

  /** The ExactSubstr rewrite ([[SpanDedup]]) on the planted corpus —
    * the hostile input for it (every opening gram df ≈ n/20, dense
    * covered sets in the near-copy tail): wall time must stay linear
    * and `removed_frac` size-invariant. `persistOcc = false` is the
    * recompute-per-branch form (the memory-tight configuration, see
    * the SpanDedup scaladoc); `hot` plants one mega-boilerplate on 50%
    * of docs, all of whose occurrences meet in one semi-join reducer. */
  def span(persistOcc: Boolean, hot: Boolean): Entry =
    Entry(Seq(1000000L, 3000000L, 10000000L),
      Seq(Seq("n", "span_sec", "exchanges", "removed_frac", "out_rows")),
      (ctx, n) => {
        val out = SpanDedup.removeDuplicatedSpans(corpus(ctx.spark, n, hot),
          "doc_id", "text", persistOcc = persistOcc)
        val sec = secs(noop(out))
        val nExchanges = exchanges(out) // before release: the plan reads the cache
        val stats = out.agg(
          sum(col("n_removed")).cast("double").as("rm"),
          sum(col("n_tokens")).cast("double").as("tot"),
          count(lit(1)).as("rows")).head()
        Caching.release()
        ctx.spark.catalog.clearCache()
        Seq(Seq("n" -> n, "span_sec" -> sec, "exchanges" -> nExchanges,
          "removed_frac" -> stats.getDouble(0) / stats.getDouble(1),
          "out_rows" -> stats.getLong(2)))
      })

  /** n docs; even ids are 6 copies of one fixed 5-word line (the hot
    * key: one md5 owns 3n of the 6n line occurrences), odd ids are 30
    * hash-spread words. */
  def skewedCorpus(spark: SparkSession, n: Long): DataFrame = {
    val hot = Seq.fill(6)("the quick brown fox jumps").mkString(" ")
    val cold = concat_ws(" ", (0 until 30).map(j =>
      concat(lit("w"), pmod(xxhash64(col("id") * 37 + j), lit(50000L)))): _*)
    spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(2)) === 0, lit(hot)).otherwise(cold).as("text"))
  }

  /** Planted-hot-key skew on [[LineDedup]]'s first-occurrence choice:
    * the shipped struct-min agg (map-side-combinable, so skew-immune)
    * vs the `row_number() OVER (PARTITION BY hash)` window — which
    * Spark 4 rewrites into a map-side top-1 (`window_wgl_nodes` proves
    * the rewrite fired; `window_raw_sec` excludes the rule, the shape
    * every non-rank-filter window runs, ≤ 10⁷ docs: a cliff, timed
    * once; both window legs run for n ≤ 3·10⁷) — plus a plain groupBy-sum
    * on the same 50%-hot key (map-side partial aggregation flattens it). */
  val skew: Entry = Entry(Seq(3000000L, 10000000L, 30000000L),
    Seq(Seq("n", "occurrences", "hot_key_rows", "structmin_sec", "window_sec",
      "window_wgl_nodes", "window_raw_sec", "full_dedup_sec", "plain_sum_sec",
      "distinct_lines")),
    (ctx, n) => {
      import ctx.spark.implicits._
      val docs = skewedCorpus(ctx.spark, n)
      val occ = docs.select($"doc_id",
          posexplode(LineDedup.lines($"text", 5)).as(Seq("__pos", "__line")))
        .withColumn("__h", md5($"__line"))
      occ.count() // untimed warm-up of the generate+hash pipeline
      def structMin = occ.groupBy($"__h")
        .agg(min(struct($"doc_id", $"__pos", $"__line")).as("__first"))
      val distinctLines = structMin.count()
      val structSec = minOf2(structMin.count())
      def windowForm = {
        val w = Window.partitionBy($"__h").orderBy($"doc_id", $"__pos")
        occ.withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
      }
      val (windowWglNodes, windowSec) =
        if (n > 30000000L) (-1, -1.0)
        else ("WindowGroupLimit".r
          .findAllIn(windowForm.queryExecution.executedPlan.toString).size,
          minOf2(windowForm.count()))
      val windowRawSec =
        if (n > 10000000L) -1.0
        else withConf(ctx.spark, "spark.sql.optimizer.excludedRules" ->
            "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit") {
          secs(windowForm.count())
        }
      val fullSec = minOf2(noop(LineDedup.dedupLines(docs, "doc_id", "text")))
      val plainSec = minOf2(occ.groupBy($"__h").agg(sum($"__pos").as("s")).count())
      Seq(Seq("n" -> n, "occurrences" -> 6 * n,
        "hot_key_rows" -> 6 * ((n + 1) / 2),
        "structmin_sec" -> structSec, "window_sec" -> windowSec,
        "window_wgl_nodes" -> windowWglNodes, "window_raw_sec" -> windowRawSec,
        "full_dedup_sec" -> fullSec, "plain_sum_sec" -> plainSec,
        "distinct_lines" -> distinctLines))
    })

  /** n rows over an n/20-value pool of ~12-char strings (≈20 copies
    * each, the product-catalog shape); every 10th row is a one-char
    * deletion mutant, so ED-1 pairs exist at every scale. */
  def fuzzyCorpus(spark: SparkSession, n: Long): DataFrame = {
    val pool = math.max(n / 20, 1L)
    val v = pmod(xxhash64(col("id") * 31 + 7), lit(pool))
    val base = concat(lit("w"), lpad(v.cast("string"), 7, "0"),
      lit("x"), lpad(pmod(v * 13, lit(9973)).cast("string"), 4, "0"))
    val pos = (pmod(col("id"), length(base) - 1) + 1).cast("int")
    spark.range(n).select(
      col("id"),
      when(pmod(col("id"), lit(10)) === 0,
        concat(base.substr(lit(1), pos - 1),
          base.substr(pos + 1, length(base) - pos)))
        .otherwise(base).as("s"))
  }

  /** The FastSS ED-1 join ([[FuzzyJoin.ed1Pairs]]) should be linear in
    * DISTINCT strings: `collapsed_sec` collapses exact duplicates first
    * (q106's composition); `raw_sec` joins the duplicated corpus — the
    * m² hot-variant blow-up, run for n ≤ 10⁶. */
  val fuzzy: Entry = Entry(Seq(1000000L, 3000000L, 10000000L),
    Seq(Seq("n", "distinct_strs", "collapsed_sec", "pairs", "raw_sec",
      "raw_pairs")),
    (ctx, n) => {
      val c = fuzzyCorpus(ctx.spark, n)
      c.count() // untimed warm-up of the generator
      val rep = c.groupBy(col("s")).agg(min(col("id")).as("id"))
      val distinctStrs = rep.count()
      var pairs, rawPairs = -1L
      val collapsedSec = minOf2 { pairs = FuzzyJoin.ed1Pairs(rep, "id", "s").count() }
      val rawSec =
        if (n > 1000000L) -1.0
        else minOf2 { rawPairs = FuzzyJoin.ed1Pairs(c, "id", "s").count() }
      Seq(Seq("n" -> n, "distinct_strs" -> distinctStrs,
        "collapsed_sec" -> collapsedSec, "pairs" -> pairs,
        "raw_sec" -> rawSec, "raw_pairs" -> rawPairs))
    })
}
