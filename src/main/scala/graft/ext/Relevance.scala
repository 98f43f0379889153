package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-statistics relevance and language-model scoring over a
  * document table — the ranking / quality-scoring side of a
  * training-data pipeline (keyword extraction for curriculum tagging,
  * BM25 retrieval for seed-set expansion, unigram log-likelihood as a
  * cheap perplexity proxy for quality filtering).
  *
  * All three operators share one scale shape: tokenize once
  * (whitespace, [[TextOps.words]]), aggregate per (doc, term) with
  * map-side partial combine, derive the corpus statistics (document
  * frequency / term probability) as a second map-side-combinable
  * aggregate of the FIRST one's output (never a rescan of the text),
  * and join them back on the term key. Corpus-level scalars (document
  * count, average length, total tokens) ride along as broadcast
  * one-row frames — never a driver-side collect inside the plan.
  */
object Relevance {

  /** (id, term, tf) — whitespace term frequencies, one row per
    * distinct term per document. One shuffle on (id, term). */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(TextOps.words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-k terms per document by smoothed TF-IDF
    * (`tf · (ln((N+1)/(df+1)) + 1)`, the sklearn `smooth_idf` form —
    * never negative, never divides by zero). Ties break toward the
    * lexicographically smaller term. Output: (id, term, rank, tfidf).
    *
    * The doc-frequency frame derives from the tf frame (one extra
    * map-side-combinable agg), and N joins in as a broadcast one-row
    * count. Ranking is [[TextOps.topKPerGroup]] with the term as a
    * string id (the bounded-buffer top-k aggregate; register via
    * [[graft.plans.GraftExtensions]]) — the row_number
    * window form it replaces re-shuffles and SORTS every scored
    * (doc, term) row, while the aggregate's map-side partial keeps at
    * most k rows per document per task before the exchange.
    * Row-identical to the window (ties break toward the
    * lexicographically smaller term; parity spec-tested). */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(df, "term")
      .join(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (log((col("__n") + 1).cast("double") / (col("df") + 1)) + 1))
    TextOps.topKPerGroup(scored, Seq(idCol), col("tfidf"), col("term"), k)
      .select(col(idCol), col("id").as("term"), col("rank"),
        col("score").as("tfidf"))
  }

  /** Okapi BM25 retrieval score of every document containing at least
    * one query term, for a single bag-of-words query. Output:
    * (id, n_hit_terms, score) — `score = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl))` with the standard
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Scale shape: the query is a small fixed bag of words, so the
    * per-term frequencies become ONE conditional-count column each in
    * a single per-document aggregate — one tokenize, one explode, one
    * doc-keyed shuffle whose map-side partial combine reduces traffic
    * to ≤ one row per doc per task. `N`, `avgdl` and every query
    * term's document frequency come from a single one-row aggregate
    * of that frame, broadcast; scoring is then a pure map-side
    * projection. No joins wider than the one-row broadcast, no
    * persist, no doc×term frame anywhere. Follows the standard BM25
    * convention: N = corpus document count, a null-text document has
    * dl = 0. The per-term-column layout assumes a retrieval-sized
    * query (tens of terms, not thousands). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query term")
    val terms = query.distinct
    val ix = terms.indices
    // per-doc: dl + one tf column per query term, all in one aggregate
    // (explode_outer keeps empty/null-text docs: dl = 0, part of N)
    val tfCols = terms.zip(ix).map { case (t, i) =>
      count(when(col("__tok") === t, 1)).cast("double").as(s"__tf$i") }
    val perDoc = docs
      .select(col(idCol), explode_outer(TextOps.words(col(textCol))).as("__tok"))
      .groupBy(col(idCol))
      .agg(count(col("__tok")).cast("double").as("dl"), tfCols: _*)
    // one-row corpus stats: N, avgdl, df per query term — broadcast
    val dfCols = avg(col("dl")).as("__avgdl") +:
      ix.map(i => sum(when(col(s"__tf$i") > 0, 1)).cast("double").as(s"__df$i"))
    val stats = perDoc.agg(count(lit(1)).cast("double").as("__n"), dfCols: _*)
    val contrib = ix.map { i =>
      val tf = col(s"__tf$i")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + 0.5) / (col(s"__df$i") + 0.5))
      when(tf > 0, idf * tf * (k1 + 1) /
        (tf + lit(k1) * (col("dl") / col("__avgdl") * b + (1 - b))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    val nHit = ix.map(i => when(col(s"__tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    perDoc.join(broadcast(stats))
      .filter(ix.map(i => col(s"__tf$i") > 0).reduce(_ || _))
      .select(col(idCol), nHit.as("n_hit_terms"), contrib.as("score"))
  }

  /** Unigram language-model negative log-likelihood per document — the
    * cheap perplexity proxy of a quality filter: documents of common
    * words score low, rare-token noise scores high. `p(t)` is the
    * term's corpus frequency over total corpus tokens (no smoothing
    * needed: every scored token occurs in the corpus by construction).
    * Output: (id, n_tokens, nll) with nll = mean over the document's
    * TOKENS (not distinct terms) of −log2 p(t).
    *
    * The corpus model (term → count) derives from the tf frame; total
    * tokens is a broadcast one-row sum. One term-keyed join, one
    * per-doc aggregate. */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val model = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val total = model.agg(sum(col("ctf")).cast("double").as("__tot"))
    tf.join(model, "term")
      .join(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf") * -log(col("ctf") / col("__tot"))) / log(lit(2.0)) /
          sum(col("tf"))).as("nll"))
  }

  /** Multinomial Naive-Bayes log-odds quality scorer — the classic
    * "quality classifier" of a pretraining pipeline (CCNet / GPT-3
    * style: label a reference slice positive, the raw pool negative,
    * keep documents the classifier scores reference-like), trained and
    * applied in ONE plan with no driver-side model materialization.
    *
    * `isPositive` is any boolean Column over `docs` (the pseudo-label:
    * a trusted source, a language, a hand-curated flag). Per term,
    * add-one-smoothed class-conditional log-likelihood ratio
    * `llr(t) = ln((c_pos+1)/(T_pos+V)) − ln((c_neg+1)/(T_neg+V))`;
    * per document, `log_odds = ln(N_pos/N_neg) + Σ_tokens llr(t)`
    * (multinomial NB with token multiplicity). Output: (id,
    * `n_tokens`, `log_odds`, `pred_positive`), where the RETURNED
    * `log_odds` is rounded to 6dp and `pred_positive = log_odds > 0`
    * over that SAME rounded value — the raw sum is a partition-order-
    * dependent double, so a document landing within float-summation
    * wobble of 0 could flip the boolean across engines or cluster
    * partitionings; rounding first pins the decision, and emitting the
    * rounded value keeps the returned column consistent with the
    * boolean (no observable pred_positive=false with log_odds > 0).
    * Only documents with ≥1 token appear (same contract as
    * [[unigramNll]]).
    *
    * Scale shape (the 100 TB path): the per-term class-count model
    * derives from the tf frame (one extra map-side-combinable agg —
    * never a text rescan); the four corpus scalars (T_pos, T_neg, V,
    * prior) ride along as broadcast one-row frames; scoring is one
    * term-keyed join of tf against the model plus one doc-keyed
    * aggregate with map-side partial combine — exactly the
    * [[unigramNll]] plan with a two-class model. Nothing is collected
    * to the driver and no corpus-sized frame is persisted. */
  def nbLogOdds(docs: DataFrame, idCol: String, textCol: String,
                isPositive: Column): DataFrame = {
    val tok = docs.select(col(idCol), isPositive.as("__pos"),
      explode(TextOps.words(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("__pos"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val model = tf.groupBy(col("term")).agg(
      sum(when(col("__pos"), col("tf")).otherwise(lit(0L))).as("__cpos"),
      sum(when(col("__pos"), lit(0L)).otherwise(col("tf"))).as("__cneg"))
    val totals = model.agg(
      sum(col("__cpos")).cast("double").as("__tpos"),
      sum(col("__cneg")).cast("double").as("__tneg"),
      count(lit(1)).cast("double").as("__v"))
    val prior = docs.agg(
      log(sum(when(isPositive, 1L).otherwise(0L)).cast("double") /
        sum(when(isPositive, 0L).otherwise(1L)).cast("double")).as("__prior"))
    val llr = log((col("__cpos") + 1) / (col("__tpos") + col("__v"))) -
      log((col("__cneg") + 1) / (col("__tneg") + col("__v")))
    tf.join(model, "term")
      .join(broadcast(totals))
      .join(broadcast(prior))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        round(first(col("__prior")) + sum(col("tf") * llr), 6).as("log_odds"))
      .withColumn("pred_positive", col("log_odds") > 0)
  }
}
