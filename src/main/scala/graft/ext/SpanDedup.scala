package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact duplicated-span removal — the REWRITE form of the
  * duplicate-n-gram analysis (Lee et al., "Deduplicating Training Data
  * Makes Language Models Better", ACL'22, "ExactSubstr"; applied at
  * shingle granularity). Document-level dedup (q23/q24) drops whole
  * near-copies; this removes the boilerplate SPAN from every page that
  * carries it and keeps the rest — the RefinedWeb/FineWeb prepare step
  * between line-dedup ([[LineDedup]], fixed 5-word lines, keep-first)
  * and doc-dedup. Unlike LineDedup it deletes EVERY occurrence of a
  * duplicated gram (no keeper), and the covered region is the union of
  * overlapping gram intervals, not a fixed chunking.
  *
  * Algorithm: k-gram occurrences with positions → grams occurring in
  * ≥ `minDocs` distinct docs → each such occurrence covers token
  * positions [pos, pos+k) → covered tokens deleted, survivors
  * reassembled in order.
  *
  * Scale shape (the 100 TB argument):
  *   - the occurrence frame shuffles once per derived agg, all keyed by
  *     gram or doc — NOTHING pairs documents and no corpus-wide window
  *     exists (the only Window is the shingle build's per-doc lead);
  *   - the offset explode is dup-occurrences × k — bounded by dup
  *     density, never corpus-tokens × k;
  *   - covered positions collapse map-side in a per-doc collect_set
  *     (partial aggregation dedups before the exchange), and the set is
  *     bounded by the doc's own token count;
  *   - the rewrite itself is a map-side higher-order array filter
  *     against the broadcast-or-joined covered set — per-row work,
  *     no shuffle of its own.
  */
object SpanDedup {

  /** Rewrite `textCol`: delete every token covered by a k-gram
    * (k = [[TextOps.ShingleK]]) that occurs in at least `minDocs`
    * distinct documents. Returns (idCol, n_tokens, n_removed, clean_text).
    *
    * `persistOcc` caches the occurrence frame via [[graft.Caching]]
    * (it feeds two plan branches; callers release after their terminal
    * action). That is the right default up to the memory the cache can
    * actually get — but the occurrence frame is corpus-token-SIZED, and
    * a MEMORY_AND_DISK cache of it competes with the aggregations for
    * unified memory (measured: the 10 M-doc / 280 M-occurrence leg of
    * `ScaleBench span` dies with UNABLE_TO_ACQUIRE_MEMORY in an 8 GB JVM
    * with the cache on, and completes with it off — SCALE.md round 16).
    * At 100 TB a corpus-sized intermediate is never RAM-cached:
    * `persistOcc = false` recomputes the shingle pass per branch (one
    * extra scan+window of pure map work), trading CPU nobody is short
    * of for the memory headroom the wide stages need. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            minDocs: Int = 2,
                            persistOcc: Boolean = true): DataFrame = {
    val id = col(idCol)
    val safeText = coalesce(col(textCol), lit(""))
    val occRaw = TextOps.shingleRowsPos(
      df.select(id, safeText.as("__t")), idCol, "__t")
    val occ = if (persistOcc) graft.Caching.persisted(occRaw) else occRaw
    val dup = occ.select(col("shingle"), id).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") >= minDocs)
      .select(col("shingle"))
    // left_semi keeps only duplicated-gram occurrences; the offset
    // explode lands directly in the partial collect_set (no distinct
    // exchange — the set dedups map-side)
    val covered = occ.join(dup, Seq("shingle"), "left_semi")
      .select(id, explode(sequence(col("pos"), col("pos") + lit(TextOps.ShingleK - 1)))
        .as("__p"))
      .groupBy(id).agg(collect_set(col("__p")).as("__cov"))
    // The rewrite tokens sit in the same coordinate system as the
    // shingle positions for ANY text: the native extractor's tokenizer
    // (SimHash60.tokenRanges) is the byte-level twin of
    // split("\\s+", -1) INCLUDING the boundary empty tokens it emits
    // for leading/trailing whitespace, so words() here indexes the
    // identical token list (pinned on boundary-whitespace docs in
    // SpanDedupSpec and by the native-vs-windowed parity in
    // TextOpsSpec).
    df.select(id, TextOps.words(safeText).as("__w"))
      .join(covered, Seq(idCol), "left")
      .select(id,
        size(col("__w")).cast("long").as("n_tokens"),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"),
        concat_ws(" ", filter(col("__w"), (_, i) =>
          !coalesce(array_contains(col("__cov"), i), lit(false))))
          .as("clean_text"))
  }
}
