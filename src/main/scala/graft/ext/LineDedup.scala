package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-wide line-level deduplication (the RefinedWeb / FineWeb
  * prepare step): split every document into fixed-width word chunks
  * ("lines"), keep only each distinct line's FIRST occurrence in the
  * whole corpus — ordered by (doc_id, position) — and reassemble each
  * document from its surviving lines. Removes boilerplate (headers,
  * navigation, license blocks) that exact whole-doc dedup (q23) and
  * near-dup pair detection (q24) both leave inside otherwise-unique
  * documents.
  *
  * Scale design (the reason this is NOT the row_number-window form):
  *   - first-occurrence selection is `groupBy(line_hash).agg(min(
  *     struct(doc_id, pos, line)))` — a map-side-combinable aggregate,
  *     so a boilerplate line repeated 10^9 times collapses to one row
  *     per map task BEFORE the exchange. (Measured, round 16: a
  *     `row_number() OVER (PARTITION BY hash)` + `rn = 1` filter is
  *     rescued by Spark 4's InferWindowGroupLimit rewrite and performs
  *     the same — but only while that optimizer pattern-match fires;
  *     with the rule excluded the hot key sorts in ONE task and the
  *     penalty grows superlinearly. The struct-min's skew-safety is
  *     the aggregate's own algebraic property, so it is the shape we
  *     keep. `ScaleBench skew` / SCALE.md round 16.)
  *   - per-document totals (`n_lines`) are computed from the text in
  *     the same per-row map that chunks it — dropped counts need no
  *     second pass over occurrences.
  *   - reassembly groups ONLY the kept lines (≤ one per distinct line
  *     in the corpus) by doc, then joins doc-keyed back to the totals;
  *     the join reuses the reassembly aggregation's partitioning.
  *
  * Reference framing: the reference has whole-series dedup only
  * (nilmtk/utils.py:47 `drop_duplicates` analogue, SURVEY §2 P11);
  * line-level corpus dedup is part of the LLM-pipeline extension
  * surface (builder brief).
  */
object LineDedup {

  /** `text` split into consecutive `chunkWords`-word lines (the last
    * line may be shorter). Pure per-row map work. */
  def lines(text: Column, chunkWords: Int): Column = {
    require(chunkWords >= 1, s"chunkWords=$chunkWords must be >= 1")
    val words = split(text, " ")
    val n = ceil(size(words) / lit(chunkWords.toDouble)).cast("long")
    transform(sequence(lit(0L), n - 1), i =>
      array_join(slice(words, (i * chunkWords + 1).cast("int"), lit(chunkWords)), " "))
  }

  /** Corpus-wide keep-first line dedup. Returns one row per input
    * document: `idCol`, `clean_text` (surviving lines rejoined in
    * original order; "" when every line was a duplicate), `n_kept`,
    * `n_dropped`. First occurrence = the corpus-wide minimum
    * (doc_id, pos) per distinct line — deterministic, repartition- and
    * retry-stable (no dependence on arrival order). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int = 5): DataFrame = {
    val id = col(idCol)
    val perDoc = docs.select(
      id, lines(col(textCol), chunkWords).as("__lines"))
    val occ = perDoc.select(
      id, posexplode(col("__lines")).as(Seq("__pos", "__line")))
    // map-side-combinable first-occurrence: one surviving row per
    // distinct line, chosen by lexicographic (doc_id, pos) struct min.
    // Grouped by the LINE itself (r21): the previous md5(__line) key
    // computed a hash per occurrence and then shuffled the line AGAIN
    // inside the min-struct payload — keying on the line drops the md5
    // pass, narrows the shuffled row (key + (doc_id, pos), the line no
    // longer rides twice), and removes the 128-bit-collision caveat
    // outright. Identical groups, identical survivors.
    val kept = occ
      .groupBy(col("__line"))
      .agg(min(struct(id, col("__pos"))).as("__first"))
      .select(col("__first.*"), col("__line"))
    val reassembled = kept
      .groupBy(id)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          e => e.getField("__line"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    perDoc.select(id, size(col("__lines")).cast("long").as("__total"))
      .join(reassembled, Seq(idCol), "left")
      .select(
        id,
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
