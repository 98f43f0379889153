package graft

import graft.ext.SpanDedup
import org.apache.spark.sql.Row

/** Unit contract for the ExactSubstr rewrite ([[graft.ext.SpanDedup]]):
  * overlapping duplicated grams union into one covered span, the df
  * threshold counts DISTINCT documents (within-doc repetition alone
  * never triggers removal), sub-k docs and unique docs pass through
  * untouched, and the result is repartition-stable. */
class SpanDedupSpec extends SparkSpec {

  private def run(rows: Seq[(Long, String)], minDocs: Int = 2) = {
    import spark.implicits._
    val out = SpanDedup.removeDuplicatedSpans(
      rows.toDF("doc_id", "text"), "doc_id", "text",
      minDocs = minDocs)
      .orderBy("doc_id").collect()
    Caching.release()
    out
  }

  test("overlapping duplicated grams union into one covered span") {
    val out = run(Seq(
      1L -> "a b c d e f",   // grams "a b c"@0, "b c d"@1 shared with doc 2
      2L -> "z a b c d y",   // → union covers tokens 0-3 / 1-4
      3L -> "only unique words here"))
    assert(out(0) === Row(1L, 6L, 4L, "e f"))
    assert(out(1) === Row(2L, 6L, 4L, "z y"))
    assert(out(2) === Row(3L, 4L, 0L, "only unique words here"))
  }

  test("df threshold counts DISTINCT docs — within-doc repeats survive") {
    // "p q r" occurs twice in doc 1 but in no other doc → kept
    val out = run(Seq(1L -> "p q r s p q r", 2L -> "r q p s"))
    assert(out(0) === Row(1L, 7L, 0L, "p q r s p q r"))
    assert(out(1) === Row(2L, 4L, 0L, "r q p s"))
  }

  test("minDocs raises the bar") {
    val docs = Seq(1L -> "a b c d", 2L -> "a b c e", 3L -> "x y z w")
    assert(run(docs, minDocs = 2).map(_.getString(3)).toSeq ===
      Seq("d", "e", "x y z w"))
    // only 2 docs share "a b c" → minDocs=3 removes nothing
    assert(run(docs, minDocs = 3).map(_.getString(3)).toSeq ===
      Seq("a b c d", "a b c e", "x y z w"))
  }

  test("sub-k, empty, and null docs pass through") {
    val out = run(Seq(1L -> "a b", 2L -> "", 3L -> null,
      4L -> "a b c q", 5L -> "p a b c"))
    assert(out(0) === Row(1L, 2L, 0L, "a b"))
    // "" and null both tokenize to [""] — 1 token, no grams, untouched
    assert(out(1) === Row(2L, 1L, 0L, ""))
    assert(out(2) === Row(3L, 1L, 0L, ""))
    // docs 4/5 share "a b c" → removed from BOTH (no keeper, unlike
    // LineDedup's keep-first)
    assert(out(3) === Row(4L, 4L, 3L, "q"))
    assert(out(4) === Row(5L, 4L, 3L, "p"))
  }

  test("leading/trailing whitespace does not shift covered positions") {
    // advisor r22 probe: the shingle positions come from the native
    // extractor (SimHash60.tokenRanges) and the rewrite tokens from
    // words() = split("\\s+") — these MUST index the same token list
    // or covered positions land on the wrong tokens. tokenRanges is
    // the byte twin of split("\\s+", -1) INCLUDING the boundary empty
    // tokens (leading ws → ""@0, trailing ws → ""@n-1), so doc 1's
    // tokens are ["", a, b, c, d] and the shared gram "a b c" sits at
    // position 1 in BOTH coordinate systems: exactly a/b/c are removed
    // (the "" survivor makes clean_text " d", the same split artifact
    // the DuckDB oracle produces).
    val out = run(Seq(
      1L -> "  a b c d",     // leading whitespace
      2L -> "a b c x",
      3L -> "y a b c \t "))  // trailing whitespace
    assert(out(0) === Row(1L, 5L, 3L, " d"))
    assert(out(1) === Row(2L, 4L, 3L, "x"))
    assert(out(2) === Row(3L, 5L, 3L, "y "))
  }

  test("persistOcc=false (recompute-per-branch) is result-identical") {
    import spark.implicits._
    val rows = (0L until 100L).map(i =>
      i -> s"open${i % 5} gram${i % 5} run${i % 5} u${i}a u${i}b")
    val cached = SpanDedup.removeDuplicatedSpans(
      rows.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    Caching.release()
    assert(Caching.trackedCount === 0)
    val plain = SpanDedup.removeDuplicatedSpans(
      rows.toDF("doc_id", "text"), "doc_id", "text",
      persistOcc = false)
      .orderBy("doc_id").collect()
    // the no-cache form must not register anything to release
    assert(Caching.trackedCount === 0)
    assert(cached === plain)
  }

  test("repartition-stable") {
    import spark.implicits._
    val rows = (0L until 200L).map(i =>
      i -> (s"open${i % 7} gram${i % 7} run${i % 7} " +
        s"u${i}a u${i}b u${i}c"))
    val a = SpanDedup.removeDuplicatedSpans(
      rows.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    Caching.release()
    val b = SpanDedup.removeDuplicatedSpans(
      rows.toDF("doc_id", "text").repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect()
    Caching.release()
    assert(a === b)
    // every doc's 3-word opening run is shared by ~200/7 docs → covered
    assert(a.forall(_.getLong(2) == 3L))
  }
}
