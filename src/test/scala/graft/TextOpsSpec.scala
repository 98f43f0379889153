package graft

import graft.ext.{TextOps, TextStats}
import org.apache.spark.sql.functions._

/** LLM-pipeline primitives: shingles, hashes, similarity, text stats. */
class TextOpsSpec extends SparkSpec {

  import spark.implicits._

  test("shingles: fewer than k words → empty set; duplicates deduped") {
    val out = Seq("a b", "a b c d", "x y x y x y")
      .toDF("t")
      .select(TextOps.shingles(TextOps.words($"t")).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(out(0) == Seq.empty)
    assert(out(1) == Seq("a b c", "b c d"))
    assert(out(2) == Seq("x y x", "y x y")) // 4 raw grams, 2 distinct
  }

  test("shingleRows matches the expression form on every doc") {
    val df = Seq((1L, "a b"), (2L, "a b c d"), (3L, "x y x y x y"),
        (4L, "one two three"))
      .toDF("doc_id", "text")
    val viaExpr = df
      .select($"doc_id", explode(TextOps.shingles(TextOps.words($"text"))).as("shingle"))
      .as[(Long, String)].collect().toSet
    val viaRows = TextOps.shingleRows(df, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(viaRows == viaExpr)
    // doc 1 (< k words) absent from both
    assert(!viaRows.exists(_._1 == 1L))
  }

  test("shingleRowsPos: every position, occurrence-level, 0-based") {
    val df = Seq((1L, "a b"), (2L, "a b c d"), (3L, "x y x y x y"))
      .toDF("doc_id", "text")
    val got = TextOps.shingleRowsPos(df, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(got == Set(
      (2L, 0, "a b c"), (2L, 1, "b c d"),
      // repeated grams are NOT deduped — one row per position
      (3L, 0, "x y x"), (3L, 1, "y x y"), (3L, 2, "x y x"),
      (3L, 3, "y x y")))
    // distinct projection equals shingleRows
    val viaDistinct = TextOps.shingleRowsPos(df, "doc_id", "text")
      .select($"doc_id", $"shingle").distinct()
      .as[(Long, String)].collect().toSet
    val viaRows = TextOps.shingleRows(df, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(viaDistinct == viaRows)
  }

  test("native shingle builders match the windowed form (r21 parity pin)") {
    // shingleRows/shingleRowsPos moved from the posexplode + per-doc
    // lead()-window shape to map-only native extractors; this pins
    // row-identity against the retained general-k windowed reference
    // over the edge shapes: < k words, exactly k, duplicate grams,
    // multi-space runs, unicode, empty text, and — advisor r22 probe —
    // leading/trailing whitespace: split("\\s+") emits boundary empty
    // tokens there and the native tokenizer (SimHash60.tokenRanges)
    // deliberately emits the SAME boundary empties, so grams and
    // positions agree for any text, not just trimmed text
    val df = Seq((1L, "a b"), (2L, "a b c"), (3L, "x y x y x y"),
        (4L, "one  two   three four"), (5L, ""), (6L, "καλημέρα κόσμε γεια σου"),
        (7L, "  lead pad a b c"), (8L, "trail pad x y z \t "),
        (9L, " \n both ends padded \t"))
      .toDF("doc_id", "text")
    val winPos = TextOps.shingleRowsWindowed(df, "doc_id", "text",
      TextOps.ShingleK).as[(Long, Int, String)].collect().toSet
    val natPos = TextOps.shingleRowsPos(df, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(natPos == winPos, s"occurrence drift: ${natPos.diff(winPos)} / ${winPos.diff(natPos)}")
    val winDistinct = TextOps.shingleRowsWindowed(df, "doc_id", "text",
        TextOps.ShingleK).select($"doc_id", $"shingle").distinct()
      .as[(Long, String)].collect().toSet
    val natDistinct = TextOps.shingleRows(df, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(natDistinct == winDistinct)
  }

  test("hash28/hash60 produce bounded non-negative longs") {
    val (h28, h60) = Seq("hello", "", "καλημέρα")
      .toDF("t")
      .select(TextOps.hash28($"t"), TextOps.hash60($"t"))
      .as[(Long, Long)].collect().toSeq
      .unzip
    assert(h28.forall(h => h >= 0 && h < (1L << 28)))
    assert(h60.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("minhash signatures agree only on equal shingle sets") {
    val df = Seq("the quick brown fox jumps", "the quick brown fox jumps",
        "a completely different doc here")
      .toDF("t")
      .select(TextOps.shingles(TextOps.words($"t")).as("sh"))
      .withColumn("ids", transform($"sh", TextOps.hash28 _))
    val rows = df.select(TextOps.signatureCols($"ids"): _*).collect()
    assert(rows(0).toSeq == rows(1).toSeq)
    assert(rows(0).toSeq != rows(2).toSeq)
  }

  test("native graft_dot equals the higher-order-function formulation") {
    val df = Seq(
        (Seq(0.1, -2.5, 3.75, 1e-3), Seq(4.0, 0.25, -1.5, 2.0)),
        (Seq(1.0), Seq(1.0)))
      .toDF("a", "b")
    val rows = df.select(TextOps.dot($"a", $"b").as("native"),
        TextOps.dotHof($"a", $"b").as("hof"))
      .as[(Double, Double)].collect()
    // identical left-to-right accumulation → bit-identical doubles
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("native graft_fingerprint equals the HOF formulation") {
    val df = Seq("hello world", "", "a", "Zürich straße", "same same same")
      .toDF("t")
    val rows = df.select(
        TextOps.rollingFingerprint($"t").as("native"),
        TextOps.rollingFingerprintHof($"t").as("hof"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n == h) }
    // order sensitivity: permuted text → different fingerprint
    val fp = Seq("ab", "ba").toDF("t")
      .select(TextOps.rollingFingerprint($"t")).as[Long].collect()
    assert(fp(0) != fp(1))
  }

  test("topKPerGroup equals the row_number window formulation (with ties)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(9)
    // scores drawn from a SMALL discrete set so equal-score ties are
    // guaranteed and the id tiebreak is actually exercised
    val rows = for (g <- 0 until 6; i <- 0 until 40)
      yield (g.toLong, (g * 1000 + i).toLong, (rnd.nextInt(8) / 10.0))
    val df = rows.toDF("grp", "id", "score")
    for (k <- Seq(1, 3, 7)) {
      val viaAgg = TextOps.topKPerGroup(df, Seq("grp"), $"score", $"id", k)
        .select($"grp", $"id", $"rank", $"score")
        .as[(Long, Long, Long, Double)].collect().toSet
      val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id")
      val viaWindow = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"grp", $"id", $"rank", $"score")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(viaAgg == viaWindow, s"k=$k")
    }
    // k larger than the group: every row ranked, no padding
    val all = TextOps.topKPerGroup(df.filter($"grp" === 0), Seq("grp"),
        $"score", $"id", 1000)
      .count()
    assert(all == 40)
  }

  test("topKPerGroup with string id equals the row_number window formulation (with ties)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(21)
    // small score set guarantees equal-score ties → the string tiebreak
    // (UTF8String binary order = Spark's string orderBy) is exercised
    val rows = for (g <- 0 until 6; i <- 0 until 40)
      yield (g.toLong, s"t${rnd.nextInt(999)}_$i", (rnd.nextInt(8) / 10.0))
    val df = rows.toDF("grp", "term", "score")
    for (k <- Seq(1, 3, 7)) {
      val viaAgg = TextOps.topKPerGroup(df, Seq("grp"), $"score", $"term", k)
        .select($"grp", $"id".as("term"), $"rank", $"score")
        .as[(Long, String, Long, Double)].collect().toSet
      val w = Window.partitionBy($"grp").orderBy($"score".desc, $"term")
      val viaWindow = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"grp", $"term", $"rank", $"score")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(viaAgg == viaWindow, s"k=$k")
    }
  }

  test("topKPerGroup: all-equal scores rank purely by id, incl. skewed groups") {
    // adversarial tie case (round-7 verdict #7): every score equal, so
    // the ENTIRE ranking is the id tiebreak, across partial-aggregate
    // merges; one group is 25x the others to exercise skewed partials
    import org.apache.spark.sql.expressions.Window
    val rows = (0L until 4L).flatMap { g =>
      val n = if (g == 0) 500 else 20
      // ids inserted in a scrambled order so heap eviction order != id order
      (0 until n).map(i => (g, ((i * 37) % n).toLong, 1.0))
    }
    val df = rows.toDF("grp", "id", "score").repartition(7)
    for (k <- Seq(1, 5, 20, 500)) {
      val viaAgg = TextOps.topKPerGroup(df, Seq("grp"), $"score", $"id", k)
        .select($"grp", $"id", $"rank")
        .as[(Long, Long, Long)].collect().toSet
      val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id")
      val viaWindow = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"grp", $"id", $"rank")
        .as[(Long, Long, Long)].collect().toSet
      assert(viaAgg == viaWindow, s"k=$k")
    }
  }

  test("graft_topk rejects malformed k and a non-bigint/string id at analysis") {
    // round-7 advice: a foldable NON-numeric or null k must surface as
    // an AnalysisException (TypeCheckFailure), not a ClassCastException
    // or NPE thrown from inside the analyzer — for both id types
    val df = Seq((1.0, 1L, "a")).toDF("score", "id", "term")
    def analyzed(c: org.apache.spark.sql.Column): Unit =
      df.groupBy().agg(c).queryExecution.analyzed
    for (id <- Seq($"id", $"term")) {
      for (bad <- Seq(lit("3"), lit(1.5), lit(null),
          lit(null).cast("int"), lit(0), lit(-2))) {
        intercept[org.apache.spark.sql.AnalysisException] {
          analyzed(call_function("graft_topk", $"score", id, bad))
        }
      }
      // bigint k is fine (column-literal promotion)...
      analyzed(call_function("graft_topk", $"score", id, lit(3L)))
      // ...but a bigint PAST Int range must fail analysis, not silently
      // truncate through Number.intValue() (4294967301L → k=5)
      // (round-8 advice)
      for (big <- Seq(lit(4294967301L), lit(Long.MaxValue))) {
        intercept[org.apache.spark.sql.AnalysisException] {
          analyzed(call_function("graft_topk", $"score", id, big))
        }
      }
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      analyzed(call_function("graft_topk", $"score", $"score", lit(3)))
    }
  }


  test("dot / l2norm / cosine basics") {
    val out = Seq((Seq(1.0, 2.0, 2.0), Seq(1.0, 2.0, 2.0)),
        (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)))
      .toDF("a", "b")
      .select(TextOps.dot($"a", $"b"), TextOps.l2norm($"a"),
        TextOps.cosine($"a", $"b", TextOps.l2norm($"a"), TextOps.l2norm($"b")))
      .as[(Double, Double, Double)].collect().toSeq
    assert(out(0) == ((9.0, 3.0, 1.0)))
    assert(out(1)._1 == 0.0 && out(1)._3 == 0.0)
  }

  test("withLshBucket equals the per-row lshBucket HOF bit-for-bit") {
    // deterministic pseudo-embeddings spanning several buckets
    val rnd = new scala.util.Random(123)
    val df = (0 until 40).map(i =>
        (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "emb")
    val viaHof = df.select($"vec_id", TextOps.lshBucket($"emb").as("bucket"))
      .as[(Long, String)].collect().toMap
    val viaJoin = TextOps.withLshBucket(df, "vec_id", "emb")
      .select($"vec_id", $"bucket")
      .as[(Long, String)].collect().toMap
    assert(viaJoin == viaHof)
    assert(viaHof.values.toSet.size > 1) // fixture actually spans buckets

    // the plane-count knob (the 100 TB bucket-granularity lever):
    // parity must hold at a non-default count too, the first 4 bits
    // must be the default bucket (planes share the md5 seed by index),
    // and 8 planes must split buckets strictly finer than 4
    val viaHof8 = df.select($"vec_id",
        TextOps.lshBucket($"emb", planes = 8).as("bucket"))
      .as[(Long, String)].collect().toMap
    val viaJoin8 = TextOps.withLshBucket(df, "vec_id", "emb", planes = 8)
      .select($"vec_id", $"bucket")
      .as[(Long, String)].collect().toMap
    assert(viaJoin8 == viaHof8)
    assert(viaHof8.forall { case (id, b) =>
      b.length == 8 && b.take(4) == viaHof(id) })
    assert(viaHof8.values.toSet.size > viaHof.values.toSet.size)
    // probe list length follows the plane count
    val p8 = Seq("01101100").toDF("b")
      .select(TextOps.lshProbeBuckets($"b", planes = 8).as("p"))
      .as[Seq[String]].head()
    assert(p8.size == 9 && p8.distinct.size == 9 && p8.head == "01101100")
  }

  test("withLshBucketTables: independent per-table seeds, JVM-golden parity") {
    val rnd = new scala.util.Random(321)
    val df = (0 until 40).map(i =>
        (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "emb")
    val out = TextOps.withLshBucketTables(df, "vec_id", "emb", tables = 3)
      .select($"vec_id", $"buckets")
      .as[(Long, Seq[String])].collect().toMap
    // shape: 3 keys per row, "t:" prefix + 4 bits each
    assert(out.values.forall(bs => bs.size == 3 &&
      bs.zipWithIndex.forall { case (b, t) =>
        b.startsWith(s"$t:") && b.length == 2 + 4 }))

    // golden parity: recompute every sign bit in plain JVM md5 — a
    // seed-string or sign-arithmetic drift in the Spark side (or the
    // oracle, which uses the same strings) fails here
    val embs = df.as[(Long, Seq[Double])].collect().toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(seed: String, i: Int): Int = {
      val hex = md.digest(s"$seed$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (Integer.parseInt(hex.take(1), 16) & 1) * 2 - 1
    }
    for ((id, emb) <- embs; t <- 0 until 3) {
      val bits = (0 until 4).map { j =>
        val proj = emb.zipWithIndex
          .map { case (v, i) => v * sign(s"plane_t${t}_${j}_", i + 1) }.sum
        if (proj > 0) "1" else "0"
      }.mkString
      assert(out(id)(t) == s"$t:$bits", s"vec $id table $t")
    }

    // the tables are genuinely independent plane sets: bit patterns
    // disagree across tables for at least one row (probability of this
    // failing for 40 rows × 3 independent tables is ~2^-200)
    assert(out.values.exists(bs => bs.map(_.drop(2)).toSet.size > 1))
  }

  test("lshProbeTablesByMargin composes the per-table margin probes") {
    val rnd = new scala.util.Random(99)
    val df = (0 until 25).map(i =>
        (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "emb")
    val et = TextOps.withLshBucketTables(df, "vec_id", "emb", tables = 2,
      marginsCol = Some("tm"))
    val probed = et.select($"vec_id",
        TextOps.lshProbeTablesByMargin($"buckets", $"tm", probes = 2).as("p"),
        $"buckets", $"tm")
      .as[(Long, Seq[String], Seq[String], Seq[Seq[Double]])]
      .collect()
    for ((id, p, buckets, margins) <- probed) {
      // L × (T+1) keys: per table its own bucket first, then 2 flips
      assert(p.size == 6, s"vec $id: $p")
      for (t <- 0 until 2) {
        val chunk = p.slice(3 * t, 3 * t + 3)
        assert(chunk.head == buckets(t))
        assert(chunk.forall(_.startsWith(s"$t:")))
        // each flip is Hamming-1 from the table's own bucket, and the
        // flipped planes are exactly the 2 smallest-margin ones
        val bits = buckets(t).drop(2)
        val expectFlips = margins(t).zipWithIndex
          .sortBy { case (m, i) =>
            (BigDecimal(m).setScale(9, BigDecimal.RoundingMode.HALF_UP), i) }
          .take(2).map(_._2)
        val gotFlips = chunk.tail.map(_.drop(2)).map(fb =>
          fb.indices.filter(i => fb(i) != bits(i)))
        assert(gotFlips.forall(_.size == 1))
        assert(gotFlips.map(_.head) == expectFlips, s"vec $id table $t")
      }
    }
  }

  test("multi-table candidates are the union of the per-table joins") {
    val rnd = new scala.util.Random(77)
    val df = (0 until 60).map(i =>
        (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "emb")
    val e = TextOps.withLshBucketTables(df, "vec_id", "emb", tables = 2)
    val exploded = e.select($"vec_id", explode($"buckets").as("bucket"))
    val q = exploded.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"bucket".as("qbucket"))
    val pairs = exploded.join(q,
        $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct()
      .as[(Long, Long)].collect().toSet
    // per-table pair sets, computed independently from the same arrays
    def tablePairs(t: Int): Set[(Long, Long)] = {
      val one = e.select($"vec_id", element_at($"buckets", t + 1).as("b"))
      val qt = one.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"b".as("qb"))
      one.join(qt, $"b" === $"qb" && $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    }
    val union = tablePairs(0) ++ tablePairs(1)
    assert(pairs == union)
    // OR-construction genuinely adds candidates over either single table
    assert(union.size > tablePairs(0).size || union.size > tablePairs(1).size)
  }

  test("jaccardPairs (prefix filter) equals the naive inverted-index join") {
    // skewed fixture: a hot stopword run shared by every doc (so hot
    // shingles exist and the prefix must exclude them), plus rare tails;
    // docs 1/2 and 3/4 are near-dups, 5 is unrelated
    val hot = "the of and to in a is was"
    val df = Seq(
      (1L, s"$hot alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$hot alpha beta gamma delta epsilon zeta eta iota"),
      (3L, s"$hot red green blue cyan magenta yellow black white"),
      (4L, s"$hot red green blue cyan magenta yellow black grey"),
      (5L, "completely unrelated words nothing shared at all here now"),
      (6L, "tiny doc"), // < k words → no shingles
      (7L, s"$hot alpha beta gamma delta epsilon zeta eta theta")) // dup of 1
      .toDF("doc_id", "text")
    def naive(t: Double): Set[(Long, Long, Double)] = {
      val ex = TextOps.shingleRows(df, "doc_id", "text")
      val common = ex.as("a").join(ex.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("common"))
      val sz = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      common.join(sz.as("za"), $"a_id" === col("za.doc_id"))
        .join(sz.as("zb"), $"b_id" === col("zb.doc_id"))
        .withColumn("jac", $"common".cast("double") / (col("za.n") + col("zb.n") - $"common"))
        .filter($"jac" >= t)
        .select($"a_id", $"b_id", $"jac")
        .as[(Long, Long, Double)].collect().toSet
    }
    for ((tn, td) <- Seq((4, 5), (1, 2), (1, 4), (1, 1))) {
      val pref = TextOps.jaccardPairs(df, "doc_id", "text", tn, td)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == naive(tn.toDouble / td),
        s"mismatch at threshold $tn/$td")
      Caching.release()
    }
    // the exact duplicate pair must be found at every threshold
    assert(TextOps.jaccardPairs(df, "doc_id", "text", 1, 1)
      .as[(Long, Long, Double)].collect().toSet.contains((1L, 7L, 1.0)))
    Caching.release()
  }

  test("language ID picks the profile with most stopword hits") {
    val out = Seq("the cat sat on the mat and it is happy",
        "el gato es un animal y la casa es grande",
        "zzz qqq www")
      .toDF("t")
      .select(TextStats.predictLang(TextOps.words($"t")))
      .as[String].collect().toSeq
    assert(out == Seq("en", "es", "unk"))
  }

  test("jaccard prefix filter: hot boilerplate shingles stay sub-quadratic") {
    // Zipfian corpus: every doc opens with the same 6-word boilerplate
    // (its 4 shingles have df = |corpus| — the stopword-gram blowup that
    // makes a naive inverted-index join generate 4·C(D,2) candidates),
    // followed by 10 doc-unique words. Two extra docs are true near-dups
    // of each other (differ in the last word only → jaccard 13/15).
    def corpus(d: Int) = ((1 to d).map { i =>
      (i.toLong, "the quick brown fox jumps over " +
        (1 to 10).map(j => s"u${i}w$j").mkString(" "))
    } ++ Seq(
      (d + 1, "the quick brown fox jumps over " +
        (1 to 9).map(j => s"dup$j").mkString(" ") + " tail1"),
      (d + 2, "the quick brown fox jumps over " +
        (1 to 9).map(j => s"dup$j").mkString(" ") + " tail2"))
      .map { case (i, t) => (i.toLong, t) }).toDF("doc_id", "text")
    // candidate count must NOT grow with the hot shingles' frequency:
    // prefix length at t=4/5 over 14 shingles is 3, and the boilerplate
    // grams (highest df) sort LAST in the df-ASC order, so only the
    // near-dup pair — whose rare shingles collide — is ever generated
    val nCands = Seq(10, 40).map { d =>
      val sets = TextOps.shingleSets(corpus(d), "doc_id", "text")
      val c = TextOps.prefixCandidates(sets, "doc_id", 4, 5).count()
      Caching.release()
      c
    }
    assert(nCands == Seq(1L, 1L), s"candidates grew with df: $nCands")
    // and the filter is exact — the surviving pair is the true near-dup
    val pairs = TextOps.jaccardPairs(corpus(40), "doc_id", "text", 4, 5)
      .as[(Long, Long, Double)].collect().toSeq
    Caching.release()
    assert(pairs.map(p => (p._1, p._2)) == Seq((41L, 42L)))
    assert(math.abs(pairs.head._3 - 13.0 / 15) < 1e-12)
  }

  test("jaccard hot-shingle prune: candidates collapse, recall holds") {
    // SHORT docs defeat the pure prefix filter: 7 words -> 5 shingles,
    // prefix length at t=4/5 is 2, so each doc indexes its unique
    // shingle AND one df=D boilerplate shingle -> the D short docs all
    // collide there (C(D,2) candidates, all verify-rejected at
    // jaccard 4/6). Two longer docs are true near-dups via rare
    // shingles. The df ceiling must kill the hot collisions without
    // touching the true pair.
    val d = 40
    val docs = ((1 to d).map(i =>
      (i.toLong, s"the quick brown fox jumps over u$i")) ++ Seq(
      (d + 1L, "the quick brown fox jumps over " +
        (1 to 9).map(j => s"dup$j").mkString(" ") + " tail1"),
      (d + 2L, "the quick brown fox jumps over " +
        (1 to 9).map(j => s"dup$j").mkString(" ") + " tail2")))
      .toDF("doc_id", "text")
    def cands(ceil: Option[Long]) = {
      val c = TextOps.prefixCandidates(
        TextOps.shingleSets(docs, "doc_id", "text"), "doc_id", 4, 5, ceil)
        .count()
      Caching.release()
      c
    }
    val unpruned = cands(None)
    val pruned = cands(Some(10L))
    assert(unpruned >= d.toLong * (d - 1) / 2, s"fixture must blow up: $unpruned")
    assert(pruned < 5, s"ceiling must collapse hot collisions: $pruned")
    // recall at the tested threshold is unchanged: the one true pair
    // survives (its candidates come from rare shingles), and the
    // verified output is identical with and without the prune
    def result(ceil: Option[Long]) = {
      val r = TextOps.jaccardPairs(docs, "doc_id", "text", 4, 5,
        maxShingleDf = ceil).as[(Long, Long, Double)].collect().toSet
      Caching.release()
      r
    }
    val exact = result(None)
    assert(exact.map(p => (p._1, p._2)) == Set((41L, 42L)))
    assert(result(Some(10L)) == exact)
  }

  test("graft_simhash equals the declarative explode + vote formulation") {
    // random texts with single/double separators, leading + trailing
    // whitespace (the empty tokens Spark's split keeps), non-ASCII, and
    // the empty string — native per-row loop must be bit-for-bit equal
    // to the former explode + 60 conditional-sum shape
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "δδ", "x")
    // every ASCII separator \s matches — the byte-level tokenizer
    // (round 10) must agree with the regex split on all of them, on
    // runs mixing them, and on all-whitespace strings
    val seps = Seq(" ", "  ", "\t", "\n", "\r", "", "\f", " \t\r ")
    val df = Seq.tabulate(48) { i =>
      val body =
        if (i == 0) ""
        else if (i == 1) " \t "  // whitespace-only: two empty tokens
        else if (i == 2) " " // NBSP is NOT \s — one token
        else Seq.fill(rnd.nextInt(30) + 1)(vocab(rnd.nextInt(vocab.size)))
          .mkString(seps(rnd.nextInt(seps.size)))
      val s = (if (i % 3 == 0) " " else "") + body +
        (if (i % 4 == 0) "\t " else "")
      (i.toLong, s)
    }.toDF("doc_id", "text")
    val tok = df.select($"doc_id", explode(TextOps.words($"text")).as("w"))
      .select($"doc_id", TextOps.hash60($"w").as("h"))
    val voteCols = (0 until TextOps.SimhashBits).map(b =>
      sum(shiftright($"h", b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b"))
    val decl = tok.groupBy($"doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select($"doc_id", (0 until TextOps.SimhashBits)
        .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
      .as[(Long, Long)].collect().toMap
    val native = df
      .select($"doc_id", call_function("graft_simhash", $"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(native == decl)
    // null text: native is null (declarative would drop the row)
    val n = Seq((99L, None: Option[String])).toDF("doc_id", "text")
      .select(call_function("graft_simhash", $"text"))
      .as[Option[Long]].head()
    assert(n.isEmpty)
  }

  test("graft_minhash_sig equals the declarative shingle-agg formulation") {
    val rnd = new scala.util.Random(13)
    val vocab = Seq("lorem", "ipsum", "dolor", "sit", "amet", "ñü")
    // mixed ASCII separators + leading/trailing whitespace: the byte
    // tokenizer (round 10) must build the same shingles — including
    // ones containing the empty tokens split(_, -1) keeps — as the
    // declarative regex-split side
    val seps = Seq(" ", "  ", "\t", "\n", " \r ")
    val df = Seq.tabulate(40) { i =>
      // includes docs with 0/1/2 words (must return null) and repeated
      // shingles (set semantics)
      val words = Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      val s = (if (i % 5 == 0) "\t" else "") +
        words.mkString(seps(rnd.nextInt(seps.size))) +
        (if (i % 7 == 0) " " else "")
      (i.toLong, s)
    }.toDF("doc_id", "text")
    val decl = TextOps.shingleRows(df, "doc_id", "text")
      .withColumn("id28", TextOps.hash28($"shingle"))
      .groupBy($"doc_id")
      .agg(collect_set($"shingle").as("sh"),
        array((0 until TextOps.NumHashes).map(j =>
          min(($"id28" * TextOps.hashA(j) + TextOps.hashB(j))
            % TextOps.MinhashPrime)): _*).as("m"))
      .as[(Long, Seq[String], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2.sorted, r._3))).toMap
    val native = df
      .select($"doc_id", call_function("graft_minhash_sig", $"text").as("s"))
      .filter($"s".isNotNull)
      .select($"doc_id", $"s.sh", $"s.m")
      .as[(Long, Seq[String], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2.sorted, r._3))).toMap
    assert(native == decl)
    // a doc with < 3 words is null in the native form (dropped by the
    // declarative explode) — both frames must omit the SAME docs
    assert(native.keySet == decl.keySet)
    // null text propagates to a null struct (then filtered like the
    // short docs), never a throw
    val nullSig = Seq((1L, None: Option[String])).toDF("doc_id", "text")
      .select(call_function("graft_minhash_sig", $"text").isNull)
      .as[Boolean].head()
    assert(nullSig)
  }

  test("graft_shingle_set equals the declarative shingles column") {
    val rnd = new scala.util.Random(17)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "ñü")
    val seps = Seq(" ", "  ", "\t", "\n", " \r ")
    val df = Seq.tabulate(40) { i =>
      val words = Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      val s = (if (i % 5 == 0) "\t" else "") +
        words.mkString(seps(rnd.nextInt(seps.size))) +
        (if (i % 7 == 0) " " else "")
      (i.toLong, s)
    }.toDF("doc_id", "text")
    // declarative: empty array for < 3 words; native: NULL — compare
    // on the exploded frames, which agree exactly (explode drops both)
    val decl = df
      .select($"doc_id", explode(TextOps.shingles(TextOps.words($"text"))).as("g"))
      .as[(Long, String)].collect().toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    val native = df
      .select($"doc_id", explode(call_function("graft_shingle_set", $"text")).as("g"))
      .as[(Long, String)].collect().toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    assert(native == decl)
    // and the native arrays agree element-for-element with the sig's
    // sh arm (same first-occurrence order, same distinctness)
    val viaSig = df
      .select($"doc_id", call_function("graft_minhash_sig", $"text").getField("sh").as("sh"))
      .filter($"sh".isNotNull)
      .as[(Long, Seq[String])].collect().toMap
    val direct = df
      .select($"doc_id", call_function("graft_shingle_set", $"text").as("sh"))
      .filter($"sh".isNotNull)
      .as[(Long, Seq[String])].collect().toMap
    assert(direct == viaSig)
    // null text → null array, never a throw
    val nullSh = Seq((1L, None: Option[String])).toDF("doc_id", "text")
      .select(call_function("graft_shingle_set", $"text").isNull)
      .as[Boolean].head()
    assert(nullSh)
  }

  test("containmentPairs finds subset copies that jaccardPairs misses") {
    val base = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base),                    // 4 shingles, all inside doc 2
      (2L, base + " " + filler),     // the long host document
      (3L, "unrelated text entirely here nothing shared at all")
    ).toDF("doc_id", "text")
    val got = TextOps.containmentPairs(df, "doc_id", "text", 4, 5, 10L)
      .select($"a_id", $"b_id", $"n_shared", $"n_a", $"n_b",
        $"cont_a", $"cont_b")
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    Caching.release()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)), got.toSeq)
    val p = got.head
    assert(p._3 == 4L && p._4 == 4L, p) // every doc-1 shingle is shared
    assert(p._6 == 1.0, p)              // full containment short side
    assert(p._7 < 0.1, p)               // host side tiny
    // the symmetric op at ANY threshold above their true Jaccard
    // cannot emit this pair: here 1/2 — the subset copy is invisible
    val jac = TextOps.jaccardPairs(df, "doc_id", "text", 1, 2)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    Caching.release()
    assert(!jac.contains((1L, 2L)), jac.toSeq)
  }

  test("containmentPairs recall caveat: all-shared-shingles-hot pairs are MISSED by design") {
    // r18 verdict item 5: the df∈[2,maxDf] anchor index documents
    // that a pair whose EVERY shared shingle is hotter than maxDf is
    // missed (rare-anchor indexing bets near-copies share a rare
    // shingle). Plant exactly that boundary: a phrase S in three docs
    // makes every S-shingle df=3; docs 1/2 share ONLY those shingles
    // (distinct tails kill the boundary shingles). At maxDf=2 the
    // documented miss MUST happen — a "fix" that silently indexes the
    // Zipf head (and with it per-shingle fan-out > maxDf²) reds out
    // here — and at the adjacent maxDf=3 the same pair must be found.
    val s8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s8 + " u1 u2"),
      (2L, s8 + " v1 v2"),
      (3L, s8 + " w1 w2")
    ).toDF("doc_id", "text")
    val miss = TextOps.containmentPairs(df, "doc_id", "text", 1, 2, 2L)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    Caching.release()
    assert(miss.isEmpty,
      s"df>maxDf shared shingles must NOT produce candidates: ${miss.toSeq}")
    val hit = TextOps.containmentPairs(df, "doc_id", "text", 1, 2, 3L)
      .select($"a_id", $"b_id", $"n_shared", $"n_a", $"n_b")
      .as[(Long, Long, Long, Long, Long)].collect()
    Caching.release()
    assert(hit.map(r => (r._1, r._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)), hit.toSeq)
    // 10 words → 8 shingles/doc; the 6 S-internal shingles are shared
    assert(hit.forall(r => r._3 == 6L && r._4 == 8L && r._5 == 8L),
      hit.toSeq)
  }

  test("token counters: whitespace vs bpe-ish") {
    val (ws, bp) = Seq("hello world, this is 42!")
      .toDF("t")
      .select(TextStats.whitespaceTokenCount($"t"),
        TextStats.bpeishTokenCount($"t"))
      .as[(Long, Long)].collect().head
    assert(ws == 5L)
    // bpe-ish: hello, world, ",", this, is, 42, "!"
    assert(bp == 7L)
  }

  test("lshProbeBuckets: the bucket itself plus its four Hamming-1 flips") {
    val out = Seq("0110").toDF("b")
      .select(TextOps.lshProbeBuckets($"b").as("p"))
      .as[Seq[String]].head()
    assert(out == Seq("0110", "1110", "0010", "0100", "0111"))
    assert(out.distinct.size == out.size)
  }

  test("property: lshProbeBuckets is the exact Hamming-1 closed ball") {
    // for any plane count and any bucket: planes+1 distinct probes,
    // the bucket itself first, every other probe at Hamming distance
    // exactly 1, and every distance-1 string present (completeness —
    // a dropped flip is a silent recall loss no corpus test catches)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      p <- Gen.choose(1, 10)
      bits <- Gen.listOfN(p, Gen.oneOf("0", "1"))
    } yield bits.mkString
    val prop = Prop.forAll(gen) { b =>
      val probes = Seq(b).toDF("b")
        .select(TextOps.lshProbeBuckets($"b", planes = b.length).as("p"))
        .as[Seq[String]].head()
      def ham(x: String, y: String) = x.zip(y).count { case (a, c) => a != c }
      val ball = (0 until b.length).map(i =>
        b.updated(i, if (b(i) == '1') '0' else '1')).toSet + b
      probes.size == b.length + 1 && probes.head == b &&
        probes.toSet == ball && probes.tail.forall(ham(_, b) == 1)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("multi-probe lsh: strict candidate superset of the exact bucket") {
    // recall@k monotonicity follows from candidate-set containment, so
    // the q82-beats-q28 recall claim is pinned structurally here (the
    // measured recall numbers live in SCALE.md via `ScaleBench ann`);
    // strictness checks the Hamming-1 probes actually reach buckets
    // the exact path can't
    val dir = "/root/testdata/sf0.001"
    val e = Caching.persisted(TextOps.withLshBucket(
      Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb")),
      "vec_id", "emb"))
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"bucket".as("qbucket"))
    val exact = e.join(q,
        $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
    val probes = q.select($"query_id",
      explode(TextOps.lshProbeBuckets($"qbucket")).as("pb"))
    val multi = e.join(probes,
        $"bucket" === $"pb" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
    assert(exact.except(multi).isEmpty)
    val (nExact, nMulti) = (exact.count(), multi.count())
    assert(nMulti > nExact, s"probes added no candidates ($nExact)")
    Caching.release()
  }

  test("lshProbeBuckets raises loudly on a plane-count / bucket-length mismatch") {
    // round-9 advice: a bucket built with planes=8 but probed with the
    // default 4 used to yield truncated probe keys that join NOTHING —
    // recall silently degraded to the exact-bucket level
    val ex = intercept[Exception] {
      Seq("01101100").toDF("b")
        .select(explode(TextOps.lshProbeBuckets($"b", planes = 4)).as("p"))
        .collect()
    }
    assert(ex.getMessage.contains("match nothing"), ex.getMessage)
    // and the matched case still probes
    val ok = Seq("0110").toDF("b")
      .select(TextOps.lshProbeBuckets($"b", planes = 4).as("p"))
      .as[Seq[String]].head()
    assert(ok.size == 5)
  }

  test("lshProbeBucketsByMargin: most-doubtful planes first, deterministic ties") {
    // margins [0.5, 0.1, 0.9, 0.2]: plane 2 (0.1) is most doubtful,
    // then plane 4 (0.2) — with probes = 2 exactly those flip, in
    // margin order, after the own bucket
    val out = Seq(("1010", Seq(0.5, 0.1, 0.9, 0.2))).toDF("b", "m")
      .select(TextOps.lshProbeBucketsByMargin($"b", $"m", probes = 2).as("p"))
      .as[Seq[String]].head()
    assert(out == Seq("1010", "1110", "1011"))
    // probes = planes reproduces the full Hamming-1 closed ball (as a
    // set — the ORDER is by margin, not plane index)
    val full = Seq(("1010", Seq(0.5, 0.1, 0.9, 0.2))).toDF("b", "m")
      .select(TextOps.lshProbeBucketsByMargin($"b", $"m", probes = 4).as("p"))
      .as[Seq[String]].head()
    val ball = Seq("1010").toDF("b")
      .select(TextOps.lshProbeBuckets($"b").as("p"))
      .as[Seq[String]].head()
    assert(full.toSet == ball.toSet && full.head == "1010")
    assert(full == Seq("1010", "1110", "1011", "0010", "1000"),
      "flips must be ordered by ascending margin")
    // equal margins tie toward the lower plane index
    val tied = Seq(("1010", Seq(0.3, 0.3, 0.3, 0.3))).toDF("b", "m")
      .select(TextOps.lshProbeBucketsByMargin($"b", $"m", probes = 2).as("p"))
      .as[Seq[String]].head()
    assert(tied == Seq("1010", "0010", "1110"))
    // bucket/margins disagreement raises instead of probing garbage
    val ex = intercept[Exception] {
      Seq(("10101", Seq(0.5, 0.1, 0.9, 0.2))).toDF("b", "m")
        .select(explode(TextOps.lshProbeBucketsByMargin($"b", $"m", 2)).as("p"))
        .collect()
    }
    assert(ex.getMessage.contains("margins length"), ex.getMessage)
  }

  test("withLshBucketMargins: same buckets, margins = |projections| per plane") {
    val rnd = new scala.util.Random(29)
    val df = (0 until 30).map(i =>
        (i.toLong, Seq.fill(12)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "emb")
    val plain = TextOps.withLshBucket(df, "vec_id", "emb")
      .select($"vec_id", $"bucket").as[(Long, String)].collect().toMap
    val withM = TextOps.withLshBucketMargins(df, "vec_id", "emb")
      .select($"vec_id", $"bucket", $"margins")
      .as[(Long, String, Seq[Double])].collect()
    assert(withM.map(r => r._1 -> r._2).toMap == plain,
      "margins variant must not change bucket values")
    // margins are the |projection| of the interpreted per-plane HOF
    // (same sums, different accumulation order → tolerance, not ==)
    val hofProj = df.select($"vec_id",
        array((0 until TextOps.LshPlanes).map { j =>
          abs(aggregate(sequence(lit(1), size($"emb")), lit(0.0), (acc, i) => {
            val r = (conv(substring(md5(concat(lit(s"plane_${j}_"), i)), 1, 1), 16, 10)
              .cast("int").bitwiseAND(lit(1)) * 2 - 1)
            acc + element_at($"emb", i) * r
          }))
        }: _*).as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    withM.foreach { case (id, bucket, margins) =>
      assert(margins.size == TextOps.LshPlanes)
      val want = hofProj(id)
      margins.zip(want).foreach { case (got, w) =>
        assert(math.abs(got - w) < 1e-9, s"vec $id: $got vs $w")
      }
      // sign consistency: every margin is the magnitude of a projection
      // whose sign the bucket bit already encodes
      assert(margins.forall(_ >= 0.0))
      assert(bucket.length == TextOps.LshPlanes)
    }
  }

  test("prefix candidates grow sublinearly vs all-pairs (planted-dup corpus)") {
    // round-8 verdict #4's spec half, on the SAME deterministic
    // generator `ScaleBench dedup` measures (10% planted near-dups; every
    // doc OPENS with one of 20 boilerplate runs, so each opening
    // shingle has df ≈ n/20): doubling the corpus quadruples
    // all-pairs but must grow PPJoin candidates ~linearly (planted
    // pairs are linear in n; prefix overlap on the hash-spread tail
    // is rare). The measured curve at bench scale lives in SCALE.md;
    // this pins the shape so a prefix-ordering regression fails CI.
    def cands(n: Long): Long = {
      val sets = TextOps.shingleSets(graft.scale.TextBenches.corpus(spark, n),
        "doc_id", "text")
      val c = TextOps.prefixCandidates(sets, "doc_id", 8, 10, None).count()
      Caching.release()
      c
    }
    val c1 = cands(600)
    val c2 = cands(1200)
    assert(c1 > 0) // the planted dups must surface as candidates
    assert(c1 < (600L * 599 / 2) / 100, s"c1=$c1 not < 1% of all-pairs")
    assert(c2 < 3 * c1, s"c2=$c2 vs c1=$c1: super-linear candidate growth")
  }
}
