package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text / embedding primitives for the LLM-data-pipeline surface
  * (builder brief: dedup, similarity search, text analysis at 100 TB).
  *
  * Every hash here is derived from `md5` (identical bytes-in/hex-out in
  * Spark and DuckDB) plus pure integer arithmetic, so the DuckDB oracle
  * in [[graft.queries.DocumentQueries]] can replicate each computation
  * bit-for-bit. All ops are per-row `Column` expressions (codegen'd, no
  * UDFs) — the scale path is: narrow per-doc map work, then *banded*
  * grouping / bucket joins, never an all-pairs cross join.
  */
object TextOps {

  val ShingleK = 3
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4
  /** 2^31 - 1 (Mersenne prime): a*x+b stays < 2^59, no int64 overflow. */
  val MinhashPrime = 2147483647L
  val FingerprintPrime = 1000000007L
  val SimhashBits = 60 // 15 md5 hex chars → positive int64
  val LshPlanes = 4

  /** Deterministic MinHash coefficients. java.util.Random's LCG is part
    * of its spec, so these are stable across JVMs; DocumentQueries embeds
    * the same values into the oracle SQL. */
  val (hashA, hashB): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val r = new scala.util.Random(42)
    val a = IndexedSeq.fill(NumHashes)(1L + r.nextInt(Int.MaxValue - 1).toLong)
    val b = IndexedSeq.fill(NumHashes)(r.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** Whitespace tokenization (the baseline token counter). */
  def words(text: Column): Column = split(text, "\\s+")

  /** Canonical text normalization (the cleanup pass before hashing /
    * dedup / tokenization in a web-corpus pipeline): lowercase, replace
    * every non-letter/digit/whitespace char with a space, collapse
    * whitespace runs, trim. Unicode categories (`\p{L}`, `\p{N}`) mean
    * the same thing in Java regex and RE2, so an oracle can replicate
    * the pass byte-for-byte. Pure codegen'd per-row work. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /** Distinct k-word shingles: ["a","b","c","d"] → ["a b c","b c d"].
    * Guarded so < k words yields an empty set (Spark's sequence(1,0)
    * would otherwise count *down*). Per-row expression form — for
    * fact-scale work prefer [[shingleRows]] (codegen'd). */
  def shingles(w: Column, k: Int = ShingleK): Column = {
    val grams = transform(sequence(lit(1), size(w) - (k - 1)), i =>
      concat_ws(" ", (0 until k).map(j => element_at(w, i + lit(j))): _*))
    array_distinct(
      when(size(w) >= k, grams).otherwise(array().cast("array<string>")))
  }

  /** The scale form of [[shingles]]: exploded DISTINCT (id, shingle)
    * rows at k = [[ShingleK]]: a pure map explode of the native
    * [[graft.functions.ShingleSet]] extractor —
    * ZERO shuffle (r21: the previous posexplode + per-doc lead()-window
    * form paid an exchange + sort of corpus-token volume plus a
    * (id, shingle)-keyed distinct exchange just to assemble grams;
    * measured 6× at sf0.1, bit-identical rows, parity-pinned in
    * TextOpsSpec). Documents with < [[ShingleK]] words produce no rows
    * (the native extractor yields NULL, which explode drops). */
  def shingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol),
      explode(call_function("graft_shingle_set", col(textCol))).as("shingle"))
  }

  /** Occurrence form of [[shingleRows]]: one row per shingle POSITION
    * (`pos` 0-based, no distinct) — the duplicate-span queries need
    * every occurrence plus its location so duplicated-gram counts and
    * token-coverage intervals can be computed (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22, measures dup
    * substrings by position, not by distinct gram). A map-only
    * posexplode of the native [[graft.functions.ShingleRows]]
    * extractor (element i = the shingle starting at token i, so the
    * posexplode index IS the token position) — zero shuffle, same r21
    * rationale and parity pin as [[shingleRows]]. */
  def shingleRowsPos(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol),
      posexplode(call_function("graft_shingle_rows", col(textCol)))
        .as(Seq("pos", "shingle")))
  }

  /** The pre-r21 general-k gram builder: posexplode to token rows,
    * per-doc lead() window, concat — one exchange + sort keyed by the
    * id. Kept as the parity reference the TextOpsSpec pin compares the
    * native forms against. */
  private[graft] def shingleRowsWindowed(df: org.apache.spark.sql.DataFrame,
                                         idCol: String, textCol: String,
                                         k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val tok = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("__pos", "__w")))
    val leads = (1 until k).map(j => lead(col("__w"), j).over(w).as(s"__w$j"))
    tok.select(col(idCol) +: col("__pos") +: col("__w") +: leads: _*)
      .filter(col(s"__w${k - 1}").isNotNull)
      .select(col(idCol), col("__pos").as("pos"),
        concat_ws(" ", col("__w") +: (1 until k).map(j => col(s"__w$j")): _*)
          .as("shingle"))
  }

  /** String → 28-bit positive int64 via the first 7 md5 hex chars —
    * DuckDB parity: CAST('0x' || substr(md5(x),1,7) AS BIGINT). */
  def hash28(s: Column): Column =
    conv(substring(md5(s), 1, 7), 16, 10).cast("long")

  /** String → 60-bit positive int64 (15 md5 hex chars), for SimHash. */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** MinHash value j over an array of 28-bit shingle ids:
    * min((a_j * x + b_j) mod P). Null on an empty shingle set.
    * Declarative REFERENCE form (interpreted HOF) — production
    * signatures come from the native `graft_minhash_sig` expression
    * ([[graft.functions.MinHashSig]]); this stays as the independent
    * formulation its parity tests check against. */
  def minhash(j: Int, ids: Column): Column =
    array_min(transform(ids, x =>
      (x * lit(hashA(j)) + lit(hashB(j))) % lit(MinhashPrime)))

  /** The full signature as NumHashes columns m0..m{n-1} (reference
    * form; see [[minhash]]). */
  def signatureCols(ids: Column): Seq[Column] =
    (0 until NumHashes).map(j => minhash(j, ids).as(s"m$j"))

  /** LSH banding of signature columns m0..m15: an array of
    * (band_idx, band_key) structs, one per band; the band key is the
    * '-'-joined signature slice. Grouping on (bi, bk) finds candidate
    * pairs without any all-pairs join. */
  def bandStructs: Column = {
    val bs = (0 until Bands).map { bi =>
      struct(
        lit(bi).as("bi"),
        concat_ws("-",
          (0 until RowsPerBand).map(r => col(s"m${bi * RowsPerBand + r}")): _*).as("bk"))
    }
    array(bs: _*)
  }

  /** 60-bit SimHash over (non-distinct) token hashes: bit b is set when
    * the sum of ±1 votes (token bit b) is positive. */
  def simhash(tokenHashes: Column): Column =
    aggregate(sequence(lit(0), lit(SimhashBits - 1)), lit(0L), (acc, b) => {
      val vote = aggregate(tokenHashes, lit(0L), (a2, h) =>
        a2 + (call_function("shiftright", h, b).bitwiseAND(lit(1L)) * 2 - 1))
      acc + when(vote > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
    })

  /** Order-sensitive rolling document fingerprint:
    * h := (h*31 + codepoint) mod P over the characters, h0 = 0.
    * Resolves to the native codegen'd
    * [[graft.functions.RollingFingerprint]] (register via
    * [[graft.plans.GraftExtensions]]); [[rollingFingerprintHof]] is the
    * built-in composition it replaced (identical values on BMP text,
    * parity-tested; the HOF form additionally split supplementary-plane
    * chars into surrogate halves — the native form hashes true code
    * points, matching the oracle for all of Unicode). */
  def rollingFingerprint(text: Column): Column =
    call_function("graft_fingerprint", text)

  /** The higher-order-function formulation of [[rollingFingerprint]]:
    * characters from `split(text, "")` (empty regex artifacts filtered)
    * folded with `aggregate` — interpreted, kept for parity testing.
    * DuckDB parity note: list_reduce's implicit seed (the first
    * element) equals the first step (0*31 + c1) mod P = c1. */
  def rollingFingerprintHof(text: Column): Column = {
    val chars = transform(
      filter(split(text, ""), c => length(c) > 0),
      c => ascii(c).cast("long"))
    when(length(text) >= 1,
      aggregate(chars, lit(0L), (h, c) => (h * 31 + c) % lit(FingerprintPrime)))
      .otherwise(lit(0L))
  }

  /** Sequential-order dot product of two equal-length double arrays.
    * Left-to-right accumulation from 0.0 — IEEE-identical to DuckDB's
    * list_reduce((x,y) -> x+y) over the elementwise products.
    *
    * Resolves to the native codegen'd [[graft.functions.DotProduct]]
    * (register via [[graft.plans.GraftExtensions]] — the query pack
    * does this in each entry point); [[dotHof]] is the built-in
    * composition it replaced (identical values, interpreted ~50×
    * slower at 128 dims). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The higher-order-function formulation of [[dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(sequence(lit(1), size(a)), lit(0.0), (acc, i) =>
      acc + element_at(a, i) * element_at(b, i))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** cos(a,b) given precomputed norms — same expression shape as the
    * oracle: dot / (na * nb). */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Sign bit of the dot product against a deterministic md5-derived
    * Rademacher (±1) hyperplane `j` — random-hyperplane LSH for cosine.
    * Component i of plane j is ((md5("plane_j_i") first hex digit) & 1)
    * * 2 - 1, recomputed identically by the oracle. */
  def lshBit(j: Int, emb: Column): Column = {
    val proj = aggregate(sequence(lit(1), size(emb)), lit(0.0), (acc, i) => {
      val r = (conv(substring(md5(concat(lit(s"plane_${j}_"), i)), 1, 1), 16, 10)
        .cast("int").bitwiseAND(lit(1)) * 2 - 1)
      acc + element_at(emb, i) * r
    })
    when(proj > 0, lit("1")).otherwise(lit("0"))
  }

  /** Concatenated sign bits of `planes` LSH planes → bucket key
    * string. The plane count is the bucket-granularity knob: expected
    * bucket size is n / 2^planes, so a 100 TB corpus runs 20-30 planes
    * (with [[lshProbeBuckets]] recovering the recall each added plane
    * costs), while the 4-plane default matches the q28/q82 oracles. */
  def lshBucket(emb: Column, planes: Int = LshPlanes): Column =
    concat((0 until planes).map(j => lshBit(j, emb)): _*)

  /** Multi-probe LSH (Lv et al., VLDB'07 — public literature): the
    * query's own bucket plus every bucket at Hamming distance 1 (one
    * sign bit flipped). A vector whose projection sits near one
    * hyperplane lands on the wrong side of that plane's sign bit with
    * probability ~ margin/π — the dominant LSH miss mode — so probing
    * the 1-flip neighborhood recovers most of it at (LshPlanes+1)×
    * the candidate volume instead of the 2^LshPlanes× of brute force.
    * Pure string surgery on the bucket key (codegen-able built-ins);
    * the probe side explodes, the corpus side stays single-bucket, so
    * joins remain bucket-local. `planes` must match the bucket's
    * [[lshBucket]]/[[withLshBucket]] plane count — a mismatch raises
    * at runtime (a truncated/overlong probe key would otherwise join
    * NOTHING and silently degrade recall to the exact-bucket level).
    * For the margin-aware probe order at high plane counts see
    * [[lshProbeBucketsByMargin]]. */
  def lshProbeBuckets(bucket: Column, planes: Int = LshPlanes): Column = {
    val probes = array(bucket +: (1 to planes).map { i =>
      concat(
        substring(bucket, 1, i - 1),
        when(substring(bucket, i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(bucket, i + 1, planes - i))
    }: _*)
    when(length(bucket) === planes, probes).otherwise(raise_error(concat(
      lit(s"lshProbeBuckets: planes=$planes but bucket has length "),
      length(bucket).cast("string"),
      lit(" — probe keys would silently match nothing"))))
  }

  /** Margin-ORDERED multi-probe (the probe-sequence half of Lv et al.,
    * VLDB'07): instead of the full Hamming-1 ball ([[lshProbeBuckets]],
    * planes+1 probes), flip only the `probes` most DOUBTFUL planes —
    * smallest |projection margin| first. A neighbor crosses plane j
    * with probability shrinking in the query's margin on j, so the
    * low-margin flips carry almost all the recall: at the 20–30 planes
    * a 100 TB corpus runs (bucket size n/2^planes), probing T ≈
    * planes/2 buckets keeps most of the Hamming-1 recall at half the
    * candidate volume (measured: `ScaleBench ann`, SCALE.md "ANN
    * recall"). `margins` is the parallel |projection| array emitted by
    * [[withLshBucketMargins]]; ties break toward the lower plane index
    * so the probe list is deterministic. The probe list is ordered:
    * own bucket, then flips by ascending margin. Raises at runtime if
    * `bucket` and `margins` disagree on the plane count. */
  def lshProbeBucketsByMargin(bucket: Column, margins: Column,
                              probes: Int): Column = {
    require(probes >= 0, s"probes=$probes must be >= 0")
    // plane indices (1-based) of the `probes` smallest margins.
    // The margin is QUANTIZED (9 decimals) before ranking: the two
    // sides of an oracle comparison accumulate the projection sum in
    // different orders (Spark partial aggregation vs a sequential
    // fold), so two near-equal margins could otherwise rank
    // differently and select different flip planes — the same reason
    // compared cosines are rounded. Ulp-level noise is ~1e-16 on
    // unit-scale embeddings; 1e-9 is far above it and far below any
    // real margin gap.
    val doubtful = slice(
      transform(
        array_sort(zip_with(margins, sequence(lit(1), size(margins)),
          (m, i) => struct(round(m, 9).as("m"), i.as("i")))),
        e => e("i")),
      1, probes)
    val flipped = transform(doubtful, i => concat(
      bucket.substr(lit(1), i - 1),
      when(bucket.substr(i, lit(1)) === "1", lit("0")).otherwise(lit("1")),
      bucket.substr(i + 1, size(margins) - i)))
    when(length(bucket) === size(margins),
        concat(array(bucket), flipped))
      .otherwise(raise_error(concat(
        lit("lshProbeBucketsByMargin: bucket length "),
        length(bucket).cast("string"),
        lit(" != margins length "),
        size(margins).cast("string"))))
  }

  /** Exact n-gram Jaccard pairs (similarity >= tNum/tDen) via an
    * inverted shingle index with PREFIX FILTERING (the AllPairs/PPJoin
    * family, Bayardo et al., WWW'07 — public literature): under any
    * global total order on shingles, two sets with Jaccard >= t must
    * share a shingle among each one's first `|d| - ceil(t*|d|) + 1`
    * shingles. Ordering globally by (document frequency ASC, shingle)
    * therefore lets the self-join index only each document's ~(1-t)
    * RAREST shingles — the hot/stopword shingles that make a naive
    * inverted-index join blow up as Σ df(shingle)² sort LAST and almost
    * never enter the prefix — while candidate generation stays EXACT
    * (no false negatives; verification recomputes true Jaccard from the
    * full sets). This replaces a lossy df-threshold cap: same hot-key
    * protection, zero semantic drift, always on.
    *
    * The threshold is a rational tNum/tDen so the prefix length uses
    * exact integer arithmetic (`ceil(t*n)` in doubles rounds 0.8*5 up
    * to 5 and silently shortens the prefix → false negatives).
    *
    * Scale shape: one shingle-partitioned window for document
    * frequencies, one groupBy(doc) building the df-sorted per-doc
    * shingle array (persisted — it feeds prefix generation AND both
    * verification sides), a prefix-only self-join, then a
    * candidate-keyed verify join computing exact Jaccard by array
    * intersection. Never all-pairs; the verify never rescans the
    * exploded index (that double-join cost 2.5× this formulation).
    *
    * Output: (a_id, b_id, jaccard DOUBLE) with a_id < b_id. */
  /** `maxShingleDf`: opt-in hot-shingle prune for web-scale corpora.
    * Shingles whose document frequency exceeds the ceiling are dropped
    * from CANDIDATE GENERATION only (verification still computes exact
    * Jaccard over the full sets). The df-ASC prefix ordering already
    * keeps hot shingles out of most prefixes; the ceiling additionally
    * bounds the worst case — candidate volume grows as Σ df(shingle)²
    * over indexed shingles, and at 100 TB of web text a boilerplate
    * shingle shared by 10⁹ documents must not be indexable even from
    * the shortest documents' prefixes. RECALL CAVEAT: a pair whose
    * prefix overlap consists ONLY of shingles above the ceiling
    * produces no candidate and is silently missed — sound for
    * boilerplate-dominated collisions (which are overwhelmingly false
    * positives at any useful threshold), but lossy in principle; leave
    * unset where exactness matters (the sf0.1 oracle corpus measured
    * net-negative for the prune, so q26 runs without it). */
  def jaccardPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, tNum: Int, tDen: Int,
                   maxShingleDf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val sets = shingleSets(docs, idCol, textCol)
    val cand = prefixCandidates(sets, idCol, tNum, tDen, maxShingleDf)
    val inter = size(array_intersect(col("za.__sh"), col("zb.__sh"))).cast("double")
    cand
      .join(sets.as("za"), col("a_id") === col(s"za.$idCol"))
      .join(sets.as("zb"), col("b_id") === col(s"zb.$idCol"))
      .withColumn("jaccard", inter / (col("za.__n") + col("zb.__n") - inter))
      .filter(col("jaccard") >= lit(tNum.toDouble) / tDen)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Per-doc shingle array in global (df ASC, shingle) order — the
    * explicit array_sort makes the order a guarantee rather than an
    * artifact of aggregation input order. Persisted (registered with
    * [[graft.Caching]]): feeds prefix generation AND both verify
    * sides of [[jaccardPairs]]. */
  private[graft] def shingleSets(docs: org.apache.spark.sql.DataFrame,
                                 idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSh = Window.partitionBy(col("shingle"))
    graft.Caching.persisted(
      shingleRows(docs, idCol, textCol)
        .withColumn("__df", count(lit(1)).over(wSh))
        .groupBy(col(idCol))
        .agg(array_sort(collect_list(struct(col("__df"), col("shingle"))))
          .as("__all"))
        .select(col(idCol),
          transform(col("__all"), e => e("shingle")).as("__sh"),
          transform(col("__all"), e => e("__df")).as("__dfs"),
          size(col("__all")).as("__n")))
  }

  /** PPJoin prefix-filtered candidate pairs (a_id < b_id) over
    * [[shingleSets]] output — separated from [[jaccardPairs]] so the
    * candidate-count bound is directly testable (TextOpsSpec's Zipfian
    * fixture: hot shingles must not generate candidates). */
  private[graft] def prefixCandidates(sets: org.apache.spark.sql.DataFrame,
                                      idCol: String, tNum: Int, tDen: Int,
                                      maxShingleDf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    // prefix length p = n - ceil(t*n) + 1, in exact integer arithmetic:
    // ceil(tNum*n/tDen) = (tNum*n + tDen - 1) DIV tDen. Column `/` is
    // double division; floor() of it is exact here (the true quotient
    // is a multiple of 1/tDen, far beyond one ulp from the neighboring
    // integers for any realistic shingle count).
    val n = col("__n")
    val ceilT = floor((n * tNum + lit(tDen - 1)) / lit(tDen.toDouble)).cast("int")
    val prefixLen = (n - ceilT + lit(1)).cast("int")
    val prefix = maxShingleDf match {
      case None =>
        sets.select(col(idCol),
          explode(slice(col("__sh"), lit(1), prefixLen)).as("shingle"))
      case Some(ceil) =>
        // hot-shingle prune (see jaccardPairs): dfs ride along sorted
        // parallel to __sh, so the ceiling filters the exploded prefix
        // without re-deriving document frequencies
        sets.select(col(idCol), col("__dfs"),
            posexplode(slice(col("__sh"), lit(1), prefixLen))
              .as(Seq("__p", "shingle")))
          .filter(element_at(col("__dfs"), col("__p") + 1) <= ceil)
          .select(col(idCol), col("shingle"))
    }
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** Rare-anchor one-sided containment pairs (a_id < b_id): every
    * pair sharing at least one shingle with document frequency in
    * [2, maxDf] is generated as a candidate, then verified with EXACT
    * containment |A∩B|/|A| and |A∩B|/|B| over the cached
    * [[shingleSets]] arrays; pairs pass when the LARGER side reaches
    * tNum/tDen — an integer comparison (tDen·inter ≥ tNum·min(n)),
    * never a float boundary. Containment is the asymmetric near-dup
    * relation Jaccard misses: a short document wholly embedded in a
    * long one has containment 1.0 but Jaccard ≈ |A|/|B| (planted
    * fixture in TextOpsSpec). The df ceiling keeps the Zipf head out
    * of the index — per-shingle postings are ≤ maxDf rows, so the
    * self-join fan-out is ≤ maxDf² per shingle, never quadratic in
    * the corpus. RECALL CAVEAT (mirrors [[jaccardPairs]]'s prefix
    * ceiling): a pair ALL of whose shared shingles are hotter than
    * maxDf is missed; rare-anchor indexing bets that near-copies
    * share at least one rare shingle. */
  def containmentPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, tNum: Int, tDen: Int,
                       maxDf: Long): org.apache.spark.sql.DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val sets = shingleSets(docs, idCol, textCol)
    // __dfs is sorted ASCENDING, so the [2, maxDf] anchors are a
    // CONTIGUOUS slice: count the df<2 prefix and the df<=maxDf
    // prefix, slice between them, and explode ONLY the anchors —
    // in a diverse corpus most shingles are df=1, so this emits a
    // small fraction of the rows the explode-all-then-filter form
    // shuffles into the bucket join
    val nLt2 = size(filter(col("__dfs"), d => d < 2))
    val nLe = size(filter(col("__dfs"), d => d <= maxDf))
    val anchors = sets
      .select(col(idCol),
        explode(slice(col("__sh"), nLt2 + 1,
          greatest(nLe - nLt2, lit(0)))).as("shingle"))
    val cand = anchors.as("a")
      .join(anchors.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    val inter = size(array_intersect(col("za.__sh"), col("zb.__sh")))
      .cast("long")
    cand
      .join(sets.as("za"), col("a_id") === col(s"za.$idCol"))
      .join(sets.as("zb"), col("b_id") === col(s"zb.$idCol"))
      .select(col("a_id"), col("b_id"), inter.as("n_shared"),
        col("za.__n").cast("long").as("n_a"),
        col("zb.__n").cast("long").as("n_b"))
      .filter(col("n_shared") * tDen >=
        least(col("n_a"), col("n_b")) * tNum)
      .withColumn("cont_a",
        round(col("n_shared").cast("double") / col("n_a").cast("double"), 6))
      .withColumn("cont_b",
        round(col("n_shared").cast("double") / col("n_b").cast("double"), 6))
  }

  /** Top-k rows per group by (score DESC, id ASC) via the native
    * partial top-k aggregate (`graft_topk`,
    * [[graft.functions.TopKByScore]]; register via
    * [[graft.plans.GraftExtensions]]) — the scale form of
    * `row_number().over(partitionBy(group).orderBy(score.desc, id))`
    * ranking: the window shuffles and sorts EVERY scored row, while
    * the aggregate's map-side partial keeps at most k rows per group
    * per task before the exchange. Row-identical to the window form
    * (ties break toward the smaller id; parity-tested).
    *
    * `id` is a bigint or string column.
    * Output: group columns + `id`, `rank` (1-based long), `score`. */
  def topKPerGroup(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                   score: Column, id: Column, k: Int): org.apache.spark.sql.DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(call_function("graft_topk", score, id, lit(k)).as("__topk"))
      .select(groupCols.map(col) :+
        posexplode(col("__topk")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__e.id").as("id"),
        (col("__pos") + 1).cast("long").as("rank"),
        col("__e.score").as("score")): _*)

  /** The scale form of [[lshBucket]]: identical buckets, but computed
    * as posexplode → broadcast join against a (position, plane-signs)
    * table → codegen'd grouped sums, instead of the interpreted per-row
    * higher-order aggregate (~1 ms/row). `df` must carry a unique
    * `idCol`; adds a `bucket` column. `maxDim` bounds the sign table
    * (positions beyond the actual embedding width join away). */
  def withLshBucket(df: org.apache.spark.sql.DataFrame, idCol: String,
                    embCol: String, maxDim: Int = 4096,
                    planes: Int = LshPlanes): org.apache.spark.sql.DataFrame =
    withLshBucketImpl(df, idCol, embCol, maxDim, planes, marginsCol = None)

  /** [[withLshBucket]] plus a `margins` column: the parallel
    * array<double> of |projection| per plane — the per-query doubt
    * signal [[lshProbeBucketsByMargin]] orders probes by. Identical
    * bucket values and join shape (the margins ride along the same
    * grouped sums; no extra pass or shuffle). Margins are only needed
    * on the QUERY side of an ANN search, but computing them corpus-wide
    * is free here and keeps one bucketing code path. */
  def withLshBucketMargins(df: org.apache.spark.sql.DataFrame, idCol: String,
                           embCol: String, maxDim: Int = 4096,
                           planes: Int = LshPlanes,
                           marginsCol: String = "margins"): org.apache.spark.sql.DataFrame =
    withLshBucketImpl(df, idCol, embCol, maxDim, planes, Some(marginsCol))

  private def withLshBucketImpl(df: org.apache.spark.sql.DataFrame, idCol: String,
                                embCol: String, maxDim: Int,
                                planes: Int,
                                marginsCol: Option[String]): org.apache.spark.sql.DataFrame = {
    val proj = lshProjections(df, idCol, embCol, maxDim,
      (0 until planes).map(j => s"plane_${j}_"))
    val outCols = col("__id") +:
      (concat((0 until planes).map(j =>
        when(col(s"__proj$j") > 0, "1").otherwise("0")): _*).as("bucket") +:
        marginsCol.toSeq.map(m =>
          array((0 until planes).map(j => abs(col(s"__proj$j"))): _*).as(m)))
    val buckets = proj.select(outCols: _*)
    df.join(buckets, df(idCol) === buckets("__id")).drop("__id")
  }

  /** OR-construction multi-table LSH (the standard AND-OR amplification
    * of Indyk–Motwani LSH; see also FALCONN/E2LSH practice): `tables`
    * INDEPENDENT plane sets (table t, plane j is seeded
    * "plane_t{t}_{j}_" — disjoint from the single-table family, which
    * q28/q82/q83 pin), each an AND of `planes` sign bits. A neighbor
    * with per-plane collision probability p is a candidate in at least
    * one table with probability 1 − (1 − p^planes)^L — the recall
    * lever that does NOT widen any single table's buckets, at L× the
    * candidate volume (vs 2× per REMOVED plane for the same recall in
    * one table, which also doubles bucket size). This is the
    * complementary lever to [[lshProbeBucketsByMargin]]: probing
    * spends query-side fan-out, tables spend corpus-side index entries
    * — at 20–30 planes a 100 TB corpus runs both.
    *
    * Adds `bucketsCol`: an array of `tables` bucket keys, element t
    * prefixed "t:" so keys from different tables can never collide
    * after an explode. Join shape: explode BOTH sides' arrays and join
    * on key equality — every join stays bucket-local within one table;
    * dedup (query, neighbor) after (a pair can collide in several
    * tables). All `tables`×`planes` projections ride ONE
    * posexplode → broadcast-sign-join → grouped-sum pass: L tables
    * cost L× sum columns, not L× shuffles. */
  def withLshBucketTables(df: org.apache.spark.sql.DataFrame, idCol: String,
                          embCol: String, maxDim: Int = 4096,
                          planes: Int = LshPlanes, tables: Int = 2,
                          bucketsCol: String = "buckets",
                          marginsCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    val seeds = for { t <- 0 until tables; j <- 0 until planes }
      yield s"plane_t${t}_${j}_"
    val proj = lshProjections(df, idCol, embCol, maxDim, seeds)
    val buckets = array((0 until tables).map(t =>
      concat(lit(s"$t:") +: (0 until planes).map(j =>
        when(col(s"__proj${t * planes + j}") > 0, "1").otherwise("0")): _*)): _*)
    // per-table |projection| lists, parallel to `buckets` — the
    // within-table doubt signal for [[lshProbeTablesByMargin]]; rides
    // the same grouped sums, like withLshBucketMargins' single-table
    // margins
    val outCols = col("__id") +: (buckets.as(bucketsCol) +:
      marginsCol.toSeq.map(m => array((0 until tables).map(t =>
        array((0 until planes).map(j =>
          abs(col(s"__proj${t * planes + j}"))): _*)): _*).as(m)))
    val keyed = proj.select(outCols: _*)
    df.join(keyed, df(idCol) === keyed("__id")).drop("__id")
  }

  /** The COMPOSITION of the engine's two LSH recall levers: for each
    * table of an OR-construction index ([[withLshBucketTables]]), probe
    * the table's own bucket plus its `probes` most doubtful
    * margin-ordered flips ([[lshProbeBucketsByMargin]] semantics,
    * applied per table to the bits after the "t:" prefix — the prefix
    * rides every probe, so probes can only hit their own table).
    * Returns the flattened probe-key list: L × (probes + 1) keys, the
    * query-side fan-out of an L-table × T-probe search; the corpus
    * side stays one entry per table. `buckets` and `margins` are the
    * parallel arrays one [[withLshBucketTables]] call emits.
    *
    * This is the recommended high-recall configuration: measured at
    * 1 M vectors (SCALE.md round 15), L=4 × T=planes/2 reaches
    * recall@10 = 0.90 at 16 planes / 0.65 at 24 — levels neither
    * exact tables (0.51 / 0.23) nor single-table probing (0.39 /
    * 0.21) touches alone — at 2.3e-3 / 3.0e-4 of all pairs scanned
    * (53× fewer candidates than IVF at matching recall). Semantics
    * pinned by the oracle-checked q88_lsh_composed. */
  def lshProbeTablesByMargin(buckets: Column, margins: Column,
                             probes: Int): Column = {
    require(probes >= 0, s"probes=$probes must be >= 0")
    flatten(zip_with(buckets, margins, (b, m) => {
      val colonPos = instr(b, ":")
      val pre = b.substr(lit(1), colonPos)
      val bits = b.substr(colonPos + 1, size(m))
      // same quantized (margin, plane) ranking as the single-table
      // probe — see lshProbeBucketsByMargin for the rounding rationale
      val doubtful = slice(
        transform(
          array_sort(zip_with(m, sequence(lit(1), size(m)),
            (x, i) => struct(round(x, 9).as("m"), i.as("i")))),
          e => e("i")),
        1, probes)
      val flips = transform(doubtful, i => concat(
        pre,
        bits.substr(lit(1), i - 1),
        when(bits.substr(i, lit(1)) === "1", lit("0")).otherwise(lit("1")),
        bits.substr(i + 1, size(m) - i)))
      concat(array(b), flips)
    }))
  }

  /** The shared projection core of [[withLshBucket]] /
    * [[withLshBucketMargins]] / [[withLshBucketTables]]: grouped-sum
    * projections of `embCol` onto one md5-derived Rademacher hyperplane
    * per seed (component i of the plane seeded `s` is
    * ((md5(s || i) first hex digit) & 1) * 2 − 1, recomputed
    * identically by the oracles). Returns one row per `idCol` with
    * columns `__id`, `__proj0` … — computed as posexplode → broadcast
    * join against a (position, signs…) table → codegen'd grouped sums,
    * so ALL requested planes share one pass regardless of count. */
  private def lshProjections(df: org.apache.spark.sql.DataFrame, idCol: String,
                             embCol: String, maxDim: Int,
                             seeds: Seq[String]): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val signCols = seeds.zipWithIndex.map { case (seed, p) =>
      ((conv(substring(md5(concat(lit(seed), col("id"))), 1, 1), 16, 10)
        .cast("int").bitwiseAND(lit(1))) * 2 - 1).cast("double").as(s"__s$p") }
    val signs = spark.range(1, maxDim + 1)
      .select(col("id").cast("int").as("__i") +: signCols: _*)
    val ex = df
      .select(col(idCol).as("__id"), posexplode(col(embCol)).as(Seq("__p", "__v")))
      .select(col("__id"), (col("__p") + 1).cast("int").as("__i"), col("__v"))
    val projAggs = seeds.indices.map(p =>
      sum(col("__v") * col(s"__s$p")).as(s"__proj$p"))
    ex.join(broadcast(signs), Seq("__i"))
      .groupBy(col("__id"))
      .agg(projAggs.head, projAggs.tail: _*)
  }
}
