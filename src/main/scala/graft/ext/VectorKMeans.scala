package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an `array<double>` embedding column
  * — the production centroid source for IVF-style ANN
  * (`DocumentQueries` q50 uses a deterministic first-k selection so the
  * DuckDB oracle can replicate it bit-for-bit; real corpora want
  * data-dependent centroids, which float-summation order makes
  * non-oracle-reproducible — hence a library operator with its own
  * spec rather than an oracle query).
  *
  * Scale shape per iteration:
  *   - assignment: centroids are a k×dim broadcast (k ~ sqrt(n) stays
  *     dimension-sized); each vector computes its nearest centroid in
  *     one codegen'd pass — no shuffle;
  *   - update: posexplode to (cluster, dim_pos, value) and one
  *     map-side-combinable groupBy average — a single shuffle of
  *     n×dim skinny rows per iteration.
  *
  * Initialization is deterministic and selectable ([[Init]]): the
  * default [[HashSpread]] takes the k vectors with the smallest
  * `md5(id)` — a reproducible pseudo-random spread, the standard
  * trade for IVF cell quality on well-mixed corpora — and
  * [[KMeansParallel]] is the k-means|| oversampling init
  * ([[initParallel]]) for clumpy real embeddings where hash seeding
  * strands whole clumps in one cell. Draws use md5 seeds and coins —
  * no RNG state — but the k-means|| draw THRESHOLD depends on φ (a
  * distributed double sum with shuffle-merge-order ulp noise), so its
  * candidate set is reproducible except in the astronomically
  * unlikely case of a coin landing within an ulp of its threshold;
  * EXACT equality of fitted centroids additionally needs `quantize`
  * (see [[fit]]). Empty clusters keep their previous centroid. */
object VectorKMeans {

  /** One fitted model: centroids indexed 0..k-1. */
  final case class Model(centroids: Array[(Int, Array[Double])]) {
    def k: Int = centroids.length

    /** The centroid matrix as ONE plan literal (array<array<double>>)
      * for the native expression — not k×dim unrolled nodes. */
    private def centroidLit: Column =
      typedlit(centroids.map(_._2.toSeq).toSeq)

    /** `struct<cluster:int, dist2:double>` of the nearest centroid —
      * one native codegen'd expression
      * ([[graft.functions.NearestCentroid]]); the old unrolled
      * `element_at(emb,i) - lit(v)` chain was O(k·dim) plan nodes and
      * fell out of codegen past the 64 KB method limit at IVF-realistic
      * k (round-7 verdict). Caller must have run
      * [[graft.plans.GraftExtensions.register]] on the session
      * ([[assign]] / [[cost]] do it for you). */
    def nearestExpr(emb: Column): Column = {
      // native expr indexes centroids by POSITION; translate to the
      // model's cid only when they differ (init/fit build cid == index)
      val near = call_function("graft_nearest_centroid", emb, centroidLit)
      if (centroids.zipWithIndex.forall { case ((cid, _), i) => cid == i }) near
      else struct(
        element_at(typedlit(centroids.map(_._1).toSeq), near("cluster") + 1)
          .as("cluster"),
        near("dist2").as("dist2"))
    }

    /** Nearest-centroid id for each row (see [[nearestExpr]]). */
    def assignExpr(emb: Column): Column = nearestExpr(emb)("cluster")

    /** Adds `cluster` to `df`. */
    def assign(df: DataFrame, embCol: String): DataFrame = {
      graft.plans.GraftExtensions.register(df.sparkSession)
      df.withColumn("cluster", assignExpr(col(embCol)))
    }

    /** The centroids as a local frame (cent_id, cemb, cnrm) — what
      * [[centroidSims]] and [[ivfAssign]] broadcast. */
    def centroidFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      centroids.toSeq.map { case (cid, c) => (cid.toLong, c.toSeq) }
        .toDF("cent_id", "cemb")
        .withColumn("cnrm", TextOps.l2norm(col("cemb")))
    }
  }

  /** Initialization strategy for [[fit]]. */
  sealed trait Init
  /** The k vectors with smallest md5(id) — a reproducible
    * pseudo-random spread ([[init]]); [[fit]]'s default and what
    * q50's oracle mirrors. */
  case object HashSpread extends Init
  /** k-means|| oversampling (Bahmani et al., "Scalable k-means++",
    * VLDB 2012), fully deterministic: `rounds` passes each sample
    * points with probability min(1, oversample · d²(x, C)/φ) using an
    * md5-derived coin, then the population-weighted candidate set is
    * reduced to k driver-side. Candidates ≈ oversample · rounds —
    * dimension-sized, never corpus-sized (`oversample` ≤ 0 means
    * 2k, the paper's recommended order). The cell-balance lever for
    * clumpy real embeddings, where a pure hash spread seeds
    * proportionally to clump mass and strands far clumps in one
    * cell. */
  final case class KMeansParallel(rounds: Int = 2, oversample: Int = 0) extends Init

  /** `embCol` must be exactly array<double>: the driver-side collects
    * read rows with `getSeq[Double]`, so an array<float> (or any other
    * numeric array) would surface as an opaque ClassCastException deep
    * inside a Lloyd round instead of a named precondition. Callers
    * cast upstream (`.cast("array<double>")`). */
  private def requireDoubleArray(df: DataFrame, embCol: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    df.schema(embCol).dataType match {
      case ArrayType(DoubleType, _) => ()
      case dt => throw new IllegalArgumentException(
        s"embedding column $embCol must be array<double>, got ${dt.sql} — " +
          "cast upstream with .cast(\"array<double>\")")
    }
  }

  /** Deterministic init: k distinct vectors with smallest md5(id).
    * `embCol` must be array<double> (cast upstream — every caller
    * reads embeddings via `.cast("array<double>")`; checked loudly). */
  def init(df: DataFrame, idCol: String, embCol: String, k: Int): Model = {
    requireDoubleArray(df, embCol)
    val rows = df
      .select(col(idCol), col(embCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k)
      .collect()
    Model(rows.zipWithIndex.map { case (r, i) =>
      val v = r.getSeq[Double](1)
      require(v != null,
        s"embeddings must be non-null: $embCol is null at $idCol=${r.get(0)}")
      i -> v.toArray
    })
  }

  /** `iters` Lloyd rounds from the deterministic init.
    *
    * `quantize`: round every updated centroid component half-up to
    * that many decimals after each round. Distributed double sums
    * merge in shuffle-arrival order, so unquantized means carry
    * run-to-run ulp-level noise; quantizing after every round pins
    * the whole iteration trajectory, making fitted centroids
    * REPRODUCIBLE across runs — the property that lets q50's oracle
    * mirror them as literals. At 1e-6 on unit-scale embeddings the
    * quantization is far below any cell-quality effect. */
  def fit(df: DataFrame, idCol: String, embCol: String, k: Int,
          iters: Int, quantize: Option[Int] = None,
          seeding: Init = HashSpread): Model = {
    requireDoubleArray(df, embCol)
    def q(v: Double): Double = quantize match {
      case Some(s) =>
        BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      case None => v
    }
    var model = seeding match {
      case HashSpread => init(df, idCol, embCol, k)
      case KMeansParallel(rounds, oversample) =>
        initParallel(df, idCol, embCol, k, rounds, oversample)
    }
    for (_ <- 0 until iters) {
      val assigned = model.assign(df, embCol)
      // element-wise mean per cluster: skinny explode + one shuffle
      val means = assigned
        .select(col("cluster"), posexplode(col(embCol)).as(Seq("__p", "__v")))
        .groupBy(col("cluster"), col("__p"))
        .agg(avg(col("__v")).as("__m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("__p"), col("__m")))),
          e => e("__m")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[Double](1).map(q).toArray)
        .toMap
      model = Model(model.centroids.map { case (cid, prev) =>
        cid -> means.getOrElse(cid, prev) // empty cluster keeps centroid
      })
    }
    model
  }

  /** k-means|| init (see [[KMeansParallel]]). Deterministic: the seed
    * candidate is [[init]]'s first pick, per-round coins hash
    * (id, round), and the driver-side reduction breaks ties by
    * candidate order. Each round is one broadcast-assignment pass
    * (φ) plus one bounded collect — the same per-round shuffle shape
    * as a [[fit]] iteration, minus the centroid-update exchange. */
  def initParallel(df: DataFrame, idCol: String, embCol: String, k: Int,
                   rounds: Int = 2, oversample: Int = 0): Model = {
    requireDoubleArray(df, embCol)
    graft.plans.GraftExtensions.register(df.sparkSession)
    val l = if (oversample > 0) oversample else 2 * k
    val cands = parallelCandidates(df, idCol, embCol, rounds, l)
    // degenerate corpus (e.g. one outlier holding ~all of φ clips every
    // other draw probability to ~0): fewer candidates than centers
    // would silently fit an under-sized model — fail loudly, and BEFORE
    // paying the full-corpus weighting pass below
    require(cands.size >= k,
      s"k-means|| drew only ${cands.size} candidates for k=$k; " +
        "raise rounds/oversample or use HashSpread init")
    // weight candidates by the population they capture (one pass)
    val cm = Model(cands.zipWithIndex.map { case (c, i) => i -> c }.toArray)
    val w = df.select(cm.assignExpr(col(embCol)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Model(reduceWeighted(cands,
      cands.indices.map(i => w.getOrElse(i, 0L).toDouble), k))
  }

  /** The k-means|| candidate sweep, separated so the BOUND is directly
    * spec-testable: returns 1 + at-most-4l candidates per round — the
    * `orderBy(coin).limit(4l)` caps every round's collect at 4l rows
    * regardless of corpus size or distribution, so |cands| ≤
    * 1 + rounds·4l always (≈ l per round in expectation), and NEVER
    * corpus-sized. Fails loudly on null embeddings (round-9 advice: a
    * null row used to surface as an opaque NPE deep in the weighting
    * pass, while being silently excluded from φ and draws) — the
    * null count rides the first round's φ aggregation for free
    * rather than paying a dedicated corpus scan; a null picked as the
    * md5-min seed fails [[init]]'s own non-null require first. */
  private[graft] def parallelCandidates(df: DataFrame, idCol: String,
                                        embCol: String,
                                        rounds: Int, l: Int): Vector[Array[Double]] = {
    var cands = Vector(init(df, idCol, embCol, 1).centroids(0)._2)
    for (r <- 1 to rounds) {
      val m = Model(cands.zipWithIndex.map { case (c, i) => i -> c }.toArray)
      val d2 = m.nearestExpr(col(embCol))("dist2")
      val phiRow =
        if (r == 1)
          df.agg(sum(d2),
            sum(when(col(embCol).isNull, 1L).otherwise(0L))).head()
        else df.agg(sum(d2)).head()
      if (r == 1) {
        val nNull = if (phiRow.isNullAt(1)) 0L else phiRow.getLong(1)
        require(nNull == 0L,
          s"embeddings must be non-null: $nNull rows have null $embCol — " +
            "filter them out before fitting")
      }
      val phi = if (phiRow.isNullAt(0)) 0.0 else phiRow.getDouble(0)
      if (phi > 0) {
        // md5 coin in [0,1): 15 hex chars = 60 uniform bits / 2^60
        val coin = conv(substring(md5(concat(col(idCol).cast("string"),
          lit(s"|kmpar|$r"))), 1, 15), 16, 10).cast("double") /
          lit(math.pow(2.0, 60))
        // expected ~l draws; the orderBy(coin)+limit keeps the collect
        // BOUNDED and deterministic even on adversarial distributions
        val drawn = df
          .select(col(idCol).as("__id"), col(embCol).as("__e"),
            coin.as("__u"), d2.as("__d2"))
          .filter(col("__u") < least(lit(1.0), col("__d2") * l / lit(phi)))
          .orderBy(col("__u"), col("__id"))
          .limit(4 * l)
          .collect()
          .map(_.getSeq[Double](1).toArray)
        cands = cands ++ drawn
      }
    }
    cands
  }

  /** Driver-side reduction of a weighted candidate set to k centers:
    * greedy farthest-point seeding (first = heaviest candidate, each
    * next maximizes weight · d² to the chosen set; ties → lowest
    * index) followed by 5 weighted Lloyd rounds over the candidates.
    * O(|cands|² · dim) with |cands| ≈ oversample · rounds — driver
    * discipline, same k-sized-data argument as
    * [[graft.ext.CorrCluster.averageLinkage]]. */
  private def reduceWeighted(cands: Vector[Array[Double]],
                             weights: Seq[Double],
                             k: Int): Array[(Int, Array[Double])] = {
    require(cands.nonEmpty, "no candidates")
    val n = cands.size
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    if (n <= k)
      return cands.zipWithIndex.map { case (c, i) => i -> c }.toArray
    // greedy seeding: heaviest first, then weight-scaled farthest point
    val chosen = scala.collection.mutable.ArrayBuffer(
      weights.zipWithIndex.maxBy { case (wt, i) => (wt, -i) }._2)
    while (chosen.size < k) {
      val next = (0 until n).filterNot(chosen.contains).maxBy { i =>
        (weights(i) * chosen.map(c => dist2(cands(i), cands(c))).min, -i)
      }
      chosen += next
    }
    var centers = chosen.map(cands(_)).toArray
    // weighted Lloyd over the candidate set
    for (_ <- 0 until 5) {
      val assign = (0 until n).map(i =>
        centers.indices.minBy(c => (dist2(cands(i), centers(c)), c)))
      centers = centers.indices.map { c =>
        val members = (0 until n).filter(i => assign(i) == c && weights(i) > 0)
        if (members.isEmpty) centers(c)
        else {
          val tw = members.map(weights).sum
          val acc = new Array[Double](centers(c).length)
          members.foreach { i =>
            var j = 0
            while (j < acc.length) { acc(j) += cands(i)(j) * weights(i); j += 1 }
          }
          acc.map(_ / tw)
        }
      }.toArray
    }
    centers.zipWithIndex.map { case (c, i) => i -> c }
  }

  /** Within-cluster sum of squared distances (convergence metric) —
    * the `dist2` half of the same one-pass native expression
    * [[Model.nearestExpr]] uses for assignment. */
  def cost(model: Model, df: DataFrame, embCol: String): Double = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(model.nearestExpr(col(embCol))("dist2").as("d"))
      .agg(sum(col("d"))).collect()(0).getDouble(0)
  }

  /** Per-vector centroid cosine similarities (id, cent_id, csim) —
    * one broadcast of the centroid frame `cent` (cent_id, cemb, cnrm;
    * [[Model.centroidFrame]] for a fitted model) against `e`: the
    * corpus for [[ivfAssign]], the query rows for [[Ann.Ivf]]'s probe
    * selection. */
  private[ext] def centroidSims(e: DataFrame, idCol: String, embCol: String,
                                nrmCol: String, cent: DataFrame): DataFrame =
    e.join(broadcast(cent))
      .select(col(idCol), col("cent_id"),
        TextOps.cosine(col(embCol), col("cemb"), col(nrmCol), col("cnrm")).as("csim"))

  /** Corpus-wide IVF cell assignment: (`idCol`, cell) — each vector's
    * single nearest centroid of `cent` (see [[centroidSims]]) by
    * cosine, as a rank-1 partial top-k pick (map-side combine, not a
    * window sort). The expensive per-model pass: an nprobe SWEEP should
    * compute this once, persist it (through [[graft.Caching.persisted]]),
    * as [[Ann.corpus]] does for an [[Ann.Ivf]] index, so every search of
    * the corpus reuses it instead of re-paying the corpus × k
    * assignment. */
  def ivfAssign(e: DataFrame, idCol: String, embCol: String,
                nrmCol: String, cent: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(e.sparkSession)
    TextOps.topKPerGroup(centroidSims(e, idCol, embCol, nrmCol, cent),
        Seq(idCol), col("csim"), col("cent_id"), 1)
      .select(col(idCol), col("id").as("cell"))
  }
}
