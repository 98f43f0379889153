package graft.ext

import graft.Caching
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cosine nearest-neighbor search over an `array<double>` embedding
  * column: one index ADT ([[Index]]) and one search path
  * ([[candidates]] → [[topK]]), run by the similarity-search queries
  * (q27, q28, q50, q82–q84, q87, q88, q126) and by `ScaleBench ann`, so
  * the bench's recall is the recall of the queries' code.
  *
  * An index is built once and probed many times: [[corpus]] keys a
  * corpus (norms, LSH buckets, IVF cells) and every search of the
  * returned [[Corpus]] reuses those keys (persisted LSH buckets; IVF
  * cells once [[Corpus.cellsPersisted]]); [[Corpus.probedBy]] searches
  * them through another index they cover (a probe sweep, fewer tables,
  * another nprobe).
  *
  * One search shape for every kind: the query rows (`queryPred` over
  * the corpus) are a broadcast, the corpus streams once through a
  * key-equality join (bucket, table bucket, IVF cell) — or, for brute
  * force, the ground truth, a nested loop — and ranking is the partial
  * top-k aggregate ([[TextOps.topKPerGroup]]). Self-matches are
  * excluded. */
object Ann {

  /** Which buckets a single-table LSH query probes: its own
    * ([[Exact]], q28), plus every Hamming-1 flip ([[Hamming1]],
    * [[TextOps.lshProbeBuckets]], q82), or plus the `probes`
    * lowest-margin flips ([[ByMargin]],
    * [[TextOps.lshProbeBucketsByMargin]], q83). The probe keys are
    * distinct and a neighbor sits in one bucket, so no pair repeats. */
  sealed trait Probe
  case object Exact extends Probe
  case object Hamming1 extends Probe
  final case class ByMargin(probes: Int) extends Probe {
    require(probes >= 0, s"probes=$probes must be >= 0")
  }

  sealed trait Index
  /** Every (query, corpus) pair scored (q27). */
  case object BruteForce extends Index
  /** Single-table sign LSH over [[TextOps.LshPlanes]] planes
    * ([[TextOps.withLshBucket]]); the bucketed corpus is persisted. */
  final case class Lsh(probe: Probe = Exact) extends Index
  /** OR-construction over `tables` independent tables
    * ([[TextOps.withLshBucketTables]], q84), each optionally probing its
    * `probes` margin-ordered flips ([[TextOps.lshProbeTablesByMargin]],
    * q88); persisted like [[Lsh]]. A pair can collide in several tables:
    * [[candidates]] keeps the repeats (the scanned volume), [[topK]]
    * drops them when `tables` > 1. */
  final case class LshTables(tables: Int, probes: Option[Int] = None) extends Index {
    require(tables >= 1, s"tables=$tables must be >= 1")
    require(probes.forall(_ >= 0), s"probes=${probes.get} must be >= 0")
  }
  /** IVF over a fitted model (q50): each corpus vector sits in its
    * nearest cell by centroid cosine ([[VectorKMeans.ivfAssign]]; see
    * [[Corpus.cellsPersisted]] for a corpus searched more than once),
    * each query probes its `nprobe` nearest cells. A pair
    * arises from one cell only; candidates are nested in nprobe and
    * nprobe = k is exact search. */
  final case class Ivf(model: VectorKMeans.Model, nprobe: Int) extends Index {
    require(nprobe >= 1 && nprobe <= model.k,
      s"nprobe=$nprobe must be in [1, k=${model.k}]")
  }
  /** SQ8 asymmetric distance (q87): candidates from `keys` built on the
    * float vectors, scored against the SQ8-decoded corpus
    * ([[Quantize]]) with float queries. A per-search corpus transform,
    * never persisted. */
  final case class Sq8(keys: Index = BruteForce) extends Index

  // internal columns; a corpus must not carry them
  private val (nrm, bucket, margins, buckets, tmargins) =
    ("__nrm", "bucket", "__margins", "__buckets", "__tmargins")

  /** A corpus keyed for `keys` (one row per vector in `vectors`, IVF
    * cells in `cells`), searched through `index`. */
  final class Corpus private[Ann] (val vectors: DataFrame, private[Ann] val idCol: String,
                                   private[Ann] val embCol: String, keys: Index,
                                   private[Ann] val index: Index,
                                   private[Ann] val cells: Option[DataFrame]) {
    /** The same keys searched through `other`: another probe of the
      * single-table bucket, the first tables of a multi-table index,
      * another nprobe of the same model, brute force or SQ8. */
    def probedBy(other: Index): Corpus = {
      require(covers(keys, other), s"a corpus keyed for $keys cannot be searched as $other")
      new Corpus(vectors, idCol, embCol, keys, other, cells)
    }

    /** The same handle with its IVF cell assignment persisted through
      * [[Caching.persisted]], so an nprobe sweep pays the corpus × k
      * assignment once; a single search (q50) need not. Other kinds
      * have no cells: their keys persist when keyed. */
    def cellsPersisted: Corpus =
      new Corpus(vectors, idCol, embCol, keys, index, cells.map(Caching.persisted))
  }

  private def covers(built: Index, search: Index): Boolean = (built, search) match {
    case (_, BruteForce) => true
    case (_, Sq8(s)) => covers(built, s)
    case (Sq8(b), _) => covers(b, search)
    case (Lsh(bp), Lsh(sp)) => bp.isInstanceOf[ByMargin] || !sp.isInstanceOf[ByMargin]
    case (LshTables(bt, bm), LshTables(st, sm)) => st <= bt && (bm.nonEmpty || sm.isEmpty)
    case (Ivf(bm, _), Ivf(sm, _)) => bm eq sm
    case _ => false
  }

  /** Keys `df` (`idCol`, `embCol` array<double>, any other columns) for
    * `index`, persisting the LSH buckets through [[Caching.persisted]]. */
  def corpus(df: DataFrame, idCol: String, embCol: String, index: Index): Corpus = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val normed = df.withColumn(nrm, TextOps.l2norm(col(embCol)))
    def keyed(ix: Index): (DataFrame, Option[DataFrame]) = ix match {
      case BruteForce => (normed, None)
      case Sq8(k) => keyed(k)
      case Lsh(ByMargin(_)) => (Caching.persisted(TextOps.withLshBucketMargins(
        normed, idCol, embCol, marginsCol = margins)), None)
      case Lsh(_) => (Caching.persisted(TextOps.withLshBucket(normed, idCol, embCol)), None)
      case LshTables(tables, probes) => (Caching.persisted(TextOps.withLshBucketTables(
        normed, idCol, embCol, tables = tables, bucketsCol = buckets,
        marginsCol = probes.map(_ => tmargins))), None)
      case Ivf(model, _) => (normed, Some(VectorKMeans.ivfAssign(
        normed, idCol, embCol, nrm, model.centroidFrame(df.sparkSession))))
    }
    val (vectors, cells) = keyed(index)
    new Corpus(vectors, idCol, embCol, index, index, cells)
  }

  /** Every scored candidate of the query rows `queryPred` selects,
    * among the corpus vectors `searchable` admits (a pre-filter below
    * the key join, so top-k is k from the eligible — q126). Output
    * (query_id, neighbor_id, cos), neither deduplicated nor ranked: a
    * caller can count the scanned pairs, the at-scale cost. */
  def candidates(corpus: Corpus, queryPred: Column,
                 searchable: Column = lit(true)): DataFrame = {
    val id = col(corpus.idCol)
    val queries = corpus.vectors.filter(queryPred)
    def query(keys: Column*) = queries.select(Seq(id.as("query_id"),
      col(corpus.embCol).as("__qemb"), col(nrm).as("__qnrm")) ++ keys: _*)
    val eligible = corpus.vectors.filter(searchable)
    // the scoring side: float vectors, or their SQ8 reconstruction
    val (side, emb, norm) = corpus.index match {
      case Sq8(_) =>
        val dec = Quantize.sq8Decode(col("__qcode"), col("__qmin"), col("__qmax"))
        (Quantize.sq8Encode(eligible, corpus.embCol, "__qcode", "__qmin", "__qmax")
          .withColumn("__remb", dec).withColumn("__rnrm", TextOps.l2norm(col("__remb"))),
          "__remb", "__rnrm")
      case _ => (eligible, corpus.embCol, nrm)
    }
    def bucketJoin(corpusKey: Column, queryKey: Column) =
      side.select(id, col(emb), col(norm), corpusKey.as("__key"))
        .join(broadcast(query(queryKey.as("__qkey"))),
          col("__key") === col("__qkey") && id =!= col("query_id"))
    def first(c: String, l: Int) = slice(col(c), 1, l)
    def search(ix: Index): DataFrame = ix match {
      case Sq8(k) => search(k)
      case BruteForce => side.join(broadcast(query()), id =!= col("query_id"))
      case Lsh(probe) => bucketJoin(col(bucket), probe match {
        case Exact => col(bucket)
        case Hamming1 => explode(TextOps.lshProbeBuckets(col(bucket)))
        case ByMargin(t) =>
          explode(TextOps.lshProbeBucketsByMargin(col(bucket), col(margins), t))
      })
      case LshTables(l, probes) => bucketJoin(explode(first(buckets, l)), probes match {
        case None => explode(first(buckets, l))
        case Some(t) => explode(TextOps.lshProbeTablesByMargin(
          first(buckets, l), first(tmargins, l), t))
      })
      case Ivf(model, nprobe) =>
        // only the query rows pay the centroid similarity pass
        val probes = TextOps.topKPerGroup(VectorKMeans.centroidSims(queries,
            corpus.idCol, corpus.embCol, nrm, model.centroidFrame(queries.sparkSession)),
            Seq(corpus.idCol), col("csim"), col("cent_id"), nprobe)
          .select(id.as("query_id"), col("id").as("cell"))
        side.join(corpus.cells.get, corpus.idCol)
          .join(broadcast(probes), Seq("cell"))
          .join(broadcast(query()), Seq("query_id"))
          .filter(id =!= col("query_id"))
    }
    search(corpus.index).select(col("query_id"), id.as("neighbor_id"),
      TextOps.cosine(col(emb), col("__qemb"), col(norm), col("__qnrm")).as("cos"))
  }

  /** Top-`k` neighbors per query by (cos DESC, neighbor_id ASC) over
    * [[candidates]], after dropping the pairs a multi-table index
    * repeats. Output (query_id, neighbor_id, rank, score). */
  def topK(corpus: Corpus, queryPred: Column, k: Int,
           searchable: Column = lit(true)): DataFrame = {
    def tables(ix: Index): Int = ix match {
      case LshTables(l, _) => l
      case Sq8(keys) => tables(keys)
      case _ => 1
    }
    val scored = candidates(corpus, queryPred, searchable)
    TextOps.topKPerGroup(if (tables(corpus.index) > 1) scored.distinct() else scored,
        Seq("query_id"), col("cos"), col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("score"))
  }
}
