package graft

import graft.ext.{Ann, VectorKMeans}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one ANN search path: every index kind proposes a subset of its
  * brute force's pairs with bit-identical scores, never a self-match;
  * a multi-table top-k is duplicate-free; the index parameters are
  * validated; and no second copy of the probe/table search exists. */
class AnnSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val queries = col("vec_id") < 20

  private def vectors = Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding".cast("array<double>").as("emb"))

  private def scored(c: Ann.Corpus): Seq[(Long, Long, Double)] =
    Ann.candidates(c, queries).as[(Long, Long, Double)].collect().toSeq

  test("every index kind: candidates are brute-force pairs with identical cos, no self-match") {
    val model = VectorKMeans.fit(vectors, "vec_id", "emb", k = 4, iters = 2)
    val kinds = Seq(Ann.Lsh(), Ann.Lsh(Ann.Hamming1), Ann.Lsh(Ann.ByMargin(2)),
      Ann.LshTables(1), Ann.LshTables(2), Ann.LshTables(2, Some(2)), Ann.Ivf(model, 2))
    // SQ8 kinds score decoded vectors: their brute force is SQ8's
    for (brute <- Seq[Ann.Index](Ann.BruteForce, Ann.Sq8())) {
      val truth = scored(Ann.corpus(vectors, "vec_id", "emb", brute))
        .map { case (q, n, c) => (q, n) -> c }.toMap
      assert(truth.size == 20 * 499)
      for (ix <- kinds.map(k => if (brute == Ann.BruteForce) k else Ann.Sq8(k))) {
        val cands = scored(Ann.corpus(vectors, "vec_id", "emb", ix))
        assert(cands.nonEmpty, s"$ix proposed nothing")
        cands.foreach { case (q, n, c) =>
          assert(q != n, s"$ix: self-match $q")
          assert(truth.get((q, n)).exists(t =>
            java.lang.Double.doubleToLongBits(t) == java.lang.Double.doubleToLongBits(c)),
            s"$ix: ($q, $n, $c) is not brute force's ${truth.get((q, n))}")
        }
      }
      Caching.release()
    }
  }

  test("two-table topK has no duplicate (query, neighbor) pair; the candidates do") {
    val c = Ann.corpus(vectors, "vec_id", "emb", Ann.LshTables(2, Some(2)))
    val pairs = Ann.candidates(c, queries).select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSeq
    // the dedup is needed: some pair collides in both tables
    assert(pairs.distinct.size < pairs.size)
    val top = Ann.topK(c, queries, k = 50).select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSeq
    assert(top.size == 20 * 50)
    assert(top.distinct.size == top.size)
    Caching.release()
  }

  test("searchable restricts the corpus side only") {
    val c = Ann.corpus(Tables.embeddings(spark, sf).select($"vec_id", $"label",
      $"embedding".cast("array<double>").as("emb")), "vec_id", "emb", Ann.Lsh(Ann.Hamming1))
    val label = Tables.embeddings(spark, sf).select($"vec_id", $"label")
      .as[(Long, Long)].collect().toMap
    val got = Ann.candidates(c, queries, searchable = $"label" % 3 === 0)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSeq
    assert(got.forall { case (_, n) => label(n) % 3 == 0 })
    assert(got.map(_._1).distinct.exists(q => label(q) % 3 != 0),
      "queries must come from every vector, eligible or not")
    Caching.release()
  }

  test("persisted candidates and cellsPersisted serve later searches from the cache") {
    // ScaleBench ann counts each leg's candidates, then ranks them, and
    // sweeps nprobe over one cell assignment: neither repeats its join
    def cached(df: DataFrame) =
      df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.size
    val model = VectorKMeans.fit(vectors, "vec_id", "emb", k = 4, iters = 1)
    // a single IVF search (q50) persists nothing
    assert(cached(Ann.topK(Ann.corpus(vectors, "vec_id", "emb", Ann.Ivf(model, 2)), queries, 3)) == 0)
    val c = Ann.corpus(vectors, "vec_id", "emb", Ann.Ivf(model, 1)).cellsPersisted
    Caching.persisted(Ann.candidates(c, queries))
    assert(cached(Ann.topK(c, queries, 3)) == 1)
    assert(cached(Ann.topK(c.probedBy(Ann.Ivf(model, 2)), queries, 3)) == 1)
    Caching.release()
  }

  test("index parameters fail through require") {
    val model = VectorKMeans.fit(vectors, "vec_id", "emb", k = 4, iters = 1)
    def search(ix: => Ann.Index) = intercept[IllegalArgumentException] {
      Ann.candidates(Ann.corpus(vectors, "vec_id", "emb", ix), queries)
    }
    search(Ann.Ivf(model, 0))
    search(Ann.Ivf(model, 5))
    search(Ann.LshTables(0))
    search(Ann.LshTables(2, Some(-1)))
    search(Ann.Lsh(Ann.ByMargin(-1)))
    // keys a search needs must have been built
    val single = Ann.corpus(vectors, "vec_id", "emb", Ann.Lsh())
    intercept[IllegalArgumentException](single.probedBy(Ann.Lsh(Ann.ByMargin(1))))
    intercept[IllegalArgumentException](single.probedBy(Ann.LshTables(1)))
    val two = Ann.corpus(vectors, "vec_id", "emb", Ann.LshTables(2))
    intercept[IllegalArgumentException](two.probedBy(Ann.LshTables(4)))
    Caching.release()
  }

  test("only graft/ext/Ann.scala calls the LSH probe and table builders under src/main") {
    // q45's self-join keeps withLshBucket; every search goes through Ann
    val root = java.nio.file.Paths.get("src/main/scala")
    assume(java.nio.file.Files.isDirectory(root), s"sources absent at $root")
    val call = "(?<!def )\\b(lshProbeBuckets\\w*|lshProbeTablesByMargin|withLshBucketTables)\\s*\\(".r
    val sites = scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        call.findAllIn(text).map(_ => root.relativize(p).toString)
      }.toSet
    }
    assert(sites == Set("graft/ext/Ann.scala"))
  }
}
