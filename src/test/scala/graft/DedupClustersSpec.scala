package graft

import graft.ext.DedupClusters
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Connected-components cluster labeling: chains collapse to min id,
  * components stay separate, isolated docs self-represent. */
class DedupClustersSpec extends SparkSpec {

  import spark.implicits._

  test("chains, separate components, and isolated nodes") {
    val docs = (1L to 8L).toDF("doc_id")
    // component {1,2,3,4} as a chain (diameter 3 — needs propagation
    // rounds, not just one hop), component {6,7}, isolated {5, 8}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L))
      .toDF("a_id", "b_id")
    val got = DedupClusters.connectedComponents(docs, "doc_id", pairs)
      .orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    Caching.release()
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
  }

  test("driver union-find labels every node of a path-compressed graph") {
    // find()'s path compression rewrites parent entries; labelling by
    // iterating the live map skipped keys, which came back as their own
    // cluster_rep (a fuzzed case that failed before the key snapshot)
    val edges = Seq((8L, 9L), (8L, 3L), (16L, 6L), (19L, 20L), (16L, 2L),
      (1L, 21L), (24L, 15L), (7L, 24L), (15L, 0L), (9L, 19L), (2L, 6L))
    val got = DedupClusters.connectedComponents((0L to 24L).toDF("doc_id"),
        "doc_id", edges.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    Caching.release()
    val reps = Map(3L -> Seq(3L, 8L, 9L, 19L, 20L), 2L -> Seq(2L, 6L, 16L),
      1L -> Seq(1L, 21L), 0L -> Seq(0L, 7L, 15L, 24L))
    val want = (0L to 24L).map(i => i -> i).toMap ++
      reps.flatMap { case (r, ns) => ns.map(_ -> r) }
    assert(got == want)
  }

  test("distributed propagation path agrees with driver union-find") {
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L))
      .toDF("a_id", "b_id")
    // driverMaxEdges = 0 forces the min-label propagation loop
    val dist = DedupClusters.connectedComponents(docs, "doc_id", pairs,
        driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    val drv = DedupClusters.connectedComponents(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    Caching.release()
    assert(dist == drv)
    assert(dist == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
  }

  test("adversarial long chain converges in O(log n) star rounds") {
    // round-8 verdict #5: min-label propagation needed O(diameter)
    // rounds, so a chain longer than maxIters quietly returned a
    // partial labeling. The large/small-star contraction must collapse
    // a 300-node path well inside the default 50-round cap (it needs
    // ~log n rounds).
    val n = 300
    val docs = (0L until n).toDF("doc_id")
    val pairs = (1 until n).map(i => (i.toLong, i - 1L)).toDF("a_id", "b_id")
    val got = DedupClusters.connectedComponents(docs, "doc_id", pairs,
        driverMaxEdges = 0) // force the distributed path
      .as[(Long, Long)].collect()
    Caching.release()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L))
  }

  test("star contraction holds a constant number of cached frames, not one per round") {
    // round-9 verdict #1: each contraction round persisted a new edge
    // frame without releasing the previous round's, so an O(log n)-round
    // run held every generation of the candidate-graph-sized frame until
    // the caller's terminal release. Now round t−1 is dropped as soon as
    // round t materializes: on a 300-node chain (~8 contraction rounds)
    // the registry high-water mark must stay at the pair frame + two
    // edge-frame generations — independent of round count.
    Caching.release() // reset the high-water mark
    val n = 300
    val docs = (0L until n).toDF("doc_id")
    val pairs = (1 until n).map(i => (i.toLong, i - 1L)).toDF("a_id", "b_id")
    val got = DedupClusters.connectedComponents(docs, "doc_id", pairs,
        driverMaxEdges = 0) // force the distributed path
      .as[(Long, Long)].collect()
    val high = Caching.highWaterMark
    val leftTracked = Caching.trackedCount
    Caching.release()
    assert(got.forall(_._2 == 0L)) // still the correct labeling
    assert(high <= 3, s"cache high-water mark $high: rounds are accumulating frames")
    assert(leftTracked <= 1, s"$leftTracked frames still tracked after the run")
  }

  test("non-convergence is a hard failure, not a silent partial labeling") {
    val n = 64
    val docs = (0L until n).toDF("doc_id")
    val pairs = (1 until n).map(i => (i.toLong, i - 1L)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      DedupClusters.connectedComponents(docs, "doc_id", pairs,
        driverMaxEdges = 0, maxIters = 2).collect()
    }
    Caching.release()
    assert(e.getMessage.contains("did not converge"))
  }

  test("property: both paths equal a naive fixpoint on random graphs") {
    // the round-6 gap: each path was tested, not their AGREEMENT on the
    // same graphs — generate random edge lists and check driver
    // union-find == distributed propagation == a test-local naive
    // transitive min-label fixpoint (an independent third computation)
    def naive(n: Long, es: Seq[(Long, Long)]): Map[Long, Long] = {
      val lab = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
      var changed = true
      while (changed) {
        changed = false
        es.foreach { case (a, b) =>
          val m = math.min(lab(a), lab(b))
          if (lab(a) != m || lab(b) != m) { lab(a) = m; lab(b) = m; changed = true }
        }
      }
      lab.toMap
    }
    def gen(maxN: Long, maxEdges: Int) = for {
      n <- Gen.choose(2L, maxN)
      nEdges <- Gen.choose(0, maxEdges)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(1L, n), Gen.choose(1L, n)))
    } yield (n, edges.filter(e => e._1 != e._2))
    // the driver union-find alone, on many graphs (pure Scala, no
    // Spark job per case): path-compression bugs need a few hundred
    // graphs of this size to show
    val drvProp = Prop.forAll(gen(40L, 60)) { case (n, es) =>
      val uf = DedupClusters.unionFind(es.toArray)
      naive(n, es) == (1L to n).map(i => i -> uf.getOrElse(i, i)).toMap
    }
    val drvRes = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(3000), drvProp)
    assert(drvRes.passed, drvRes.status.toString)
    val prop = Prop.forAll(gen(30L, 40)) { case (n, es) =>
      val docs = (1L to n).toDF("doc_id")
      val pairs = if (es.isEmpty) Seq((1L, 1L)).toDF("a_id", "b_id").limit(0)
        else es.toDF("a_id", "b_id")
      val drv = DedupClusters.connectedComponents(docs, "doc_id", pairs)
        .as[(Long, Long)].collect().toMap
      val dist = DedupClusters.connectedComponents(docs, "doc_id", pairs,
          driverMaxEdges = 0)
        .as[(Long, Long)].collect().toMap
      Caching.release()
      val want = naive(n, es)
      drv == want && dist == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("label order independence: reversed pair direction, same fixpoint") {
    val docs = (1L to 4L).toDF("doc_id")
    val pairs = Seq((3L, 4L), (2L, 3L), (1L, 2L)).toDF("a_id", "b_id")
    val got = DedupClusters.connectedComponents(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    Caching.release()
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }
}
