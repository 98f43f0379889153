package graft

import graft.ScaleBench.{Ctx, registry}
import scala.jdk.CollectionConverters._

/** Every ScaleBench entry runs at a tiny size on the test session and
  * emits its documented JSON keys — a bench that rots fails here, not
  * when someone next runs it. */
class ScaleBenchSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private val tiny: Map[String, Seq[Long]] = Map(
    "analytics" -> Seq(2000L), "ann" -> Seq(300L), "dedup" -> Seq(300L),
    "dsir" -> Seq(300L), "ewma" -> Seq(2000L), "fuzzy" -> Seq(2000L),
    "ingest" -> Seq(3000L), "joinskew" -> Seq(2000L), "layout" -> Seq(2000L),
    "median" -> Seq(2000L), "pack" -> Seq(1L, 2L), "pipeline" -> Seq(300L),
    "rank" -> Seq(2000L), "skew" -> Seq(300L), "span" -> Seq(300L),
    "span_recompute" -> Seq(300L), "span_hot" -> Seq(300L),
    "streaming" -> Seq(2L), "streaming_rocksdb" -> Seq(2L))

  // one run per entry, shared by the key check and the ann pin below
  private val runs = scala.collection.mutable.Map[String, Seq[ScaleBench.Record]]()
  private def records(name: String) = runs.getOrElseUpdate(name,
    ScaleBench.run(Ctx(spark, sf), registry(name), tiny(name)))

  test("every registry entry has a tiny size here") {
    assert(tiny.keySet == registry.keySet)
  }

  for (name <- registry.keys.toSeq.sorted)
    test(s"entry $name emits its documented keys") {
      val entry = registry(name)
      val shapes = records(name).map(_.map(_._1))
      shapes.foreach(s => assert(entry.keys.contains(s), s"undocumented record $s"))
      entry.keys.foreach(k => assert(shapes.contains(k), s"record $k never emitted"))
      // every line is one well-formed JSON object
      val parsed = spark.read.json(records(name).map(ScaleBench.json).toDS())
      assert(!parsed.columns.contains("_corrupt_record"))
      assert(parsed.columns.toSet == entry.keys.flatten.toSet)
    }

  test("ann at n = 300 reproduces its recorded recall and cand_frac") {
    // recorded from the per-leg searches this entry ran before every leg
    // became a graft.ext.Ann call; the same numbers tie the harness to
    // the operator the queries run. The IVF legs search cells of an
    // unquantized fit, whose centroids carry shuffle-order ulp noise
    // (VectorKMeans.fit), so they are checked for nesting, not pinned.
    val Seq(record) = records("ann")
    val (ivf, pinned) = record.partition(_._1.startsWith("ivf_"))
    def leg(p: Int, m: String) = ivf.collectFirst { case (k, r: Seq[_]) if k == s"ivf_p$p" =>
      r.collectFirst { case (`m`, ScaleBench.Fixed(v, _)) => v }.get }.get
    for (m <- Seq("recall", "cand_frac")) {
      val curve = Seq(1, 2, 4).map(leg(_, m))
      assert(curve == curve.sorted && curve.forall(v => v > 0 && v <= 1), s"$m $curve")
    }
    assert(ScaleBench.json(pinned) ==
      """{"n":300,"k":10,"queries":50,"cells":16,"planes":4,""" +
      """"lsh_exact":{"recall":0.4460,"cand_frac":0.25397993},""" +
      """"lsh_multiprobe":{"recall":0.9160,"cand_frac":0.71177258},""" +
      """"lsh_mp_margin_t1":{"recall":0.7760,"cand_frac":0.49545151},""" +
      """"lsh_mp_margin_t2":{"recall":0.8900,"cand_frac":0.62682274},""" +
      """"lsh_mp_margin_t4":{"recall":0.9160,"cand_frac":0.71177258},""" +
      """"lsh_tables_l1":{"recall":0.4320,"cand_frac":0.19056856},""" +
      """"lsh_tables_l2":{"recall":0.9420,"cand_frac":0.63585284},""" +
      """"lsh_tables_l4":{"recall":1.0000,"cand_frac":1.37491639},""" +
      """"lsh_tables_l1_margin_t2":{"recall":0.5940,"cand_frac":0.31678930},""" +
      """"lsh_tables_l2_margin_t2":{"recall":0.9960,"cand_frac":0.83712375},""" +
      """"lsh_tables_l4_margin_t2":{"recall":1.0000,"cand_frac":1.93525084},""" +
      """"sq8_adc":{"recall":0.9860,"cand_frac":1.00000000},""" +
      """"sq8_tables_l4_margin_t2":{"recall":0.9860,"cand_frac":1.93525084}}""")
  }

  test("one SparkSession builder site under src/main: graft.Session") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assume(java.nio.file.Files.isDirectory(root), s"sources absent at $root")
    val sites = scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        "SparkSession\\.builder".r.findAllIn(text).map(_ => p.getFileName.toString)
      }.toList
    }
    assert(sites == List("Session.scala"))
  }
}
