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

  test("every registry entry has a tiny size here") {
    assert(tiny.keySet == registry.keySet)
  }

  for (name <- registry.keys.toSeq.sorted)
    test(s"entry $name emits its documented keys") {
      val entry = registry(name)
      val records = ScaleBench.run(Ctx(spark, sf), entry, tiny(name))
      val shapes = records.map(_.map(_._1))
      shapes.foreach(s => assert(entry.keys.contains(s), s"undocumented record $s"))
      entry.keys.foreach(k => assert(shapes.contains(k), s"record $k never emitted"))
      // every line is one well-formed JSON object
      val parsed = spark.read.json(records.map(ScaleBench.json).toDS())
      assert(!parsed.columns.contains("_corrupt_record"))
      assert(parsed.columns.toSet == entry.keys.flatten.toSet)
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
