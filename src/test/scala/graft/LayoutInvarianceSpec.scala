package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Controls for the invariance gate ([[InvarianceCheck]]): a diff-based
  * gate is only evidence if each leg actually DISTINGUISHES the
  * dependence it exists to catch from invariant computations —
  * otherwise green diffs could mean "the leg changed nothing".
  *
  *   - negative control: probes that READ the physical layout (file
  *     membership, partition-discovery schema) must come out DIFFERENT
  *     across the layouts — the perturbation is real;
  *   - red-tests, one per kind of leg: a planted query that reads the
  *     exchange fan-out fails only the 7-partition leg, one that reads
  *     file membership fails only the layout legs;
  *   - positive control: a totally-ordered pack query must come out
  *     row-identical on every leg — the gate's pass criterion is
  *     achievable and the rebuilds hold the logical tables constant.
  *
  * The rebuilt layouts are removed when the suite ends.
  */
class LayoutInvarianceSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val out = java.nio.file.Files.createTempDirectory("graft_layout_spec")

  override def afterAll(): Unit =
    try ScaleBench.deleteTree(out.toFile) finally super.afterAll()

  private val base = InvarianceCheck.Leg("base", sf, InvarianceCheck.BasePartitions)

  private lazy val legs: Seq[InvarianceCheck.Leg] = {
    assume(new java.io.File(s"$sf/documents.parquet").exists(),
      s"driver testdata absent at $sf")
    InvarianceCheck.legs(spark, sf, out.toString)
  }

  /** The partitioned/bucketed layout's directory. */
  private def alt: String = legs(1).dir

  private def failingLegs(fn: (SparkSession, String) => DataFrame): Seq[String] =
    InvarianceCheck.diffs(spark, "planted", fn, base, legs)._2.map(_._1)

  test("negative control: the alternate layout is a real perturbation") {
    // documents: one flat file vs 8 hash-bucket files
    def docFiles(dir: String): Long =
      Tables.documents(spark, dir)
        .select(input_file_name().as("f")).distinct().count()
    val flatFiles = docFiles(sf)
    val altFiles = docFiles(alt)
    assert(flatFiles == 1L, s"flat layout reads $flatFiles files")
    assert(altFiles > 1L, "bucketed layout must scatter rows across files")

    // documents: bucket files group rows by doc_id hash, so the
    // per-file row-count multiset differs from the flat single file —
    // a probe that leaks file membership into its result changes value
    // across layouts
    def perFileCounts(dir: String): Seq[Long] =
      Tables.documents(spark, dir)
        .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
        .select($"n").as[Long].collect().toSeq.sorted
    assert(perFileCounts(sf) != perFileCounts(alt),
      "per-file row counts should differ between flat and bucketed")

    // events: partition discovery ADDS event_date to the schema — the
    // select-*-over-events leak the gate exists to catch
    val flatCols = Tables.events(spark, sf).columns.toSet
    val altCols = Tables.events(spark, alt).columns.toSet
    assert(!flatCols.contains("event_date"), flatCols.toString)
    assert(altCols.contains("event_date"),
      s"partitioned events must surface the partition column: $altCols")
  }

  test("red-test: a spark_partition_id() query fails only the 7-partition leg") {
    // a hash exchange at the session's fan-out (an explicit count, so
    // AQE cannot coalesce it away), read back through the partition id
    val byPartition: (SparkSession, String) => DataFrame = (s, d) =>
      Tables.events(s, d).select($"user_id")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, $"user_id")
        .select($"user_id", spark_partition_id().as("pid"))
        .distinct().orderBy($"user_id")
    assert(failingLegs(byPartition) == Seq("partitions=7"))
  }

  test("red-test: an input_file_name() query fails only the layout legs") {
    val files: (SparkSession, String) => DataFrame = (s, d) =>
      Tables.events(s, d).select(input_file_name().as("f")).distinct()
        .agg(count(lit(1)).as("files"))
    assert(failingLegs(files) ==
      Seq("partitioned/bucketed", "user-bucketed-events"))
  }

  test("positive control: a totally-ordered query is row-identical") {
    val (rows, diffs) = InvarianceCheck.diffs(spark, "q23_exact_dedup",
      SparkEntry.queries("q23_exact_dedup"), base, legs)
    assert(rows.nonEmpty && diffs.isEmpty,
      s"exact dedup must not depend on partitioning or layout: $diffs")
  }
}
