package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Invariance gate, the engine-side twin of the DuckDB oracle gate: the
  * oracle proves the VALUE is right, this proves the value depends
  * neither on how the cluster partitioned the work nor on how the input
  * was laid out on disk. Every `SparkEntry.queries` entry runs once on
  * the base leg — the driver's flat single-file-per-table layout at
  * [[BasePartitions]] shuffle partitions — and three legs must emit
  * ROW-IDENTICAL results (string-rendered, emitted order; every query
  * ends in a total ORDER BY, so order is part of the contract):
  *
  *   - `partitions=7`: the flat layout at a deliberately awkward prime,
  *     changing both the exchange fan-out and the task interleave — the
  *     property every md5 coin, struct-min tie rule, frame-ordered fold
  *     and rounded float aggregate in the pack was designed for. A
  *     query whose float aggregation order leaks past its rounding (or
  *     whose tie-break is incomplete) fails here by name even though a
  *     single-configuration oracle run would pass;
  *   - `partitioned/bucketed` ([[buildLayout]]): the layout a 100 TB
  *     deployment would use. `events` → `partitionBy(event_date)`
  *     directories (SURVEY §4; also adds the partition column to the
  *     discovered schema, so a query that leaks `select *` over events
  *     fails here), `documents` → `bucketBy(8, doc_id)`, every other
  *     table → `repartition(n, key)` (multi-file, hash-distributed);
  *   - `user-bucketed-events` ([[buildUserBucketLayout]]): `events`
  *     hash-bucketed by `user_id`, the pre-clustered layout the
  *     user-keyed windows/persists (q163/q167/q168/q173/q176) would meet.
  *
  * The layout legs perturb file count, file order, row order within
  * files and partition-discovery schema effects — the ways a
  * layout-dependent assumption (implicit keep-first-by-file-position,
  * schema-by-column-index) could hide behind a green oracle run.
  *
  * Usage: `sbt "runMain graft.InvarianceCheck [sfDir] [prefixes]"`
  * (default sf0.001 — result sizes are driver-collectable there).
  * Prints one PASS line per query or one FAIL line per differing leg,
  * then a `"metric":"invariance"` JSON summary; exits nonzero on any
  * mismatch. The rebuilt layouts live in a temp dir removed on exit.
  */
object InvarianceCheck {

  /** Shuffle partitions of the base leg and both layout legs. */
  val BasePartitions = 32

  /** One run configuration: the tables' directory and the shuffle
    * partition count. */
  final case class Leg(name: String, dir: String, partitions: Int)

  /** Relocate a directory tree. `Files.move` is an atomic rename when
    * source and target share a filesystem — `main` pins the session
    * warehouse under the same temp root so both bucketed-table moves
    * take that path — but degrades to copy semantics across
    * filesystems, where a non-empty directory throws
    * DirectoryNotEmptyException (advisor r19 low #4). Fall back to a
    * recursive copy + delete so a relocated warehouse cannot crash the
    * gate. */
  private def moveDir(from: java.nio.file.Path,
                      to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    try Files.move(from, to)
    catch {
      case _: java.io.IOException =>
        import scala.jdk.CollectionConverters._
        // walk is depth-first, parents before children — copy in
        // encounter order, delete in reverse
        val paths = Files.walk(from).iterator().asScala.toSeq
        paths.foreach(p => Files.copy(p, to.resolve(from.relativize(p)),
          StandardCopyOption.COPY_ATTRIBUTES))
        paths.reverse.foreach(Files.delete)
    }
  }

  /** Rebuild `sfDir`'s tables under `out` in the partitioned/bucketed/
    * multi-file layout described above. Pure layout change: same logical
    * rows, same column types (events' ts is written post-normalization
    * as TIMESTAMP, the identity image of the flat NTZ read under the
    * UTC-pinned session — the same contract PartitionPruningSpec's
    * fixture relies on). */
  def buildLayout(spark: SparkSession, sfDir: String, out: String): Unit = {
    // events: the SURVEY §4 date-partitioned layout, one file per day dir
    Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$out/events.parquet")

    // documents: hash-bucketed. bucketBy requires a managed table, so
    // write into this session's warehouse (pointed under `out` by main)
    // and relocate the files; queries read it back as a plain parquet
    // path — bucket METADATA is gone but the bucket FILE layout (8
    // hash-scattered files, rows grouped by doc_id hash) is exactly the
    // perturbation this gate needs.
    spark.sql("DROP TABLE IF EXISTS graft_layout_documents")
    Tables.documents(spark, sfDir)
      .write.bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable("graft_layout_documents")
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val tableDir = new java.io.File(warehouse, "graft_layout_documents")
    require(tableDir.isDirectory, s"bucketed table dir missing: $tableDir")
    moveDir(tableDir.toPath,
      java.nio.file.Paths.get(s"$out/documents.parquet"))
    spark.sql("DROP TABLE IF EXISTS graft_layout_documents")

    // remaining tables: multi-file, hash-distributed by their key — file
    // count, file order and row placement all diverge from the flat copy
    Seq(("embeddings", 5, "vec_id"), ("lineitem", 7, "l_orderkey"),
      ("orders", 5, "o_orderkey"), ("customer", 3, "c_custkey"),
      ("part", 3, "p_partkey"), ("supplier", 2, "s_suppkey"),
      ("nation", 2, "n_nationkey"), ("region", 2, "r_regionkey"))
      .foreach { case (name, parts, key) =>
        Tables.table(spark, sfDir, name)
          .repartition(parts, col(key))
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
  }

  /** Third leg (r18 verdict #6): `events` hash-bucketed by `user_id`
    * (8 bucket files, rows user-clustered and (user_id, ts)-sorted
    * within each file) — the layout a user-keyed 100 TB deployment
    * would pre-bucket, and the one the analytics pack's user-clustered
    * windows/persists (q163/q167/q168/q173/q176) have never been
    * driven over. Results must be identical; plans may legitimately
    * differ (a pre-clustered layout can LOSE exchanges — this gate
    * asserts rows, never plans). Every non-events table symlinks to
    * the flat copy: the perturbation under test is events bucketing
    * alone (leg 2 already scatters the rest). */
  def buildUserBucketLayout(spark: SparkSession, sfDir: String,
                            out: String): Unit = {
    spark.sql("DROP TABLE IF EXISTS graft_layout_events_u")
    Tables.events(spark, sfDir)
      .write.bucketBy(8, "user_id").sortBy("user_id", "ts")
      .format("parquet").saveAsTable("graft_layout_events_u")
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val tableDir = new java.io.File(warehouse, "graft_layout_events_u")
    require(tableDir.isDirectory, s"bucketed table dir missing: $tableDir")
    moveDir(tableDir.toPath,
      java.nio.file.Paths.get(s"$out/events.parquet"))
    spark.sql("DROP TABLE IF EXISTS graft_layout_events_u")
    Seq("documents", "embeddings", "lineitem", "orders", "customer",
      "part", "supplier", "nation", "region").foreach { name =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.Paths.get(s"$sfDir/$name.parquet"))
    }
  }

  /** Build both rebuilt layouts under `out` and return the three legs
    * checked against `Leg("base", sfDir, BasePartitions)`. The gate is
    * only evidence if the rebuild actually perturbed the layout — a
    * silently-flat copy would pass every diff vacuously — so each
    * rebuilt table's file shape is checked first. */
  def legs(spark: SparkSession, sfDir: String, out: String): Seq[Leg] = {
    buildLayout(spark, sfDir, out)
    val outU = s"$out/__user_bucketed"
    new java.io.File(outU).mkdirs()
    buildUserBucketLayout(spark, sfDir, outU)
    def files(p: String)(f: java.io.File => Boolean): Int =
      Option(new java.io.File(p).listFiles()).map(_.count(f)).getOrElse(0)
    def parquetFiles(p: String) =
      files(p)(f => f.isFile && f.getName.endsWith(".parquet"))
    val dateDirs = files(s"$out/events.parquet")(
      d => d.isDirectory && d.getName.startsWith("event_date="))
    require(dateDirs > 2, s"events fixture has $dateDirs date partitions")
    Seq("documents" -> s"$out/documents.parquet",
      "embeddings" -> s"$out/embeddings.parquet",
      "user-bucketed events" -> s"$outU/events.parquet").foreach {
      case (what, p) =>
        val n = parquetFiles(p)
        require(n > 1, s"$what fixture has $n files")
    }
    Seq(Leg("partitions=7", sfDir, 7),
      Leg("partitioned/bucketed", out, BasePartitions),
      Leg("user-bucketed-events", outU, BasePartitions))
  }

  /** `fn`'s rows on `base`, and each leg whose rows differ from them as
    * (leg, first difference); a leg that throws differs. Every run is
    * cache-cold through [[PackRun.coldRun]]; a throwing base leg
    * propagates. */
  def diffs(spark: SparkSession, name: String,
            fn: (SparkSession, String) => DataFrame, base: Leg,
            legs: Seq[Leg]): (Seq[String], Seq[(String, String)]) = {
    def rows(leg: Leg): Seq[String] =
      ScaleBench.withConf(spark,
        "spark.sql.shuffle.partitions" -> leg.partitions.toString) {
        PackRun.coldRun(spark, name)(
          fn(spark, leg.dir).collect().map(_.toString).toSeq)
      }
    val want = rows(base)
    (want, legs.flatMap { leg =>
      Try(rows(leg)) match {
        case Success(got) if got == want => None
        case Success(got) =>
          val i = want.zip(got).indexWhere { case (x, y) => x != y }
          Some(leg.name -> (s"rows ${want.size} vs ${got.size}, first diff " +
            s"at ${if (i < 0) "size" else i}: " +
            want.lift(i).getOrElse("-") + " vs " + got.lift(i).getOrElse("-")))
        case Failure(e) => Some(leg.name -> e.getMessage)
      }
    })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = PackRun.select(PackRun.prefixes(args.drop(1).toSeq))
    val base = Leg("base", sfDir, BasePartitions)
    // exit only after withTempDir has removed the rebuilt layouts
    val (alts, failed) = ScaleBench.withTempDir("graft_layout") { out =>
      val spark = Session.local(Session.cpus(8), BasePartitions,
        "spark.sql.warehouse.dir" -> s"$out/__warehouse")
      try {
        val alts = legs(spark, sfDir, out)
        (alts, names.filter { name =>
          val fails =
            try {
              val (rows, d) = diffs(spark, name, SparkEntry.queries(name), base, alts)
              if (d.isEmpty) println(s"PASS $name (${rows.size} rows)")
              d.map { case (leg, why) => s"FAIL $name [$leg]: $why" }
            } catch { case e: Throwable => Seq(s"FAIL $name: ${e.getMessage}") }
          fails.foreach(println)
          fails.nonEmpty
        })
      } finally spark.stop()
    }
    def strs(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"invariance","passed":${names.size - failed.size},""" +
      s""""failed":${failed.size},"legs":${strs(alts.map(_.name))},""" +
      s""""failed_names":${strs(failed)}}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
