package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Layout-invariance gate (round-16 verdict, next-round #1): every
  * `SparkEntry.queries` entry runs twice — once over the driver's flat
  * single-file-per-table layout, once over a rebuilt copy in the layout
  * a 100 TB deployment would actually use — and the two result sets
  * must be ROW-IDENTICAL (string-rendered, emitted order; every query
  * ends in a total ORDER BY, so order is part of the contract).
  *
  * The alternate layout perturbs everything a physical layout can
  * legally change while holding the logical table constant:
  *   - `events` → `partitionBy(event_date)` directories (SURVEY §4's
  *     full-scale layout; the same fixture shape PartitionPruningSpec
  *     proves pruning on), which also adds the partition column to the
  *     discovered schema — a query that leaks `select *` over events
  *     into its output fails here by name;
  *   - `documents` → `bucketBy(8, doc_id)` (hash-scattered rows across
  *     bucket files, new file count, new intra-file order);
  *   - every other table → rewritten `repartition(n, key)` (multi-file,
  *     hash-distributed, file and row order unrelated to the flat copy).
  *
  * A THIRD leg ([[buildUserBucketLayout]]) re-runs everything over
  * `events` hash-bucketed by `user_id` — the pre-clustered layout the
  * user-keyed windows/persists (q163/q167/q168/q173/q176) would meet
  * on a user-bucketed deployment.
  *
  * This is the third leg of the engine-side gate triad: the DuckDB
  * oracle proves the VALUE, DeterminismCheck proves independence from
  * shuffle fan-out, and this proves independence from the INPUT layout —
  * file count, file order, row order within files, partition-discovery
  * schema effects — the one remaining way a layout-dependent assumption
  * (implicit keep-first-by-file-position, schema-by-column-index) could
  * hide behind a green oracle run.
  *
  * Usage: `sbt "runMain graft.LayoutInvarianceCheck [sfDir]"` (default
  * sf0.001 — result sizes are driver-collectable there). Prints one
  * PASS/FAIL line per query + a JSON summary; exits nonzero on any
  * mismatch. SPARK_GRAFT_LAYOUT_ONLY filters by prefix like the other
  * gates.
  */
object LayoutInvarianceCheck {

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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val spark = Session.local(Session.cpus(8), 32,
      "spark.sql.warehouse.dir" -> s"$out/__warehouse")

    buildLayout(spark, sfDir, out)
    val outU = s"$out/__user_bucketed"
    new java.io.File(outU).mkdirs()
    buildUserBucketLayout(spark, sfDir, outU)
    // the gate is only evidence if the rebuild actually perturbed the
    // layout — a silently-flat copy would pass every diff vacuously
    def files(p: String)(f: java.io.File => Boolean): Int =
      Option(new java.io.File(p).listFiles()).map(_.count(f)).getOrElse(0)
    val dateDirs = files(s"$out/events.parquet")(
      d => d.isDirectory && d.getName.startsWith("event_date="))
    require(dateDirs > 2, s"events fixture has $dateDirs date partitions")
    val docFiles = files(s"$out/documents.parquet")(
      f => f.isFile && f.getName.endsWith(".parquet"))
    require(docFiles > 1, s"documents fixture has $docFiles bucket files")
    val embFiles = files(s"$out/embeddings.parquet")(
      f => f.isFile && f.getName.endsWith(".parquet"))
    require(embFiles > 1, s"embeddings fixture has $embFiles files")
    val evtUFiles = files(s"$outU/events.parquet")(
      f => f.isFile && f.getName.endsWith(".parquet"))
    require(evtUFiles > 1,
      s"user-bucketed events fixture has $evtUFiles bucket files")

    val only = sys.env.get("SPARK_GRAFT_LAYOUT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String) =
      only.forall(_.exists(p => name.startsWith(p)))

    def runOn(name: String, dir: String): Seq[String] =
      try SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
      finally { Caching.release(); spark.catalog.clearCache() }

    var failed = List.empty[String]
    var passed = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      if (selected(name)) {
        try {
          val flat = runOn(name, sfDir)
          val legs = Seq("partitioned/bucketed" -> runOn(name, out),
            "user-bucketed-events" -> runOn(name, outU))
          val diffs = legs.filter(_._2 != flat)
          if (diffs.isEmpty) {
            passed += 1; println(s"PASS $name (${flat.size} rows)")
          } else {
            failed ::= name
            diffs.foreach { case (leg, alt) =>
              val i = flat.zip(alt).indexWhere { case (x, y) => x != y }
              println(s"FAIL $name [$leg]: rows ${flat.size} vs ${alt.size}, " +
                s"first diff at ${if (i < 0) "size" else i}: " +
                flat.lift(i).getOrElse("-") + " vs " + alt.lift(i).getOrElse("-"))
            }
          }
        } catch {
          case e: Throwable =>
            failed ::= name
            println(s"FAIL $name: ${e.getMessage}")
        }
      }
    }
    println(s"""{"metric":"layout_invariance","passed":$passed,""" +
      s""""failed":${failed.size},"failed_names":[${
        failed.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
