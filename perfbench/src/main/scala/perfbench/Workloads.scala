package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.{Caching, SparkEntry}
import graft.ext.{DedupClusters, DocumentPipeline, TextOps}
import graft.nilm.TensorPrep
import graft.sources.{Container, RefitSource, UkdaleSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.StructType

/** One closed-loop operation: its latency, whether its result was right,
  * the `Caching` high-water mark it reached, and what the run script
  * checks (`obs`). */
final case class Op(name: String, latencyS: Double, cpuS: Double, ok: Boolean,
                    error: String, highWater: Int, obs: Map[String, Any])

/** Wall and JVM-process CPU time since construction. CPU time counts every
  * JVM thread (driver, tasks, JIT, GC) but not time the host's hypervisor
  * steals from the VM, which wall time does include. */
final class Clock {
  private val t0 = System.nanoTime()
  private val c0 = Clock.cpuNs()
  def wall: Double = (System.nanoTime() - t0) / 1e9
  def cpu: Double = (Clock.cpuNs() - c0) / 1e9
}

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
}

/** A workload runs in passes; a pass is a batch of operations. `check`
  * asks for the correctness observations, taken after each operation's
  * timed part. */
trait Workload {
  /** `after` runs, untimed, after each operation; it releases the
    * operation's persists. */
  def pass(spark: SparkSession, tr: Tracer, passNo: Int, check: Boolean,
           after: () => Unit): Seq[Op]
  /** Called once, untimed, after the warm-up pass. */
  def afterReference(spark: SparkSession, out: String): Unit = ()
}

object Workload {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def failed(name: String, clock: Clock, t: Throwable): Op = {
    System.err.println(s"[perfbench] $name failed: $t")
    t.printStackTrace()
    Op(name, clock.wall, clock.cpu, ok = false, t.toString,
      Caching.highWaterMark, Map())
  }
}

/** Canonical form of a collected result: columns in name order, rows
  * sorted as rendered strings. Equal results give equal hashes. */
object Canon {
  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    Workload.sha256(rows.map(r => order.map(i => render(r.get(i)))
      .mkString("\u001f")).sorted.mkString("\n"))
  }
}

/** interactive_pack: queries of the `SparkEntry.queries` registry plus
  * the document-preparation operation over the same tables' documents,
  * one per operation, each pass in a seeded shuffled order, every
  * execution cache-cold. The first warm-up pass fixes each query's
  * reference result; later executions must reproduce it. */
final class Pack(data: String, queries: Seq[String], seed: Long)
    extends Workload {
  import Workload._
  private val dedup = new Docs(s"$data/documents.parquet")
  private val reference = scala.collection.mutable.Map[String, String]()
  private val referenceRows =
    scala.collection.mutable.LinkedHashMap[String, (Array[Row], StructType)]()

  def pass(spark: SparkSession, tr: Tracer, passNo: Int, check: Boolean,
           after: () => Unit): Seq[Op] =
    new scala.util.Random(seed * 1000003L + passNo)
      .shuffle(queries :+ Pack.DocOp)
      .map { q =>
        val op = if (q == Pack.DocOp) dedup.op(spark, tr, q, check)
                 else run(spark, tr, q)
        after()
        op
      }

  private def run(spark: SparkSession, tr: Tracer, q: String): Op = {
    Caching.release()
    spark.catalog.clearCache()
    val clock = new Clock
    try {
      val (rows, schema) = tr.span("op", q) {
        val df = tr.span("queries.build")(SparkEntry.queries(q)(spark, data))
        if (tr.enabled) { // split planning out of the action
          tr.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
          tr.span("catalyst.plan")(df.queryExecution.executedPlan)
        }
        (tr.span("exec.collect")(df.collect()), df.schema)
      }
      val (latency, cpu) = (clock.wall, clock.cpu)
      val h = Canon.hash(rows, schema)
      val ok = reference.get(q) match {
        case Some(r) => r == h
        case None =>
          reference(q) = h
          referenceRows(q) = (rows, schema)
          true
      }
      Op(q, latency, cpu, ok, null, Caching.highWaterMark,
        Map("hash" -> h, "rows" -> rows.length))
    } catch { case t: Throwable => failed(q, clock, t) }
  }

  /** Reference results as parquet plus the oracle SQL, for the run
    * script's DuckDB cross-check. */
  override def afterReference(spark: SparkSession, out: String): Unit = {
    referenceRows.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/reference/$q")
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json(oracle).getBytes("UTF-8"))
    referenceRows.clear()
  }
}

object Pack {
  val DocOp = "doc_dedup"
}

/** nilm_etl: raw UK-DALE + REFIT trees → container → resample → common
  * channels → overlapping windows → normalized tensors on disk. One
  * operation per pass. */
final class Nilm(data: String, work: String) extends Workload {
  import Workload._
  private val container = s"$work/container"
  private val tensors = s"$work/tensors"

  def pass(spark: SparkSession, tr: Tracer, passNo: Int, check: Boolean,
           after: () => Unit): Seq[Op] = {
    Caching.release()
    val clock = new Clock
    try {
      val common = tr.span("op", s"pass$passNo") {
        val ds = tr.span("sources.load") {
          UkdaleSource.load(spark, s"$data/ukdale")
            .union(RefitSource.load(spark, s"$data/refit"))
        }
        tr.span("container.write")(Container.write(ds, container))
        val stored = tr.span("container.read")(Container.read(spark, container))
        val res = tr.span("nilm.resample")(stored.resampleAllChannels(30))
        val common = tr.span("nilm.common_channels") {
          noop(res.computeAggregateFromAppliances())
          res.commonChannels().collect()
        }
        val windows = tr.span("tensor.windows") {
          TensorPrep.normalizeClip(TensorPrep.windowsOverlap(res, 512, 0.5))
        }
        tr.span("tensor.write")(TensorPrep.write(windows, tensors))
        common
      }
      val (latency, cpu) = (clock.wall, clock.cpu)
      val hw = Caching.highWaterMark
      after()
      Seq(Op(s"pass$passNo", latency, cpu, ok = true, null, hw,
        if (check) observe(spark, common.length) else Map()))
    } catch { case t: Throwable => Seq(failed(s"pass$passNo", clock, t)) }
  }

  private def observe(spark: SparkSession, commonRows: Int): Map[String, Any] = {
    val back = Container.read(spark, container)
    val rates = back.channels
      .select("dataset", "house_id", "channel_id", "sample_rate_s").collect()
      .map(r => s"${r.get(0)}/${r.get(1)}/${r.get(2)}" -> r.get(3)).toMap
    val windows = spark.read.parquet(tensors)
      .groupBy("dataset", "house_id").count().collect()
      .map(r => s"${r.get(0)}/${r.get(1)}" -> r.getLong(2)).toMap
    Map("readings" -> back.readings.count(), "rates" -> rates,
      "windows" -> windows, "common_rows" -> commonRows,
      "container_bytes" -> parquetBytes(Paths.get(container)))
  }

  private def parquetBytes(root: Path): Long =
    scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
    }
}

/** The document-preparation operation: the three
  * `DocumentPipeline.prepareStaged` prefixes to a noop sink, then Jaccard
  * near-duplicate pairs and their connected components, over the
  * (doc_id, text) parquet at `path`. */
final class Docs(path: String) extends AdaptiveSparkPlanHelper {
  import Workload._

  def op(spark: SparkSession, tr: Tracer, name: String, check: Boolean): Op = {
    Caching.release()
    spark.catalog.clearCache()
    val clock = new Clock
    try {
      val (pairs, candidates, comps) = tr.span("op", name) {
        val docs = spark.read.parquet(path).select("doc_id", "text")
        val staged = DocumentPipeline.prepareStaged(docs, "doc_id", "text",
          minQuality = 0.2, sampleFraction = 0.5, nShards = 8,
          salt = "perfbench").toMap
        tr.span("ext.redact_score")(noop(staged("redact_score")))
        tr.span("ext.exact_dedup")(noop(staged("dedup")))
        tr.span("ext.sample_shard")(noop(staged("sample_shard")))
        val pairsDf = TextOps.jaccardPairs(docs, "doc_id", "text", 4, 5)
        val pairs = tr.span("ext.jaccard_pairs")(pairsDf.collect())
        val candidates =
          if (tr.enabled) candidateCount(pairsDf.queryExecution.executedPlan)
          else -1L
        val comps = tr.span("ext.components") {
          DedupClusters.connectedComponents(docs, "doc_id",
            spark.createDataFrame(pairs.toSeq.asJava, pairsDf.schema))
            .collect()
        }
        (pairs, candidates, comps)
      }
      val (latency, cpu) = (clock.wall, clock.cpu)
      val obs: Map[String, Any] =
        if (!check) Map()
        else Map("pairs" -> pairs.length, "candidates" -> candidates,
          "assignment_sha256" -> sha256(comps.map(r => (r.getLong(0), r.getLong(1)))
            .sortBy(_._1).map { case (d, c) => s"$d,$c" }.mkString("\n")))
      Op(name, latency, cpu, ok = true, null, Caching.highWaterMark, obs)
    } catch { case t: Throwable => failed(name, clock, t) }
  }

  /** Candidate pairs the Jaccard verify step examined: the rows of the
    * (a_id, b_id) side flowing into the node that evaluates the Jaccard
    * threshold (a filter, or a join condition once Catalyst pushes the
    * filter down), read from the executed plan's metrics. */
  private def candidateCount(plan: SparkPlan): Long = {
    def rowsBelow(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value)
        .orElse(p.children.headOption.flatMap(rowsBelow))
    def verifies(e: Expression) = e.sql.contains("array_intersect")
    collect(plan) {
      case f: FilterExec if verifies(f.condition) => f.child
      case j: BaseJoinExec if j.condition.exists(verifies) =>
        j.children.find(_.output.exists(_.name == "a_id")).getOrElse(j.left)
    }.headOption.flatMap(rowsBelow).getOrElse(-1L)
  }
}
