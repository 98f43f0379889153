package graft

import graft.scale.{SeriesBenches, SystemBenches, TextBenches}
import org.apache.spark.sql.SparkSession

/** The scale and A/B benches behind SCALE.md, one harness:
  *
  * {{{
  *   sbt -batch "runMain graft.ScaleBench <entry> [n1,n2,…]"
  * }}}
  *
  * Each registry entry owns its generator, its timed legs and its
  * cross-checks; it runs once per size `n` of its size axis and
  * returns one JSON record per measured point. The harness owns the
  * rest: the session (`SPARK_GRAFT_CPUS` cores and shuffle partitions,
  * default 32), the size axis (the positional list, else the entry's
  * default), timing, median/spread, the ln t / ln n exponent fit,
  * number formatting, and printing each record as one JSON line to
  * stdout and stderr. Entries that read the pack tables read
  * `SPARK_GRAFT_SF_DIR` (default as in [[Bench]]: sf0.1). Sizes accept
  * plain or scientific notation (`3e8`). Numbers print with three
  * decimals unless an entry asks for other precision with [[Fixed]];
  * a skipped leg reads -1.
  */
object ScaleBench {

  /** What an entry runs against. */
  final case class Ctx(spark: SparkSession, sfDir: String)

  /** One JSON record: ordered (key, value) pairs. Values are numbers,
    * booleans, strings, [[Fixed]], nested records or sequences. */
  type Record = Seq[(String, Any)]

  /** A number printed with exactly `digits` decimals. */
  final case class Fixed(v: Double, digits: Int)

  /** A registered bench: its default size axis, the documented key
    * list of every record shape it emits, the per-size body, and an
    * optional summary over all of a run's records. */
  final case class Entry(sizes: Seq[Long], keys: Seq[Seq[String]],
      run: (Ctx, Long) => Seq[Record],
      summary: Seq[Record] => Seq[Record] = _ => Nil)

  val registry: Map[String, Entry] = Map(
    "analytics" -> SeriesBenches.analytics,
    "ann" -> SystemBenches.ann,
    "dedup" -> TextBenches.dedup,
    "dsir" -> TextBenches.dsir,
    "ewma" -> SeriesBenches.ewma,
    "fuzzy" -> TextBenches.fuzzy,
    "ingest" -> SystemBenches.ingest,
    "joinskew" -> SeriesBenches.joinSkew,
    "layout" -> SeriesBenches.layout,
    "median" -> SeriesBenches.median,
    "pack" -> SystemBenches.pack,
    "pipeline" -> TextBenches.pipeline,
    "rank" -> SeriesBenches.rank,
    "skew" -> TextBenches.skew,
    "span" -> TextBenches.span(persistOcc = true, hot = false),
    "span_recompute" -> TextBenches.span(persistOcc = false, hot = false),
    "span_hot" -> TextBenches.span(persistOcc = true, hot = true),
    "streaming" -> SystemBenches.streaming("hdfs"),
    "streaming_rocksdb" -> SystemBenches.streaming("rocksdb"))

  def main(args: Array[String]): Unit = {
    val entry = args.headOption.flatMap(registry.get).getOrElse {
      System.err.println("usage: ScaleBench <entry> [n1,n2,...]; entries: " +
        registry.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val sizes = args.lift(1).map(parseSizes).getOrElse(entry.sizes)
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)
    try run(Ctx(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")), entry, sizes)
    finally spark.stop()
  }

  /** Run `entry` over `sizes`, emitting each record as it lands (a
    * long ladder keeps its finished points if a later size dies);
    * returns every record, summary last. */
  def run(ctx: Ctx, entry: Entry, sizes: Seq[Long]): Seq[Record] = {
    val points = sizes.flatMap { n =>
      val recs = entry.run(ctx, n)
      recs.foreach(emit)
      recs
    }
    val summary = entry.summary(points)
    summary.foreach(emit)
    points ++ summary
  }

  def parseSizes(s: String): Seq[Long] =
    s.split(",").map(_.trim).filter(_.nonEmpty)
      .map(t => BigDecimal(t).toLongExact).toSeq

  def emit(r: Record): Unit = {
    val line = json(r)
    println(line)
    System.err.println(line)
  }

  def json(r: Record): String = r.map { case (k, v) =>
    "\"" + k + "\":" + value(v)
  }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case Fixed(d, digits) => s"%.${digits}f".formatLocal(java.util.Locale.ROOT, d)
    case d: Double => value(Fixed(d, 3))
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case r: Seq[_] if r.forall(_.isInstanceOf[(_, _)]) && r.nonEmpty =>
      json(r.asInstanceOf[Record])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Wall seconds of one run of `body`. */
  def secs(body: => Any): Double = timed(body)._2

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Min of two timed runs: leg ORDER must not decide an A/B (the
    * first leg otherwise pays the pipeline's JIT/codegen warm-up). */
  def minOf2(body: => Any): Double = math.min(secs(body), secs(body))

  /** (median, min, max) of timed samples. */
  def medianSpread(samples: Seq[Double]): (Double, Double, Double) = {
    val s = samples.sorted
    (s(s.length / 2), s.head, s.last)
  }

  /** Least-squares slope of ln t over ln n: e ≈ 1 linear, > ~1.3
    * superlinear (investigate), < 1 fixed-cost-dominated. */
  def exponent(points: Seq[(Double, Double)]): Double = {
    val pts = points.map { case (n, t) => (math.log(n), math.log(t)) }
    val k = pts.length
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    (k * sxy - sx * sy) / (k * sxx - sx * sx)
  }

  /** Count of hash exchanges in `df`'s executed plan. */
  def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  /** Write `df` to the noop sink: every row computed, nothing kept. */
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Run `body` with session confs set, restoring the previous values
    * after (entries share one session with the ones that follow). */
  def withConf[A](spark: SparkSession, kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with a fresh temp directory, deleted after (the large
    * sizes write tens of GB). */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally deleteTree(dir.toFile)
  }

  /** Delete `f` and everything under it; symlinks are removed, never
    * followed. */
  def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
