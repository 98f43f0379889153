package graft.plans

import graft.functions.{BloomAgg, BloomMightContain, ByteGridFp, ByteHistogram, CharEntropy, DotProduct, HeavyHitters, JpegSofDims, JsonLongKey, MinHashSig, NearestCentroid, RollingFingerprint, ShingleRows, ShingleSet, SimHash60, TopKByScore, ZOrderKey}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.StaticSQLConf

/** Engine extension point: registers graft's native Catalyst functions.
  *
  * Two routes, same registrations:
  *   - `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *     build (the SparkSessionExtensions contract), or
  *   - [[GraftExtensions.register]] on a live session (idempotent) —
  *     used by the query pack because the driver owns its sessions.
  *     Only this route also sizes Spark's generated-class cache.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_dot(arrayA, arrayB)")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_fingerprint"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_fingerprint(str)")
        RollingFingerprint(args.head)
      }),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getName, "graft_topk"),
      (args: Seq[Expression]) => {
        require(args.size == 3, "graft_topk(score, id, k)")
        TopKByScore(args.head, args(1), args(2)).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, "graft_heavy_hitters"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_heavy_hitters(item, capacity)")
        HeavyHitters(args.head, args(1)).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom"),
      (args: Seq[Expression]) => {
        require(args.size == 3, "graft_bloom(item, expectedItems, fpp)")
        BloomAgg(args.head, args(1), args(2)).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_bloom_contains(blob, item)")
        BloomMightContain(args.head, args(1))
      }),
    (FunctionIdentifier("graft_jpeg_sof"),
      new ExpressionInfo(classOf[JpegSofDims].getName, "graft_jpeg_sof"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_jpeg_sof(binary)")
        JpegSofDims(args.head)
      }),
    (FunctionIdentifier("graft_byte_hist"),
      new ExpressionInfo(classOf[ByteHistogram].getName, "graft_byte_hist"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_byte_hist(binary, offset)")
        ByteHistogram(args.head, args(1))
      }),
    (FunctionIdentifier("graft_media_fp"),
      new ExpressionInfo(classOf[ByteGridFp].getName, "graft_media_fp"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_media_fp(binary, offset)")
        ByteGridFp(args.head, args(1))
      }),
    (FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "graft_char_entropy"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_char_entropy(str)")
        CharEntropy(args.head)
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_simhash(str)")
        SimHash60(args.head)
      }),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_minhash_sig(str)")
        MinHashSig(args.head)
      }),
    (FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingle_set"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_shingle_set(str)")
        ShingleSet(args.head)
      }),
    (FunctionIdentifier("graft_shingle_rows"),
      new ExpressionInfo(classOf[ShingleRows].getName, "graft_shingle_rows"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "graft_shingle_rows(str)")
        ShingleRows(args.head)
      }),
    (FunctionIdentifier("graft_json_long"),
      new ExpressionInfo(classOf[JsonLongKey].getName, "graft_json_long"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_json_long(json, key)")
        JsonLongKey(args.head, args(1))
      }),
    (FunctionIdentifier("graft_nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest_centroid"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "graft_nearest_centroid(emb, centroids)")
        NearestCentroid(args.head, args(1))
      }),
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "graft_zorder"),
      (args: Seq[Expression]) => {
        require(args.size >= 4 && args.size % 2 == 0,
          "graft_zorder(v1, cuts1, v2, cuts2, ...)")
        ZOrderKey(args)
      }))

  /** The size [[register]] raises `spark.sql.codegen.cache.maxEntries`
    * (Spark's JVM-wide cache of compiled generated classes, default 100)
    * to. One full pass of the query pack at sf0.1 compiles about 2,350
    * distinct classes; at 100 entries the cache thrashes and every pass
    * recompiles them. */
  val CodegenCacheEntries = 4096

  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)
  // whether register already ran in this JVM: only its first call can
  // find the cache sized by a session it did not set up
  private val registered = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Idempotent runtime registration into an existing session: graft's
    * functions, and the generated-class cache size.
    *
    * Spark caches compiled generated classes in ONE cache per JVM, sized
    * once, from `SQLConf.get`, when `CodeGenerator` first initializes
    * (the first query that generates code). A session that re-runs the
    * same plan shapes (an interactive session, a benchmark pass) only
    * reuses them if the cache holds them all, so this raises the
    * session's `spark.sql.codegen.cache.maxEntries` to at least
    * [[CodegenCacheEntries]] before anything runs, keeping a larger
    * value the caller set. The key is a static conf, which the public
    * `spark.conf.set` rejects, so it is set on the session's own
    * SQLConf. In local mode the
    * cache holds each whole-stage class twice: its key includes the
    * context classloader, and the compile made while the plan is built
    * and the task thread that runs it use different ones.
    *
    * If this JVM compiled generated code before its first `register`,
    * the cache was sized by that earlier session and this setting comes
    * too late: that call logs a WARN. Only spark-core's
    * `CodegenMetrics` is read here, since touching `CodeGenerator`
    * itself would build the cache at its current size. */
  def register(spark: SparkSession): Unit = {
    val conf = spark.sessionState.conf
    val cacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (conf.codegenCacheMaxEntries < CodegenCacheEntries)
      conf.setConfString(cacheKey, CodegenCacheEntries.toString)
    val late = CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0
    if (!registered.getAndSet(true) && late)
      log.warn("generated code was compiled in this JVM before " +
        "GraftExtensions.register, so Spark's class cache keeps the size " +
        s"of that earlier session; $cacheKey=$CodegenCacheEntries " +
        "only takes effect when set before the first query")
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
