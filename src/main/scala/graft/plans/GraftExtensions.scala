package graft.plans

import graft.functions.{BloomAgg, BloomMightContain, ByteGridFp, ByteHistogram, CharEntropy, DotProduct, HeavyHitters, JpegSofDims, JsonLongKey, MinHashSig, NearestCentroid, RollingFingerprint, ShingleRows, ShingleSet, SimHash60, TopKByScore, ZOrderKey}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point: registers graft's native Catalyst functions.
  *
  * Two routes, same registrations:
  *   - `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *     build (the SparkSessionExtensions contract), or
  *   - [[GraftExtensions.register]] on a live session (idempotent) —
  *     used by the query pack because the driver owns its sessions.
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

  /** Idempotent runtime registration into an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
