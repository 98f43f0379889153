package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The composed training-data preparation pipeline: PII redaction →
  * quality scoring/filtering → exact dedup → deterministic sampling →
  * shard assignment, as ONE declarative plan (builder brief: what a
  * user runs end-to-end before training).
  *
  * Every stage is one of the engine's oracle-verified components
  * ([[Redact]], [[TextStats]], [[Sampling]], [[ShardExport]]); the
  * point of this facade is that they compose into a single Catalyst
  * plan — per-row map stages fuse into one codegen'd scan, and the
  * whole pipeline pays exactly ONE wide dependency (the dedup's
  * hash-keyed window) before shard assignment, which is again map-only.
  *
  * Determinism end to end: redaction and scoring are pure functions of
  * the text; dedup keeps the MINIMUM id per content hash (not "first
  * seen", which depends on partition order); sampling and sharding are
  * md5(salt, id) decisions. Re-running on the same input yields
  * byte-identical shards — the property that makes a multi-day 100 TB
  * prepare job resumable and auditable.
  */
object DocumentPipeline {

  /** @param minQuality   drop docs scoring below this ([[TextStats
    *                     .qualityScore]]); null-text docs drop too
    * @param sampleFraction  deterministic keep fraction after dedup
    * @param nShards      shard count for the export assignment
    * @param salt         domain-separates this run's sample/shard coins
    * @return input columns + clean_text, n_tokens, quality, shard_id,
    *         shuffle_key — one row per surviving document
    */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
              minQuality: Double, sampleFraction: Double, nShards: Int,
              salt: String): DataFrame =
    prepareStaged(docs, idCol, textCol, minQuality, sampleFraction,
      nShards, salt).last._2

  /** The pipeline's CUMULATIVE prefixes — ("redact_score", map-only),
    * ("dedup", + the one wide stage), ("sample_shard", the full
    * [[prepare]] frame, always last) — so a scale bench can attribute
    * wall time to stages by timing each prefix of the REAL plan
    * instead of a drift-prone copy (`ScaleBench pipeline`). */
  def prepareStaged(docs: DataFrame, idCol: String, textCol: String,
                    minQuality: Double, sampleFraction: Double, nShards: Int,
                    salt: String): Seq[(String, DataFrame)] = {
    val clean = docs.withColumn("clean_text", Redact.redact(col(textCol)))
    val w = TextOps.words(col("clean_text"))
    // quality uses the per-row HOF stopword count rather than q30's
    // explode + conditional-sum form: the explode form needs its own
    // groupBy(doc) shuffle, which would break this pipeline's
    // single-wide-dependency shape — here the HOF fuses into the same
    // codegen'd scan as redaction and the sample/shard hashes, and the
    // dedup window remains the only exchange
    val scored = clean
      .withColumn("n_tokens", TextStats.whitespaceTokenCount(col("clean_text")))
      .withColumn("quality", TextStats.qualityScore(col("n_tokens"),
        TextStats.stopwordHits(w, TextStats.StopwordProfiles.head._2)
          .cast("double") / col("n_tokens")))
      .filter(col("quality") >= minQuality)
    // exact dedup, keep the minimum id per content hash — stable under
    // any partitioning (a "first seen" rule is not)
    val dedupW = Window.partitionBy(md5(col("clean_text")))
      .orderBy(col(idCol))
    val deduped = scored
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1).drop("__rn")
    val sampled = Sampling.deterministicSample(
      deduped, col(idCol), sampleFraction, salt)
    val sharded = ShardExport.assignShards(sampled, col(idCol), nShards, salt)
    Seq("redact_score" -> scored, "dedup" -> deduped,
      "sample_shard" -> sharded)
  }
}
