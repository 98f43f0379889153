package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization (SQ8) for embedding columns — the memory
  * lever that makes a 100 TB vector corpus hold its index in RAM:
  * 4 bytes/dim float32 → 1 byte/dim code + two per-vector floats
  * (≈ 4× smaller at 32+ dims), at a bounded reconstruction error of
  * span/510 per coordinate.
  *
  * Encode is per-vector min–max affine: code_i = round((x_i − min) ·
  * 255 / (max − min)) − 128, stored `array<tinyint>` (byte-packed in
  * UnsafeArrayData and in parquet). Decode inverts it exactly. Both
  * are codegen'd `transform` HOFs — per-row map work, no UDF, no
  * shuffle, no driver involvement.
  *
  * Asymmetric-distance search (ADC, the FAISS SQ8 search model): score
  * float queries against DECODED corpus vectors, so only the corpus —
  * the side that is 10^11 rows at 100 TB — pays quantized storage.
  * dot(q, decode(c)) = min·Σq_i + span/255·Σ q_i(c_i+128) is affine in
  * the code, so the decoded form below is algebraically THE asymmetric
  * distance, not an approximation of it. Composes with every
  * bucketing/probing operator in [[TextOps]]/[[VectorKMeans]]
  * (quantize the bucketed corpus; rank candidates by ADC; optionally
  * exact-rerank the top shortlist with the float source of truth).
  * Measured recall vs exact float ranking: `ScaleBench ann` `sq8_adc` leg,
  * SCALE.md round 12.
  */
object Quantize {

  /** Adds `minCol`/`maxCol` (per-vector float bounds, double-typed)
    * and `codeCol` (`array<tinyint>`, −128..127) for `embCol`
    * (array of numeric; cast to double before quantizing). A
    * zero-span vector (all coordinates equal) encodes as all −128 and
    * decodes exactly via min. */
  def sq8Encode(df: DataFrame, embCol: String,
                codeCol: String = "qcode", minCol: String = "qmin",
                maxCol: String = "qmax"): DataFrame = {
    val emb = col(embCol).cast("array<double>")
    val mn = array_min(emb)
    val mx = array_max(emb)
    val code = transform(emb, x =>
      when(mx === mn, lit(0))
        .otherwise(round((x - mn) * 255.0 / (mx - mn)).cast("int"))
        .minus(128).cast("tinyint"))
    df.withColumn(minCol, mn).withColumn(maxCol, mx)
      .withColumn(codeCol, code)
  }

  /** Reconstructed double vector from an SQ8 triple: min + (c + 128) ·
    * span / 255 per coordinate. */
  def sq8Decode(code: Column, qmin: Column, qmax: Column): Column =
    transform(code, c =>
      qmin + (c.cast("double") + 128.0) * (qmax - qmin) / 255.0)
}
