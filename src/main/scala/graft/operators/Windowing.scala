package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Overlapping fixed-length sequence windows over ordered per-key series
  * — the distributed form of the reference's numpy stride-trick
  * windowing (`channel_utils.py:179-188, 222-235`,
  * `ConvertToTensor.py:60-88`): windows of `seqLen` rows every `step`
  * rows, partial tail dropped, so a series of n rows yields
  * ⌊(n − seqLen)/step⌋ + 1 windows (0 when n < seqLen).
  *
  * Formulation: one ordered sweep per key (`Postprocess.sortedGroups`, a
  * `MapGroups` node — one hash exchange on the keys, one sort) keeps a
  * ring of the key's last `seqLen` rows and emits a window at each row
  * that ends one, so each row is read once and never copied per window.
  *
  * Scale note: a key's rows stream through one task, and memory holds
  * `seqLen` rows per key — keys are fine-grained (dataset, house,
  * channel) streams, the reference's own unit of work.
  */
object Windowing {

  /** One row per window: the `keys` columns, `window_id` (bigint, 0-based
    * from the key's first row) and, per column of `values`, an array of
    * its `seqLen` values in `orderCols` order (named and typed like the
    * column; a null keeps its slot). `values` are columns of `df` (read
    * from the input row), so project the keys, order columns and values
    * first — the sweep does not prune columns. The window starting at
    * row `idx` (0-based) is emitted when row `idx + seqLen − 1` arrives,
    * if `idx` is a multiple of `step`. */
  def windows(df: DataFrame, keys: Seq[Column], orderCols: Seq[Column],
              values: Seq[Column], seqLen: Int, step: Int): DataFrame = {
    require(seqLen > 0 && step > 0, s"seqLen/step must be positive")
    val vi = values.map(Postprocess.inputColumn(df, _)).toArray
    val outSchema = StructType(df.select(keys: _*).schema.fields ++
      (StructField("window_id", LongType, nullable = false) +: vi.toSeq.map { i =>
        val f = df.schema(i)
        StructField(f.name, ArrayType(f.dataType, f.nullable), nullable = false)
      }))
    Postprocess.sortedGroups(df, keys, orderCols, outSchema) { (key, rows) =>
      // ring(c)(i % seqLen) holds value column c of the key's row i
      val ring = Array.ofDim[Any](vi.length, seqLen)
      var i = -1L
      rows.flatMap { r =>
        i += 1
        val slot = (i % seqLen).toInt
        var c = 0
        while (c < vi.length) { ring(c)(slot) = r.get(vi(c)); c += 1 }
        val start = i - seqLen + 1
        if (start < 0 || start % step != 0) None
        else {
          val first = (start % seqLen).toInt
          Some(Row.fromSeq(key.toSeq ++ (start / step +: ring.toSeq.map { vs =>
            ArraySeq.tabulate[Any](seqLen)(j => vs((first + j) % seqLen))
          })))
        }
      }
    }
  }

  /** The reference's step from (seqLen, overlap): fractional overlap is
    * a share of seqLen, integer overlap is rows
    * (`channel_utils.py:187-188`), min 1. */
  def stepOf(seqLen: Int, overlap: Double, fractional: Boolean): Int = {
    val raw = if (fractional) seqLen - (overlap * seqLen).toInt
    else seqLen - overlap.toInt
    math.max(1, raw)
  }

  /** W5 — truncate every key's series to the minimum length across keys
    * (`channel_utils.py:213-220`): rows with idx >= min(n) are dropped.
    * `group` spans the series being aligned (e.g. a house); `keys` the
    * individual series (e.g. channels). */
  def truncateToMin(df: DataFrame, group: Seq[Column], keys: Seq[Column],
                    orderCols: Seq[Column]): DataFrame = {
    val wKey = Window.partitionBy(group ++ keys: _*).orderBy(orderCols: _*)
    val wGroupKey = Window.partitionBy(group ++ keys: _*)
    val wGroup = Window.partitionBy(group: _*)
    df.withColumn("idx", row_number().over(wKey).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(wGroupKey))
      .withColumn("__minN", min(col("__n")).over(wGroup))
      .filter(col("idx") < col("__minN"))
      .drop("__n", "__minN")
  }
}
