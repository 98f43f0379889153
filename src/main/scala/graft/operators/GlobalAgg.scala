package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe replacements for the two unpartitioned-window shapes —
  * `agg(...).over(Window.partitionBy())` (a global scalar) and
  * `sum(...).over(Window.orderBy(...))` (a global running total). Both
  * window forms move their whole input frame into ONE task (Spark
  * warns "Moving all data to a single partition"); legal over a
  * bounded histogram, but a silent scale cliff the moment a refactor
  * widens the frame — so the round-20 discipline is zero unpartitioned
  * windows anywhere, with these as the replacements (r19 verdict #4).
  *
  * [[withScalars]] is the q167-proven scalar pattern: persist the
  * frame once (both the value branch and the 1-row aggregate read the
  * cache — never a double scan), aggregate to one row, broadcast-cross-
  * join it back. Work is a map-side-combined aggregate; nothing ever
  * single-partitions.
  *
  * [[runningLong]] is the one prefix-offset operator (global running
  * totals, and through [[stableIds]] contiguous global row ids):
  * range-partition on the order key, per-partition running sum
  * (window partitioned by the partition id), then add each
  * partition's broadcast prefix offset. The driver only ever sees one
  * subtotal per partition (a bounded collect while the frame is
  * built), so the shape holds at any frame size.
  */
object GlobalAgg {

  /** `df` plus one column per `(aggExpr, name)` holding the global
    * aggregate of the WHOLE frame — the distributed form of
    * `aggExpr.over(Window.partitionBy())`. `df` is persisted via the
    * [[graft.Caching]] contract (caller releases after its terminal
    * action); the 1-row aggregate side is explicitly broadcast, so the
    * join is a one-row BroadcastNestedLoopJoin, never a shuffle.
    * Empty-frame semantics match the window form: no rows in, no rows
    * out. */
  def withScalars(df: DataFrame, aggs: (Column, String)*): DataFrame = {
    require(aggs.nonEmpty, "withScalars needs at least one aggregate")
    val cached = graft.Caching.persisted(df)
    val one = cached.agg(aggs.head._1.as(aggs.head._2),
      aggs.tail.map { case (c, n) => c.as(n) }: _*)
    cached.crossJoin(broadcast(one))
  }

  /** `df` plus an INCLUSIVE running total (unboundedPreceding ..
    * currentRow in `orderCols` order) for each `(valueCol, name)` in
    * `values`, and optionally the grand total for each entry of
    * `grandTotals` (running-sum name → total column name) as a
    * literal — known driver-side from the subtotal collect.
    *
    * Values must be integral (summed exactly as longs). `orderCols`
    * should be a total order of the frame (each of this library's call
    * sites orders by the DISTINCT key of the histogram beneath it);
    * rows tied on `orderCols` get an arbitrary relative prefix order,
    * exactly like any SQL running sum.
    *
    * The ranged copy is persisted ([[graft.Caching]] contract): the
    * subtotal job and the main job must read the SAME sampled range
    * boundaries. */
  def runningLong(df: DataFrame, orderCols: Seq[Column],
                  values: Seq[(Column, String)],
                  grandTotals: Map[String, String] = Map.empty,
                  numPartitions: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "runningLong needs at least one value column")
    require(grandTotals.keySet.subsetOf(values.map(_._2).toSet),
      s"grandTotals keys must name running-sum outputs: $grandTotals")
    val spark = df.sparkSession
    val parts = numPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val idx = values.indices
    val base = values.zip(idx).foldLeft(df) {
      case (acc, ((v, _), i)) => acc.withColumn(s"__cs$i", v.cast("long"))
    }
    val ranged = graft.Caching.persisted(base
      .repartitionByRange(parts, orderCols: _*)
      .withColumn("__pid", spark_partition_id()))
    // one tiny job: per-partition subtotals → exclusive prefix offsets
    // (empty partitions are absent and contribute 0). An in-plan
    // offsets frame (Range × broadcast subtotals) builds with no job
    // but raised the `ScaleBench rank` exponent; see SCALE.md.
    val subCols = idx.map(i => sum(col(s"__cs$i")))
    val subtotals = ranged.groupBy(col("__pid")).agg(subCols.head, subCols.tail: _*)
      .collect().map(r => r.getInt(0) -> idx.map(i => r.getLong(i + 1)))
      .sortBy(_._1).toSeq
    val prefix = subtotals.scanLeft(Seq.fill(idx.size)(0L)) {
      case (acc, (_, ss)) => acc.zip(ss).map(t => t._1 + t._2)
    }
    val offsets = spark.createDataFrame(subtotals.map(_._1).zip(prefix))
      .toDF("__pid", "__os")
    // ROWS, not the default peer-inclusive RANGE frame: the tie
    // contract above, and a running count that IS row_number (stableIds)
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = ranged.join(broadcast(offsets), Seq("__pid"))
    val out = values.zip(idx).foldLeft(joined) {
      case (acc, ((_, name), i)) =>
        val withRun = acc.withColumn(name,
          sum(col(s"__cs$i")).over(w) + col("__os")(i))
        grandTotals.get(name).fold(withRun)(withRun.withColumn(_, lit(prefix.last(i))))
    }
    out.drop(Seq("__pid", "__os") ++ idx.map(i => s"__cs$i"): _*)
  }

  /** Contiguous global row ids `0 .. n-1` in `orderCols` order, without
    * the global sort: a running count (ROWS frame, so exactly
    * `row_number` plus the partition offset) minus one. Ids are
    * deterministic when `orderCols` is a total order; tied rows get
    * arbitrary relative ids, like any SQL `row_number` tie. */
  def stableIds(df: DataFrame, orderCols: Seq[Column],
                idName: String = "row_id",
                numPartitions: Option[Int] = None): DataFrame = {
    require(orderCols.nonEmpty, "stableIds needs ordering columns")
    runningLong(df, orderCols, Seq(lit(1L) -> idName),
      numPartitions = numPartitions)
      .withColumn(idName, col(idName) - 1L)
  }
}
