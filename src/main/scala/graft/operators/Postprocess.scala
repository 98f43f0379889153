package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DoubleType

/** On/off-series postprocessing operators from the reference's
  * disaggregation pipeline (`bert_single_appliance/postprocessing.py`):
  * binary thresholding, run-length analysis, minimum-duration run
  * zeroing, and sliding-median / EWMA smoothing — each one key shuffle
  * (a window composition, or for the two smoothers one shared sorted
  * sweep per key) instead of the reference's driver-side numpy scans.
  */
object Postprocess {

  // internal working columns — prefixed so they can't collide with (or
  // silently overwrite) caller columns of the same name
  private val StateCol = "__graft_state"
  private val RunIdCol = "__graft_run_id"
  private val RunLenCol = "__graft_run_len"
  private val KeyCol = "__graft_key"
  private val ValueCol = "__graft_value"

  /** Binary threshold (postprocessing.py:32-42): 1 where value >= t. */
  def threshold(value: Column, t: Double): Column =
    when(value >= t, 1).otherwise(0).cast("int")

  /** Run-length encoding: consecutive equal `state` values per key form a
    * run. Returns run-level rows: key, state, run_id, run_len.
    * (postprocessing.py:5-24 computes this with an imperative scan.) */
  def runs(df: DataFrame, key: Column, orderCols: Seq[Column],
           state: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    val withState = df.withColumn(StateCol, state)
    // edge = state changed vs previous row (null-safe: first row is an edge)
    val edge = when(!(lag(col(StateCol), 1).over(w) <=> col(StateCol)), 1L)
      .otherwise(0L)
    withState
      .withColumn(RunIdCol,
        sum(edge).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(key, col(StateCol), col(RunIdCol))
      .agg(count(lit(1)).as("run_len"))
      .withColumnRenamed(StateCol, "state")
      .withColumnRenamed(RunIdCol, "run_id")
  }

  /** Zero-out ON runs shorter than `minLen` rows — the reference's
    * minimum-ON-duration filter (postprocessing.py:5-24, 80 s at 8 s rate
    * = 10 samples). Note the reference zeroes a trailing ON run only when
    * it is short (postprocessing.py:22-23) — same here, since the trailing
    * run is just another run. Row-level: returns the input columns plus
    * `state` (the thresholded input) and `state_filtered`. */
  def minDurationFilter(df: DataFrame, key: Column, orderCols: Seq[Column],
                        state: Column, minLen: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    val withState = df.withColumn(StateCol, state)
    val edge = when(!(lag(col(StateCol), 1).over(w) <=> col(StateCol)), 1L)
      .otherwise(0L)
    val withRun = withState.withColumn(RunIdCol,
      sum(edge).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wRun = Window.partitionBy(key, col(RunIdCol))
    withRun
      .withColumn(RunLenCol, count(lit(1)).over(wRun))
      .withColumn("state_filtered",
        when(col(StateCol) === 1 && col(RunLenCol) < minLen, 0)
          .otherwise(col(StateCol)))
      .withColumn("state", col(StateCol))
      .drop(StateCol, RunIdCol, RunLenCol)
  }

  /** Exact sliding median over rows [-k, +k] per key — the distributed
    * counterpart of the reference's smoothing step (postprocessing.py:27-30,
    * which uses `scipy.ndimage.median_filter`). Semantics here follow SQL
    * `quantile_cont(x, 0.5)` — shrinking frames at partition edges and
    * linear interpolation for even counts — NOT scipy exactly (scipy
    * reflect-pads the boundary and picks a low element for even windows;
    * see [[slidingMedianScipy]]); quantile_cont is what the DuckDB oracle
    * compares. Null values are skipped; an all-null frame yields null.
    * Appends `median_value` (double; `value` is cast to double).
    *
    * One form for every k: the keyed [[sweep]] with a dual-heap
    * (lazy-deletion) order-statistic structure — O(log k) per row. The
    * window compositions it replaced (lag/lead columns for k ≤ 8, an
    * `array_sort(collect_list)` frame beyond) re-buffer and re-sort the
    * 2k+1 frame per row and lost at every measured size, k = 2 included
    * (SCALE.md `median`). */
  def slidingMedian(df: DataFrame, key: Column, orderCols: Seq[Column],
                    value: Column, k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    sweep(df, key, orderCols, value, "median_value") { it =>
      val vs = it.toArray // the frame reaches k rows ahead
      val heap = new DualMedianHeap
      var added = -1 // highest row index whose value is in the heap
      var removed = 0 // lowest row index not yet evicted
      vs.indices.iterator.map { i =>
        while (added < math.min(vs.length - 1, i + k)) {
          added += 1
          if (vs(added) ne null) heap.add(vs(added))
        }
        while (removed < i - k) {
          if (vs(removed) ne null) heap.remove(vs(removed))
          removed += 1
        }
        heap.medianOrNull
      }
    }
  }

  /** Trailing exponentially-weighted moving average over the last
    * `span` samples per key — the smoothing sibling of
    * [[slidingMedian]] (median kills impulse noise; EWMA tracks level
    * shifts with recency weighting). Weights follow the pandas
    * `ewm(alpha).mean()` `adjust=True` convention restricted to a
    * bounded trailing frame: for the frame x_1..x_n (oldest first),
    * `ewma = Σ x_i·(1−α)^(n−i) / Σ (1−α)^(n−i)` — a weighted mean, so
    * the first rows of a key are well-defined (no warm-up NaNs) and
    * the bounded frame keeps the state O(span), unlike the recursive
    * `adjust=False` form whose tail never truncates (a sequential
    * recursion Spark cannot parallelize without a prefix scan). A null
    * value keeps its slot in the frame but adds to neither sum (pandas
    * `ignore_na=False`); an all-null frame yields null.
    *
    * The keyed [[sweep]] with a ring of the last `span` values: each row
    * sums its terms newest first, starting from its own value's term, so
    * the result is bit-stable across partitionings and equals the lag
    * composition `Σ_j (1−α)^j·lag(value, j)` this form replaced (q109's
    * oracle sums in the same order). Adds `ewma` (double). */
  def ewma(df: DataFrame, key: Column, orderCols: Seq[Column],
           value: Column, alpha: Double, span: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(span >= 1, s"span must be >= 1, got $span")
    val wts = Array.tabulate(span)(j => math.pow(1 - alpha, j))
    sweep(df, key, orderCols, value, "ewma") { vs =>
      // the key's last `span` values, newest at `head`; the slots before
      // its first row stay null and add nothing
      val ring = new Array[java.lang.Double](span)
      var head = span - 1
      vs.map { v =>
        head = if (head == span - 1) 0 else head + 1
        ring(head) = v
        var num = 0.0
        var den = 0.0
        var p = head
        var j = 0
        while (j < span) {
          val x = ring(p)
          if (x ne null) { num += x * wts(j); den += wts(j) }
          p = if (p == 0) span - 1 else p - 1
          j += 1
        }
        if (den == 0.0) null else java.lang.Double.valueOf(num / den)
      }
    }
  }

  /** Sliding median with EXACT `scipy.ndimage.median_filter` semantics
    * (the reference's smoothing, postprocessing.py:27-30) — for users
    * replicating the reference's published numbers bit-for-bit, where
    * [[slidingMedian]]'s quantile_cont semantics (shrinking edge frames,
    * interpolation) differ at partition boundaries and even sizes.
    *
    * scipy's median_filter is a rank filter: window of `size` samples
    * spanning offsets [-size/2, (size-1)/2], boundary mode 'reflect'
    * (edge-duplicating pad: d c b a | a b c d | d c b a), and the
    * selected value is the sorted window's element at 0-based index
    * size/2 — NO interpolation for even sizes.
    *
    * Distributed form: the in-bounds frame comes from codegen'd
    * lag/lead columns; the reflected pad values are recovered from that
    * same frame (for a row within size/2 of the partition edge, the
    * reflected samples are exactly the first/last in-bounds frame
    * elements — a median only needs the multiset, not pad order), so no
    * second pass and no per-partition collect is needed. Precondition:
    * each partition has at least `size` rows (same as a meaningful
    * scipy call) and `value` is non-null. Adds `median_value`. */
  def slidingMedianScipy(df: DataFrame, key: Column, orderCols: Seq[Column],
                         value: Column, size: Int): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    val kl = size / 2 // extent left of center (also the rank index)
    val kr = (size - 1) / 2 // extent right of center
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    val neighbors = (-kl to kr).map {
      case 0 => value
      case i if i < 0 => lag(value, -i).over(w)
      case i => lead(value, i).over(w)
    }
    // ordered in-bounds window [x_max(1,i-kl) .. x_min(N,i+kr)]
    val arrIn = filter(array(neighbors: _*), v => v.isNotNull)
    val rn = row_number().over(w)
    val cnt = count(lit(1)).over(Window.partitionBy(key))
    // how many pad values are missing on each side
    val ml = greatest(lit(0), lit(kl) - (rn - 1))
    val mr = greatest(lit(0), lit(kr) - (cnt - rn))
    // reflect pad x[1..ml] / x[N-mr+1..N] == the first ml / last mr
    // in-bounds elements (slice with length 0 yields an empty array)
    val nIn = org.apache.spark.sql.functions.size(arrIn) // (`size` is the param)
    val padded = concat(
      slice(arrIn, lit(1), ml),
      arrIn,
      slice(arrIn, nIn - mr + 1, mr))
    df.withColumn("median_value",
      element_at(array_sort(padded), kl + 1))
  }

  /** The sorted per-key sweep both smoothing operators run: one hash
    * exchange on `key`, `sortWithinPartitions(key, orderCols…)`
    * (`orderCols` as given, so `.desc` works), then each key's rows in
    * order. `kernel` maps the key's values (`value` cast to double, null
    * kept) to one output per row, in order; each row comes back as the
    * caller's columns plus `outCol` (double). A row waits in a queue
    * until the kernel has emitted its output, so memory follows how far
    * ahead the kernel reads: one row for [[ewma]], the whole key for
    * [[slidingMedian]] (per-key data must fit a task — the bound every
    * ordered-window operator carries). The sweep is opaque to column
    * pruning: project the input first. */
  private def sweep(df: DataFrame, key: Column, orderCols: Seq[Column],
                    value: Column, outCol: String)(
      kernel: Iterator[java.lang.Double] => Iterator[java.lang.Double]): DataFrame = {
    // the key and the double value are appended after the sort (they do
    // not cross the exchange) and ride after the caller's columns, so the
    // sweep reads them at fixed indices and emits only the first `width`
    val width = df.schema.length
    val outSchema = df.schema.add(outCol, DoubleType, nullable = true)
    df.repartition(key)
      .sortWithinPartitions(key +: orderCols: _*)
      .withColumn(KeyCol, key).withColumn(ValueCol, value.cast("double"))
      .mapPartitions { rows =>
        // consecutive same-key runs (the sort guarantees adjacency)
        val it = rows.buffered
        new Iterator[Row] {
          private var out: Iterator[Row] = Iterator.empty
          def hasNext: Boolean = out.hasNext || it.hasNext
          def next(): Row = {
            if (!out.hasNext) {
              val k0 = it.head.get(width)
              val pending = new java.util.ArrayDeque[Row]()
              val values = new Iterator[java.lang.Double] {
                def hasNext: Boolean = it.hasNext && it.head.get(width) == k0
                def next(): java.lang.Double = {
                  val r = it.next()
                  pending.add(r)
                  r.getAs[java.lang.Double](width + 1)
                }
              }
              out = kernel(values).map { v =>
                val r = pending.poll()
                val fields = new Array[Any](width + 1)
                var j = 0
                while (j < width) { fields(j) = r.get(j); j += 1 }
                fields(width) = v
                new GenericRow(fields)
              }
            }
            out.next()
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Order-statistic multiset for a sliding frame: max-heap `lo` holds
    * the lower half (its top = lower middle), min-heap `hi` the upper;
    * removals anywhere in the frame are deferred (lazy deletion) until
    * the value surfaces at a top. Invariant: loSize == hiSize or
    * loSize == hiSize + 1, counting live elements only. */
  private final class DualMedianHeap {
    private val lo = new java.util.PriorityQueue[java.lang.Double](
      java.util.Collections.reverseOrder[java.lang.Double]())
    private val hi = new java.util.PriorityQueue[java.lang.Double]()
    private val delayed = new java.util.HashMap[java.lang.Double, Integer]()
    private var loSize = 0
    private var hiSize = 0

    private def prune(h: java.util.PriorityQueue[java.lang.Double]): Unit = {
      while (!h.isEmpty && delayed.getOrDefault(h.peek, 0) > 0) {
        val v = h.poll()
        val c = delayed.get(v) - 1
        if (c == 0) delayed.remove(v) else delayed.put(v, c)
      }
    }

    private def rebalance(): Unit = {
      if (loSize > hiSize + 1) {
        prune(lo); hi.add(lo.poll()); loSize -= 1; hiSize += 1; prune(lo)
      } else if (loSize < hiSize) {
        prune(hi); lo.add(hi.poll()); hiSize -= 1; loSize += 1; prune(hi)
      }
    }

    def add(v: Double): Unit = {
      prune(lo)
      if (lo.isEmpty || v <= lo.peek) { lo.add(v); loSize += 1 }
      else { hi.add(v); hiSize += 1 }
      rebalance()
    }

    def remove(v: Double): Unit = {
      // decide which half the value lives in by comparing to lo's top
      prune(lo)
      delayed.merge(v, 1, (a, b) => a + b)
      if (!lo.isEmpty && v <= lo.peek) { loSize -= 1; prune(lo) }
      else { hiSize -= 1; prune(hi) }
      rebalance()
    }

    /** quantile_cont(0.5) of the live multiset; null when empty. */
    def medianOrNull: java.lang.Double = {
      if (loSize + hiSize == 0) null
      else {
        prune(lo); prune(hi)
        if (((loSize + hiSize) & 1) == 1) lo.peek
        else (lo.peek + hi.peek) / 2.0
      }
    }
  }
}
