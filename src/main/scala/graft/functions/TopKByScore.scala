package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Partial top-k aggregate: `graft_topk(score, id, k)` keeps the k
  * best (score DESC, id ASC on ties) rows per group and returns them
  * best-first as `array<struct<score:double, id:<id type>>>`. The id is
  * a `bigint` (documents, vectors) or a `string` (ranked terms,
  * shingles, labels); the tie order and the buffer's serialized form
  * follow its type. String ties use `UTF8String.compare` (binary
  * order), the order Spark's `orderBy(col)` window applies to strings.
  *
  * The scale rationale: ranking with `row_number().over(partitionBy
  * group orderBy score desc)` + `filter(rank <= k)` shuffles EVERY
  * scored row and sorts each group, even though only k survive. As a
  * declarative aggregate this runs with map-side partial aggregation —
  * each task forwards at most k rows per group to the exchange — which
  * is the difference between shuffling a 100 TB scored corpus and
  * shuffling k rows per (group × partition). The per-group state is a
  * bounded k-element heap (worst element on top for O(log k) eviction).
  *
  * Deterministic: ties break toward the smaller id, matching the
  * `orderBy(score.desc, id)` window formulation row for row (parity
  * is spec-tested; the ANN queries keep identical results either way).
  * Null scores/ids are skipped. */
case class TopKByScore(scoreExpr: Expression, idExpr: Expression,
                       kExpr: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByScore.Buffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  private lazy val stringId: Boolean = idExpr.dataType == StringType

  // "worst-first" order so the heap head is the eviction candidate: a
  // is worse than b when its score is lower, or equal-scored with a
  // LARGER id (ids ascend in rank order)
  @transient private implicit lazy val worstFirst: Ordering[(Double, Any)] = {
    val ids: (Any, Any) => Int =
      if (stringId) (a, b) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      else (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    (a, b) => {
      val c = java.lang.Double.compare(b._1, a._1) // lower score = greater
      if (c != 0) c else ids(a._2, b._2) // larger id = greater
    }
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType) match {
      case (DoubleType, LongType | StringType) =>
        // validate k's TYPE before evaluating it: a foldable
        // non-integer literal ('3', 1.5, null) must fail analysis with
        // a TypeCheckFailure, not a ClassCastException/NPE from the
        // lazy `k` cast (round-7 advice)
        kExpr.dataType match {
          case IntegerType | LongType if kExpr.foldable =>
            // range-check the RAW value: `k` truncates via intValue(),
            // so a bigint past Int range would silently wrap (e.g.
            // 4294967301L → 5) if only `k > 0` were checked
            // (round-8 advice)
            kExpr.eval() match {
              case null => TypeCheckResult.TypeCheckFailure(
                "k must be a positive non-null integer literal")
              case v =>
                val kl = v.asInstanceOf[Number].longValue()
                if (kl > 0 && kl <= Int.MaxValue) TypeCheckResult.TypeCheckSuccess
                else TypeCheckResult.TypeCheckFailure(
                  s"k must be in [1, ${Int.MaxValue}], got $kl")
            }
          case _ => TypeCheckResult.TypeCheckFailure(
            s"k must be a foldable int/bigint literal, got " +
              kExpr.dataType.simpleString)
        }
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects (double, bigint|string, int), got " +
          s"(${s.simpleString}, ${i.simpleString})")
    }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", idExpr.dataType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKByScore.Buffer =
    scala.collection.mutable.PriorityQueue.empty[(Double, Any)]

  /** Keep `e` if the heap has room or `e` beats its current worst.
    * `fromInput` string ids are cloned only when kept: Spark reuses
    * the backing buffers between input rows. */
  private def add(q: TopKByScore.Buffer, e: (Double, Any),
                  fromInput: Boolean): Unit = {
    def kept =
      if (fromInput && stringId) (e._1, e._2.asInstanceOf[UTF8String].clone())
      else e
    if (q.size < k) q.enqueue(kept)
    else if (worstFirst.compare(e, q.head) < 0) { // e beats current worst
      q.dequeue(); q.enqueue(kept)
    }
  }

  override def update(q: TopKByScore.Buffer,
                      input: InternalRow): TopKByScore.Buffer = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null)
      add(q, (s.asInstanceOf[Double], i), fromInput = true)
    q
  }

  override def merge(q: TopKByScore.Buffer,
                     other: TopKByScore.Buffer): TopKByScore.Buffer = {
    other.foreach(add(q, _, fromInput = false))
    q
  }

  override def eval(q: TopKByScore.Buffer): Any =
    // ascending under worstFirst ("greater = worse") is best-first
    new GenericArrayData(q.toArray.sorted(worstFirst)
      .map { case (s, i) => InternalRow(s, i) })

  override def serialize(q: TopKByScore.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(q.size)
    q.foreach { case (s, i) =>
      out.writeDouble(s)
      if (stringId) {
        val b = i.asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length)
        out.write(b)
      } else out.writeLong(i.asInstanceOf[Long])
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByScore.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val q = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val s = in.readDouble()
      val i: Any =
        if (stringId) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          UTF8String.fromBytes(b)
        } else in.readLong()
      q.enqueue((s, i))
    }
    q
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1),
      kExpr = newChildren(2))

  override def prettyName: String = "graft_topk"
}

object TopKByScore {
  /** Per-group state: a bounded heap of (score, id), id a boxed Long
    * or a UTF8String. */
  type Buffer = scala.collection.mutable.PriorityQueue[(Double, Any)]
}
