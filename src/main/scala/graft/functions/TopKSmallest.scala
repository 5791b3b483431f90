package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The k lexicographically-smallest string values of a group, as a sorted
  * array — the aggregation-shaped alternative to `row_number() OVER
  * (PARTITION BY g ORDER BY v) <= k`.
  *
  * Why not the window — measured, not folklore (the CapProbe main, last
  * held in commit b7b492f, 8M rows, one group owning half of them):
  * Spark 4's `WindowGroupLimit` rule already prunes a `row_number <= k`
  * filter map-side, so the window no longer shuffles the full corpus (pre-3.5 it did — k ROWS
  * per partition-group ship, 320k records in the probe). The
  * aggregation still ships ONE packed record per (partition, group) —
  * 32k records, 10× fewer, measured — runs no final per-group sort
  * task, and its map-side bound holds under ANY composition (the
  * window's depends on the optimizer matching the literal
  * rank-predicate pattern; wrap the rank in an expression it can't see
  * through and the full shuffle is back). Wall time is equal at probe
  * scale; the shuffle-volume and robustness margins are the point.
  * Each partial holds at most 2k values per group and ships k, so no
  * task ever materializes a full group.
  *
  * Buffer discipline: values append freely to 2k, then compact
  * (sort + truncate to k); once k values are present, candidates ≥ the
  * current k-th smallest are rejected on arrival. Amortized O(log k)
  * compares per row, O(k) memory. Ties are impossible for callers that
  * append a unique-id suffix (see `Sampling.capPerGroup`), and harmless
  * otherwise: the order is a total lexicographic order on the value
  * itself, so the SAME k values win under any partitioning, any merge
  * order, any cluster size.
  */
case class TopKSmallest(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKSmallest.Buffer]
  with UnaryLike[Expression] {

  require(k >= 1, "top_k_smallest k must be >= 1")

  // analysis-time type check: without it a non-string child would pass
  // planning and every task would die on the update()'s cast mid-job
  // (ExpectsInputTypes is off the table — AbstractDataType is
  // private[sql] in Spark 4)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_k_smallest requires a STRING child, got ${child.dataType.catalogString}")

  override def prettyName: String = "top_k_smallest"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): TopKSmallest.Buffer =
    new TopKSmallest.Buffer(new ArrayBuffer[UTF8String](math.min(k, 16)))

  override def update(buf: TopKSmallest.Buffer, input: InternalRow): TopKSmallest.Buffer = {
    val v = child.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[UTF8String], k)
    buf
  }

  override def merge(buf: TopKSmallest.Buffer, other: TopKSmallest.Buffer): TopKSmallest.Buffer = {
    other.values.foreach(buf.offer(_, k))
    buf
  }

  override def eval(buf: TopKSmallest.Buffer): Any = {
    buf.compact(k)
    new GenericArrayData(buf.values.toArray[Any])
  }

  @transient private lazy val serProj =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: TopKSmallest.Buffer): Array[Byte] = {
    buf.compact(k)
    serProj(InternalRow(new GenericArrayData(buf.values.toArray[Any]))).getBytes
  }

  override def deserialize(bytes: Array[Byte]): TopKSmallest.Buffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val out = new ArrayBuffer[UTF8String](math.min(k, 16))
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      // copy: the UTF8String points into the reused serialization buffer
      out += arr.getUTF8String(i).clone()
      i += 1
    }
    new TopKSmallest.Buffer(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSmallest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSmallest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): TopKSmallest =
    copy(child = c)
}

object TopKSmallest {
  final class Buffer(val values: ArrayBuffer[UTF8String]) {
    // k-th smallest so far, valid only while `sorted` (values.length <= k)
    private var sorted = false

    def offer(v: UTF8String, k: Int): Unit = {
      if (sorted && values.length >= k && values(k - 1).compareTo(v) <= 0) return
      // values may point into a reused row/page buffer
      values += v.clone()
      sorted = false
      if (values.length >= 2 * k) compact(k)
    }

    def compact(k: Int): Unit = {
      if (!sorted) {
        val arr = values.toArray
        java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
        values.clear()
        values ++= arr.take(k)
        sorted = true
      } else if (values.length > k) values.remove(k, values.length - k)
    }
  }

  /** Column form: `top_k_smallest(c, k)` — the group's k smallest string
    * values, sorted ascending.
    */
  def apply(c: Column, k: Int): Column =
    EU.column(new TopKSmallest(EU.expression(c), k).toAggregateExpression())
}
