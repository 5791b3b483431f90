package graft.lineage

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Rows and bytes per (bucket, sink) in ONE aggregate — the tally the
  * lineage commit observes on its staged write instead of re-scanning
  * the output (the registrar counts what it ships on the ack,
  * `event_ack.go:37-66`; it never reads the output back).
  *
  * O(1) work per row: one hash lookup keyed by (bucket, sink). The state
  * is one (rows, bytes) pair per distinct key — buckets × sinks, a few
  * hundred at most — so partials and the merged result stay small
  * whatever the row count. `bytes` is summed as given (callers pass the
  * already null-to-0 octet length).
  *
  * Result: `array<struct<bucket:int, sink:string, rows:bigint,
  * bytes:bigint>>`, one element per key, in no particular order.
  */
case class BucketSinkTally(
    bucket: Expression,
    sink: Expression,
    bytes: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[BucketSinkTally.Key, Array[Long]]]
  with TernaryLike[Expression] {

  import BucketSinkTally.{Key, Tally}

  override def first: Expression = bucket
  override def second: Expression = sink
  override def third: Expression = bytes

  override def prettyName: String = "bucket_sink_tally"
  override def nullable: Boolean = false
  override def dataType: DataType = BucketSinkTally.ResultType

  override def createAggregationBuffer(): Tally = new Tally()

  override def update(buf: Tally, input: InternalRow): Tally = {
    val s = sink.eval(input).asInstanceOf[UTF8String]
    val k = new Key(bucket.eval(input).asInstanceOf[Int], s)
    var acc = buf.get(k)
    if (acc == null) {
      // the sink string may point into a reused row buffer
      acc = new Array[Long](2)
      buf.put(new Key(k.bucket, if (s == null) null else s.clone()), acc)
    }
    acc(0) += 1L
    acc(1) += bytes.eval(input).asInstanceOf[Int]
    buf
  }

  override def merge(buf: Tally, other: Tally): Tally = {
    other.forEach { (k, v) =>
      val acc = buf.get(k)
      if (acc == null) buf.put(k, v)
      else { acc(0) += v(0); acc(1) += v(1) }
    }
    buf
  }

  override def eval(buf: Tally): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    buf.forEach { (k, v) =>
      out(i) = new GenericInternalRow(Array[Any](k.bucket, k.sink, v(0), v(1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Wire form: entry count, then per entry bucket, sink byte length
    * (-1 for a null sink), the sink's UTF-8 bytes, rows and bytes.
    */
  override def serialize(buf: Tally): Array[Byte] = {
    var size = 4
    buf.forEach((k, _) => size += 4 + 4 + (if (k.sink == null) 0 else k.sink.numBytes) + 16)
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(buf.size)
    buf.forEach { (k, v) =>
      bb.putInt(k.bucket)
      if (k.sink == null) bb.putInt(-1)
      else { bb.putInt(k.sink.numBytes); bb.put(k.sink.getBytes) }
      bb.putLong(v(0)); bb.putLong(v(1))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Tally = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Tally()
    var n = bb.getInt()
    while (n > 0) {
      val b = bb.getInt()
      val len = bb.getInt()
      val s = if (len < 0) null else {
        val a = new Array[Byte](len); bb.get(a); UTF8String.fromBytes(a)
      }
      buf.put(new Key(b, s), Array(bb.getLong(), bb.getLong()))
      n -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BucketSinkTally =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BucketSinkTally =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      b: Expression, s: Expression, n: Expression): BucketSinkTally =
    copy(bucket = b, sink = s, bytes = n)
}

object BucketSinkTally {
  type Tally = java.util.HashMap[Key, Array[Long]]

  final class Key(val bucket: Int, val sink: UTF8String) {
    override def hashCode: Int = 31 * bucket + (if (sink == null) 0 else sink.hashCode)
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.bucket == bucket && k.sink == sink
      case _ => false
    }
  }

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("sink", StringType),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false))), containsNull = false)

  /** Column form over an int bucket, a string (or null) sink and an int
    * byte count per row.
    */
  def apply(bucket: Column, sink: Column, bytes: Column): Column =
    EU.column(new BucketSinkTally(
      EU.expression(bucket), EU.expression(sink), EU.expression(bytes)).toAggregateExpression())
}
