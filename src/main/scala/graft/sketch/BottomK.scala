package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bottom-k distinct sample of a string column: the at most k distinct
  * non-null values with the smallest `(hash, value)`, ordered by the long
  * `hash` ascending, then by the value's UTF-8 bytes
  * (`UTF8String.binaryCompare`, Spark's binary string order). Result:
  * `array<string>` in that order.
  *
  * The [[KmvMinHashes]] pattern for values rather than hashes: state is a
  * capped sorted set of at most k entries per partition, map-side combined
  * under `ObjectHashAggregateExec`, so a task forwards at most k values
  * where a `distinct` + `row_number() <= k` window shuffles every distinct
  * value and sorts it. Merge is set union + trim — associative and
  * commutative — so the result is exactly that window's under any
  * partition merge order.
  *
  * `value` is read as bytes: pass a default-collation `StringType` (cast
  * a collated column first), or "distinct" is binary, not collation-aware.
  */
case class BottomKValues(
    hash: Expression,
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[java.util.TreeSet[BottomK.Entry]] {

  require(k > 0, s"bottom-k requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(hash, value)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[BottomK.Entry] =
    new java.util.TreeSet[BottomK.Entry](BottomK.order)

  /** Keeps `e` if it is among the k smallest seen; an entry that is not
    * `owned` is copied only when kept (an input row's string points into a
    * reused buffer).
    */
  private def offer(buf: java.util.TreeSet[BottomK.Entry], e: BottomK.Entry, owned: Boolean): Unit =
    if ((buf.size < k || BottomK.order.compare(e, buf.last()) < 0) && !buf.contains(e)) {
      buf.add(if (owned) e else BottomK.Entry(e.hash, e.value.copy()))
      if (buf.size > k) buf.pollLast()
    }

  override def update(
      buf: java.util.TreeSet[BottomK.Entry],
      input: InternalRow
  ): java.util.TreeSet[BottomK.Entry] = {
    val v = value.eval(input)
    if (v != null) {
      val h = hash.eval(input)
      if (h != null)
        offer(buf, BottomK.Entry(h.asInstanceOf[Long], v.asInstanceOf[UTF8String]), owned = false)
    }
    buf
  }

  override def merge(
      buf: java.util.TreeSet[BottomK.Entry],
      other: java.util.TreeSet[BottomK.Entry]
  ): java.util.TreeSet[BottomK.Entry] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next(), owned = true)
    buf
  }

  override def eval(buf: java.util.TreeSet[BottomK.Entry]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().value; i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[BottomK.Entry]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.value.getBytes
      out.writeLong(e.hash)
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[BottomK.Entry] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val h = in.readLong()
      val v = new Array[Byte](in.readInt())
      in.readFully(v)
      buf.add(BottomK.Entry(h, UTF8String.fromBytes(v)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKValues =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BottomKValues =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]
  ): BottomKValues = copy(hash = newChildren(0), value = newChildren(1))

  override def prettyName: String = "bottom_k_values"
}

object BottomK {

  /** One kept value and its hash. */
  final case class Entry(hash: Long, value: UTF8String)

  /** Hash ascending, then binary value order. */
  val order: java.util.Comparator[Entry] = (a: Entry, b: Entry) => {
    val c = java.lang.Long.compare(a.hash, b.hash)
    if (c != 0) c else a.value.binaryCompare(b.value)
  }

  /** `agg(...)` entry point: the k distinct non-null `value`s with the
    * smallest `(hash, value)`, as an array in that order.
    */
  def values(hash: Column, value: Column, k: Int): Column =
    GraftColumnBridge.column(
      BottomKValues(
        GraftColumnBridge.expression(hash.cast("long")),
        GraftColumnBridge.expression(value),
        k
      ).toAggregateExpression())
}
