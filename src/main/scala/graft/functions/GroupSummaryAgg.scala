package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-group `(rows, nonNullMeasure, measureSum)` over the rows whose
  * tombstone is not true (null counts as live, like
  * [[graft.streaming.Sinks.readLatest]]'s filter): the summary the
  * upsert sink observes inside its own write job, from which
  * [[graft.streaming.SummaryScan]] answers `count()`, `sum(m)` and
  * `avg(m)` by group.
  *
  * Internal: not registered as a SQL function. The buffer is a
  * `java.util.HashMap` keyed by the group's UTF8String (cloned only
  * when a group is first inserted; the lookup uses Spark's reused
  * bytes), so a row costs one hash probe and three long adds. Sums use
  * `Math.addExact`: on overflow the buffer is marked and the result is
  * null, so no summary is written and readers keep the exact scan.
  *
  * The result is the buffer's own binary encoding ([[encode]]), which
  * is also the body of the sidecar the sink writes. */
case class GroupSummaryAgg(
    group: Expression,
    measure: Expression,
    tombstone: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GroupSummaryAgg.Buffer] {
  import GroupSummaryAgg._

  override def children: Seq[Expression] = Seq(group, measure, tombstone)
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Buffer = new Buffer

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    if (!buf.overflow && tombstone.eval(input) != true) {
      val k = group.eval(input).asInstanceOf[UTF8String]
      var acc = buf.groups.get(k)
      if (acc == null) {
        acc = new Array[Long](3)
        buf.groups.put(if (k == null) null else k.clone(), acc)
      }
      acc(Rows) += 1
      val m = measure.eval(input)
      if (m != null) {
        acc(NonNull) += 1
        try acc(Sum) = Math.addExact(acc(Sum), m.asInstanceOf[Number].longValue)
        catch { case _: ArithmeticException => buf.overflow = true }
      }
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    buf.overflow ||= other.overflow
    if (!buf.overflow) other.groups.forEach { (k, o) =>
      val acc = buf.groups.get(k)
      if (acc == null) buf.groups.put(k, o)
      else try {
        acc(Rows) += o(Rows)
        acc(NonNull) += o(NonNull)
        acc(Sum) = Math.addExact(acc(Sum), o(Sum))
      } catch { case _: ArithmeticException => buf.overflow = true }
    }
    buf
  }

  override def eval(buf: Buffer): Any = if (buf.overflow) null else encode(buf)

  override def serialize(buf: Buffer): Array[Byte] = encode(buf)
  override def deserialize(bytes: Array[Byte]): Buffer = decode(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): GroupSummaryAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GroupSummaryAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): GroupSummaryAgg =
    copy(group = newChildren(0), measure = newChildren(1), tombstone = newChildren(2))
  override def prettyName: String = "group_summary"
}

object GroupSummaryAgg {
  /** Slots of a group's `Array[Long]`. */
  val Rows = 0
  val NonNull = 1
  val Sum = 2

  final class Buffer {
    val groups = new java.util.HashMap[UTF8String, Array[Long]]
    var overflow = false
  }

  /** `overflow, n, then n × (key length or -1 for null, key bytes,
    * rows, nonNull, sum)`; [[decode]] rejects a short or long input. */
  def encode(buf: Buffer): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeBoolean(buf.overflow)
    out.writeInt(buf.groups.size)
    buf.groups.forEach { (k, acc) =>
      if (k == null) out.writeInt(-1)
      else { out.writeInt(k.numBytes); out.write(k.getBytes) }
      acc.foreach(out.writeLong)
    }
    out.flush()
    bytes.toByteArray
  }

  def decode(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buffer
    buf.overflow = in.readBoolean()
    (0 until in.readInt()).foreach { _ =>
      val n = in.readInt()
      val k = if (n < 0) null else {
        val b = new Array[Byte](n); in.readFully(b); UTF8String.fromBytes(b)
      }
      buf.groups.put(k, Array.fill(3)(in.readLong()))
    }
    require(in.read() < 0, "trailing bytes after the last group")
    buf
  }
}
