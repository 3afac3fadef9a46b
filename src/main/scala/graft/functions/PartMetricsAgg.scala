package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-partition curate counts as ONE aggregate keyed by `partId`: for
  * each partition id in the input, the turn count, the kept and dropped
  * counts, one count per drop reason of `rules` and one hit sum per
  * scrub pattern of `scrubs`, in that order. A null `keep` counts as
  * dropped; a drop reason outside `rules` and a scrub key outside
  * `scrubs` count nowhere. It is the one counter of curated turns
  * (`Curate.partMetrics`): the manifests and `Curate.metrics` both read
  * its counts by position.
  *
  * The children are evaluated interpreted and the buffer is a plain map
  * of count arrays, so an observation of it (`Dataset.observe`) adds no
  * generated code to the task that runs it.
  */
case class PartMetricsAgg(
    partId: Expression,
    keep: Expression,
    dropReason: Expression,
    scrubHits: Expression,
    rules: Seq[String],
    scrubs: Seq[String],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[mutable.HashMap[Int, Array[Long]]] {

  private def width: Int = 3 + rules.length + scrubs.length
  @transient private lazy val ruleSlot: Map[UTF8String, Int] =
    rules.zipWithIndex.map { case (r, i) => UTF8String.fromString(r) -> (3 + i) }.toMap
  @transient private lazy val scrubSlot: Map[UTF8String, Int] =
    scrubs.zipWithIndex.map { case (k, i) => UTF8String.fromString(k) -> (3 + rules.length + i) }.toMap

  override def children: Seq[Expression] = Seq(partId, keep, dropReason, scrubHits)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(IntegerType, ArrayType(LongType, containsNull = false), valueContainsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[Int, Array[Long]] = mutable.HashMap.empty

  override def update(
      buffer: mutable.HashMap[Int, Array[Long]],
      input: InternalRow): mutable.HashMap[Int, Array[Long]] = {
    val p = partId.eval(input)
    require(p != null, "PartMetricsAgg: a row without a partition id")
    val c = buffer.getOrElseUpdate(p.asInstanceOf[Int], new Array[Long](width))
    c(0) += 1
    if (keep.eval(input) == true) c(1) += 1 else c(2) += 1
    val reason = dropReason.eval(input)
    if (reason != null) ruleSlot.get(reason.asInstanceOf[UTF8String]).foreach(i => c(i) += 1)
    val hits = scrubHits.eval(input).asInstanceOf[MapData]
    if (hits != null) {
      val (ks, vs) = (hits.keyArray(), hits.valueArray())
      var j = 0
      while (j < hits.numElements()) {
        if (!vs.isNullAt(j)) scrubSlot.get(ks.getUTF8String(j)).foreach(i => c(i) += vs.getInt(j))
        j += 1
      }
    }
    buffer
  }

  override def merge(
      buffer: mutable.HashMap[Int, Array[Long]],
      other: mutable.HashMap[Int, Array[Long]]): mutable.HashMap[Int, Array[Long]] = {
    other.foreach { case (p, o) =>
      val c = buffer.getOrElseUpdate(p, new Array[Long](width))
      var i = 0
      while (i < width) { c(i) += o(i); i += 1 }
    }
    buffer
  }

  override def eval(buffer: mutable.HashMap[Int, Array[Long]]): Any = {
    val parts = buffer.keys.toArray.sorted
    ArrayBasedMapData(parts, parts.map(p => new GenericArrayData(buffer(p))))
  }

  override def serialize(buffer: mutable.HashMap[Int, Array[Long]]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * (4 + 8 * width))
    bb.putInt(buffer.size)
    buffer.foreach { case (p, c) => bb.putInt(p); c.foreach(bb.putLong) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Int, Array[Long]] = {
    val bb = ByteBuffer.wrap(bytes)
    val buffer = mutable.HashMap.empty[Int, Array[Long]]
    (0 until bb.getInt()).foreach { _ =>
      val p = bb.getInt()
      buffer(p) = Array.fill(width)(bb.getLong())
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PartMetricsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PartMetricsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PartMetricsAgg =
    copy(partId = newChildren(0), keep = newChildren(1), dropReason = newChildren(2),
      scrubHits = newChildren(3))
  override def prettyName: String = "graft_part_metrics"
}
