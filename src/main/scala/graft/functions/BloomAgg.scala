package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, Decimal}
import org.apache.spark.unsafe.types.UTF8String

/** Group-level Bloom filter over an id column (TypedImperativeAggregate
  * — the same custom-aggregate ladder step as [[MinHashAgg]]): folds a
  * cell's ids into a FIXED 64 Kibit / k=6 filter so a partition
  * manifest can answer "can this cell contain id X?" without reading
  * the cell. Classic partition-pruning side data (Bloom 1970; the same
  * role as Parquet bloom filters / Iceberg puffin blobs).
  *
  * Fixed size keeps every manifest bounded (8 KiB): up to ~5k distinct
  * ids per cell the false-positive rate is &lt; 1%, and beyond that the
  * filter saturates toward "always maybe" — which only DISABLES
  * pruning, never breaks it (a Bloom filter has no false negatives, so
  * a miss is a definite absence and the cell is safely skipped).
  *
  * Ids hash on a CANONICAL decimal string (1, 1.0 and the long 1 all
  * normalize to "1") so the writer's column type and the deleter's
  * literal type never disagree — the same normalization rule the
  * manifest's min/max range comparison uses.
  */
case class BloomAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Long]] {

  import BloomAgg._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](NUM_WORDS)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) addHash(buffer, hashOf(internalToCanonical(v)))
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < NUM_WORDS) { buffer(i) |= other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = serialize(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * NUM_WORDS)
    var i = 0
    while (i < NUM_WORDS) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = wordsOf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_bloom_agg"
}

object BloomAgg {
  /** 64 Kibit = 1024 longs = 8 KiB per manifest. */
  val NUM_WORDS = 1024
  val NUM_BITS: Int = NUM_WORDS * 64
  val NUM_HASHES = 6

  /** Column face: per-group id Bloom filter as binary. */
  def bloom_agg(c: Column): Column =
    GraftBridge.column(
      BloomAgg(GraftBridge.expression(c)).toAggregateExpression())

  /** Canonical string for a CATALYST-internal value (update() path). */
  private[functions] def internalToCanonical(v: Any): String = v match {
    case u: UTF8String => u.toString
    case d: Decimal => canonicalNumber(d.toJavaBigDecimal)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case f: Float => canonicalNumber(new java.math.BigDecimal(f.toString))
    case d: Double => canonicalNumber(new java.math.BigDecimal(d.toString))
    case other => other.toString
  }

  /** Canonical string for an EXTERNAL value (the deleter's literals). */
  def externalToCanonical(v: Any): String = v match {
    case s: String => s
    case d: java.math.BigDecimal => canonicalNumber(d)
    case d: BigDecimal => canonicalNumber(d.bigDecimal)
    case n: Number => scala.util.Try(canonicalNumber(new java.math.BigDecimal(n.toString)))
      .getOrElse(n.toString)
    case other => other.toString
  }

  private def canonicalNumber(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros()
    // stripTrailingZeros leaves 0E-n for zero; normalize all zeros to "0"
    if (s.signum() == 0) "0" else s.toPlainString
  }

  /** 64-bit hash of the canonical id string (FNV-1a over UTF-8, then
    * mixed) — shared by the aggregate and [[mightContain]].
    */
  def hashOf(canonical: String): Long = {
    val b = canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ b(i)) * 0x100000001b3L; i += 1 }
    graft.util.Hash.mix(h)
  }

  /** True iff `p` holds for every bit of hash `h`, in order, stopping
    * at the first miss. Double hashing: bit_i = (h + i·h2) mod m with
    * h2 = mix(h ^ φ) | 1 (Kirsch–Mitzenmacher).
    */
  private def forallBits(h: Long)(p: Int => Boolean): Boolean = {
    val h2 = graft.util.Hash.mix(h ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < NUM_HASHES) {
      if (!p(java.lang.Math.floorMod(h + i * h2, NUM_BITS.toLong).toInt)) return false
      i += 1
    }
    true
  }

  private def addHash(words: Array[Long], h: Long): Unit =
    forallBits(h) { bit => words(bit >>> 6) |= 1L << (bit & 63); true }

  /** The filter's words in the byte order `serialize` writes them. */
  private def wordsOf(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(NUM_WORDS)(bb.getLong())
  }

  /** Decode serialized filter bytes to the word array ONCE; None for
    * malformed bytes (callers must then never prune). Probing a filter
    * per (id, cell) through [[mightContain]] re-allocated the full
    * 8 KiB array on every call (ADVICE r5) — decode up front and probe
    * via [[mightContainWords]] in any loop.
    */
  def decode(bytes: Array[Byte]): Option[Array[Long]] =
    Option.when(bytes != null && bytes.length == 8 * NUM_WORDS)(wordsOf(bytes))

  /** Membership test against a pre-decoded word array (no array copy).
    * False ⇒ the id is DEFINITELY absent; true ⇒ maybe present.
    */
  def mightContainWords(words: Array[Long], canonical: String): Boolean =
    forallBits(hashOf(canonical))(bit => (words(bit >>> 6) & (1L << (bit & 63))) != 0)

  /** Membership test against serialized filter bytes. False ⇒ the id
    * is DEFINITELY absent; true ⇒ maybe present. One-shot convenience —
    * loops should [[decode]] once and use [[mightContainWords]].
    */
  def mightContain(bytes: Array[Byte], canonical: String): Boolean =
    decode(bytes) match {
      case None => true // malformed: never prune
      case Some(words) => mightContainWords(words, canonical)
    }
}
