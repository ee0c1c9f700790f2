package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.types._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** `tile_pack(pos, value)` — one tile's values as an array in position
  * order, as a native [[TypedImperativeAggregate]].
  *
  * It replaces `sort_array(collect_list(struct(azimuth, range, value)))
  * .value` in [[graft.core.Cube.tiles]]. That spelling carries a struct
  * per pixel through the shuffle and sorts the structs with the
  * interpreted struct ordering. Here `pos` is the in-tile position
  * `(azimuth % n) * n + range % n`, which orders the pixels of a tile
  * exactly as (azimuth, range) does, so the aggregate needs only:
  *   - a buffer of primitive arrays in arrival order (positions, and the
  *     values as raw bits for fixed-width types, or as copied objects
  *     for any other type), grown by doubling as pixels arrive, so a
  *     buffer holds the pixels present and never a dense n² tile;
  *   - `merge` appends;
  *   - `eval` sorts `(pos << 32 | arrival)` keys as primitive longs and
  *     emits the values in that order, nulls included. Pixels that share
  *     a position (only a malformed cube has them) are then ordered by
  *     value, nulls first, as the struct sort does.
  *
  * The output is `array<value type>`, with `containsNull` set from the
  * value's nullability, the same type the struct spelling produces.
  * A null position is an error: such a pixel has no place in its tile.
  *
  * Registered on the session by [[graft.GraftExtensions]]; use from SQL
  * as `tile_pack(pos, value)`.
  */
case class TilePack(
    pos: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TilePack.Buffer] with BinaryLike[Expression] {
  import TilePack.Buffer

  override def left: Expression = pos
  override def right: Expression = value

  /** The slot codec of a fixed-width value type; null for any other. */
  @transient private lazy val slot: TilePack.Slot = TilePack.Slots.getOrElse(PhysicalDataType(value.dataType), null)

  @transient private lazy val serializer = UnsafeProjection.create(
    Array[DataType](ArrayType(IntegerType, containsNull = false), ArrayType(value.dataType)))

  override def createAggregationBuffer(): Buffer = new Buffer(slot != null, 16)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val p = pos.eval(input)
    if (p == null) throw new IllegalArgumentException(s"tile_pack: null position for value ${value.eval(input)}")
    buf.reserve(1)
    val i = buf.size
    buf.pos(i) = p.asInstanceOf[Int]
    value.eval(input) match {
      case null => buf.nulls.set(i)
      case v if buf.bits != null => buf.bits(i) = TilePack.bitsOf(v)
      case v => buf.objs(i) = InternalRow.copyValue(v).asInstanceOf[AnyRef]
    }
    buf.size += 1
    buf
  }

  override def merge(a: Buffer, b: Buffer): Buffer = {
    a.reserve(b.size)
    System.arraycopy(b.pos, 0, a.pos, a.size, b.size)
    if (a.bits != null) System.arraycopy(b.bits, 0, a.bits, a.size, b.size)
    else System.arraycopy(b.objs, 0, a.objs, a.size, b.size)
    var i = b.nulls.nextSetBit(0)
    while (i >= 0) {
      a.nulls.set(a.size + i)
      i = b.nulls.nextSetBit(i + 1)
    }
    a.size += b.size
    a
  }

  override def eval(buf: Buffer): Any = {
    val n = buf.size
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      keys(i) = (buf.pos(i).toLong << 32) | i
      i += 1
    }
    java.util.Arrays.sort(keys)
    val order = keys.map(_.toInt)
    val out = emit(buf, order)
    var ties = false
    var s = 0
    while (s < n) {
      var e = s + 1
      while (e < n && (keys(e) >> 32) == (keys(s) >> 32)) e += 1
      if (e - s > 1) {
        ties = true
        val byValue = (s until e).sortWith { (x, y) =>
          if (out.isNullAt(x) || out.isNullAt(y)) out.isNullAt(x) && !out.isNullAt(y)
          else valueOrdering.lt(out.get(x, value.dataType), out.get(y, value.dataType))
        }
        byValue.map(order).copyToArray(order, s)
      }
      s = e
    }
    if (ties) emit(buf, order) else out
  }

  @transient private lazy val valueOrdering = TypeUtils.getInterpretedOrdering(value.dataType)

  /** The values of `buf` at `order`, as the output array. */
  private def emit(buf: Buffer, order: Array[Int]): ArrayData = {
    if (buf.bits == null) return new GenericArrayData(order.map(i => buf.objs(i): Any))
    val out = UnsafeArrayData.createFreshArray(order.length, slot.width)
    var k = 0
    while (k < order.length) {
      val i = order(k)
      if (buf.nulls.get(i)) out.setNullAt(k) else slot.put(out, k, buf.bits(i))
      k += 1
    }
    out
  }

  /** (positions, values) in arrival order, as one unsafe row. */
  override def serialize(buf: Buffer): Array[Byte] = {
    val positions = UnsafeArrayData.fromPrimitiveArray(buf.pos, Platform.INT_ARRAY_OFFSET, buf.size, 4)
    val values = emit(buf, Array.range(0, buf.size))
    serializer(new GenericInternalRow(Array[Any](positions, values))).copy().getBytes
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val positions = row.getArray(0)
    val values = row.getArray(1)
    val n = positions.numElements()
    val buf = new Buffer(slot != null, n)
    var i = 0
    while (i < n) {
      buf.pos(i) = positions.getInt(i)
      if (values.isNullAt(i)) buf.nulls.set(i)
      else if (buf.bits == null) buf.objs(i) = InternalRow.copyValue(values.get(i, value.dataType)).asInstanceOf[AnyRef]
      else buf.bits(i) = slot.get(values, i)
      i += 1
    }
    buf.size = n
    buf
  }

  override def dataType: DataType = ArrayType(value.dataType, containsNull = value.nullable)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (pos.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"tile_pack expects an INT position, got ${pos.dataType}")

  override def withNewMutableAggBufferOffset(offset: Int): TilePack =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): TilePack =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TilePack =
    copy(pos = newLeft, value = newRight)

  override def prettyName: String = "tile_pack"
}

object TilePack {

  /** Entries in arrival order: `pos`, the null flags, and the values as
    * raw bits (`bits`, fixed-width types) or as objects (`objs`). */
  final class Buffer(fixed: Boolean, capacity: Int) {
    var size = 0
    var pos = new Array[Int](capacity)
    var bits: Array[Long] = if (fixed) new Array[Long](capacity) else null
    var objs: Array[AnyRef] = if (fixed) null else new Array[AnyRef](capacity)
    val nulls = new java.util.BitSet

    /** Room for `extra` more entries, doubling the arrays when full. */
    def reserve(extra: Int): Unit = if (size + extra > pos.length) {
      val cap = math.max(size + extra, pos.length * 2)
      pos = java.util.Arrays.copyOf(pos, cap)
      if (bits != null) bits = java.util.Arrays.copyOf(bits, cap)
      else objs = java.util.Arrays.copyOf(objs, cap)
    }
  }

  /** The raw bits of a boxed fixed-width value. */
  private def bitsOf(v: Any): Long = v match {
    case b: Boolean => if (b) 1L else 0L
    case f: Float => java.lang.Float.floatToRawIntBits(f).toLong
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
  }

  /** Writes the raw bits of a fixed-width value into an array slot of
    * `width` bytes, and reads them back. */
  private[functions] abstract class Slot(val width: Int) {
    def put(a: UnsafeArrayData, k: Int, bits: Long): Unit
    def get(a: ArrayData, i: Int): Long
  }

  private val Slots: Map[PhysicalDataType, Slot] = Map(
    PhysicalBooleanType -> new Slot(1) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setBoolean(k, bits != 0L)
      def get(a: ArrayData, i: Int): Long = if (a.getBoolean(i)) 1L else 0L
    },
    PhysicalByteType -> new Slot(1) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setByte(k, bits.toByte)
      def get(a: ArrayData, i: Int): Long = a.getByte(i).toLong
    },
    PhysicalShortType -> new Slot(2) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setShort(k, bits.toShort)
      def get(a: ArrayData, i: Int): Long = a.getShort(i).toLong
    },
    PhysicalIntegerType -> new Slot(4) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setInt(k, bits.toInt)
      def get(a: ArrayData, i: Int): Long = a.getInt(i).toLong
    },
    PhysicalLongType -> new Slot(8) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setLong(k, bits)
      def get(a: ArrayData, i: Int): Long = a.getLong(i)
    },
    PhysicalFloatType -> new Slot(4) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setFloat(k, java.lang.Float.intBitsToFloat(bits.toInt))
      def get(a: ArrayData, i: Int): Long = java.lang.Float.floatToRawIntBits(a.getFloat(i)).toLong
    },
    PhysicalDoubleType -> new Slot(8) {
      def put(a: UnsafeArrayData, k: Int, bits: Long): Unit = a.setDouble(k, java.lang.Double.longBitsToDouble(bits))
      def get(a: ArrayData, i: Int): Long = java.lang.Double.doubleToRawLongBits(a.getDouble(i))
    })
}
