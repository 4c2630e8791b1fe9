package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch over a string column as a native Catalyst
  * `TypedImperativeAggregate`: one fixed-size `depth × width` counter
  * array per partition, element-wise-added at merge — the constant-
  * memory, single-pass frequency summary for streams and 100 TB scans
  * where even a (gram, count) aggregation is too big to keep.
  *
  * Spark ships `count_min_sketch`, but its Murmur-based hash family is
  * not reproducible outside the JVM. This sketch instead derives all
  * `depth` rows from ONE md5 per value: the first 48 bits of
  * `md5(value)` are split into `depth` disjoint `log2(width)`-bit
  * windows (md5 bytes are independent and uniform, so the windows are
  * too — the same one-strong-hash-expanded construction as the MinHash
  * family in [[graft.scale.Dedup]]). Every piece is expressible in
  * Spark SQL (`conv(substring(md5(x),1,12),16,10)` + shifts) AND in
  * DuckDB (`('0x' || substr(md5(x),1,12))::BIGINT`), so a relational
  * oracle can rebuild the exact counter table and the driver gate can
  * hash-compare estimates bit-for-bit (q86).
  *
  * Point estimate: `min over j of counters[j][window_j(md5(x))]` —
  * see `TextStats.cmsEstimate` for the query-side Column. Estimates
  * never undercount; overcount is bounded by collisions
  * (E[err] <= total/width per row, min over depth rows).
  *
  * Buffer layout: `Array[Long](depth * width)`, row j at offset
  * `j * width`. Eval emits the flat array (`array<bigint>`), which is
  * `depth·width·8` bytes — a broadcastable scalar for any sane
  * parameterization (4 × 256 = 8 KiB).
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
  require(width >= 2 && (width & (width - 1)) == 0,
    s"width must be a power of two, got $width")
  require(depth * Integer.numberOfTrailingZeros(width) <= 48,
    "depth * log2(width) bit windows must fit the 48-bit md5 prefix")

  private val bits = Integer.numberOfTrailingZeros(width)

  override def prettyName: String = "cms_sketch"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = Md5PrefixLong.hash(v.asInstanceOf[UTF8String].getBytes, 6)
      var j = 0
      while (j < depth) {
        buf(j * width + ((base >>> (bits * j)) & (width - 1)).toInt) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

object CmsSketch {

  /** The sketch aggregate over `c`. Streamable unchanged as a global
    * aggregation (complete mode, state one `depth × width` buffer); the
    * StreamingOpsSpec case "cmsSketchStream: the sketch after N
    * micro-batches equals the batch sketch" pins stream == batch.
    */
  def apply(c: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CmsSketchAgg(ColumnBridge.expression(c), depth, width).toAggregateExpression())
}
