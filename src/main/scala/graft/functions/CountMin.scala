package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

/**
 * C58: Count-Min sketch — mergeable approximate frequency state.
 *
 * Exact token counting at 100 TB shuffles one group per DISTINCT token
 * (billions of groups for web text, most of them singletons you never
 * look at). When the question is "how often do the heavy keys occur",
 * the Count-Min sketch answers with a fixed `depth × width` counter
 * grid: partial state per partition is `depth·width` longs regardless
 * of corpus size, partials merge by elementwise addition (map-side
 * combine does almost all the work), and the estimate for any key is
 * `min_r grid[r][h_r(key)]` — an upper bound on the true count with
 * overestimate ≤ 2·N/width at 1−(1/2)^depth confidence (Cormode &
 * Muthukrishnan 2005). Sketches for different days/shards union by
 * addition, which exact counts can do only by re-shuffling.
 *
 * Spark-native shape: [[CountMinAgg]] is a `TypedImperativeAggregate`
 * (the built-in `count_min_sketch`'s pattern) whose input is the
 * row's PRE-COMPUTED bucket array — [[CountMin.buckets]] derives the
 * `depth` row hashes as disjoint 8-hex-char [[Md5HexSlice]]s of the
 * key's md5 (one digest per row hash), so the hash functions are
 * engine-portable and a DuckDB oracle can rebuild the identical grid
 * as `depth·width` bucket sums. [[CountMin.estimate]]
 * then reads a collected sketch back as a literal array lookup —
 * map-only, broadcast-sized (`depth·width·8` bytes).
 */
object CountMin {

  /** The `depth` bucket indexes for a key: row r hashes with hex chars
   * `[8r+1, 8r+8]` of `md5(key)` (32 bits, exact in a long), mod
   * `width`. depth ≤ 4 uses disjoint substrings of one digest. */
  def buckets(key: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && depth <= 4 && width >= 2)
    array((0 until depth).map(rowBucket(key, _, width)): _*)
  }

  private def rowBucket(key: Column, r: Int, width: Int): Column =
    (Md5HexSlice(key, r * 8 + 1, 8) % width).cast(IntegerType)

  /** Aggregate a [[buckets]] column into the flattened `depth·width`
   * counter grid (row-major `array<long>`). */
  def sketchAgg(bucketsCol: Column, depth: Int, width: Int): Column =
    Shim.column(
      CountMinAgg(Shim.expression(bucketsCol), depth, width).toAggregateExpression())

  /** Point estimate for `key` against a sketch COLUMN (e.g. one sketch
   * per event-time window): min over the `depth` rows of the key's
   * counter, all codegen'd; `element_at` is 1-based. */
  def estimateCol(sketch: Column, key: Column, depth: Int, width: Int): Column = {
    val cells = (0 until depth).map(r =>
      element_at(sketch, rowBucket(key, r, width) + lit(r * width + 1)))
    if (cells.size == 1) cells.head else least(cells: _*)
  }

  /** Point estimate for `key` against a collected sketch. */
  def estimate(sketch: Array[Long], key: Column, depth: Int, width: Int): Column = {
    require(sketch.length == depth * width)
    estimateCol(lit(sketch), key, depth, width)
  }
}

/**
 * The sketch aggregate: buffer = `depth·width` longs, update = +1 at
 * one cell per row hash, merge = elementwise add. Input rows carry
 * their bucket indexes (see [[CountMin.buckets]]) so the aggregate
 * does no hashing — update is four array increments.
 */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth >= 1 && width >= 2)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var r = 0
      while (r < depth) {
        buf(r * width + arr.getInt(r)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

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

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "count_min_grid"

  override def withNewMutableAggBufferOffset(n: Int): CountMinAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
}
