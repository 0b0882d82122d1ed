package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/**
 * The engine-portable hash key: bit for bit
 * `conv(substring(md5(child), offset, hexChars), 16, 10)` cast to long,
 * folded from the digest bytes without the 32-char hex string. (1, 13)
 * is md5₅₂, which the DuckDB oracles replay with that builtin chain.
 * Input handling is `md5()`'s (strings cast to their UTF-8 bytes, NULL
 * → NULL); `hexChars` ≤ 15 keeps the value below 2⁶⁰.
 */
case class Md5HexSlice(child: Expression, offset: Int, hexChars: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(offset >= 1 && hexChars >= 1 && hexChars <= 15 && offset + hexChars - 1 <= 32,
    s"need offset >= 1, hexChars in 1..15 and offset + hexChars - 1 <= 32, " +
      s"got offset=$offset hexChars=$hexChars")

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_hex_slice"

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    Md5HexSlice.of(b, b.length, offset, hexChars)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b =>
      s"graft.functions.Md5HexSlice.of($b, $b.length, $offset, $hexChars)")

  override protected def withNewChildInternal(newChild: Expression): Md5HexSlice =
    copy(child = newChild)
}

object Md5HexSlice {

  def apply(v: Column, offset: Int, hexChars: Int): Column =
    Shim.column(Md5HexSlice(Shim.expression(v), offset, hexChars))

  /** md5₅₂: the first 13 hex chars. */
  def md552(v: Column): Column = apply(v, 1, 13)

  /** One digest per thread: `getInstance` per row would allocate per row. */
  private val Digest = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Hex chars `[offset, offset + hexChars - 1]` of md5(bytes[0, len))
   * as a long: the one md5-slice byte routine. */
  def of(bytes: Array[Byte], len: Int, offset: Int, hexChars: Int): Long = {
    val md = Digest.get()
    md.reset()
    md.update(bytes, 0, len)
    val d = md.digest()
    var v = 0L
    var i = offset - 1 // 0-based hex char; char i is a nibble of byte i / 2
    val end = i + hexChars
    while (i < end) {
      val b = d(i >> 1)
      v = (v << 4) | (if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf)
      i += 1
    }
    v
  }

  /** md5₅₂ of all of `bytes`. */
  def md552(bytes: Array[Byte]): Long = of(bytes, bytes.length, 1, 13)
}
