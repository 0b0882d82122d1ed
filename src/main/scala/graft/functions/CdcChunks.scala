package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * C53: content-defined chunking (FastCDC/LBFS-style, at word
 * granularity) — split a token stream at positions where the hash of
 * the PRECEDING `window` tokens hits `hash % modulus == 0`, so chunk
 * boundaries are a function of local content, not of offsets. Insert a
 * prefix into a document and every boundary after the edit re-aligns —
 * the property that makes chunk-hash dedup catch shifted duplicates
 * that fixed-size blocks (and whole-doc fingerprints) miss. Expected
 * chunk length is `modulus` windows.
 *
 * Cut rule, 0-based over tokens T[0..n-1]: cut before T[p] (p ≥
 * `window`) iff H(join(T[p-window..p-1], ' ')) % modulus == 0, where H
 * is md5₅₂ ([[Md5HexSlice.of]], the [[TextFunctions.md5Bucket]]
 * engine-portable hash), so a DuckDB oracle replays every boundary with
 * `CAST(('0x'||substr(md5(gram),1,13)) AS BIGINT) % modulus`. Output:
 * the chunk strings in order (tokens space-joined, concat_ws
 * semantics); n < window yields the whole doc as one chunk.
 *
 * Same single-static-call codegen shape as [[WordShingles]] (one tight
 * loop per row, reused gram buffer, no per-window lambda); the md5 is
 * one digest per WINDOW — for the dedup stats this feeds, the
 * alternative HOF formulation would interpret a lambda per window AND
 * still pay the digest.
 */
case class CdcChunks(child: Expression, window: Int, modulus: Int) extends TokenSketch {

  require(window > 0 && modulus > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[ArrayData], window, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.CdcChunks.compute($arr, $window, $modulus);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  def apply(tokens: Column, window: Int, modulus: Int): Column =
    Shim.column(CdcChunks(Shim.expression(tokens), window, modulus))

  /** Space-join tokens [from, until) into `buf` (grown as needed),
   * concat_ws semantics (nulls skipped, empties joined). Returns the
   * byte length. */
  private def joinInto(arr: ArrayData, from: Int, until: Int,
      buf0: Array[Byte]): (Array[Byte], Int) = {
    var buf = buf0
    var len = 0
    var wrote = false
    var k = from
    while (k < until) {
      val t = arr.getUTF8String(k)
      if (t != null) {
        val tb = t.numBytes()
        if (len + tb + 1 > buf.length) {
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + tb + 1))
        }
        if (wrote) { buf(len) = ' '.toByte; len += 1 }
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += tb
        wrote = true
      }
      k += 1
    }
    (buf, len)
  }

  def compute(arr: ArrayData, window: Int, modulus: Int): ArrayData = {
    val n = arr.numElements()
    val chunks = new scala.collection.mutable.ArrayBuffer[Any](4)
    var buf = new Array[Byte](256)
    var start = 0
    var p = window // cuts need a full preceding window; also enforces p >= 1
    while (p < n) {
      val (b2, glen) = joinInto(arr, p - window, p, buf)
      buf = b2
      if (Md5HexSlice.of(buf, glen, 1, 13) % modulus == 0) {
        val (b3, clen) = joinInto(arr, start, p, buf)
        buf = b3
        chunks += UTF8String.fromBytes(java.util.Arrays.copyOf(buf, clen))
        start = p
      }
      p += 1
    }
    val (b4, clen) = joinInto(arr, start, n, buf)
    buf = b4
    chunks += UTF8String.fromBytes(java.util.Arrays.copyOf(buf, clen))
    new GenericArrayData(chunks.toArray)
  }
}
