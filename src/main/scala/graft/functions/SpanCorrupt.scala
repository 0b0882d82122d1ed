package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * C116: T5-style span-corruption example builder (Raffel et al. 2020 —
 * the denoising objective's data prep: mask contiguous token spans,
 * emit the sentinel-holed input and the sentinel-keyed target). This
 * is the stage AFTER cleaning/packing where a corpus becomes
 * objective-ready examples; at 100 TB it must be map-only, so the
 * whole transform is ONE codegen static call per row (the
 * [[ScrubSpans]]/[[WordShingles]] pattern — no explode, no shuffle,
 * no per-token lambda).
 *
 * Deterministic masking contract (engine-portable, so a SQL oracle
 * replays input/target byte-exact):
 *  - Token positions partition into fixed windows of `window` tokens;
 *    every FULL window masks exactly one span of `span` tokens (the
 *    trailing partial window masks nothing) — noise density =
 *    span/window exactly (3/20 = 0.15, the T5 default).
 *  - Window w's span starts at offset md5₅₂("sc:<id>:<w>") mod
 *    (window − span + 1) — the C14/C17 md5-arithmetic device, so the
 *    "randomness" is a pure function of (doc id, window).
 *  - input_text = tokens with each span replaced by one sentinel
 *    `<extra_id_w>` (w = window index — dense over full windows by
 *    construction); target_text = the spans in order, each prefixed
 *    by its sentinel. Both single-space joined.
 *
 * Returns struct(input_text, target_text, n_spans, masked_tokens,
 * total_tokens).
 */
case class SpanCorrupt(left: Expression, right: Expression,
    window: Int, span: Int) extends BinaryExpression {

  require(window > 0 && span > 0 && span <= window,
    s"need 0 < span <= window, got span=$span window=$window")

  override def dataType: DataType = SpanCorrupt.schema
  override def prettyName: String = "span_corrupt"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string> tokens, bigint id), got $other")
    }

  override protected def nullSafeEval(tokens: Any, id: Any): Any =
    SpanCorrupt.compute(tokens.asInstanceOf[ArrayData],
      id.asInstanceOf[Long], window, span)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, i) =>
      s"${ev.value} = graft.functions.SpanCorrupt.compute($t, $i, $window, $span);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanCorrupt =
    copy(left = newLeft, right = newRight)
}

object SpanCorrupt {

  def apply(tokens: Column, id: Column, window: Int = 20, span: Int = 3): Column =
    Shim.column(SpanCorrupt(Shim.expression(tokens), Shim.expression(id),
      window, span))

  val schema: StructType = StructType(Seq(
    StructField("input_text", StringType, nullable = false),
    StructField("target_text", StringType, nullable = false),
    StructField("n_spans", IntegerType, nullable = false),
    StructField("masked_tokens", IntegerType, nullable = false),
    StructField("total_tokens", IntegerType, nullable = false)))

  /** md5₅₂("sc:<id>:<w>") mod (window − span + 1) — the oracle's
   * `CAST(('0x' || substr(md5(...), 1, 13)) AS BIGINT) % m`. */
  private def spanOffset(id: Long, w: Int, mod: Int): Int =
    (Md5HexSlice.md552(s"sc:$id:$w".getBytes(
      java.nio.charset.StandardCharsets.UTF_8)) % mod).toInt

  def compute(tokens: ArrayData, id: Long, window: Int, span: Int): GenericInternalRow = {
    val n = tokens.numElements()
    val nFull = n / window
    val mod = window - span + 1
    val input = new java.lang.StringBuilder()
    val target = new java.lang.StringBuilder()
    var w = 0
    var p = 0
    def tok(i: Int): String = {
      val t = tokens.getUTF8String(i)
      if (t == null) "" else t.toString
    }
    def appendInput(s: String): Unit = {
      if (input.length > 0) input.append(' ')
      input.append(s)
    }
    while (w < nFull) {
      val off = w * window + spanOffset(id, w, mod)
      // tokens before the span
      while (p < off) { appendInput(tok(p)); p += 1 }
      appendInput(s"<extra_id_$w>")
      if (target.length > 0) target.append(' ')
      target.append(s"<extra_id_$w>")
      var k = 0
      while (k < span) {
        target.append(' ').append(tok(p))
        p += 1
        k += 1
      }
      // rest of this window emits as plain input below (or next loop)
      val windowEnd = (w + 1) * window
      while (p < windowEnd) { appendInput(tok(p)); p += 1 }
      w += 1
    }
    while (p < n) { appendInput(tok(p)); p += 1 }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(input.toString),
      UTF8String.fromString(target.toString),
      nFull, nFull * span, n))
  }
}
