package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// Byte-level kernels for the two per-line conversions of the log parse
// that cost more than the line regex itself: the Apache `%t` timestamp
// and the `%r` request-line token split. Both read the `UTF8String`
// bytes in place (`getByte`/`numBytes` — `getBytes` copies for
// row-backed strings) and copy out only what they return, because scan
// rows are reused.

/**
 * Apache `%t` (`dd/Mon/yyyy:HH:mm:ss ±hhmm`, exactly 26 bytes) → epoch
 * µs, or NULL when the kernel does not fully decide the input.
 *
 * Decides only the canonical shape: ASCII digits, the canonical month
 * names `Jan`..`Dec`, a day that exists in that month and year
 * (proleptic Gregorian; year 0000 is 1 BC, as the formatter reads
 * `yyyy`), hour 0-23, minute and second 0-59, and an offset within
 * ±18:00. Every other input — lower-case months,
 * out-of-range fields, other lengths — is NULL, so callers pair it with
 * the formatter: `coalesce(ApacheTimestamp(v), unix_micros(
 * try_to_timestamp(v, 'dd/MMM/yyyy:HH:mm:ss xx')))` is bit-identical to
 * the formatter alone, which then runs only on the undecided lines.
 */
case class ApacheTimestamp(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "apache_timestamp"

  override protected def nullSafeEval(input: Any): Any = {
    val us = ApacheTimestamp.micros(input.asInstanceOf[UTF8String])
    if (us == ApacheTimestamp.Undecided) null else us
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = graft.functions.ApacheTimestamp.micros($s);
         |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ApacheTimestamp =
    copy(child = newChild)
}

object ApacheTimestamp {

  def apply(v: Column): Column = Shim.column(ApacheTimestamp(Shim.expression(v)))

  /** Result of [[micros]] for an undecided input (no decided value can
   * reach it: years 0-9999 stay within ±2.6e17 µs). */
  val Undecided: Long = Long.MinValue

  /** Month names packed big-endian into an int, January first. */
  private val MonthKeys: Array[Int] =
    Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
      "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
      .map(m => (m(0) << 16) | (m(1) << 8) | m(2))

  /** The two ASCII digits at `i` as 0-99, or -1. */
  private def digits2(s: UTF8String, i: Int): Int = {
    val a = s.getByte(i) - '0'
    val b = s.getByte(i + 1) - '0'
    if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a valid proleptic Gregorian date, y ≥ 0
   * (the era-based civil-from-days inverse; no allocation). */
  private def epochDay(y0: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** Epoch µs of `s`, or [[Undecided]]. */
  def micros(s: UTF8String): Long = {
    if (s.numBytes() != 26 || s.getByte(2) != '/' || s.getByte(6) != '/' ||
      s.getByte(11) != ':' || s.getByte(14) != ':' || s.getByte(17) != ':' ||
      s.getByte(20) != ' ') return Undecided
    val key = ((s.getByte(3) & 0xff) << 16) | ((s.getByte(4) & 0xff) << 8) |
      (s.getByte(5) & 0xff)
    var month = 0
    var k = 0
    while (month == 0 && k < 12) {
      if (MonthKeys(k) == key) month = k + 1
      k += 1
    }
    val day = digits2(s, 0)
    val yHi = digits2(s, 7)
    val yLo = digits2(s, 9)
    val hour = digits2(s, 12)
    val minute = digits2(s, 15)
    val second = digits2(s, 18)
    val sign = s.getByte(21)
    val offH = digits2(s, 22)
    val offM = digits2(s, 24)
    if (month == 0 || yHi < 0 || yLo < 0 || hour < 0 || hour > 23 ||
      minute < 0 || minute > 59 || second < 0 || second > 59 ||
      (sign != '+' && sign != '-') || offH < 0 || offM < 0 || offM > 59)
      return Undecided
    val year = yHi * 100 + yLo
    val offSecs = offH * 3600 + offM * 60
    if (day < 1 || day > daysInMonth(year, month) ||
      offSecs > 18 * 3600) return Undecided
    val local = epochDay(year, month, day) * 86400L +
      hour * 3600L + minute * 60L + second
    (local - (if (sign == '-') -offSecs else offSecs)) * 1000000L
  }
}

/**
 * Exactly `split(s, "\\s+", -1)`: every maximal run of Java-regex `\s`
 * (the six ASCII bytes space, `\t`, `\n`, VT, `\f`, `\r`) separates
 * two tokens, leading/trailing runs yield "" tokens and "" yields one
 * "" token. UTF-8 multibyte sequences never contain those bytes, so a
 * byte scan is exact on valid UTF-8. Invalid UTF-8 falls back to
 * `UTF8String.split`, whose `String` round trip rewrites the bad bytes
 * to U+FFFD — the builtin's behaviour, kept.
 */
case class SplitWhitespace(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "split_whitespace"

  override protected def nullSafeEval(input: Any): Any =
    SplitWhitespace.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.SplitWhitespace.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): SplitWhitespace =
    copy(child = newChild)
}

object SplitWhitespace {

  def apply(s: Column): Column = Shim.column(SplitWhitespace(Shim.expression(s)))

  private val WhitespaceRegex = UTF8String.fromString("\\s+")

  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r') // \t \n VT \f \r

  private def isCont(b: Byte): Boolean = (b & 0xc0) == 0x80

  /** Length of the well-formed multibyte sequence (Unicode Table 3-7:
   * no overlongs, surrogates or code points past U+10FFFF) whose lead
   * byte is at `i`, or 0 if ill-formed. */
  private def seqLen(s: UTF8String, i: Int, n: Int): Int = {
    val b0 = s.getByte(i) & 0xff
    if (b0 >= 0xc2 && b0 <= 0xdf) {
      if (i + 1 < n && isCont(s.getByte(i + 1))) 2 else 0
    } else if (b0 >= 0xe0 && b0 <= 0xef) {
      if (i + 2 >= n) 0
      else {
        val b1 = s.getByte(i + 1) & 0xff
        val lo = if (b0 == 0xe0) 0xa0 else 0x80
        val hi = if (b0 == 0xed) 0x9f else 0xbf
        if (b1 >= lo && b1 <= hi && isCont(s.getByte(i + 2))) 3 else 0
      }
    } else if (b0 >= 0xf0 && b0 <= 0xf4) {
      if (i + 3 >= n) 0
      else {
        val b1 = s.getByte(i + 1) & 0xff
        val lo = if (b0 == 0xf0) 0x90 else 0x80
        val hi = if (b0 == 0xf4) 0x8f else 0xbf
        if (b1 >= lo && b1 <= hi && isCont(s.getByte(i + 2)) &&
          isCont(s.getByte(i + 3))) 4 else 0
      }
    } else 0
  }

  def compute(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    // pass 1: validate and count separator runs
    var runs = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) {
        if (isSpace(b)) {
          if (!inRun) { runs += 1; inRun = true }
        } else inRun = false
        i += 1
      } else {
        val len = seqLen(s, i, n)
        if (len == 0) return new GenericArrayData(
          s.split(WhitespaceRegex, -1).asInstanceOf[Array[Any]])
        inRun = false
        i += len
      }
    }
    // pass 2: copy out the tokens between runs
    val out = new Array[Any](runs + 1)
    var t = 0
    var start = 0
    i = 0
    while (i < n) {
      if (isSpace(s.getByte(i))) {
        out(t) = s.copyUTF8String(start, i - 1)
        t += 1
        while (i < n && isSpace(s.getByte(i))) i += 1
        start = i
      } else i += 1
    }
    out(t) = s.copyUTF8String(start, n - 1)
    new GenericArrayData(out)
  }
}
