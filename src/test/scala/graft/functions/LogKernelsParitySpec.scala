package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.charset.StandardCharsets

/**
 * The log parse replaces two builtin formulations with byte kernels:
 * [[ApacheTimestamp]] for `unix_micros(try_to_timestamp(v,
 * 'dd/MMM/yyyy:HH:mm:ss xx'))` and [[SplitWhitespace]] for
 * `split(s, "\\s+")`. The swap is sound only if no kernel ever decides
 * an input differently from its builtin, so every check here runs
 * twice — under whole-stage codegen (codegen failures fatal) and with
 * codegen off (interpreted `NO_CODEGEN` projections) — over edge
 * inputs plus generated ones (fixed seeds, so failures reproduce).
 * Inputs travel as hex and are decoded with `cast(unhex(..) as
 * string)` so invalid UTF-8 reaches the kernels unchanged.
 */
class LogKernelsParitySpec extends SparkSpec with CodegenModes {

  import spark.implicits._

  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Inputs as a `v` string column over an RDD scan (a local relation
   * would be constant-folded by the optimizer, bypassing codegen); a
   * None input is a NULL row. */
  private def inputs(values: Seq[Option[Array[Byte]]]): DataFrame =
    spark.sparkContext.parallelize(values.map(_.map(hex)), 4).toDF("h")
      .select(col("h"), unhex(col("h")).cast("string").as("v"))

  // ---------------------------------------------------------------- %t

  private val apacheFormat = "dd/MMM/yyyy:HH:mm:ss xx"

  private def builtinTs(v: Column): Column =
    unix_micros(try_to_timestamp(v, lit(apacheFormat)))

  private val tsEdges: Seq[String] = Seq(
    "10/Oct/2000:13:55:36 -0700", "01/Jan/1970:00:00:00 +0000",
    "31/Dec/9999:23:59:59 +0000", "01/Jan/0001:00:00:00 +0000",
    "01/Jan/0000:00:00:00 +0000", "15/Oct/1582:00:00:00 +0000",
    "04/Oct/1582:00:00:00 +0000",
    // leap days: 1900 no, 2000 yes, 2023 no, 2024 yes
    "29/Feb/1900:12:00:00 +0000", "29/Feb/2000:12:00:00 +0000",
    "29/Feb/2023:12:00:00 +0000", "29/Feb/2024:12:00:00 +0000",
    "28/Feb/1900:12:00:00 +0000", "30/Feb/2024:12:00:00 +0000",
    // 31 days in a 30-day month, day 00, hour 24, second 60
    "31/Apr/2024:00:00:00 +0000", "31/Jun/2024:00:00:00 +0000",
    "31/Sep/2024:00:00:00 +0000", "31/Nov/2024:00:00:00 +0000",
    "30/Nov/2024:00:00:00 +0000", "00/Jan/2024:00:00:00 +0000",
    "32/Jan/2024:00:00:00 +0000", "10/Oct/2000:24:00:00 +0000",
    "10/Oct/2000:23:60:00 +0000", "10/Oct/2000:23:59:60 +0000",
    // offsets
    "10/Oct/2000:13:55:36 +1400", "10/Oct/2000:13:55:36 -1400",
    "10/Oct/2000:13:55:36 +1800", "10/Oct/2000:13:55:36 -1800",
    "10/Oct/2000:13:55:36 +1900", "10/Oct/2000:13:55:36 -1900",
    "10/Oct/2000:13:55:36 +1801", "10/Oct/2000:13:55:36 +0060",
    "10/Oct/2000:13:55:36 -0000", "10/Oct/2000:13:55:36 +0545",
    "10/Oct/2000:13:55:36 0000", "10/Oct/2000:13:55:36 +00:00",
    "10/Oct/2000:13:55:36 Z", "10/Oct/2000:13:55:36 +000",
    // month spellings
    "10/oct/2000:13:55:36 -0700", "10/OCT/2000:13:55:36 -0700",
    "10/oCt/2000:13:55:36 -0700", "10/Sept/2000:13:55:36 -0700",
    "10/October/2000:13:55:36 -0700", "10/Foo/2000:13:55:36 -0700",
    "10/10/2000:13:55:36 -0700",
    // truncated, padded, reshaped
    "", "10", "10/Oct/2000", "10/Oct/2000:13:55:36", "10/Oct/2000:13:55:36 ",
    "10/Oct/2000:13:55:36 -070", " 10/Oct/2000:13:55:36 -0700",
    "10/Oct/2000:13:55:36 -0700 ", "1/Oct/2000:13:55:36 -0700",
    "10/Oct/2000 13:55:36 -0700", "10-Oct-2000:13:55:36 -0700",
    "10/Oct/200:13:55:36 -07000", "+10/Oct/200:13:55:36 -0700",
    // non-ASCII digits (Arabic-Indic, full-width) and signs
    "١٠/Oct/2000:13:55:36 -0700", "10/Oct/２000:13:55:36 -0700",
    "10/Oct/2000:13:55:36 −0700", "10/Oct/2000:13:55:36 ±0700")

  /** Random near-canonical timestamps: each field drawn from valid,
   * boundary and invalid values, so both kernel outcomes occur. */
  private val tsGen: Gen[String] = for {
    day <- Gen.oneOf(Gen.choose(0, 32).map(d => f"$d%02d"), Gen.oneOf("1", "x1", "٠١"))
    mon <- Gen.oneOf(Gen.oneOf("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
      "Aug", "Sep", "Oct", "Nov", "Dec"), Gen.oneOf("jan", "FEB", "sEp", "Xyz", "Ja"))
    year <- Gen.oneOf(Gen.choose(0, 9999).map(y => f"$y%04d"),
      Gen.oneOf("1900", "2000", "2023", "2024", "2100", "0000", "999", "12345"))
    hh <- Gen.choose(0, 25)
    mm <- Gen.choose(0, 61)
    ss <- Gen.choose(0, 61)
    sign <- Gen.oneOf("+", "-", " ", "")
    oh <- Gen.choose(0, 20)
    om <- Gen.oneOf(0, 15, 30, 45, 59, 60, 99)
  } yield f"$day/$mon/$year:$hh%02d:$mm%02d:$ss%02d $sign$oh%02d$om%02d"

  private val tsInputs: Seq[Option[Array[Byte]]] = {
    val gen = Gen.listOfN(3000, tsGen).apply(Gen.Parameters.default, Seed(2101L)).get
    (tsEdges ++ gen).map(s => Some(utf8(s))) ++
      Seq(None, Some(Array[Byte](0x31, 0x30, 0x2f, 0xff.toByte)),
        Some(utf8("10/Oct/2000:13:55:36 -0700").updated(3, 0xc3.toByte)))
  }

  test("ApacheTimestamp never decides an input differently from the formatter") {
    for ((mode, confs) <- modes) withConfs(confs) {
      val rows = inputs(tsInputs)
        .select(col("h"), col("v"), ApacheTimestamp(col("v")).as("k"),
          builtinTs(col("v")).as("b"))
        .collect()
      assert(rows.length == tsInputs.length)
      val differ = rows.filter(r => !r.isNullAt(2) && (r.isNullAt(3) || r.getLong(2) != r.getLong(3)))
      assert(differ.isEmpty, s"[$mode] kernel != builtin: " +
        differ.take(5).map(r => s"'${r.getString(1)}' k=${r.get(2)} b=${r.get(3)}").mkString("; "))
      // the kernel itself decides every line the formatter accepts in the
      // canonical shape (26 bytes, canonical month), so only the odd
      // line pays for the formatter...
      val months = Set("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
        "Aug", "Sep", "Oct", "Nov", "Dec")
      val left = rows.filter(r => r.isNullAt(2) && !r.isNullAt(3) &&
        r.getString(1).length == 26 && months(r.getString(1).substring(3, 6)))
      assert(left.isEmpty, s"[$mode] left to the formatter: " +
        left.take(5).map(r => s"'${r.getString(1)}'").mkString("; "))
      assert(rows.count(r => !r.isNullAt(2)) > 100, s"[$mode]")
      val byV = rows.map(r => r.getString(1) -> r).toMap
      assert(byV("10/Oct/2000:13:55:36 -0700").getLong(2) == 971211336000000L)
      // ...and never decides what the formatter rejects
      Seq("29/Feb/1900:12:00:00 +0000", "31/Apr/2024:00:00:00 +0000",
        "10/Oct/2000:24:00:00 +0000", "10/Oct/2000:23:59:60 +0000",
        "10/Oct/2000:13:55:36 +1900").foreach { c =>
        assert(byV(c).isNullAt(2) && byV(c).isNullAt(3), s"[$mode] '$c'")
      }
    }
  }

  test("coalesce(kernel, formatter) is bit-identical to the formatter alone") {
    for ((mode, confs) <- modes) withConfs(confs) {
      val df = inputs(tsInputs).select(
        coalesce(ApacheTimestamp(col("v")), builtinTs(col("v"))).as("fast"),
        builtinTs(col("v")).as("slow"))
      val bad = df.filter(!col("fast").eqNullSafe(col("slow"))).count()
      assert(bad == 0, s"[$mode] $bad rows differ")
      // lower/upper-case months are left to the formatter, which accepts them
      val lower = inputs(Seq(Some(utf8("10/oct/2000:13:55:36 -0700"))))
        .select(ApacheTimestamp(col("v")), builtinTs(col("v"))).head()
      assert(lower.isNullAt(0) && lower.getLong(1) == 971211336000000L, s"[$mode]")
    }
  }

  // ------------------------------------------------------------- split

  /** Byte pieces for split inputs: tokens, the six `\s` bytes, Unicode
   * spaces Java's `\s` does not match (NBSP, U+3000, U+1680, U+2028),
   * 2-4 byte characters, and ill-formed sequences (stray continuation,
   * invalid lead bytes, overlong, surrogate, past U+10FFFF, truncated). */
  private val pieces: Seq[Array[Byte]] =
    Seq("a", "GET", "/p?q=1", "HTTP/1.1", "é", "日本", "😀",
      " ", "\t", "\n", "\u000b", "\f", "\r", "  ", " \t ",
      "\u00a0", "\u3000", "\u1680", "\u2028", "\u0085").map(utf8) ++
      Seq(Array(0x80), Array(0xff), Array(0xc0, 0xaf), Array(0xc1, 0xbf),
        Array(0xe0, 0x80, 0xaf), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
        Array(0xf5, 0x80, 0x80, 0x80), Array(0xe3, 0x80), Array(0xf0, 0x9f, 0x98),
        Array(0xc3)).map(_.map(_.toByte))

  private val splitEdges: Seq[String] = Seq(
    "", " ", "  ", "\t", "a", " a", "a ", " a ", "\ta\t", "a b", "a  b",
    "a\t\n\u000b\f\r b", "GET /index.html HTTP/1.1", "GET\t/x\u000bHTTP/1.0",
    "a\u00a0b", "a\u3000b", "\u3000", "\u00a0 \u00a0")

  private val splitInputs: Seq[Option[Array[Byte]]] = {
    val gen = Gen.listOfN(3000, Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces))))
      .apply(Gen.Parameters.default, Seed(2102L)).get
    splitEdges.map(s => Some(utf8(s))) ++ gen.map(ps => Some(ps.toArray.flatten)) :+ None
  }

  private def collectArrays(df: DataFrame): Array[(String, Option[Seq[String]], Option[Seq[String]])] =
    df.collect().map { r =>
      (r.getString(0),
        Option(r.getSeq[String](1)).map(_.toVector),
        Option(r.getSeq[String](2)).map(_.toVector))
    }

  test("SplitWhitespace == split(s, '\\\\s+') on every input, incl. invalid UTF-8") {
    for ((mode, confs) <- modes) withConfs(confs) {
      val rows = collectArrays(inputs(splitInputs).select(col("h"),
        SplitWhitespace(col("v")), split(col("v"), "\\s+")))
      assert(rows.length == splitInputs.length)
      val differ = rows.filter(r => r._2 != r._3)
      assert(differ.isEmpty, s"[$mode] kernel != builtin: " +
        differ.take(5).map(r => s"${r._1}: ${r._2} vs ${r._3}").mkString("; "))
      assert(rows.exists(_._2.isEmpty)) // the NULL row stays NULL
      // a tab/VT-separated request line splits into its three parts
      val req = rows.find(_._1 == hex(utf8("GET\t/x\u000bHTTP/1.0"))).get
      assert(req._2.contains(Vector("GET", "/x", "HTTP/1.0")))
      // invalid bytes reach the kernel raw (1 byte, not a 3-byte U+FFFD)
      // and come back as the builtin's replacement character
      val bad = inputs(Seq(Some(Array(0x61, 0x20, 0xff).map(_.toByte))))
        .select(octet_length(col("v")), SplitWhitespace(col("v"))).head()
      assert(bad.getInt(0) == 3 && bad.getSeq[String](1) == Seq("a", "\ufffd"))
    }
  }

  test("TextFunctions.tokens == split(trim(s), '\\\\s+')") {
    for ((mode, confs) <- modes) withConfs(confs) {
      val rows = collectArrays(inputs(splitInputs).select(col("h"),
        TextFunctions.tokens(col("v")), split(trim(col("v")), "\\s+")))
      val differ = rows.filter(r => r._2 != r._3)
      assert(differ.isEmpty, s"[$mode] tokens() != builtin: " +
        differ.take(5).map(r => s"${r._1}: ${r._2} vs ${r._3}").mkString("; "))
    }
  }
}
