package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

import java.nio.charset.StandardCharsets

/**
 * Every md5-prefix key in the operators is [[Md5HexSlice]] in place of
 * the builtin chain `conv(substring(md5(x), offset, hexChars), 16, 10)`
 * cast to long, while the DuckDB oracles keep the chain. The swap is
 * sound only if the two agree on every input, so each check runs under
 * whole-stage codegen and with codegen off, over string and binary
 * inputs: ASCII, multi-byte UTF-8, invalid UTF-8, empty and NULL
 * (generated with fixed seeds, so failures reproduce). Inputs travel
 * as hex so invalid UTF-8 reaches both sides unchanged.
 */
class Md5HexSliceParitySpec extends SparkSpec with CodegenModes {

  import spark.implicits._

  /** The (offset, hexChars) pairs the operators use, plus the
   * odd-offset, widest and last-char corners. */
  private val slices = Seq((1, 4), (1, 8), (9, 8), (17, 8), (25, 8), (1, 13),
    (2, 15), (18, 15), (32, 1))

  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def builtin(v: Column, offset: Int, hexChars: Int): Column =
    conv(substring(md5(v), offset, hexChars), 16, 10).cast("long")

  private val edges: Seq[Option[Array[Byte]]] =
    Seq("", " ", "x", "alpha beta gamma delta", "longer gram with words",
      "é", "日本語", "😀 emoji", "graft42", "0").map(s => Some(utf8(s))) ++
      Seq(Array(0xff), Array(0x80), Array(0xc3), Array(0xed, 0xa0, 0x80),
        Array(0x61, 0x00, 0x62), Array(0xf5, 0x80, 0x80, 0x80))
        .map(b => Some(b.map(_.toByte))) :+ None

  private val generated: Seq[Option[Array[Byte]]] = {
    val ascii = Gen.asciiStr.map(utf8)
    val multi = Gen.listOf(Gen.oneOf("a", "Z", "9", " ", "é", "ß", "日", "本", "😀", "\t"))
      .map(ps => utf8(ps.mkString))
    val raw = Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)
    Gen.listOfN(3000, Gen.frequency(4 -> ascii, 4 -> multi, 2 -> raw))
      .apply(Gen.Parameters.default, Seed(2107L)).get.map(Some(_))
  }

  private val values = edges ++ generated

  /** Inputs as a string column `v` and a binary column `b` over an RDD
   * scan (a local relation would be constant-folded by the optimizer,
   * bypassing codegen); a None input is a NULL row. */
  private def inputs: DataFrame =
    spark.sparkContext.parallelize(values.map(_.map(hex)), 4).toDF("h")
      .select(col("h"), unhex(col("h")).cast("string").as("v"), unhex(col("h")).as("b"))

  test("kernel == the builtin chain on string and binary input") {
    for ((mode, confs) <- modes) withConfs(confs) {
      val cols = for ((o, k) <- slices; in <- Seq("v", "b"))
        yield Seq(Md5HexSlice(col(in), o, k), builtin(col(in), o, k))
      val rows = inputs.select(col("h") +: cols.flatten: _*).collect()
      assert(rows.length == values.length)
      for (((o, k), i) <- slices.flatMap(s => Seq(s, s)).zipWithIndex) {
        val (kc, bc) = (1 + 2 * i, 2 + 2 * i)
        val differ = rows.filter(r => r.get(kc) != r.get(bc))
        assert(differ.isEmpty, s"[$mode] ($o, $k) kernel != builtin: " +
          differ.take(3).map(r => s"${r.getString(0)}: ${r.get(kc)} vs ${r.get(bc)}")
            .mkString("; "))
        assert(rows.count(_.isNullAt(kc)) == 1, s"[$mode] only the NULL row is NULL")
      }
      // md5("") = d41d8cd98f00b204e9800998ecf8427e; string columns sit
      // at 1 + 4·(slice index)
      val empty = rows.find(_.getString(0) == "").get
      assert(empty.getLong(1) == 0xd41dL &&
        empty.getLong(1 + 4 * slices.indexOf((1, 13))) == 0xd41d8cd98f00bL)
    }
  }

  test("byte routine == the builtin chain, reused buffer") {
    val present = values.flatten
    val ref = present.toDF("b")
      .select(slices.map { case (o, k) => builtin(col("b"), o, k) }: _*)
      .collect()
    present.zip(ref).foreach { case (b, r) =>
      val padded = b ++ Array[Byte](1, 2, 3)
      slices.zipWithIndex.foreach { case ((o, k), i) =>
        assert(Md5HexSlice.of(padded, b.length, o, k) == r.getLong(i),
          s"(${hex(b)}, $o, $k)")
      }
      assert(Md5HexSlice.md552(b) == r.getLong(slices.indexOf((1, 13))))
    }
  }

  test("slices outside the digest or the long range are rejected") {
    Seq((0, 4), (1, 0), (1, 16), (20, 14), (33, 1)).foreach { case (o, k) =>
      intercept[IllegalArgumentException](Md5HexSlice(col("v"), o, k))
    }
  }
}
