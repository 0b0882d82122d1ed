package graft.logs

import graft.SparkSpec
import graft.sql.GraftSql
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/**
 * The log parser must never throw on hostile input: a line it cannot
 * read is a parse-error row (raw mode) or a dropped row that the scan
 * counters still see (non-raw mode). Files of combined-format lines —
 * some intact, some truncated, byte-mutated (often inside the `[…]`
 * timestamp or the quoted request), or pure random bytes, with request
 * lines separated by tabs and VT — go through `HttpdLog.read` in raw
 * and non-raw mode and through the `read_httpd_log` SQL table
 * function. Lines never contain `\n`/`\r`, so the expected line count
 * is known exactly. Fixed seeds, so failures reproduce.
 */
class HttpdLogHostileInputSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private val tsGen: Gen[String] = for {
    d <- Gen.choose(1, 28)
    m <- Gen.oneOf("Jan", "Feb", "Mar", "Oct", "Dec", "oct")
    y <- Gen.oneOf(1999, 2000, 2024)
    h <- Gen.choose(0, 23)
    mi <- Gen.choose(0, 59)
    s <- Gen.choose(0, 59)
    z <- Gen.oneOf("+0000", "-0700", "+0545", "+1400")
  } yield f"$d%02d/$m/$y:$h%02d:$mi%02d:$s%02d $z"

  private val requestGen: Gen[String] = for {
    method <- Gen.oneOf("GET", "POST", "HEAD", "-")
    sep1 <- Gen.oneOf(" ", "\t", "\u000b", "  ")
    path <- Gen.oneOf("/", "/index.html", "/a/b?x=1&y=2", "/q?", "/café")
    sep2 <- Gen.oneOf(" ", "\t", "\u000b")
    proto <- Gen.oneOf("HTTP/1.0", "HTTP/1.1", "")
  } yield s"$method$sep1$path$sep2$proto"

  private val lineGen: Gen[String] = for {
    host <- Gen.oneOf("1.2.3.4", "::1", "example.org", "-")
    user <- Gen.oneOf("-", "frank")
    ts <- tsGen
    req <- requestGen
    status <- Gen.oneOf("200", "304", "404", "500", "-")
    bytes <- Gen.oneOf("-", "0", "2326", "99999999999999999999")
    ref <- Gen.oneOf("-", "http://ref.example/")
    ua <- Gen.oneOf("Mozilla/5.0", "curl/8.0", "")
  } yield s"""$host - $user [$ts] "$req" $status $bytes "$ref" "$ua""""

  /** Any byte but the two line terminators. */
  private val byteGen: Gen[Byte] =
    Gen.choose(0, 255).map(b => if (b == '\n' || b == '\r') 'x'.toByte else b.toByte)

  /** Mutate one byte in [from, until) of `b` (clamped to the line). */
  private def mutateIn(b: Array[Byte], from: Int, until: Int): Gen[Array[Byte]] =
    if (b.isEmpty) Gen.const(b)
    else {
      val lo = math.max(0, math.min(from, b.length - 1))
      val hi = math.max(lo + 1, math.min(until, b.length))
      for (i <- Gen.choose(lo, hi - 1); v <- byteGen) yield b.updated(i, v)
    }

  private val hostileLine: Gen[Array[Byte]] = lineGen.map(utf8).flatMap { b =>
    val s = new String(b, StandardCharsets.ISO_8859_1)
    val (tsLo, tsHi) = (s.indexOf('['), s.indexOf(']') + 1)
    val reqLo = s.indexOf('"')
    val reqHi = s.indexOf('"', reqLo + 1) + 1
    Gen.frequency(
      3 -> Gen.const(b),                                       // intact
      2 -> Gen.choose(0, b.length).map(n => b.take(n)),        // truncated
      2 -> mutateIn(b, 0, b.length),                           // one byte anywhere
      3 -> Gen.choose(1, 3).flatMap(k =>                       // inside the [ts]
        (1 to k).foldLeft(Gen.const(b))((g, _) => g.flatMap(mutateIn(_, tsLo, tsHi)))),
      2 -> mutateIn(b, reqLo, reqHi),                          // inside the request
      1 -> Gen.choose(0, 80).flatMap(n => Gen.listOfN(n, byteGen).map(_.toArray)))
  }

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_hostile_spec")
    GraftSql.register(spark)
    d
  }

  /** Writes one file of generated lines; returns (seed, path, non-empty lines). */
  private def hostileFile(seed: Long, n: Int): (Long, String, Long) = {
    val lines = Gen.listOfN(n, hostileLine).apply(Gen.Parameters.default, Seed(seed)).get
    val p = dir.resolve(s"hostile_$seed.log")
    val out = new java.io.ByteArrayOutputStream()
    lines.foreach { l => out.write(l); out.write('\n') }
    Files.write(p, out.toByteArray)
    (seed, p.toString, lines.count(_.nonEmpty).toLong)
  }

  private lazy val files = Seq(4101L, 4102L, 4103L, 4104L).map(hostileFile(_, 300))

  test("HttpdLog.read raw mode: never throws, one row per non-empty line") {
    for ((seed, path, nonEmpty) <- files) {
      val rows = HttpdLog.read(spark, path, formatType = "combined", raw = true).collect()
      assert(rows.length == nonEmpty, s"seed $seed")
      // line numbers stay unique; error rows keep their raw line
      assert(rows.map(_.getAs[Long]("line_number")).distinct.length == rows.length)
      assert(rows.forall(r => !r.getAs[Boolean]("parse_error") || r.getAs[String]("raw_line") != null))
    }
  }

  test("HttpdLog.read non-raw: never throws, rows == total_rows - parse_errors") {
    for ((seed, path, nonEmpty) <- files) {
      val df = HttpdLog.read(spark, path, formatType = "combined", observeAs = "hostile")
      val n = df.collect().length // the metric lands on the execution that ran
      val m = df.queryExecution.observedMetrics("hostile")
      assert(m.getLong(0) == nonEmpty, s"seed $seed total_rows")
      assert(n == m.getLong(0) - m.getLong(1), s"seed $seed rows vs counters")
      assert(m.getLong(1) > 0 && n > 0, s"seed $seed: the mix should hold both outcomes")
    }
  }

  test("read_httpd_log TVF: never throws, same row counts as the batch reader") {
    for ((seed, path, nonEmpty) <- files) {
      val raw = spark.sql(
        s"SELECT * FROM read_httpd_log('$path', format_type => 'combined', raw => true)").collect()
      assert(raw.length == nonEmpty, s"seed $seed raw")
      val parsed = spark.sql(
        s"SELECT * FROM read_httpd_log('$path', format_type => 'combined')").collect()
      val st = HttpdLog.scanStats(spark, path, formatType = "combined").collect()(0)
      assert(parsed.length == st.getLong(1) - st.getLong(2), s"seed $seed non-raw")
      // auto-detect over a hostile sample must not throw either
      spark.sql(s"SELECT * FROM read_httpd_log('$path')").collect()
    }
  }
}
