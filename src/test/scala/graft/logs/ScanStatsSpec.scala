package graft.logs

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * A8 (stats surface): per-scan profiling counters — reference parity
 * with httpd_log_table_function.cpp:515-540 (accounting: non-empty
 * lines only; bytes = line + newline; parse errors INCLUDED in total
 * rows) and :861-880 (the exposed counter set).
 */
class ScanStatsSpec extends SparkSpec {

  private val R = "/root/reference/test/data"

  test("scanStats on the reference's malformed.log: 5 rows / 3 errors, bytes = Σ(len+1)") {
    val st = HttpdLog.scanStats(spark, s"$R/edge_cases/malformed.log", formatType = "common")
      .collect()
    assert(st.length == 1)
    val r = st.head
    assert(r.getLong(1) == 5L && r.getLong(2) == 3L)
    // reference formula cross-check against the raw-mode parse itself
    val raw = HttpdLog.read(spark, s"$R/edge_cases/malformed.log",
      formatType = "common", raw = true)
    val expBytes = raw.agg(sum(octet_length(col("raw_line")) + 1)).collect()(0).getLong(0)
    assert(r.getLong(3) == expBytes)
  }

  test("scanStats is per-file over a glob; empty lines excluded from every counter") {
    val tmp = Paths.get(sys.props("java.io.tmpdir"), "graft_scanstats_spec")
    Files.createDirectories(tmp)
    val valid = "1.1.1.1 - - [10/Oct/2000:13:55:36 -0700] \"GET /x HTTP/1.0\" 200 10"
    Files.write(tmp.resolve("a.log"), Seq(
      valid,
      "", // empty: skipped by ALL counters (reference parity)
      "broken").mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.write(tmp.resolve("b.log"), Seq(
      "bad1", "bad2").mkString("\n").getBytes(StandardCharsets.UTF_8))
    val st = HttpdLog.scanStats(spark, s"$tmp/*.log", formatType = "common")
      .collect().map(r => (Paths.get(new java.net.URI(r.getString(0)).getPath)
        .getFileName.toString, r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(st.map(s => (s._1, s._2, s._3)).toSeq ==
      Seq(("a.log", 2L, 1L), ("b.log", 2L, 2L)))
    // bytes: each counted line + its newline; the empty line contributes 0
    assert(st(0)._4 == valid.length + "broken".length + 2L)
    assert(st(1)._4 == 5L + 5L)
  }

  test("observeAs reports the same counters during the main action, even in non-raw mode") {
    val df = HttpdLog.read(spark, s"$R/edge_cases/malformed.log",
      formatType = "common", observeAs = "scan")
    // non-raw: the error rows are DROPPED from the result... (collect,
    // not count: Dataset.count() builds a NEW QueryExecution, and the
    // metric lands on the execution that actually ran)
    assert(df.collect().length == 2)
    // ...but the observed metric still counted every scanned line
    val m = df.queryExecution.observedMetrics("scan")
    assert(m.getLong(0) == 5L && m.getLong(1) == 3L)
    val exp = HttpdLog.scanStats(spark, s"$R/edge_cases/malformed.log",
      formatType = "common").collect()(0)
    assert(m.getLong(2) == exp.getLong(3))
  }

  test("ErrorLog.scanStats mirrors the surface for error logs") {
    val tmp = Paths.get(sys.props("java.io.tmpdir"), "graft_scanstats_err")
    Files.createDirectories(tmp)
    val fmt = "[%t] [%m:%l] [pid %P:tid %T] [client %a] %M"
    val good = "[Thu Jun 09 06:07:04.123456 2005] [core:notice] [pid 708:tid 1] [client 1.2.3.4] AH00094: msg"
    Files.write(tmp.resolve("e.log"),
      Seq(good, "not an error line").mkString("\n").getBytes(StandardCharsets.UTF_8))
    val r = ErrorLog.scanStats(spark, s"$tmp/e.log", formatStr = fmt).collect()(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getLong(3) == good.length + 17L + 2L)
  }

  // Self-contained twins of the two reference-backed cases above: the
  // same properties over a synthesized malformed file (valid lines,
  // regex misses — truncated, garbage, invalid UTF-8 — and an empty
  // line), so they run wherever the reference fixtures are absent.
  private lazy val synthMalformed: (String, Seq[Array[Byte]]) = {
    val tmp = Files.createTempDirectory("graft_scanstats_synth")
    val lines: Seq[Array[Byte]] = Seq(
      "1.1.1.1 - - [10/Oct/2000:13:55:36 -0700] \"GET /x HTTP/1.0\" 200 10",
      "2.2.2.2 - bob [11/Oct/2000:01:02:03 +0000] \"POST /y?q=1 HTTP/1.1\" 404 -",
      "3.3.3.3 - - [12/Oct/2000:00:00:00 +0545] \"GET\t/z\u000bHTTP/1.1\" 500 7",
      "1.1.1.1 - - [10/Oct/2000:13:55:36 -0700] \"GET /x HTTP/1.0\" 200",
      "this is not a log line",
      "",
      "4.4.4.4 - - [10/Oct/2000 13:55:36] \"GET / HTTP/1.0\" 200 1 extra")
      .map(_.getBytes(StandardCharsets.UTF_8)) :+
      Array[Byte]('5', '.', '5', ' ', 0xff.toByte, 0xc3.toByte, '[', ']')
    val p = tmp.resolve("malformed.log")
    Files.write(p, lines.map(l => l :+ '\n'.toByte).reduce(_ ++ _))
    (p.toString, lines)
  }

  test("scanStats on a synthesized malformed file: rows / errors, bytes = \u03a3(len+1)") {
    val (path, lines) = synthMalformed
    val st = HttpdLog.scanStats(spark, path, formatType = "common").collect()
    assert(st.length == 1)
    val r = st.head
    // 7 non-empty lines (the empty one is skipped), 4 of them regex misses
    assert(r.getLong(1) == 7L && r.getLong(2) == 4L)
    assert(r.getLong(3) == lines.filter(_.nonEmpty).map(_.length + 1L).sum)
    // the reference formula cross-checked against the raw-mode parse
    // (its String round trip turns the invalid bytes into U+FFFD, so the
    // two invalid bytes read back as 3 + 3)
    val raw = HttpdLog.read(spark, path, formatType = "common", raw = true)
    val expBytes = raw.agg(sum(octet_length(col("raw_line")) + 1)).collect()(0).getLong(0)
    assert(r.getLong(3) == expBytes - 4L)
  }

  test("observeAs counters equal scanStats on a synthesized malformed file, in non-raw mode") {
    val (path, _) = synthMalformed
    val df = HttpdLog.read(spark, path, formatType = "common", observeAs = "synth")
    assert(df.collect().length == 3)
    val m = df.queryExecution.observedMetrics("synth")
    val exp = HttpdLog.scanStats(spark, path, formatType = "common").collect()(0)
    assert(m.getLong(0) == exp.getLong(1) && m.getLong(1) == exp.getLong(2))
    assert(m.getLong(2) == exp.getLong(3))
  }
}
