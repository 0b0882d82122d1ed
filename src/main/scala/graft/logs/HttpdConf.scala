package graft.logs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/**
 * Apache httpd.conf LogFormat extraction — the Spark-native equivalent
 * of the reference's `read_httpd_conf` table function
 * (reference: src/httpd_conf_reader.cpp:147-308).
 *
 * Config files are KB-sized: parsing happens on the driver (a single
 * metadata read, like any datasource's schema inference), and results
 * surface as a small DataFrame — never a distributed job.
 */
object HttpdConf {

  /** One extracted format definition. */
  final case class Entry(
      logType: String, // "access" | "error"
      formatType: String, // "named" | "default" | "inline"
      nickname: Option[String],
      formatString: String,
      configFile: String,
      lineNumber: Int
  )

  /** Tokenize one config line: whitespace-separated, double-quote aware,
   * backslash escapes. Returns (token, wasQuoted). */
  private[logs] def tokenize(line: String): Vector[(String, Boolean)] = {
    val tokens = Vector.newBuilder[(String, Boolean)]
    val cur = new StringBuilder
    var inQuotes = false
    var escape = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (escape) { cur.append(c); escape = false }
      else if (c == '\\') escape = true
      else if (c == '"') {
        if (inQuotes) { tokens += ((cur.toString, true)); cur.clear(); inQuotes = false }
        else inQuotes = true
      } else if (!inQuotes && (c == ' ' || c == '\t')) {
        if (cur.nonEmpty) { tokens += ((cur.toString, false)); cur.clear() }
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) tokens += ((cur.toString, false))
    tokens.result()
  }

  private def parseDirective(
      rest: String,
      directive: String,
      file: String,
      lineNo: Int): Option[Entry] = {
    val tokens = tokenize(rest)
    if (tokens.isEmpty) return None
    directive match {
      case "LogFormat" =>
        val fmt = tokens(0)._1
        val named = tokens.length >= 2 && !tokens(1)._1.contains('=')
        Some(Entry(
          "access",
          if (named) "named" else "default",
          if (named) Some(tokens(1)._1) else None,
          fmt, file, lineNo))
      case "CustomLog" =>
        // CustomLog "path" format-or-nickname [env=...]; only an inline
        // *quoted* format string defines a new format — nickname refs are
        // not definitions (reference: httpd_conf_reader.cpp:92-134)
        if (tokens.length < 2 || !tokens(0)._2) None
        else if (tokens(1)._2) Some(Entry("access", "inline", None, tokens(1)._1, file, lineNo))
        else None
      case "ErrorLogFormat" =>
        Some(Entry("error", "default", None, tokens(0)._1, file, lineNo))
      case _ => None
    }
  }

  /** Parse one config file (handles comments, blank lines, backslash
   * line continuations — continuation keeps the first line's number). */
  def parseFile(path: String, hadoopConf: Configuration): Vector[Entry] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try parseLines(Iterator.continually(in.readLine()).takeWhile(_ != null), path)
    finally in.close()
  }

  private[logs] def parseLines(lines: Iterator[String], file: String): Vector[Entry] = {
    val entries = Vector.newBuilder[Entry]
    var continued = ""
    var continuedStart = 0
    var lineNo = 0
    val directives = Seq("LogFormat", "CustomLog", "ErrorLogFormat")
    for (line <- lines) {
      lineNo += 1
      if (continued.nonEmpty) continued += " " + line
      else { continued = line; continuedStart = lineNo }
      if (continued.nonEmpty && continued.endsWith("\\")) {
        continued = continued.dropRight(1) // keep accumulating
      } else {
        val trimmed = continued.trim
        if (trimmed.nonEmpty && trimmed.charAt(0) != '#') {
          val upper = trimmed.toUpperCase
          directives.find(d =>
            upper.startsWith(d.toUpperCase + " ") || upper.startsWith(d.toUpperCase + "\t")
          ).foreach { d =>
            parseDirective(trimmed.substring(d.length), d, file, continuedStart)
              .foreach(entries += _)
          }
        }
        continued = ""
      }
    }
    entries.result()
  }

  /** `read_httpd_conf` equivalent: glob-expand, parse, return a DataFrame
   * with (log_type, format_type, nickname, format_string, config_file,
   * line_number). */
  def read(spark: SparkSession, pathPattern: String): DataFrame = {
    val hc = spark.sparkContext.hadoopConfiguration
    val entries = expandGlob(pathPattern, hc).flatMap(parseFile(_, hc))
    import spark.implicits._
    entries
      .map(e => (e.logType, e.formatType, e.nickname.orNull, e.formatString, e.configFile, e.lineNumber))
      .toDF("log_type", "format_type", "nickname", "format_string", "config_file", "line_number")
  }

  /** Expand a glob pattern to concrete file paths (empty ok). */
  private[logs] def expandGlob(pattern: String, hadoopConf: Configuration): Vector[String] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(hadoopConf)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    statuses.filter(_.isFile).map(_.getPath.toString).toVector
  }
}
