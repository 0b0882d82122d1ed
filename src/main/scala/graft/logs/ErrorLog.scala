package graft.logs

import graft.functions.RegexGroups
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Spark-native Apache **ErrorLogFormat** parsing — the conf→parse path the
 * reference only half-walks: its `read_httpd_conf` extracts
 * `ErrorLogFormat` directives (reference: src/httpd_conf_reader.cpp:135-140,
 * `log_type = "error"`, single `default` form) but has no error-log table
 * function. graft closes the loop: the directive string extracted by
 * [[HttpdConf]] compiles here to (schema, anchored regex, typed column
 * expressions), reusing the access-log execution shape — one codegen'd
 * [[RegexGroups]] exec per line, built-in expressions for every typed
 * column, zero shuffle.
 *
 * Directive set (Apache 2.4 `ErrorLogFormat`, public httpd docs):
 * `%t` bracketless `EEE MMM dd HH:mm:ss[.ffffff] yyyy` → UTC timestamp
 * (`%{u}t` identical with µs required, `%{cu}t` compact ISO-8601),
 * `%l` loglevel, `%m` module, `%P` pid, `%T` tid, `%a` client, `%A`
 * local address, `%F` source file:line, `%E` error status, `%L` log id,
 * `%v`/`%V` server name, `%M` message (greedy, typically last), `%%`
 * literal. Repeated directives get `_2`, `_3`… suffixes like the
 * access-log collision rule.
 */
object ErrorLog {

  /** Apache 2.4 default error-log format. */
  val DefaultFormat: String = "[%t] [%l] [pid %P] %F: %E: [client %a] %M"

  private[logs] final case class ErrField(name: String, dataType: DataType, directive: String)

  /** Compile an ErrorLogFormat string → (fields in group order, anchored regex). */
  private[logs] def compile(formatStr: String): (Vector[ErrField], String) = {
    val fields = Vector.newBuilder[ErrField]
    val regex = new StringBuilder("^")
    var i = 0
    def lit(s: String): Unit = regex ++= java.util.regex.Pattern.quote(s)
    while (i < formatStr.length) {
      val c = formatStr.charAt(i)
      if (c != '%' || i == formatStr.length - 1) { lit(c.toString); i += 1 }
      else {
        // optional %{...}x modifier
        var mod = ""
        var j = i + 1
        if (formatStr.charAt(j) == '{') {
          val close = formatStr.indexOf('}', j)
          if (close > 0) { mod = formatStr.substring(j + 1, close); j = close + 1 }
        }
        val d = formatStr.charAt(j)
        i = j + 1
        (d, mod) match {
          case ('%', _) => lit("%")
          case ('t', "cu") =>
            fields += ErrField("ts", TimestampType, "%{cu}t")
            regex ++= """(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(?:\.\d{1,6})?)"""
          case ('t', _) => // default and %{u}t: asctime-like with optional µs
            fields += ErrField("ts", TimestampType, "%t")
            regex ++= """([A-Za-z]{3} [A-Za-z]{3} [ \d]?\d \d{2}:\d{2}:\d{2}(?:\.\d{1,6})? \d{4})"""
          case ('l', _) => fields += ErrField("loglevel", StringType, "%l"); regex ++= """([a-z]+\d?)"""
          case ('m', _) => fields += ErrField("module", StringType, "%m"); regex ++= """([A-Za-z0-9_]+)"""
          case ('P', _) => fields += ErrField("pid", LongType, "%P"); regex ++= """(\d+)"""
          case ('T', _) => fields += ErrField("tid", LongType, "%T"); regex ++= """(\d+)"""
          case ('a', _) => fields += ErrField("client", StringType, "%a"); regex ++= """([^\s\]]+)"""
          case ('A', _) => fields += ErrField("local_addr", StringType, "%A"); regex ++= """([^\s\]]+)"""
          case ('F', _) => fields += ErrField("file", StringType, "%F"); regex ++= """([^\s:]+(?::\d+|\(\d+\))?)"""
          case ('E', _) => fields += ErrField("error_status", StringType, "%E"); regex ++= """([^\s\]]+)"""
          case ('L', _) => fields += ErrField("log_id", StringType, "%L"); regex ++= """([^\s\]]+)"""
          case ('v', _) => fields += ErrField("server_name", StringType, "%v"); regex ++= """([^\s\]]+)"""
          case ('V', _) => fields += ErrField("server_name", StringType, "%V"); regex ++= """([^\s\]]+)"""
          case ('M', _) => fields += ErrField("message", StringType, "%M"); regex ++= """(.*)"""
          case (other, _) =>
            throw new IllegalArgumentException(s"ErrorLogFormat: unsupported directive %$other")
        }
      }
    }
    regex += '$'
    // collision suffixes on repeats, matching the access-log rule
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val named = fields.result().map { f =>
      val n = seen.getOrElse(f.name, 0) + 1
      seen(f.name) = n
      if (n == 1) f else f.copy(name = s"${f.name}_$n")
    }
    (named, regex.result())
  }

  /** Typed conversion of one captured group. All built-in expressions. */
  private def convert(f: ErrField, v: Column): Column = f.directive match {
    case "%t" =>
      // "Thu May 12 08:28:57.652118 2011": Spark cannot PARSE `EEE`,
      // so drop the weekday, parse the µs-less base, add the fraction.
      val rest = regexp_replace(substring(v, 5, 64), "  +", " ") // asctime space-pads day
      val base = to_timestamp(regexp_replace(rest, "\\.\\d+", ""), "MMM d HH:mm:ss yyyy")
      val frac = regexp_extract(v, "\\.(\\d{1,6})", 1)
      val fracUs = when(length(frac) > 0, rpad(frac, 6, "0").cast(LongType)).otherwise(lit(0L))
      timestamp_micros(unix_micros(base) + fracUs)
    case "%{cu}t" => v.cast(TimestampType)
    case _ if f.dataType == LongType => v.cast(LongType)
    case _ => v
  }

  /** First error-format directive from an httpd.conf, if any. */
  def formatFromConf(spark: SparkSession, confPath: String): Option[String] = {
    val rows = HttpdConf.read(spark, confPath)
      .filter(col("log_type") === "error")
      .orderBy("line_number")
      .select("format_string")
      .limit(1)
      .collect() // ≤1 row: conf files are driver-side KBs, like the reference's reader
    rows.headOption.map(_.getString(0))
  }

  /**
   * Parse a DataFrame holding one error-log line per row in `value`.
   * Non-raw drops unparseable lines; raw keeps them with
   * `parse_error`/`raw_line` and NULL typed columns.
   */
  def parseLines(df: DataFrame, formatStr: String, raw: Boolean = false): DataFrame = {
    graft.sql.PruneRegexGroups.install(df.sparkSession)
    val (fields, regex) = compile(formatStr)
    val typed = fields.zipWithIndex.map { case (f, idx) =>
      convert(f, element_at(col("__g"), idx + 1)).as(f.name)
    }
    if (!raw) df
      // explode(SingletonArray(g)) drops unparseable lines with ONE
      // regex evaluation per line — a filter would get the alias
      // inlined twice (see HttpdLog.parse / SingletonArray scaladoc)
      .select(col("*"), explode(
        graft.functions.SingletonArray(RegexGroups(col("value"), regex))).as("__g"))
      .select(typed: _*)
    else df.withColumn("__g", RegexGroups(col("value"), regex)).select(
      typed :+ col("__g").isNull.as("parse_error") :+ col("value").as("raw_line"): _*)
  }

  /** The error-log format: `formatStr` > `conf`'s first ErrorLogFormat >
   * Apache default. */
  private def resolveFormat(spark: SparkSession, formatStr: String, conf: String): String =
    if (formatStr.nonEmpty) formatStr
    else if (conf.nonEmpty) formatFromConf(spark, conf).getOrElse(DefaultFormat)
    else DefaultFormat

  /**
   * Read error-log files: `path` (file/dir/glob, gz/bz2 ok) with the
   * format resolved `formatStr` > `conf`'s first ErrorLogFormat >
   * Apache default.
   */
  def read(
      spark: SparkSession,
      path: String,
      formatStr: String = "",
      conf: String = "",
      raw: Boolean = false): DataFrame =
    parseLines(HttpdLog.lines(spark, path, rawMode = false).drop("log_file"),
      resolveFormat(spark, formatStr, conf), raw)

  /** Per-file scan stats for error logs — [[HttpdLog.scanStats]]
   * semantics (total_rows / parse_errors / bytes_scanned per file, one
   * map-side-combining aggregate, reference counter parity) with the
   * error-log format resolution of [[read]]. */
  def scanStats(
      spark: SparkSession,
      path: String,
      formatStr: String = "",
      conf: String = ""): DataFrame = {
    val (_, regex) = compile(resolveFormat(spark, formatStr, conf))
    val err = RegexGroups(col("value"), regex).isNull
    val cs = HttpdLog.statCounters(err)
    HttpdLog.lines(spark, path, rawMode = false).groupBy("log_file")
      .agg(cs.head, cs.tail: _*)
  }
}
