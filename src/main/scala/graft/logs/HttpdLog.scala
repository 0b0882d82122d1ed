package graft.logs

import graft.functions.{ApacheTimestamp, RegexGroups, SplitWhitespace}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.NewHadoopRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/**
 * Spark-native `read_httpd_log`: Apache access-log files → typed DataFrame.
 *
 * Mirrors the reference engine's semantics
 * (reference: src/httpd_log_table_function.cpp:338-900,
 * src/httpd_log_multi_file_info.cpp:100-230) with a Spark-first design:
 * the format string compiles on the driver to (schema, regex, a tree of
 * Catalyst column expressions); execution is a map-only scan — text
 * source → one codegen'd regex exec per line ([[RegexGroups]]) → built-in
 * expressions for the typed columns. Two conversions that cost more than
 * the match itself run as byte kernels instead: the Apache `%t` through
 * [[graft.functions.ApacheTimestamp]], with the `DateTimeFormatter`
 * (`try_to_timestamp`) as the fallback for the lines it leaves
 * undecided, and the `%r` token split through
 * [[graft.functions.SplitWhitespace]] (exactly `split(_, "\\s+")`,
 * falling back to it on invalid UTF-8). Zero shuffle in the non-raw path;
 * raw mode adds a per-file `row_number` over Hadoop byte offsets for
 * split-correct `line_number`.
 *
 * Value semantics (reference: src/httpd_log_table_function.cpp:730-821):
 *  - `-` → NULL for string/int/interval columns; `-` → 0 for bytes columns
 *  - `%X`: X→aborted, +→keepalive, -→close
 *  - `%D`/`%{us}T` µs, `%{ms}T` ms, `%T`/`%{s}T` s → DayTimeInterval (µs)
 *  - `%t` Apache default `[dd/MMM/yyyy:HH:mm:ss Z]` → UTC timestamp;
 *    epoch sec/msec/usec; strftime; consecutive `%t` combine (base+frac)
 *  - `%r` → method/path/query_string/protocol; empty query_string → NULL
 *  - parse-error rows (raw mode): string cols → "", others NULL
 *
 * Numeric conversions use `try_cast`, safe under
 * `spark.sql.ansi.enabled=true` (invalid input → NULL, never throw) with
 * no per-row regex guards in the hot path.
 */
object HttpdLog {

  val CommonFormat: String = LogFormat.Common
  val CombinedFormat: String = LogFormat.Combined

  /**
   * Read Apache access logs.
   *
   * @param path       file, directory glob, or comma-free Hadoop glob; .gz ok
   * @param formatType "common" | "combined" | conf nickname | "" (auto)
   * @param formatStr  explicit LogFormat string (highest priority)
   * @param conf       httpd.conf path for nickname lookup / detection
   * @param raw        keep parse-error rows + line_number/parse_error/raw_line
   */
  def read(
      spark: SparkSession,
      path: String,
      formatType: String = "",
      formatStr: String = "",
      conf: String = "",
      raw: Boolean = false,
      observeAs: String = ""): DataFrame = {
    graft.sql.PruneRegexGroups.install(spark)
    val (fmt, rawMode) = resolveFormat(spark, path, formatType, formatStr, conf, raw)
    parse(lines(spark, path, rawMode), fmt, rawMode, observeAs)
  }

  /**
   * Parse a DataFrame that already holds one log line per row in a `value`
   * column (e.g. synthesized lines, Kafka payloads). Adds `log_file` («»)
   * if absent; raw mode uses an existing `line_number` column or NULL.
   *
   * `observeAs` (non-empty) attaches an `observe()` metric of that name
   * to the parse plan — (total_rows, parse_errors, bytes_scanned) with
   * [[scanStats]] semantics, collected for FREE during whatever action
   * the caller runs (a QueryExecutionListener or
   * `df.queryExecution.observedMetrics` reads it) — the reference's
   * post-scan stats surface without a second pass, and the counters
   * cover ALL scanned lines even when non-raw mode then drops the
   * error rows.
   */
  def parseLines(
      df: DataFrame,
      formatStr: String,
      raw: Boolean = false,
      observeAs: String = ""): DataFrame = {
    graft.sql.PruneRegexGroups.install(df.sparkSession)
    val fmt = LogFormat.parse(formatStr)
    var in = df
    if (!in.columns.contains("log_file")) in = in.withColumn("log_file", lit(""))
    if (raw && !in.columns.contains("line_number"))
      in = in.withColumn("line_number", lit(null).cast(LongType))
    parse(in, fmt, raw, observeAs)
  }

  /**
   * Per-scan statistics — the reference's profiling surface as a
   * queryable table (reference: src/httpd_log_table_function.cpp:515-540
   * for the accounting, :861-880 for the exposed counters): one row per
   * file with `total_rows` (non-empty lines read — parse errors
   * INCLUDED, the reference counts them in Total Rows), `parse_errors`
   * (regex misses), and `bytes_scanned` (Σ octet_length(line)+1 —
   * content plus the newline, the reference's exact formula; empty
   * lines are skipped by all three counters, also reference behavior).
   *
   * Scale shape: ONE map-side-combining aggregate directly over the
   * text scan — no raw-mode `row_number` window, no second read. At
   * 100 TB this is the "how many lines failed per file" table for the
   * cost of the scan itself; for stats-during-the-main-query instead,
   * use `observeAs` on [[read]]/[[parseLines]].
   */
  def scanStats(
      spark: SparkSession,
      path: String,
      formatType: String = "",
      formatStr: String = "",
      conf: String = ""): DataFrame = {
    val (fmt, _) = resolveFormat(spark, path, formatType, formatStr, conf, raw = true)
    statsOf(lines(spark, path, rawMode = false), fmt)
  }

  /** THE reference accounting formula, in exactly one place (total_rows
   * includes parse errors; bytes = octet_length(line)+1 for the
   * newline) — shared by [[statsOf]], [[parse]]'s observe metric and
   * `ErrorLog.scanStats`, so the three surfaces can never drift. */
  private[logs] def statCounters(err: Column): Seq[Column] = Seq(
    count(lit(1)).as("total_rows"),
    sum(when(err, 1L).otherwise(0L)).as("parse_errors"),
    sum(octet_length(col("value")).cast(LongType) + lit(1L)).as("bytes_scanned"))

  /** Shared stats aggregate: `value`+`log_file` lines → per-file
   * (total_rows, parse_errors, bytes_scanned). Unknown format (empty
   * field list) counts every line as a parse error, like [[parse]]. */
  private[logs] def statsOf(linesDf: DataFrame, fmt: LogFormat): DataFrame = {
    val err: Column =
      if (fmt.fields.isEmpty) lit(true)
      else RegexGroups(col("value"), fmt.lineRegex).isNull
    val cs = statCounters(err)
    linesDf.groupBy("log_file").agg(cs.head, cs.tail: _*)
  }

  /** Resolve the effective LogFormat per the reference's priority:
   * format_str > conf > format_type > auto-detect
   * (reference: src/httpd_log_multi_file_info.cpp:126-230). */
  def resolveFormat(
      spark: SparkSession,
      path: String,
      formatType: String,
      formatStr: String,
      conf: String,
      raw: Boolean): (LogFormat, Boolean) = {
    val hc = spark.sparkContext.hadoopConfiguration
    if (formatStr.nonEmpty) (LogFormat.parse(formatStr), raw)
    else if (conf.nonEmpty) {
      val entries = HttpdConf.parseFile(conf, hc).sortBy(_.lineNumber)
      val sample = sampleLines(path, hc, 10)
      if (formatType.nonEmpty) {
        entries
          .filter(e => e.formatType == "named" && e.nickname.contains(formatType) && e.formatString.nonEmpty)
          .map(e => LogFormat.parse(e.formatString))
          .find(fitsSample(_, sample))
          .map((_, raw))
          .getOrElse(throw new IllegalArgumentException(
            s"Format '$formatType' in conf file '$conf' not found or does not match the log file format"))
      } else {
        Seq("default", "inline", "named").iterator
          .flatMap(t => entries.filter(e => e.formatType == t && e.formatString.nonEmpty))
          .map(e => LogFormat.parse(e.formatString))
          .find(fitsSample(_, sample))
          .map((_, raw))
          .getOrElse(throw new IllegalArgumentException(
            s"No matching format found in conf file '$conf' for the log file"))
      }
    } else if (formatType.nonEmpty) formatType match {
      case "common"   => (LogFormat.parse(LogFormat.Common), raw)
      case "combined" => (LogFormat.parse(LogFormat.Combined), raw)
      case other =>
        throw new IllegalArgumentException(
          s"Invalid format_type '$other'. Supported formats: 'common', 'combined'. " +
            "Or use format_str for custom formats, or conf for httpd.conf lookup.")
    } else {
      // auto-detect: try combined, then common, over ≤10 sample lines
      // (reference: src/httpd_log_format_parser.cpp:1217-1268)
      val sample = sampleLines(path, hc, 10)
      def detected(fmtStr: String): Option[LogFormat] =
        Some(LogFormat.parse(fmtStr)).filter(fitsSample(_, sample))
      detected(LogFormat.Combined).map((_, raw))
        .orElse(detected(LogFormat.Common).map((_, raw)))
        .getOrElse((LogFormat.Unknown, true)) // unknown → forced raw mode
    }
  }

  /** A format fits a sample when its line regex matches at least one
   * non-empty sample line and at least half the sample's size. */
  private def fitsSample(f: LogFormat, sample: Vector[String]): Boolean = {
    val p = java.util.regex.Pattern.compile(f.lineRegex)
    val m = sample.count(l => l.nonEmpty && p.matcher(l).matches())
    m > 0 && m >= sample.size / 2
  }

  /** First `n` lines from the first non-empty globbed file (driver-side,
   * KB-sized read; gzip-aware). Used only for format detection. */
  private[logs] def sampleLines(pathPattern: String, hc: Configuration, n: Int): Vector[String] = {
    val files = listRecursive(pathPattern, hc).getOrElse(HttpdConf.expandGlob(pathPattern, hc))
    val codecs = new CompressionCodecFactory(hc)
    val out = Vector.newBuilder[String]
    var count = 0
    val it = files.iterator
    while (count < n && it.hasNext) {
      val f = new Path(it.next())
      val fs = f.getFileSystem(hc)
      val rawIn = fs.open(f)
      val in = Option(codecs.getCodec(f)).map(_.createInputStream(rawIn)).getOrElse(rawIn)
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      try {
        var line = r.readLine()
        while (line != null && count < n) {
          out += line
          count += 1
          line = r.readLine()
        }
      } finally r.close()
    }
    out.result()
  }

  /** `**` recursive-glob expansion (Hadoop globs treat `**` as `*`, the
   * reference's DuckDB filesystem recurses — mirror the latter). The
   * remainder from the first `**` on is matched against each file's
   * path RELATIVE to the base (nio glob matchers support `**` across
   * separators), so a multi-level pattern — `**` then a directory
   * component like `app-*` then a leaf name — keeps its directory
   * components; matching only the basename silently dropped them. As
   * in DuckDB, `**` also matches ZERO directories (base-level files
   * still match), which a nio `**` followed by a slash alone does not
   * — hence the second, prefix-stripped matcher. Returns None when the
   * pattern has no `**`. */
  private[logs] def listRecursive(pathPattern: String, hc: Configuration): Option[Vector[String]] = {
    val idx = pathPattern.indexOf("**")
    if (idx < 0) None
    else {
      val baseStr = pathPattern.substring(0, idx).stripSuffix("/")
      val base = new Path(if (baseStr.isEmpty) "." else baseStr)
      val remainder = pathPattern.substring(idx)
      val fs = base.getFileSystem(hc)
      val out = Vector.newBuilder[String]
      if (fs.exists(base)) {
        val nio = java.nio.file.FileSystems.getDefault
        val matchers = Seq(remainder, remainder.replaceFirst("\\*\\*/", ""))
          .distinct.map(g => nio.getPathMatcher("glob:" + g))
        val basePath = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
        val it = fs.listFiles(base, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile) {
            val rel = st.getPath.toUri.getPath.stripPrefix(basePath).stripPrefix("/")
            if (matchers.exists(_.matches(java.nio.file.Paths.get(rel))))
              out += st.getPath.toString
          }
        }
      }
      Some(out.result().sorted)
    }
  }

  /** Raw text lines with `log_file`; raw mode adds split-correct
   * `line_number` (per-file row_number over Hadoop byte offsets — the only
   * shuffle in the pipeline, and only in raw mode; empty lines are counted
   * then dropped, matching the reference's counter). */
  private[logs] def lines(spark: SparkSession, path: String, rawMode: Boolean): DataFrame = {
    val hc = spark.sparkContext.hadoopConfiguration
    // .zst support (A9 codec parity): this env's libhadoop lacks zstd,
    // so a zstd-jni-backed codec registers idempotently per read
    graft.sources.ZstdJniCodec.register(hc)
    val resolved: Either[String, Vector[String]] = listRecursive(path, hc) match {
      case Some(files) if files.nonEmpty => Right(files)
      case Some(_) =>
        throw new IllegalArgumentException(s"read_httpd_log: no files found matching '$path'")
      case None => Left(path)
    }
    if (!rawMode) {
      // Hive-style partition columns (date=2024-01-01/...) surface
      // automatically: a directory path goes through Spark's native
      // partition discovery (reference parity — the reference's
      // MultiFileReader handles hive_partitioning for free,
      // httpd_log_multi_file_info.cpp:231), and a filter on the
      // partition column PRUNES the listed files before the scan — the
      // first scan saver on a 100 TB date-partitioned log archive. The
      // `**` recursive-glob branch passes its base as basePath so the
      // same discovery applies to its explicit file list.
      val reader = resolved match {
        case Left(p)      => spark.read.text(p)
        case Right(files) =>
          val idx = path.indexOf("**")
          val baseStr = path.substring(0, math.max(idx, 0)).stripSuffix("/")
          // hive-partitioned ⇔ every file has a k=v DIRECTORY segment
          // between base and filename (a '=' anywhere — e.g. in a
          // FILENAME — previously tripped discovery on non-partitioned
          // trees; r13 advisor finding)
          val isPartitioned = baseStr.nonEmpty && {
            val bp = new Path(baseStr)
            val qBase = bp.getFileSystem(hc).makeQualified(bp)
              .toUri.getPath.stripSuffix("/")
            val segRe = java.util.regex.Pattern.compile("^[^/=]+=[^/]*$")
            files.forall { f =>
              val p = new Path(f).toUri.getPath
              p.startsWith(qBase + "/") &&
                p.substring(qBase.length + 1).split('/').dropRight(1)
                  .exists(s => segRe.matcher(s).matches())
            }
          }
          if (isPartitioned)
            spark.read.option("basePath", baseStr).text(files: _*)
          else spark.read.text(files: _*)
      }
      val extras = reader.columns.filterNot(_ == "value").map(col)
      // _metadata.file_path, NOT input_file_name(): the latter is
      // non-deterministic, so a partition-column predicate above it
      // cannot push past the projection and pruning never fires
      // (probed round 13: PartitionFilters stayed empty). The metadata
      // column is deterministic and scheme-agnostic; only the URI
      // spelling differs (file:/ vs file:///), which no consumer pins.
      reader
        .select(col("value") +: col("_metadata.file_path").as("log_file") +: extras: _*)
        .filter(length(col("value")) > 0)
    } else {
      val hadoopPath = resolved.fold(identity, _.mkString(","))
      val base = spark.sparkContext
        .newAPIHadoopFile(hadoopPath, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
        .asInstanceOf[NewHadoopRDD[LongWritable, Text]]
      // TWO-PASS line numbering (r14 verdict #5): a row_number() OVER
      // (PARTITION BY log_file) funnels a 50 GB uncompressed file's
      // lines through ONE task even though the scan itself splits.
      // Pass 1 counts lines per (file, split) — driver state is
      // O(#splits), the documented-bounded-collect contract — pass 2
      // re-reads and numbers each line as split-prefix + local index.
      // Splits of one file are prefix-summed by byte start; compressed
      // members are one split each (prefix 0). Costs one extra read of
      // the raw bytes; buys per-split parallel numbering at any size.
      val splitCounts = base.mapPartitionsWithInputSplit { (split, iter) =>
        val fs = split.asInstanceOf[FileSplit]
        Iterator.single(((fs.getPath.toString, fs.getStart), iter.size.toLong))
      }.collect()
      val prefix: Map[(String, Long), Long] = splitCounts
        .groupBy(_._1._1)
        .flatMap { case (_, rows) =>
          var acc = 0L
          rows.sortBy(_._1._2).map { case (k, c) =>
            val p = k -> acc; acc += c; p
          }
        }
      val bc = spark.sparkContext.broadcast(prefix)
      val rdd = base.mapPartitionsWithInputSplit { (split, iter) =>
        val fs = split.asInstanceOf[FileSplit]
        val file = fs.getPath.toString
        // a missing key means pass 1 and pass 2 saw different splits
        // (file changed between jobs, split conf drift) — failing
        // loudly beats silently restarting numbering at 1 and
        // emitting duplicate line_numbers (r15 advice)
        val start = bc.value.getOrElse((file, fs.getStart),
          throw new IllegalStateException(
            s"line-number pass mismatch: split ($file, ${fs.getStart}) " +
              "was not seen by the counting pass — input changed " +
              "between jobs?"))
        var i = 0L
        iter.map { case (_, text) =>
          i += 1
          (file, start + i, text.toString)
        }
      }
      import spark.implicits._
      rdd.toDF("log_file", "line_number", "value")
        .filter(length(col("value")) > 0)
    }
  }

  /** Lines DataFrame (`value`, `log_file` [, `line_number`]) → typed table.
   * `observeAs` non-empty → attach the scan-stats metric BEFORE the
   * non-raw error filter, so the counters see every scanned line. */
  private[logs] def parse(
      linesDf: DataFrame,
      fmt: LogFormat,
      rawMode: Boolean,
      observeAs: String = ""): DataFrame = {
    def observed(df: DataFrame, err: Column): DataFrame =
      if (observeAs.isEmpty) df
      else {
        val cs = statCounters(err)
        df.observe(observeAs, cs.head, cs.tail: _*)
      }

    if (fmt.fields.isEmpty) {
      // unknown format: raw-only schema, every line a parse error
      return observed(linesDf, lit(true)).select(
        col("log_file"),
        col("line_number"),
        lit(true).as("parse_error"),
        col("value").as("raw_line"))
    }

    // Non-raw drops error rows via explode(SingletonArray(g)) rather
    // than filter(isnotnull(g)): a filter's condition gets the alias
    // INLINED by PushDownPredicates and again by PhysicalOperation at
    // scan planning, so the line regex would run twice per row; the
    // Generate is a barrier for both and evaluates it once (see
    // [[graft.functions.SingletonArray]]). Raw mode keeps every row —
    // no filter, single evaluation already.
    val gcol = if (rawMode) "__groups" else "__g0" // direct name: a rename
    // alias would break the pruning rule's ExprId-based face tracking
    val withG0 = observed(
      linesDf.withColumn(gcol, RegexGroups(col("value"), fmt.lineRegex)),
      col(gcol).isNull)
    val filtered =
      if (rawMode) withG0
      else withG0
        .select(col("*"),
          explode(graft.functions.SingletonArray(col("__g0"))).as("__groups"))
        .drop("__g0")
    val g = col("__groups")
    val err = g.isNull

    def cap(fieldIdx: Int): Column = element_at(g, fmt.captureGroupOf(fieldIdx))

    // Materialize the %r token split once: its sub-columns reference the
    // array several times inside conditionals, where whole-stage codegen's
    // subexpression elimination does not reach — without this the split
    // would re-run per sub-column per row (as a regex split it measured
    // 10x the cost of the line-match regex itself).
    val reqIdx = fmt.fields.indices.find(i => !fmt.fields(i).skip && fmt.fields(i).isRequestLine)
    val base = reqIdx match {
      case Some(i) =>
        filtered
          .withColumn("__req_toks", SplitWhitespace(cap(i)))
          .withColumn("__req_fp", element_at(col("__req_toks"), 2))
          .withColumn("__req_qpos", instr(col("__req_fp"), "?"))
      case None => filtered
    }

    val cols = Vector.newBuilder[Column]
    val processedTs = scala.collection.mutable.Set.empty[Int]

    for (i <- fmt.fields.indices) {
      val f = fmt.fields(i)
      if (!f.skip) {
        if (f.isTimestamp) {
          if (f.tsGroup >= 0 && !processedTs(f.tsGroup)) {
            processedTs += f.tsGroup
            val members = fmt.tsGroups(f.tsGroup).fieldIdx
            cols += tsGroupColumn(fmt, members).as(f.columnName)
          } else if (f.tsGroup < 0) {
            cols += tsGroupColumn(fmt, Vector(i)).as(f.columnName)
          }
        } else if (f.isRequestLine) {
          cols ++= requestColumns(f, err)
        } else {
          val conv = convert(f, cap(i))
          val c =
            if (rawMode && f.dataType == StringType) when(err, lit("")).otherwise(conv)
            else conv
          cols += c.as(f.columnName)
        }
      }
    }

    cols += col("log_file")
    if (rawMode) {
      cols += col("line_number")
      cols += err.as("parse_error")
      cols += col("value").as("raw_line")
    }
    // Partition (or caller-provided) passthrough columns ride after the
    // reference schema; a name collision with a parsed field takes the
    // A2 numbering suffix (parsed fields keep the base name — they are
    // the reference surface). Temp-prefixed in the select, renamed
    // against the CONCRETE output schema afterwards.
    val internal = Set("value", "log_file", "line_number",
      "__groups", "__g0", "__req_toks", "__req_fp", "__req_qpos")
    val extras = linesDf.columns.filterNot(internal).toSeq
    val selected = base.select(
      (cols.result() ++ extras.map(e => col(e).as("__pt_" + e))): _*)
    if (extras.isEmpty) selected
    else {
      val taken = scala.collection.mutable.Set(
        selected.columns.filterNot(_.startsWith("__pt_")).toSeq: _*)
      extras.foldLeft(selected) { (df, e) =>
        var name = e
        var k = 2
        while (taken(name)) { name = s"${e}_$k"; k += 1 }
        taken += name
        df.withColumnRenamed("__pt_" + e, name)
      }
    }
  }

  // -------------------------------------------------------------------
  // Per-field conversion expressions (all built-in, codegen-friendly)
  // -------------------------------------------------------------------

  /** Typed conversion for a regular (non-%t, non-%r) field
   * (reference: src/httpd_log_table_function.cpp:730-821). */
  private[logs] def convert(f: LogField, v: Column): Column = f.dataType match {
    case StringType if f.directive == "%X" =>
      when(v === "X", "aborted")
        .when(v === "+", "keepalive")
        .when(v === "-", "close")
        .otherwise(v)
    case StringType =>
      when(v === "-", lit(null).cast(StringType)).otherwise(v)
    case IntegerType =>
      // try_cast: invalid/overflow → NULL without ANSI exceptions and
      // without a per-row regex guard (the parse hot path)
      when(v === "-", lit(null).cast(IntegerType)).otherwise(v.try_cast(IntegerType))
    case LongType =>
      val bytesCols = Set("bytes", "bytes_received", "bytes_sent", "bytes_transferred")
      if (bytesCols.contains(f.columnName))
        when(v === "-", lit(0L)).otherwise(v.try_cast(LongType))
      else when(v === "-", lit(null).cast(LongType)).otherwise(v.try_cast(LongType))
    case _: DayTimeIntervalType =>
      val factor: Long = f.directive.replace(">", "").replace("<", "") match {
        case "%D" => 1L
        case "%T" =>
          f.modifier match {
            case "us" => 1L
            case "ms" => 1000L
            case _    => 1000000L // %T and %{s}T are seconds
          }
        case _ => 1L
      }
      microsToInterval(when(v === "-", lit(null).cast(LongType)).otherwise(v.try_cast(LongType)) * factor)
    case _ => v
  }

  /** Whole microseconds → DayTimeInterval(DAY TO SECOND) with µs precision. */
  private def microsToInterval(micros: Column): Column =
    make_dt_interval(lit(0), lit(0), lit(0), micros.cast(DecimalType(26, 0)) / lit(1000000))

  /** `%r` → method/path/query_string/protocol sub-columns honoring skip
   * flags (reference: src/httpd_log_format_parser.cpp:767-790,
   * src/httpd_log_table_function.cpp:676-730). On line parse error all
   * sub-columns are ""; on request-shape failure query_string is NULL.
   * Reads the pre-materialized `__req_toks`/`__req_fp`/`__req_qpos`. */
  private def requestColumns(f: LogField, err: Column): Seq[Column] = {
    val toks = col("__req_toks")
    val ok = size(toks) >= 3
    val fullPath = col("__req_fp")
    val qpos = col("__req_qpos")
    val out = Seq.newBuilder[Column]
    def guarded(c: Column): Column = when(err, lit("")).otherwise(when(ok, c).otherwise(lit("")))
    if (!f.skipMethod) out += guarded(element_at(toks, 1)).as("method")
    if (!f.skipPath)
      out += guarded(when(qpos > 0, fullPath.substr(lit(1), qpos - 1)).otherwise(fullPath)).as("path")
    if (!f.skipQuery)
      out += when(err, lit("")) // line-level parse error → "" (reference parity)
        .otherwise(when(ok && qpos > 0, fullPath.substr(qpos, length(fullPath))))
        .as("query_string")
    if (!f.skipProtocol) out += guarded(element_at(toks, 3)).as("protocol")
    out.result()
  }

  /** Combine a run of `%t` directives into one UTC timestamp: the last
   * successfully-parsed base (Apache/epoch) wins; strftime members combine
   * and apply only when no base parsed; fractional members add µs
   * (reference: src/httpd_log_table_function.cpp:208-330). */
  private def tsGroupColumn(fmt: LogFormat, members: Vector[Int]): Column = {
    val fields = members.map(fmt.fields)
    val caps = members.map(i => element_at(col("__groups"), fmt.captureGroupOf(i)))

    val baseExprs = Vector.newBuilder[Column]
    val fracExprs = Vector.newBuilder[Column]
    val strfVals = Vector.newBuilder[Column]
    val strfFmts = Vector.newBuilder[String]

    for ((f, v) <- fields.zip(caps)) f.tsKind match {
      case TsKind.Apache =>
        // the formatter runs only on lines the byte kernel leaves undecided
        baseExprs += coalesce(ApacheTimestamp(v),
          unix_micros(try_to_timestamp(v, lit("dd/MMM/yyyy:HH:mm:ss xx"))))
      case TsKind.EpochSec =>
        baseExprs += v.try_cast(LongType) * 1000000L
      case TsKind.EpochMsec =>
        baseExprs += v.try_cast(LongType) * 1000L
      case TsKind.EpochUsec =>
        baseExprs += v.try_cast(LongType)
      case TsKind.FracMsec =>
        fracExprs += v.try_cast(LongType) * 1000L
      case TsKind.FracUsec =>
        fracExprs += v.try_cast(LongType)
      case TsKind.Strftime(sf) =>
        strfVals += v
        strfFmts += sf
    }

    val strfBase: Option[Column] = {
      val vals = strfVals.result()
      if (vals.isEmpty) None
      else LogRegex.strftimeToJavaPattern(strfFmts.result().mkString(" ")).map { pat =>
        val combined = concat_ws(" ", vals: _*)
        unix_micros(try_to_timestamp(combined, lit(pat)))
      }
    }

    // last successful base wins → coalesce in reverse declaration order
    val bases = baseExprs.result().reverse ++ strfBase.toVector
    val fracs = fracExprs.result().reverse
    if (bases.isEmpty) lit(null).cast(TimestampType)
    else {
      val baseUs = if (bases.size == 1) bases.head else coalesce(bases: _*)
      val fracUs =
        if (fracs.isEmpty) lit(0L)
        else coalesce(fracs :+ lit(0L): _*)
      timestamp_micros(baseUs + fracUs)
    }
  }
}
