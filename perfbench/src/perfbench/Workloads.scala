package perfbench

import graft.functions.{MinHashSig, TextFunctions}
import graft.logs.{HttpdLog, LogFormat}
import graft.operators.Dedup
import graft.streaming.{LogStream, SessionEvent}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Where a traced operation hangs its layer spans: the tracer and the id
 * of the operation's root span. */
final case class TraceCtx(tracer: Tracer, root: Int, iter: Int) {
  def apply[T](name: String, layer: String)(body: => T): T =
    tracer.span(root, name, layer, iter)(_ => body)
}

/** One workload: the operation the benchmark times, plus the output it
 * reports for the checks. An operation traced with a [[TraceCtx]] calls
 * each layer's public entry point on its own, each ending in its own
 * action, so each layer gets a span; untraced, it runs the user's path. */
trait Workload {
  /** Untimed operations after the set-ups: a fresh JVM is still compiling
   * the hot paths, and a fixed count warms every run the same way. */
  def warmOps: Int
  /** Timed operations a run makes at least, whatever `--seconds` says. */
  def minOps: Int
  def hasNext: Boolean = true
  /** Per-session set-up, after the session exists and before the warm-up. */
  def begin(spark: SparkSession, setup: Int): Unit = ()
  def op(spark: SparkSession, trace: Option[TraceCtx]): Map[String, Any]
  /** Run-level output of the current session; also ends what [[begin]] started. */
  def end(spark: SparkSession): Map[String, Any] = Map.empty
}

/** `logscan`: a wide pass (every typed column to a noop sink) and a narrow
 * SQL pass (status x hour plus path counts) over the same log files. */
final class LogScan(dir: String) extends Workload {
  private val glob = s"$dir/*.log"
  private val observed = new LinkedBlockingQueue[Row]()
  private val NarrowSql =
    s"""SELECT status, hr, path, grouping(path) AS by_status, count(*) AS n
       |FROM (SELECT status, hour(timestamp) AS hr, path
       |      FROM read_httpd_log('$glob', format_type => 'combined'))
       |GROUP BY GROUPING SETS ((status, hr), (path))""".stripMargin

  def warmOps: Int = 3
  def minOps: Int = 3

  override def begin(spark: SparkSession, setup: Int): Unit =
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get("logscan").foreach(observed.put)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  private def widePass(spark: SparkSession): DataFrame = {
    val wide = HttpdLog.read(spark, glob, formatType = "combined", observeAs = "logscan")
    wide.write.format("noop").mode("overwrite").save()
    wide
  }

  def op(spark: SparkSession, trace: Option[TraceCtx]): Map[String, Any] = {
    observed.clear()
    val (wide, rows) = trace match {
      case None => (widePass(spark), spark.sql(NarrowSql).collect())
      case Some(t) =>
        val w = t("HttpdLog.read", "logs")(widePass(spark))
        val narrow = t("read_httpd_log.plan", "sql") {
          val df = spark.sql(NarrowSql); df.queryExecution.executedPlan; df
        }
        (w, t("read_httpd_log", "sql")(narrow.collect()))
    }
    val stats = Option(observed.poll(30, TimeUnit.SECONDS))
    val (byStatus, byPath) = rows.partition(_.getAs[Byte]("by_status") == 1)
    Map(
      "total_rows" -> stats.map(_.getLong(0)).getOrElse(-1L),
      "parse_errors" -> stats.map(_.getLong(1)).getOrElse(-1L),
      "schema" -> wide.schema.fields.map(f => Seq(f.name, f.dataType.simpleString)).toSeq,
      "status_hour_counts" -> byStatus.map(r => s"${r.get(0)}|${r.get(1)}" -> r.getLong(4)).toMap,
      "path_counts" -> byPath.map(r => String.valueOf(r.get(2)) -> r.getLong(4)).toMap)
  }
}

/** `dedup`: near-duplicate removal over a parquet corpus. */
final class DedupDocs(dir: String) extends Workload {
  def warmOps: Int = 2
  def minOps: Int = 3

  private def drop(spark: SparkSession): DataFrame =
    Dedup.dropNearDuplicates(spark.read.parquet(dir), "id", "text").select("id")

  def op(spark: SparkSession, trace: Option[TraceCtx]): Map[String, Any] = trace match {
    case None => Map("survivors" -> drop(spark).collect().map(_.getLong(0)).sorted.toSeq)
    case Some(t) =>
      val docs = spark.read.parquet(dir)
      t("MinHashSig", "functions") {
        docs.select(col("id"), MinHashSig(TextFunctions.tokens(col("text")), 3, 128))
          .write.format("noop").mode("overwrite").save()
      }
      var cands: DataFrame = null
      try {
        val candidates = t("Dedup.minhashCandidates", "operators") {
          // the parameters dropNearDuplicates passes by default
          cands = Dedup.minhashCandidates(docs, "id", "text", maxBucketSize = 10000).persist()
          cands.count()
        }
        val verified = t("Dedup.verifyJaccard", "operators") {
          Dedup.verifyJaccard(cands, docs, "id", "text", 0.8).count()
        }
        // cached candidates would stand in for part of the drop's plan
        cands.unpersist(blocking = true)
        cands = null
        val (ids, plan) = t("Dedup.dropNearDuplicates", "operators") {
          val out = drop(spark)
          (out.collect(), out.queryExecution.executedPlan)
        }
        Map(
          "survivors" -> ids.map(_.getLong(0)).sorted.toSeq,
          "candidate_pairs" -> candidates,
          "verified_pairs" -> verified,
          "plan_scans" -> PlanCounts.scans(plan),
          "sig_evals" -> PlanCounts.expressionCount(plan, classOf[MinHashSig].getName))
      } finally if (cands != null) cands.unpersist(blocking = true)
  }
}

/** `stream`: a closed loop with one writer. Each operation renames one
 * generated log file into the watched directory and waits until the
 * sessionizing query has committed it. */
final class StreamLogs(dir: String, work: String, counters: Option[EngineCounters])
    extends Workload {
  private val files = new File(dir).listFiles().filter(_.getName.endsWith(".log")).sortBy(_.getName)
  private var next = 0
  private var query: StreamingQuery = _
  private var name = ""
  private var watch: File = _
  private val fed = mutable.ArrayBuffer.empty[String]

  def warmOps: Int = 6
  def minOps: Int = 20
  override def hasNext: Boolean = next < files.length

  override def begin(spark: SparkSession, setup: Int): Unit = {
    import spark.implicits._
    watch = new File(work, s"stream-$setup/in")
    watch.mkdirs()
    name = s"sessions_$setup"
    fed.clear()
    val events = LogStream.read(spark, watch.getPath, LogFormat.Combined)
      .select(col("client_host").as("clientHost"), col("timestamp").as("ts"))
      .as[SessionEvent]
    // one file spans 60 s of event time, so a 2-minute watermark never
    // drops a line, and a 5-minute gap closes the sessions of rare hosts
    query = LogStream.sessionize(events, gapSeconds = 300, watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", new File(work, s"stream-$setup/checkpoint").getPath)
      .start()
    counters.foreach(_.streamRunId = query.runId.toString)
  }

  def op(spark: SparkSession, trace: Option[TraceCtx]): Map[String, Any] = {
    val f = files(next)
    next += 1
    trace.foreach { t =>
      t("HttpdLog.read", "logs") {
        HttpdLog.read(spark, f.getPath, formatType = "combined")
          .write.format("noop").mode("overwrite").save()
      }
    }
    counters.foreach(_.streamLayer = if (trace.isDefined) "streaming" else "")
    val t0 = Clock.nowMs
    Files.move(f.toPath, new File(watch, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    val t1 = Clock.nowMs
    trace.foreach(t => t.tracer.record(t.root, "file", "streaming", t.iter, t0, t1))
    fed += f.getName
    Map("file" -> f.getName, "rename_ms" -> t0, "done_ms" -> t1)
  }

  override def end(spark: SparkSession): Map[String, Any] = {
    counters.foreach(_.streamLayer = "")
    val progress = query.recentProgress.toSeq.map { p =>
      val state = p.stateOperators.headOption
      Map(
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
        "state_memory_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L))
    }
    query.stop()
    // a session's last update carries its full count, so summing each
    // session's largest count counts every line once
    val sessions = spark.table(name).groupBy("clientHost", "sessionStart")
      .agg(max("events").as("n"))
      .agg(coalesce(sum("n"), lit(0L)), count(lit(1)))
      .first()
    Map("files" -> fed.toSeq, "session_events" -> sessions.getLong(0),
      "sessions" -> sessions.getLong(1), "progress" -> progress)
  }
}
