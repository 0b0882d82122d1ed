package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.OperatingSystemMXBean
import graft.logs.HttpdLog
import graft.sql.GraftSql
import graft.streaming.StateStoreConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/**
 * The benchmark's JVM side: builds the session, sets it up [[Setups]]
 * times, runs timed operations of one workload for a given number of
 * seconds and writes everything it measured, plus the outputs the checks
 * need, as one JSON record. Metrics and checks are computed from that
 * record by `perfbench/run.py`, which also generates the inputs.
 *
 * {{{
 * perfbench.Main --workload logscan --data <input dir> --work <work dir>
 *   --seconds 4 --trace 0 --cores 4 --out <record.json>
 * }}}
 *
 * With `--trace 1`, every second operation is traced: each layer's entry
 * point is called on its own, each call is a span, and an [[EngineCounters]]
 * listener sums task metrics per layer. The other operations run untraced,
 * so the record holds the tracing overhead as well.
 */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val counters = if (trace) Some(new EngineCounters) else None
    val workload: Workload = opt("workload") match {
      case "logscan" => new LogScan(opt("data"))
      case "dedup" => new DedupDocs(opt("data"))
      case "stream" => new StreamLogs(opt("data"), work.getPath, counters)
    }
    val streaming = opt("workload") == "stream"

    // set-up: session, GraftSql.register, StateStoreConf, format resolve and
    // one untimed warm-up operation; the first one counts from JVM start
    val setupS = mutable.ArrayBuffer.empty[Double]
    val resolveMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 0 until Setups) {
      if (spark != null) {
        workload.end(spark)
        spark.stop()
      }
      val t0 = if (r == 0) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble else Clock.nowMs
      spark = session(cores, work)
      GraftSql.register(spark)
      val f0 = Clock.nowMs
      val (fmt, _) = HttpdLog.resolveFormat(spark, "", "combined", "", "", raw = false)
      java.util.regex.Pattern.compile(fmt.lineRegex)
      resolveMs += Clock.nowMs - f0
      workload.begin(spark, r)
      workload.op(spark, None)
      setupS += (Clock.nowMs - t0) / 1e3
    }

    for (_ <- 0 until workload.warmOps) workload.op(spark, None)
    if (trace) {
      // the traced path runs plans the warm-up did not; warm them too
      val warm = new Tracer(spark.sparkContext)
      warm.span(0, "warm-up", "bench", -1, tagJobs = false)(id =>
        workload.op(spark, Some(TraceCtx(warm, id, -1))))
      counters.foreach(spark.sparkContext.addSparkListener)
    }
    val probes = hostProbes(spark)
    val tracer = new Tracer(spark.sparkContext)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = Clock.nowMs
    var i = 0
    while (workload.hasNext && (i < workload.minOps || Clock.nowMs - loop0 < seconds * 1e3)) {
      val traced = trace && i % 2 == 1
      val c0 = cpuS
      val t0 = Clock.nowMs
      val out =
        try {
          if (!traced) workload.op(spark, None)
          else tracer.span(0, "operation", "bench", i, tagJobs = false)(id =>
            workload.op(spark, Some(TraceCtx(tracer, id, i))))
        } catch { case e: Exception => Map("error" -> e.toString) }
      val t1 = Clock.nowMs
      ops += Map("iter" -> i, "traced" -> traced, "start_ms" -> t0, "wall_s" -> (t1 - t0) / 1e3,
        "cpu_s" -> (cpuS - c0), "out" -> out)
      // batch operations each start from a collected heap; the stream is
      // one long-lived query and is not paused
      if (!streaming) System.gc()
      i += 1
    }
    // what the run keeps live: the heap a full collection leaves behind
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val end = workload.end(spark)
    spark.stop() // drains the listener bus, so the counters are complete

    val record = Map(
      "setup_s" -> setupS.toSeq,
      "format_resolve_ms" -> resolveMs.toSeq,
      "probes" -> probes,
      "ops" -> ops.toSeq,
      "end" -> end,
      "live_heap_mb" -> liveHeapMb,
      "spans" -> tracer.spans.toSeq,
      "counters" -> counters.map(_.byLayer.map { case (l, v) =>
        l -> EngineCounters.Names.zip(v).toMap
      }.toMap).getOrElse(Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("out")), record)
  }

  def session(cores: Int, work: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = StateStoreConf.applyTo(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def cpuS: Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Host reference probes: a fixed CPU-bound job on a fixed 4 partitions
   * (the same work whatever the core count) and the job-launch floor. */
  private def hostProbes(spark: SparkSession): Map[String, Double] = {
    def cpuJob(): Double = {
      val t0 = Clock.nowMs
      spark.range(0, 3000000L, 1, 4)
        .select(sum(xxhash64(xxhash64(col("id")), col("id") * 7)).as("h")).collect()
      (Clock.nowMs - t0) / 1e3
    }
    def emptyJob(): Double = {
      val t0 = Clock.nowMs
      spark.sparkContext.parallelize(Seq(1), 1).count()
      Clock.nowMs - t0
    }
    cpuJob(); emptyJob()
    Map("cpu_probe_s" -> median(Seq.fill(3)(cpuJob())), "empty_job_ms" -> median(Seq.fill(9)(emptyJob())))
  }
}
