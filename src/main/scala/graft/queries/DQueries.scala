package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.operators.Scoped
import graft.streaming.{AnnStream, AttrEvent, BudgetDoc, CorpusDoc, CusumEvent, FunnelEvent, KAnonEvent, LogStream, MediaDoc, QueryVec, QuotaEvent, SessionEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

/**
 * D-tier: Structured Streaming topologies executed to completion inside
 * the query builder (Trigger.AvailableNow / chunk-fed MemoryStream +
 * processAllAvailable), with the final result returned as a batch
 * DataFrame — so the SAME DuckDB oracle harness that checks the batch
 * tier hash-checks streaming semantics: event-time windows, bounded-
 * state dedup, and flatMapGroupsWithState timeout sessionization.
 *
 * Determinism notes (what makes a streaming result oracle-checkable):
 *  - q_d1: complete-mode windowed aggregation — final table is the full
 *    aggregate regardless of how AvailableNow batched the input files.
 *  - q_d3: dropDuplicatesWithinWatermark emits exactly one row per
 *    distinct key; projecting only the key makes the SET deterministic
 *    even though which duplicate "wins" is a race.
 *  - q_d2: batches are fed in event-time order as fixed 10-day chunks,
 *    so the watermark sequence — and therefore every timeout decision —
 *    is a pure function of the data; the oracle SQL replays the exact
 *    engine rules (data beats timeout; a timeout in batch k+1 compares
 *    against the watermark as of the end of batch k, at millisecond
 *    precision).
 *
 * The memory sink + driver-fed MemoryStream are the verification
 * harness; the production path is the same topology over
 * `readStream.text/parquet` (or Kafka) into [[graft.sources.PartitionedSink]].
 *
 * Every query runs its stream through ONE driver: [[drive]] starts a
 * writer inside a [[graft.operators.Scoped.withConf]] scope (the
 * [[Narrow]] / [[NoDataOff]] conf sets), runs its [[Feed]] — [[drained]]
 * for AvailableNow, [[chunked]] / [[fed]] for MemoryStream input — and
 * always stops the query; [[toMemory]] is the memory-sink form that
 * returns the sink's table.
 */
object DQueries {

  private val nameSeq = new AtomicInteger(0)
  private def mkName(prefix: String): String =
    s"graft_${prefix}_${nameSeq.incrementAndGet()}"

  /** How a started stream is driven until its result is complete: the
   * trigger it starts with (None = the default micro-batch trigger)
   * and what the driver does with the running query. */
  private[queries] final class Feed(
      val trigger: Option[Trigger], val run: StreamingQuery => Unit)

  /** AvailableNow: drain every input present at start; the query then
   * ends itself. */
  private[queries] val drained = new Feed(Some(Trigger.AvailableNow()), _.awaitTermination())

  /** Driver-fed input under the default trigger: `push` adds data and
   * waits for it to be processed. */
  private[queries] def fed(push: StreamingQuery => Unit): Feed = new Feed(None, push)

  /** The MemoryStream feed: each chunk, in order, is one addData and
   * one fully processed micro-batch. */
  private[queries] def chunked[T](mem: MemoryStream[T], chunks: Iterable[Array[T]]): Feed =
    fed(q => chunks.foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() })

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Small-state streams run narrow: the state store's partition count
   * is the shuffle-partition count when the stream starts, and its
   * cost is per partition per micro-batch (files + commits). */
  private[queries] val Narrow = Seq(ShufflePartitions -> "4")

  /** Streams whose output comes only from data batches (no timeout or
   * window emit to fire) skip no-data micro-batches, which would only
   * evict or commit state. */
  private[queries] val NoDataOff =
    Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** The D-tier stream driver: start `writer` with `conf` set, drive it
   * with `feed`, always stop it; the session conf is restored after. */
  private[queries] def drive[T](s: SparkSession, writer: DataStreamWriter[T], feed: Feed,
      conf: Seq[(String, String)] = Nil): Unit =
    Scoped.withConf(s, conf: _*) {
      val q = feed.trigger.fold(writer)(writer.trigger).start()
      try feed.run(q) finally q.stop()
    }

  /** [[drive]] `ds` into a fresh memory sink in output `mode`; returns
   * the sink's table. */
  private[queries] def toMemory[T](s: SparkSession, prefix: String, ds: Dataset[T],
      mode: String, feed: Feed, conf: Seq[(String, String)] = Nil): DataFrame = {
    val qn = mkName(prefix)
    drive(s, ds.writeStream.format("memory").queryName(qn).outputMode(mode), feed, conf)
    s.table(qn)
  }

  /** q_d18's NEW-docs frame, shared with its dynamic oracle so the two
   * sides can never drift: exact copies of every 7th base doc
   * (+200000) and novel marker docs (+300000; the marker text is
   * derived from the ORIGINAL id in a withColumn BEFORE the id-renaming
   * select — the r10 alias-binding rule, applied defensively). */
  private def d18NewDocs(base: DataFrame): DataFrame = {
    val copies = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    val novel = base.filter(col("doc_id") % 7 === 3)
      .withColumn("text2",
        concat(col("text"), lit(" novel marker "), col("doc_id").cast(StringType)))
      .select((col("doc_id") + 300000L).as("doc_id"), col("text2").as("text"))
    copies.union(novel)
  }

  /** q_d31/q_d32's streamed docs (ids corpus+10M): 1-in-3 exact corpus
   * copies, 1-in-3 shared text + fresh tails, 1-in-3 wholly fresh —
   * the same CASE both oracles' `su` CTE spells. */
  private def plantedCandidates(d: DataFrame): DataFrame = {
    val idsS = col("doc_id").cast(StringType)
    d.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .when(col("doc_id") % 3 === 1, concat(col("text"),
          lit(" zzfresh"), idsS, lit(" qqtail"), idsS))
        .otherwise(concat(lit("wholly fresh streamed document ufresh"),
          idsS, lit(" vfresh"), idsS, lit(" wfresh"), idsS,
          lit(" xfresh"), idsS))
        .as("text"))
  }

  // q_d1 synthesized fields; status formula + SQL mirror shared with the
  // A-tier (LogQueries) so the distributions can't drift apart
  private def host = concat(lit("10.0."), (col("user_id") % 200).cast(StringType),
    lit("."), (col("event_id") % 250).cast(StringType))
  private def statusCol = LogQueries.statusCol
  private def statusSql = LogQueries.statusCaseSql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // D1: files-on-disk → readStream.text → LogFormat parse →
    // watermarked tumbling window, run to completion with AvailableNow.
    "q_d1_stream_ingest" -> ((s, dir) => {
      val lines = Tables.events(s, dir).select(
        concat(host, lit(" ["),
          date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000] "),
          statusCol.cast(StringType)).as("value"))
      // deterministic per-input path: repeated bench/verify invocations
      // reuse the already-written copy (the input parquet never changes
      // within a round), instead of accumulating or rewriting
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d1_" + math.abs(dir.hashCode)).toString
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, "_SUCCESS")))
        lines.coalesce(4).write.mode("overwrite").text(tmp)
      val parsed = LogStream.read(s, tmp, "%h %t %>s")
      val agg = LogStream.windowedStatusCounts(parsed,
        watermark = "1 hour", windowLen = "1 hour")
      // windowed-agg state is tiny (720 windows × statuses): run the
      // state store narrow, q_d2-style
      toMemory(s, "d1", agg, "complete", drained, Narrow)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:00").as("hour"),
          col("status"), col("hits"))
        .orderBy("hour", "status")
    }),

    // D11: streaming error-log ingest — the A11 ErrorLogFormat parser
    // under readStream: files on disk → stateless regex/typed-column map
    // → watermarked hourly windows per loglevel on the parsed µs ts,
    // run to completion with AvailableNow (complete mode makes the final
    // table batch-deterministic).
    "q_d11_stream_errorlog" -> ((s, dir) => {
      val lines = Tables.events(s, dir).select(LogQueries.errorLine.as("value"))
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d11_" + math.abs(dir.hashCode)).toString
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, "_SUCCESS")))
        lines.coalesce(4).write.mode("overwrite").text(tmp)
      val parsed = LogStream.readError(s, tmp, LogQueries.ErrorLogFmt)
      val agg = parsed
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("loglevel"))
        .agg(count(lit(1)).as("cnt"), sum("pid").as("sum_pid"))
      toMemory(s, "d11", agg, "complete", drained, Narrow)
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
          col("loglevel"), col("cnt"), col("sum_pid"))
        .orderBy("hour", "loglevel")
    }),

    // D2: stateful gap sessionization via flatMapGroupsWithState with
    // event-time timeouts. Events are fed in 10-day event-time chunks;
    // two far-future sentinel batches advance the watermark so every
    // real session deterministically times out (sentinel rows are
    // filtered from the result).
    "q_d2_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.events(s, dir)
        .select(col("user_id").cast(StringType).as("clientHost"), col("ts"))
        .as[SessionEvent]
      val rows = ev.collect() // MemoryStream is driver-fed by definition
      val byChunk = rows.groupBy(r =>
        Math.floorDiv(Math.floorDiv(r.ts.getTime, 86400000L), 10L))
      val mem = MemoryStream[SessionEvent]
      val updates = LogStream.sessionize(mem.toDS(),
        gapSeconds = 1800, watermarkDelay = "0 seconds")
      val maxMs = rows.iterator.map(_.ts.getTime).max
      // sentinel 1 pushes the watermark past every session's timeout;
      // sentinel 2's batch then fires those timeouts (data beats
      // timeout, so a batch with only sentinel data closes the rest)
      val sentinels = Seq(10L, 20L).map(days =>
        Array(SessionEvent("__sentinel", new Timestamp(maxMs + days * 86400000L))))
      // state-store partition count = shuffle partitions when the stream
      // starts; per-micro-batch overhead (one state + delta file per
      // partition per batch) dwarfs the actual data here, so run the
      // stream narrow
      toMemory(s, "d2", updates, "append",
        chunked(mem, byChunk.keys.toSeq.sorted.map(byChunk) ++ sentinels), Narrow)
        .filter(col("closed") && col("clientHost") =!= "__sentinel")
        .select(col("clientHost").as("client"),
          date_format(col("sessionStart"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("events"))
        .orderBy("client", "session_start")
    }),

    // D3: streaming exact dedup over a parquet file stream — bounded
    // state via dropDuplicatesWithinWatermark; the kept-key set is the
    // distinct fingerprint set.
    // D4: streaming corpus annotation — the pipeline's map-only
    // annotate stage (language ID + token counting + LEARNED-merge BPE)
    // under micro-batch execution. Stateless append: the post-sink
    // aggregate is batch-identical by construction, so the batch-tier
    // oracle checks that the C-tier functions — including the codegen'd
    // BpeTokenCount carrying a driver-trained codec into executor
    // codegen — behave the same inside a stream. The bpe_learned column
    // is pinned by the dynamic oracle ([[dynamicOracleSql]]); its
    // (source, predicted) keys must agree with the SQL CASE langId or
    // the oracle's inner join drops rows and the check fails.
    "q_d4_stream_annotate" -> ((s, dir) => {
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      val codec = graft.functions.Bpe.learnFromCorpus(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        numMerges = 100, sampleDocs = 500)
      val stream = s.readStream.schema(sch).parquet(s"$dir/documents.*")
        .withColumn("__padded", concat(lit(" "), lower(col("text")), lit(" ")))
        .select(
          col("source"),
          TF.langIdPadded(col("text"), col("__padded")).as("predicted"),
          TF.tokenCount(col("text")).cast(LongType).as("toks"),
          graft.functions.Bpe.tokenCount(col("text"), codec).cast(LongType).as("bpe_toks"))
      toMemory(s, "d4", stream, "append", drained)
        .groupBy("source", "predicted")
        .agg(count(lit(1)).as("docs"), sum(col("toks")).as("tokens"),
          sum(col("bpe_toks")).as("bpe_learned"))
        .orderBy("source", "predicted")
    }),

    // D13: per-window Count-Min sketches under micro-batch execution —
    // the C58 mergeable grid as STREAMING state: one depth×width long
    // array per event-time window in the aggregation state store
    // (serialized through CountMinAgg.serialize between batches),
    // regardless of how many distinct tokens the window saw. Complete
    // mode: the final table is the full aggregate, batch-equivalent by
    // construction, so the oracle replays windows + grid + probe
    // estimates as batch SQL.
    "q_d13_stream_cms" -> ((s, dir) => {
      import graft.functions.CountMin
      val depth = 4; val width = 512
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(sch).parquet(s"$dir/documents.*")
        .withColumn("ts",
          timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L))
      val tok = stream.select(col("ts"), explode(TF.tokens(col("text"))).as("w"))
      val agg = tok
        .groupBy(window(col("ts"), "10 minutes").as("win"))
        .agg(
          CountMin.sketchAgg(CountMin.buckets(col("w"), depth, width), depth, width)
            .as("sk"),
          count(lit(1)).as("n_tokens"))
      toMemory(s, "d13", agg, "complete", drained, Narrow).select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n_tokens"),
        CountMin.estimateCol(col("sk"), lit("scan"), depth, width).as("est_scan"),
        CountMin.estimateCol(col("sk"), lit("table"), depth, width).as("est_table"),
        CountMin.estimateCol(col("sk"), lit("key"), depth, width).as("est_key"))
        .orderBy("w_start")
    }),

    // D14: streaming corpus-drift monitor — per-event-time-window token
    // histogram over 16 hashed buckets (ONE streaming aggregation;
    // state = 16 longs per window no matter the token volume) compared
    // against the static whole-corpus reference distribution. Complete
    // mode: the final table is the full aggregate; the finalize step
    // (per-window total-variation ppm vs the 16-row reference,
    // including ref-only mass for buckets a window never saw) is batch
    // arithmetic over that table, so the oracle replays everything.
    "q_d14_stream_drift" -> ((s, dir) => {
      val B = 16
      def bucket = TF.md5Bucket(col("w"), B).as("b")
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      // 97 s between docs → ~6 docs per 10-minute window: enough
      // windows for real per-window drift (1 s spacing puts the whole
      // 500-doc table in ONE window and every tv_ppm degenerates to 0)
      val stream = s.readStream.schema(sch).parquet(s"$dir/documents.*")
        .withColumn("ts",
          timestamp_micros(lit(1704067200000000L) + col("doc_id") * 97000000L))
      val agg = stream.select(col("ts"), explode(TF.tokens(col("text"))).as("w"))
        .select(col("ts"), bucket)
        .groupBy(window(col("ts"), "10 minutes").as("win"), col("b"))
        .agg(count(lit(1)).as("c"))
      val counts = toMemory(s, "d14", agg, "complete", drained, Narrow)
      // Finalize without self-joining the memory-sink view (conflicting
      // references under plan dedup): per-window totals via a window
      // function, and the 16-row reference distribution collected to
      // ppm literals (bounded driver state — the whole point of the
      // fixed bucket count). Every window bucket also carries ref mass
      // (windows are corpus slices), so
      //   TV = Σ_observed(|ĉ − r̂_b| − r̂_b) + Σ_all r̂_b.
      val refRows = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(TF.tokens(col("text"))).as("w")).select(bucket)
        .groupBy("b").agg(count(lit(1)).as("r")).collect()
      val nr = refRows.map(_.getLong(1)).sum
      val rppm = Array.fill[Long](B)(0L)
      refRows.foreach(r => rppm(r.getLong(0).toInt) = r.getLong(1) * 1000000L / nr)
      val overWin = org.apache.spark.sql.expressions.Window.partitionBy("win")
      counts
        .withColumn("nw", sum("c").over(overWin))
        .withColumn("rppm", element_at(typedlit(rppm.toSeq), col("b").cast("int") + 1))
        .withColumn("term",
          abs(expr("c * 1000000 div nw") - col("rppm")) - col("rppm"))
        .groupBy("win").agg(max("nw").as("n_tokens"),
          (sum("term") + lit(rppm.sum)).as("tv_ppm"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n_tokens"), col("tv_ppm"))
        .orderBy("w_start")
    }),

    "q_d3_stream_dedup" -> ((s, dir) => {
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      // the file-stream source accepts directories or globs, not a bare
      // file path — the testdata table is a single file, so glob it
      val stream = s.readStream.schema(sch).parquet(s"$dir/documents.*")
        .withColumn("ts",
          timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L))
      val kept = LogStream.dedupStream(stream, "text", "ts", "30 days",
        keepFingerprintAs = "fp").select(col("fp"))
      // dedup state is one fingerprint per distinct doc: narrow state
      // store (q_d2 pattern)
      toMemory(s, "d3", kept, "append", drained, Narrow).agg(
        count(lit(1)).as("kept"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
    }),

    // D6: stream-static join — a streaming file source enriched against
    // a static dimension table inside the micro-batch plan (broadcast,
    // stateless: nothing survives between batches, so at 100 TB the
    // join costs exactly its batch equivalent per micro-batch).
    "q_d6_stream_static" -> ((s, dir) => {
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(sch).parquet(s"$dir/documents.*")
      val dim = Tables.t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val joined = stream
        .withColumn("nk", pmod(col("doc_id"), lit(25)).cast(IntegerType))
        .join(broadcast(dim), col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_chars"))
      toMemory(s, "d6", joined, "append", drained)
        .groupBy("n_name")
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy("n_name")
    }),

    // D7: foreachBatch into the date-partitioned parquet sink — the
    // production streaming write path. The source is staged as 4 files
    // and fed one file per micro-batch; each batch overwrites its own
    // batch_id directory (idempotent retry), and the final answer is
    // computed from the files READ BACK off the sink, so the oracle
    // checks the whole write→discover→prune→read loop.
    "q_d7_stream_sink" -> ((s, dir) => {
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d7_" + dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
      val src = s"$base/src"
      val out = s"$base/out"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
        s.read.parquet(s"$dir/documents.parquet").repartition(4).write
          .mode("overwrite").parquet(src)
      // stale batch dirs from older runs would pollute read-back
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val sch = s.read.parquet(src).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/part-*")
        .withColumn("ts",
          timestamp_seconds(lit(1704067200L) + pmod(col("doc_id"), lit(7)) * 86400L))
      drive(s, graft.sources.PartitionedSink.streamWriterByDate(stream, out, "ts"),
        drained)
      graft.sources.PartitionedSink.read(s, out)
        .groupBy(col("p_date").cast(StringType).as("day"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy("day")
    }),

    // D33: streaming versioned publication — foreachBatch composes the
    // D7 idempotent inbox (each batch overwrites its OWN batch_id dir)
    // with the C122/C123 commit point: every 2nd micro-batch publishes
    // the CUMULATIVE corpus as the next immutable version (claimed
    // slot, _MANIFEST, _PUBLISHED last). Four staged files at one file
    // per trigger → four batches → versions 1 and 2; the final
    // latest-version VERIFIED read must equal the batch publish of the
    // same data (per-source doc+token rollup, version pinned to 2).
    "q_d33_stream_publish" -> ((s, dir) => {
      val base0 = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d33_" + ProcessHandle.current().pid() + "_" +
          dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
      val src = s"$base0/src"
      val snap = s"$base0/snap"
      val ckpt = s"$base0/ckpt"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
        s.read.parquet(s"$dir/documents.parquet").repartition(4).write
          .mode("overwrite").parquet(src)
      // a rerun in the same JVM must re-ingest from scratch: stale
      // checkpoint offsets would see no new files and publish nothing
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(snap))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val sch = s.read.parquet(src).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/part-*")
        .select(col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast(LongType).as("tokens"))
      drive(s, graft.sources.Snapshots.publishStream(stream, snap, ckpt,
        everyBatches = 2, statsCols = Seq("source"), sumCols = Seq("tokens")),
        drained)
      graft.sources.Snapshots.read(s, snap, verify = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tokens"))
        .withColumn("version",
          lit(graft.sources.Snapshots.latestVersion(s, snap)))
        .orderBy("source")
    }),

    // D34: streaming WET export — the live Common-Crawl sibling: each
    // arriving page runs the full front door IN-STREAM (WARC framing →
    // charset decode → HtmlExtract, the stateless D28/D29 map class),
    // its WET conversion record lands as the batch's own .warc.gz
    // member (batch_id=N dirs — idempotent replay), and the final
    // answer re-reads ALL members through Warc.read, so the oracle
    // checks the stream→emit→re-read loop against q_c111's main_text
    // contract.
    "q_d34_stream_wet" -> ((s, dir) => {
      import graft.functions.{HtmlExtract, PayloadDecode, WarcRecords}
      val base0 = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d34_" + ProcessHandle.current().pid() + "_" +
          dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
      val src = s"$base0/src"
      val out = s"$base0/wet"
      val ckpt = s"$base0/ckpt"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
        s.read.parquet(s"$dir/documents.parquet").repartition(4).write
          .mode("overwrite").parquet(src)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val sch = s.read.parquet(src).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/part-*")
      // one staged file per micro-batch = ONE input split at tier
      // scale, and writeMembers writes one member per partition — an
      // unrepartitioned batch gzips 1.5M records in a single task
      // (x100 read 37.5 s; the r9 single-task class). Spread the
      // member write across the executors; member count per batch =
      // partitions, the shape a real exporter wants anyway.
      val wet = stream
        .repartition(s.sparkContext.defaultParallelism)
        .select(PipeQueries.syntheticWarc(col("doc_id"), col("text"))
          .cast(BinaryType).as("w"))
        .select(element_at(WarcRecords(col("w")), 2).as("r"))
        .select(graft.sources.Warc.wetRecord(col("r.target_uri"),
          col("r.record_id"), col("r.warc_date"),
          HtmlExtract(PayloadDecode(col("r.payload_bytes"),
            col("r.http_content_type"))).getField("main_text")).as("rec"))
      drive(s, graft.sources.Warc.streamMemberWriter(wet, "rec", out, "wet")
        .option("checkpointLocation", ckpt), drained)
      graft.sources.Warc.read(s, out)
        .filter(col("warc_type") === "conversion")
        .select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          col("content_type"), md5(col("payload")).as("main_md5"))
        .orderBy("doc_id")
    }),

    // D35: streaming DELTA publication — the O(new rows) upgrade of
    // q_d33's cumulative epochs: batch 0 publishes full (the chain's
    // base), batches 1-3 publish tagged deltas of JUST their rows, and
    // the scheduled compaction (every 4th batch) folds the chain into
    // v5 full — so the verified readAt is one parquet read and the
    // version pins to 5 analytically. Tags make every epoch
    // replay-idempotent (spec-pinned).
    "q_d35_stream_delta" -> ((s, dir) => {
      val base0 = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d35_" + ProcessHandle.current().pid() + "_" +
          dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
      val src = s"$base0/src"
      val snap = s"$base0/snap"
      val ckpt = s"$base0/ckpt"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
        s.read.parquet(s"$dir/documents.parquet").repartition(4).write
          .mode("overwrite").parquet(src)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(snap))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val sch = s.read.parquet(src).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/part-*")
        .select(col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast(LongType).as("tokens"))
      drive(s, graft.sources.Snapshots.publishStreamDelta(stream, snap, ckpt,
        compactEvery = 4, statsCols = Seq("source"), sumCols = Seq("tokens")),
        drained)
      graft.sources.Snapshots.readAt(s, snap, verify = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tokens"))
        .withColumn("version",
          lit(graft.sources.Snapshots.latestVersion(s, snap)))
        .orderBy("source")
    }),

    // D36: streaming deduplicating archive — the live C128: fetches
    // arrive in four ord-ascending chunks (originals, then the
    // doc_id%50 re-fetches at ord+1e6), flatMapGroupsWithState keyed
    // on (xxhash64(payload), length) hands each payload family's
    // FIRST arrival the full response record and every later fetch a
    // header-only revisit; each micro-batch's records land as that
    // batch's own .warc.gz members (the D34 idempotency rule) and the
    // whole tree reads back through Warc.read. Ord-ascending chunk
    // order makes stream ownership equal the batch operator's
    // min-ord ownership, so the oracle is q_c128's replay verbatim.
    "q_d36_stream_archive" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base0 = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_d36_" + ProcessHandle.current().pid() + "_" +
          dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
      val out = s"$base0/arc"
      val ckpt = s"$base0/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base0))
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val rows = d.select(col("doc_id").as("ord"), col("doc_id").as("did"),
          col("text"))
        .unionAll(d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("ord"),
            col("doc_id").as("did"), col("text")))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).orNull))
        .sortBy(_._1)
      val chunks = rows.grouped(math.max(1, rows.length / 4 + 1)).toSeq
      val mem = MemoryStream[(Long, Long, String)]
      val fetches = mem.toDF().toDF("ord", "did", "text")
        .select(
          concat(lit("http://example.com/doc/"),
            col("did").cast(StringType)).as("url"),
          // ord IS the q_c128 fetch id (originals = doc_id, re-fetches
          // = doc_id + 1e6), so the rid spelling matches the batch row
          concat(lit("<urn:uuid:f"),
            col("ord").cast(StringType), lit(">")).as("rid"),
          lit("2026-01-01T00:00:00Z").as("fdate"),
          lit(200).as("status"), lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("payload"), col("ord"))
      val recs = LogStream.archiveDedupStream(fetches, "url", "rid",
        "fdate", "status", "mime", "payload", "ord")
      // small-state stream: state-store cost is per partition per
      // micro-batch — single-digit partitions
      drive(s, graft.sources.Warc.streamMemberWriter(
          recs.select(col("rec")), "rec", out, "arc")
        .option("checkpointLocation", ckpt), chunked(mem, chunks), Narrow)
      val back = graft.sources.Warc.read(s, out)
        .select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          col("warc_type"),
          octet_length(col("payload_bytes")).cast(LongType).as("pb"))
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
      back.join(src, Seq("doc_id"))
        .groupBy("source")
        .agg(sum(when(col("warc_type") === "response", 1L).otherwise(0L))
            .as("n_responses"),
          sum(when(col("warc_type") === "revisit", 1L).otherwise(0L))
            .as("n_revisits"),
          sum(when(col("warc_type") === "response", col("pb"))
            .otherwise(0L)).as("archived_bytes"))
        .orderBy("source")
    }),

    // D5: watermarked stream-stream join — purchases attributed to
    // same-user clicks within the preceding hour. Both MemoryStreams are
    // fed the same event-time-ordered 15-day chunks in lockstep, so the
    // min-of-sources watermark only ever trails the data and nothing is
    // dropped late; inner-join append then emits each qualifying pair
    // exactly once and the final set equals the batch join (the oracle).
    "q_d5_stream_join" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .collect() // MemoryStream is driver-fed by definition
      // 15-day chunks → two micro-batches: enough to exercise cross-batch
      // state + watermark eviction while paying the per-batch state-store
      // commit cost (4 stores/partition/side) only twice
      val byChunk = ev.groupBy(r =>
        Math.floorDiv(Math.floorDiv(r.getTimestamp(2).getTime, 86400000L), 15L))
      def side(rows: Array[org.apache.spark.sql.Row], ty: String): Seq[AttrEvent] =
        rows.iterator.filter(_.getString(3) == ty)
          .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
      val clicks = MemoryStream[AttrEvent]
      val purchases = MemoryStream[AttrEvent]
      val joined = LogStream.attributionJoin(clicks.toDF(), purchases.toDF(), 3600L)
      val lockStep = fed(q => byChunk.keys.toSeq.sorted.foreach { ck =>
        clicks.addData(side(byChunk(ck), "click"))
        purchases.addData(side(byChunk(ck), "purchase"))
        q.processAllAvailable()
      })
      // inner-join append emits pairs on data batches; the no-data batches
      // only evict state (a timeout/window-emit concern, not a join one),
      // so skipping them halves the per-chunk state-store commits
      toMemory(s, "d5", joined, "append", lockStep,
        Seq(ShufflePartitions -> "2") ++ NoDataOff)
        .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
        .orderBy("purchase_id", "click_id")
    }),

    // D8: streaming per-key admission quota (first 20 events per user
    // bucket) — state is ONE counter per key. Fed in globally sorted
    // (ms-floored ts, id) chunks, so the admitted set is exactly the
    // batch per-key top-N the oracle ranks directly; no watermark or
    // timeout exists, so no-data micro-batches have nothing to do and
    // are skipped.
    "q_d8_stream_quota" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = Tables.events(s, dir)
        .select(
          concat(lit("u"), pmod(col("user_id"), lit(50L)).cast(StringType)).as("key"),
          col("event_id"), col("ts"))
        .collect() // MemoryStream is driver-fed by definition
        .map(r => QuotaEvent(r.getString(0), r.getLong(1), r.getTimestamp(2)))
        .sortBy(e => (e.ts.getTime, e.id))
      val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      val mem = MemoryStream[QuotaEvent]
      val admitted = LogStream.quotaStream(mem.toDS(), maxPerKey = 20)
      toMemory(s, "d8", admitted, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff)
        .select(col("key"), col("id").as("event_id"), col("quota_rank"))
        .orderBy("key", "quota_rank")
    }),

    // D12: streaming per-source TOKEN-budget admission (the metered D8,
    // ingest-shaping for a training mix): token counts computed inside
    // the micro-batch plan, one long of state per source. Fed in
    // globally doc_id-sorted chunks, so the admitted set equals the
    // batch per-source greedy cumulative-sum cut the oracle replays; no
    // watermark/timeout exists, so no-data micro-batches are skipped.
    // D17: streaming semantic decontamination — the C76 filter on the
    // ingest path: benchmark vectors are driver state compiled into
    // codegen dots, the stream is filtered STATELESSLY per micro-batch
    // (no join, no state store) — an eval-leak firewall that costs
    // exactly its batch map at any ingest rate.
    "q_d17_stream_decontam" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/embeddings.parquet")
      val bench = base.filter(col("vec_id") < 40)
        .select(graft.functions.VectorFunctions.quantize(col("embedding")).as("qv"))
        .collect().map(_.getSeq[Long](0).toArray)
      val stream = s.readStream.schema(base.schema).parquet(s"$dir/embeddings.*")
        .select(col("vec_id"), col("label"),
          graft.functions.VectorFunctions.quantize(col("embedding")).as("qv"))
      val kept = graft.operators.Similarity
        .semanticDecontaminate(stream, bench, "qv", tau = 0.98)
        .select("vec_id", "label")
      toMemory(s, "d17", kept, "append", drained).groupBy("label")
        .agg(count(lit(1)).as("survivors"), sum("vec_id").as("sum_ids"))
        .orderBy("label")
    }),

    // D16: streaming quality-filter scoring — batch-train the C66
    // integer perceptron, then score the document STREAM with the
    // driver-held weights: stateless map (no state store, no
    // watermark), margins bit-equal to the batch trainer's, so the
    // oracle is the shared unrolled training chain's final margins.
    "q_d16_stream_score" -> ((s, dir) => {
      val batch = s.read.parquet(s"$dir/documents.parquet")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
      val (w, b) = graft.operators.Training.fitWeights(
        batch, "doc_id", "text", "y", features = 32, rounds = 3)
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(sch).parquet(s"$dir/documents.*")
      val scored = LogStream.scoreStream(stream, "doc_id", "text", w, b)
      toMemory(s, "d16", scored, "append", drained)
        .select("doc_id", "margin", "admit").orderBy("doc_id")
    }),

    // D15: streaming per-source bottom-k content sample — the
    // reservoir-equivalent with EXACTLY k (hash, id) longs of state
    // per source, eviction on every better arrival. Feed order only
    // shapes the admitted SUPERSET; the final bottom-k of the admitted
    // rows is order-independent and equals the one-window batch sample
    // the oracle computes directly.
    "q_d15_stream_sample" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"), col("text"))
        .collect() // MemoryStream is driver-fed by definition
        .map(r => graft.streaming.SampleDoc(r.getString(0), r.getLong(1), r.getString(2)))
        .sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      val mem = MemoryStream[graft.streaming.SampleDoc]
      val admitted = LogStream.sampleStream(mem.toDS(), k = 32)
      val sample = toMemory(s, "d15", admitted, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("h"), col("doc_id"))
      sample
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 32)
        .select("source", "rank", "doc_id", "h")
        .orderBy("source", "rank")
    }),

    "q_d12_stream_budget" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"), col("text"))
        .collect() // MemoryStream is driver-fed by definition
        .map(r => BudgetDoc(r.getString(0), r.getLong(1), r.getString(2)))
        .sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      val mem = MemoryStream[BudgetDoc]
      val admitted = LogStream.budgetStream(mem.toDS(), budgetTokens = 2000L)
      toMemory(s, "d12", admitted, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff)
        .select(col("source"), col("doc_id"), col("ntok"), col("cum_tokens"))
        .orderBy("source", "doc_id")
    }),

    // D9: streaming NEAR-dup detection — SimHash LSH bands through
    // keyed state (one long per distinct band bucket), fed in id-sorted
    // chunks so cross-batch "earlier" is deterministic. Planted exact
    // copies (doc_id+100000, every 7th doc) must drop against their
    // originals; random 16-bit band collisions drop too — the oracle
    // ([[dynamicOracleSql]]) replays the WHOLE decision in SQL over
    // signatures pinned from the independent HOF simhash formulation.
    "q_d9_stream_neardup" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val planted = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val rows = base.union(planted).collect()
        .map(r => CorpusDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 4 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.nearDupStream(mem.toDF(), "doc_id", "text")
      toMemory(s, "d9", verdicts, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff)
        .groupBy("doc_id")
        .agg(min("owner").as("owner"))
        .select(col("doc_id"),
          (col("owner") < col("doc_id")).cast(IntegerType).as("dropped"),
          col("owner"))
        .orderBy("doc_id")
    }),

    // D21: streaming perceptual image near-dedup — synthetic edge PNGs
    // (the C86 closed-form layout) decode IN-STREAM to dHash band
    // buckets through the D9 min-owner state machine; sorted chunks
    // make every owner a pure function of the data, so the oracle is
    // STATIC: the analytic hash + an unbanded band replay.
    "q_d21_stream_image_dedup" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val imgs = graft.operators.Multimodal.withSyntheticEdgePng(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id"), "doc_id")
      val rows = imgs.collect()
        .map(r => MediaDoc(r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 4 + 1)).toSeq
      val mem = MemoryStream[MediaDoc]
      val verdicts = LogStream.imageNearDupStream(mem.toDF(), "doc_id", "img")
      toMemory(s, "d21", verdicts, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff)
        .groupBy("doc_id")
        .agg(min("owner").as("owner"))
        .select(col("doc_id"),
          (col("owner") < col("doc_id")).cast(IntegerType).as("dropped"),
          col("owner"))
        .orderBy("doc_id")
    }),

    // D18: WARM-START streaming near-dedup — the old corpus (the whole
    // documents table) seeds flatMapGroupsWithState via initialState as
    // per-bucket min owners; the stream carries ONLY new docs: exact
    // copies of every 7th old doc (+200000 — must resolve to the OLD
    // owner although the old corpus never enters the stream) and novel
    // marker docs (+300000). Dynamic oracle replays the whole decision
    // over pinned signatures with old∪new bucket-mate minima.
    "q_d18_stream_warm_dedup" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val rows = d18NewDocs(base).collect()
        .map(r => CorpusDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 4 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.nearDupStreamWarm(mem.toDF(), base, "doc_id", "text")
      toMemory(s, "d18", verdicts, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff)
        .groupBy("doc_id")
        .agg(min("owner").as("owner"))
        .select(col("doc_id"),
          (col("owner") < col("doc_id")).cast(IntegerType).as("dropped"),
          col("owner"))
        .orderBy("doc_id")
    }),

    // D19: streaming repetition firewall — the C79 gates as a
    // stateless per-micro-batch map (no state store, no watermark);
    // every 9th doc carries the planted repeated phrase and must be
    // REJECTED by the dup-5-gram gate; verdicts stream out with their
    // evidence ppms and hash-match the batch SQL replication.
    "q_d19_stream_repetition" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text2",
          when(col("doc_id") % 9 === 0,
            concat(col("text"), repeat(lit(" lorem ipsum dolor"), 8)))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text2").as("text")).collect()
        .map(r => CorpusDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.repetitionGateStream(mem.toDF(), "doc_id", "text")
      toMemory(s, "d19", verdicts, "append", chunked(mem, chunks)).orderBy("doc_id")
    }),

    // D26: streaming encoding firewall — the C103 gate at the ingest
    // edge (same plants: mojibake on the 1-in-7 slice, U+FFFD
    // tombstones on a disjoint slice); stateless per-micro-batch
    // verdicts with repair evidence, hash-checked by the batch replay.
    "q_d26_stream_encoding" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import graft.functions.EncodingQa
      // plant on ASCII-sanitized base text for the mojibake slice —
      // same guard and rationale as q_c103 (r13 advisor finding)
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text2",
          when(col("doc_id") % 7 === 0,
            concat(regexp_replace(col("text"), "[^ -~]", ""),
              lit(EncodingQa.MojiSample)))
            .when(col("doc_id") % 7 === 3, concat(col("text"), lit("��")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text2").as("text")).collect()
        .map(r => CorpusDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.encodingGateStream(mem.toDF(), "doc_id", "text")
      toMemory(s, "d26", verdicts, "append", chunked(mem, chunks)).orderBy("doc_id")
    }),

    // D27: streaming ingest of a hive-partitioned log tree (the A14
    // twin): basePath + glob drives partition discovery in the
    // file-stream source, the shard column surfaces through the parse,
    // a partition filter drops shard s3, and the per-shard rollup
    // hash-matches the q_log_hive_partitions oracle.
    "q_d27_stream_hive" -> ((s, dir) => {
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_hived_" + math.abs(dir.hashCode)).toString
      if (!Files.exists(java.nio.file.Paths.get(tmp, "_SUCCESS"))) {
        Tables.events(s, dir)
          .select(LogQueries.commonLine.as("value"),
            concat(lit("s"), (col("event_id") % 4).cast(StringType)).as("shard"))
          .coalesce(1).write.mode("overwrite").partitionBy("shard").text(tmp)
      }
      val parsed = LogStream.readPartitioned(
          s, tmp, tmp + "/shard=*/*.txt", graft.logs.HttpdLog.CommonFormat)
        .filter(col("shard") =!= "s3")
      toMemory(s, "d27", parsed, "append", fed(_.processAllAvailable()))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("cnt"),
          sum("bytes").as("sum_bytes"),
          countDistinct(col("client_host")).as("hosts"),
          countDistinct(col("log_file")).as("files"))
        .orderBy("shard")
    }),

    // D28: streaming HTML→text extraction — the C109 synthetic pages
    // (same builder, PipeQueries.syntheticHtml) arrive as a stream and
    // the stateless extractor map runs per micro-batch; the per-doc
    // verdicts hash-match the IDENTICAL q_c109 oracle.
    "q_d28_stream_html" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          PipeQueries.syntheticHtml(col("doc_id"), col("text")).as("html"))
        .collect().map(r => CorpusDoc(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.htmlExtractStream(
        mem.toDF().toDF("doc_id", "html"))
      toMemory(s, "d28", verdicts, "append", chunked(mem, chunks)).orderBy("doc_id")
    }),

    // D30: streaming training-example builder — documents arrive in
    // micro-batches and each is span-corrupted statelessly; the
    // rollup hash-matches the IDENTICAL q_c116 batch oracle.
    "q_d30_stream_examples" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .collect().map(r => CorpusDoc(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val out = LogStream.exampleStream(mem.toDF())
      toMemory(s, "d30", out, "append", chunked(mem, chunks)).orderBy("doc_id")
    }),

    // D29: streaming WARC ingest — the C111 synthetic segments
    // (PipeQueries.syntheticWarc) arrive as binary chunks, the
    // stateless framer explodes records per micro-batch, and the
    // per-doc rollup hash-matches the IDENTICAL q_c111 oracle.
    "q_d29_stream_warc" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import graft.functions.HtmlExtract
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          PipeQueries.syntheticWarc(col("doc_id"), col("text"))
            .cast(BinaryType).as("w"))
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        .sortBy(_._1)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[(Long, Array[Byte])]
      val recs = LogStream.warcStream(mem.toDF().toDF("doc_id", "warc"))
      toMemory(s, "d29", recs, "append", chunked(mem, chunks)).groupBy("doc_id")
        .agg(
          count(lit(1)).cast(IntegerType).as("n_records"),
          max(when(col("warc_type") === "response", col("warc_type")))
            .as("warc_type"),
          max(col("target_uri")).as("target_uri"),
          max(col("http_status")).as("http_status"),
          max(col("http_content_type")).as("http_content_type"),
          // C111d path: decode by declared charset (these segments
          // declare utf-8, so the oracle is unchanged)
          max(when(col("warc_type") === "response",
            md5(HtmlExtract(graft.functions.PayloadDecode(
              col("payload_bytes"), col("http_content_type")))
              .getField("main_text")))).as("main_md5"))
        .orderBy("doc_id")
    }),

    // D31: streaming exact-substring firewall — the corpus gram-owner
    // table seeds fMGWS initialState (the D18 warm-start shape);
    // streamed docs (ids corpus+10M: 1-in-3 exact corpus copies,
    // 1-in-3 shared text + fresh tails, 1-in-3 wholly fresh) arrive
    // in ascending-id chunks, their scrub-start verdicts are joined
    // back and applied by the SAME ScrubSpans kernel, and the oracle
    // replays batch ExactSubstr over (corpus UNION stream) restricted
    // to streamed ids.
    "q_d31_stream_exact_substr" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val streamDocs = plantedCandidates(d)
      val rows = streamDocs.collect()
        .map(r => graft.streaming.CorpusDoc(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.exactSubstrStream(mem.toDF(), d)
      val starts = toMemory(s, "d31", verdicts, "append", chunked(mem, chunks), Narrow)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("pos"))).as("__starts"))
      streamDocs
        .select(col("doc_id"), TF.tokens(col("text")).as("__t"))
        .join(starts, Seq("doc_id"), "left")
        .withColumn("__s", graft.functions.ScrubSpans(col("__t"),
          coalesce(col("__starts"), lit(Array.empty[Int])), 8))
        .select(col("doc_id"),
          col("__s.kept_tokens").as("kept_tokens"),
          col("__s.removed_tokens").as("removed_tokens"),
          col("__s.n_spans").as("n_spans"),
          md5(col("__s.kept_text")).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // D32: streaming eval-leakage gate — the corpus's occupied minhash
    // band buckets seed READ-ONLY fMGWS state; eval candidates (1-in-3
    // exact corpus copies, 1-in-3 shared text + fresh tails, 1-in-3
    // wholly fresh) probe it. Chunks arrive in REVERSE id order — the
    // gate never mutates state, so verdicts are arrival-order-
    // independent (unlike D9/D18/D31). Oracle replays the md5₅₂
    // signature chain over (corpus UNION candidates) restricted to
    // candidate ids.
    "q_d32_stream_leak_gate" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val cands = plantedCandidates(d)
      val rows = cands.collect()
        .map(r => graft.streaming.CorpusDoc(r.getLong(0), r.getString(1)))
        .sortBy(-_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val hits = LogStream.leakageGateStream(mem.toDF(), d)
      val agg = toMemory(s, "d32", hits, "append", chunked(mem, chunks), Narrow)
        .groupBy("doc_id")
        .agg(countDistinct(col("band")).as("nh"))
      cands.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nh"), lit(0L)).as("n_hit_bands"),
          (coalesce(col("nh"), lit(0L)) > 0).as("leaked"))
        .orderBy("doc_id")
    }),

    // D23: streaming funnel state machine — B18's ordered funnel with
    // ONE small int of state per user; events fed in event-time-sorted
    // chunks so transitions replay the batch semantics, then the
    // transition log rolls up to THE SAME single-row shape as q_b18
    // and is checked by the IDENTICAL oracle SQL.
    "q_d23_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = Tables.events(s, dir)
        .select("user_id", "ts", "event_id", "event_type").collect()
        .map(r => FunnelEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getString(3)))
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      val chunks = rows.grouped(math.max(1, rows.length / 4 + 1)).toSeq
      val mem = MemoryStream[FunnelEvent]
      val transitions = LogStream.funnelStream(mem.toDS())
      toMemory(s, "d23", transitions, "append", chunked(mem, chunks), Narrow)
        .groupBy("user_id").agg(max("stage").as("st"))
        .agg(
          count(lit(1)).as("users"),
          sum(when(col("st") >= 1, 1L).otherwise(0L)).as("reached_view"),
          sum(when(col("st") >= 2, 1L).otherwise(0L)).as("reached_click"),
          sum(when(col("st") >= 3, 1L).otherwise(0L)).as("reached_purchase"))
        .withColumn("click_conv_ppm", expr(
          "CASE WHEN reached_view = 0 THEN 0L ELSE reached_click * 1000000L div reached_view END"))
        .withColumn("purchase_conv_ppm", expr(
          "CASE WHEN reached_click = 0 THEN 0L ELSE reached_purchase * 1000000L div reached_click END"))
    }),

    // D24: streaming CUSUM drift alarm — per-source Page statistics
    // over per-doc token counts (kUp=60/kDn=45 around the ~55-token
    // corpus mean, h=120), fed in 5 doc_id-ordered chunks so cross-
    // batch state carries; every per-doc statistic and alarm flag
    // hash-matches the batch closed-form replay (Lindley prefix-sum
    // windows — see LogStream.cusumStream).
    "q_d24_stream_cusum" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"),
          timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L)
            .as("ts"),
          TF.tokenCount(col("text")).cast(LongType).as("x"))
        .as[CusumEvent].collect().sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      val mem = MemoryStream[CusumEvent]
      val pts = LogStream.cusumStream(mem.toDS(), kUp = 60L, kDn = 45L, h = 120L)
      toMemory(s, "d24", pts, "append", chunked(mem, chunks), Narrow).orderBy("source", "doc_id")
    }),

    // D25: streaming k-anonymity release gate — C85's finest QI level
    // (event_type, day, value-decade) at k=10 on the ingest path: rows
    // buffer until their group's 10th member arrives, then flush in
    // arrival order; groups that never reach k stay suppressed, so the
    // released set equals the batch replay (rows of groups with total
    // ≥ k, seq = arrival rank). Fed in 5 event-time-ordered chunks.
    "q_d25_stream_kanon" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = Tables.events(s, dir)
        .select(
          concat(col("event_type"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd"), lit("|"),
            expr("CAST(floor(value / 10) AS BIGINT)").cast(StringType)).as("key"),
          col("event_id"), col("ts"))
        .as[KAnonEvent].collect()
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      val mem = MemoryStream[KAnonEvent]
      val released = LogStream.kAnonStream(mem.toDS(), k = 10)
      toMemory(s, "d25", released, "append", chunked(mem, chunks), Narrow).orderBy("key", "seq")
    }),

    // D22: streaming blocklist firewall — the C88 automaton as a
    // stateless per-micro-batch map (no state store, no watermark);
    // verdicts stream out with their evidence (total hits, patterns
    // hit, earliest match-end offset) and hash-match the batch
    // length(replace()) replay. Docs fed in 3 chunks.
    "q_d22_stream_blocklist" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => CorpusDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      val mem = MemoryStream[CorpusDoc]
      val verdicts = LogStream.blocklistStream(
        mem.toDF(), PipeQueries.blocklistPats)
      toMemory(s, "d22", verdicts, "append", chunked(mem, chunks)).orderBy("doc_id")
    }),

    // D10: online ANN serving — query vectors STREAM against the static
    // corpus through the same seeded-IVF plan as q_c7b; results must
    // hash-match q_c7b's OWN oracle (batch/stream parity for the whole
    // similarity-search path). Queries fed in two chunks to prove
    // multi-batch serving.
    // D20: streaming IVF growth monitor — every vector routes to its
    // seeded cell; one long of state per cell emits a power-of-two
    // population-crossing ledger. Chunks are fed vec_id-sorted, so the
    // n-th arrival in a cell is its n-th smallest vec_id and the whole
    // event stream is a pure function of the data (oracle: row_number
    // over the batch assignment, rows where rn is a power of two).
    "q_d20_stream_ivf_growth" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val corpus = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), graft.functions.VectorFunctions.quantize(col("embedding")).as("qv"))
      val rows = corpus.collect()
        .map(r => QueryVec(r.getLong(0), r.getSeq[Long](1))).sortBy(_.vec_id)
      val chunks = rows.grouped(math.max(1, rows.length / 4 + 1)).toSeq
      val mem = MemoryStream[QueryVec]
      val events = AnnStream.ivfGrowthMonitor(mem.toDF(), corpus, "vec_id", "qv", nSeeds = 16)
      toMemory(s, "d20", events, "append", chunked(mem, chunks),
        Narrow ++ NoDataOff).orderBy("cell", "level")
    }),

    "q_d10_stream_ann" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val corpus = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), graft.functions.VectorFunctions.quantize(col("embedding")).as("qv"))
      val qRows = corpus.filter(col("vec_id") < 5).collect()
        .map(r => QueryVec(r.getLong(0), r.getSeq[Long](1))).sortBy(_.vec_id)
      val mem = MemoryStream[QueryVec]
      val served = AnnStream.ivfServe(mem.toDF(), corpus, "vec_id", "qv",
        k = 5, nSeeds = 16, probes = 2)
      toMemory(s, "d10", served, "append",
        chunked(mem, Seq(qRows.take(3), qRows.drop(3))), Narrow ++ NoDataOff)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // D31: batch ExactSubstr arithmetic (the q_c114 chain) over
    // (corpus UNION streamed variants), restricted to streamed ids —
    // streaming verdicts against the warm-started gram-owner state
    // must reproduce the global batch answer exactly.
    "q_d31_stream_exact_substr" ->
      """WITH su AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         WHEN doc_id % 3 = 1 THEN text || ' zzfresh'
        |           || CAST(doc_id AS VARCHAR) || ' qqtail'
        |           || CAST(doc_id AS VARCHAR)
        |         ELSE 'wholly fresh streamed document ufresh'
        |           || CAST(doc_id AS VARCHAR) || ' vfresh'
        |           || CAST(doc_id AS VARCHAR) || ' wfresh'
        |           || CAST(doc_id AS VARCHAR) || ' xfresh'
        |           || CAST(doc_id AS VARCHAR) END
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM su),
        |g AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g8
        |  FROM tok, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |own AS (SELECT g8, COUNT(*) AS c,
        |          MIN(doc_id * 4294967296 + pos) AS o FROM g GROUP BY 1),
        |scrub AS (
        |  SELECT doc_id, pos FROM g JOIN own USING (g8)
        |  WHERE c > 1 AND doc_id * 4294967296 + pos <> o
        |    AND doc_id >= 10000000),
        |posx AS (
        |  SELECT doc_id, i AS p, t[i] AS tokn
        |  FROM tok, unnest(generate_series(1, len(t))) AS u(i)
        |  WHERE doc_id >= 10000000),
        |cov AS (
        |  SELECT x.doc_id, x.p, x.tokn, COUNT(s.pos) > 0 AS cvr
        |  FROM posx x LEFT JOIN scrub s
        |    ON s.doc_id = x.doc_id AND s.pos BETWEEN x.p - 7 AND x.p
        |  GROUP BY 1, 2, 3),
        |runs AS (
        |  SELECT doc_id, p, tokn, cvr,
        |    CASE WHEN cvr AND NOT COALESCE(
        |      lag(cvr) OVER (PARTITION BY doc_id ORDER BY p), FALSE)
        |    THEN 1 ELSE 0 END AS ns
        |  FROM cov),
        |kept AS (
        |  SELECT doc_id, string_agg(tokn, ' ' ORDER BY p) AS kt
        |  FROM runs WHERE NOT cvr GROUP BY 1),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN cvr THEN 0 ELSE 1 END) AS INTEGER)
        |      AS kept_tokens,
        |    CAST(SUM(CASE WHEN cvr THEN 1 ELSE 0 END) AS INTEGER)
        |      AS removed_tokens,
        |    CAST(SUM(ns) AS INTEGER) AS n_spans
        |  FROM runs GROUP BY 1)
        |SELECT a.doc_id, a.kept_tokens, a.removed_tokens,
        |  a.n_spans, md5(COALESCE(k.kt, '')) AS kept_md5
        |FROM agg a LEFT JOIN kept k USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    // D32: the q_c121 signature chain with tr = corpus side, hits =
    // eval bands landing in train-occupied buckets.
    "q_d32_stream_leak_gate" ->
      """WITH su AS (
        |  SELECT doc_id AS id, text AS txt, TRUE AS tr FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         WHEN doc_id % 3 = 1 THEN text || ' zzfresh'
        |           || CAST(doc_id AS VARCHAR) || ' qqtail'
        |           || CAST(doc_id AS VARCHAR)
        |         ELSE 'wholly fresh streamed document ufresh'
        |           || CAST(doc_id AS VARCHAR) || ' vfresh'
        |           || CAST(doc_id AS VARCHAR) || ' wfresh'
        |           || CAST(doc_id AS VARCHAR) || ' xfresh'
        |           || CAST(doc_id AS VARCHAR) END,
        |    FALSE
        |  FROM documents),
        |tok AS (SELECT id, string_split_regex(trim(txt), '\s+') AS l FROM su),
        |g3 AS (SELECT id, array_to_string(l[i:i+2], ' ') AS g
        |       FROM tok, unnest(generate_series(1, len(l) - 2)) AS u(i)
        |       WHERE len(l) >= 3
        |       UNION ALL
        |       SELECT id, array_to_string(l, ' ') AS g FROM tok WHERE len(l) < 3),
        |hs AS (SELECT DISTINCT id,
        |    CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) AS h FROM g3),
        |sg AS (SELECT id, j,
        |    MIN(CAST(('0x' || substr(md5(CAST(h AS VARCHAR) || '_' ||
        |      CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)) AS s
        |  FROM hs CROSS JOIN generate_series(0, 7) u(j) GROUP BY 1, 2),
        |bd AS (SELECT id, j // 2 AS band,
        |    MAX(CASE WHEN j % 2 = 0 THEN s END) AS k0,
        |    MAX(CASE WHEN j % 2 = 1 THEN s END) AS k1
        |  FROM sg GROUP BY 1, 2),
        |cb AS (SELECT DISTINCT band, k0, k1
        |       FROM bd JOIN su ON su.id = bd.id WHERE su.tr),
        |hits AS (SELECT bd.id, CAST(COUNT(*) AS BIGINT) AS nh
        |         FROM bd JOIN su ON su.id = bd.id
        |         JOIN cb USING (band, k0, k1)
        |         WHERE NOT su.tr GROUP BY 1)
        |SELECT s.id AS doc_id,
        |  CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hit_bands,
        |  COALESCE(h.nh, 0) > 0 AS leaked
        |FROM su s LEFT JOIN hits h ON h.id = s.id
        |WHERE NOT s.tr ORDER BY 1""".stripMargin,

    "q_d12_stream_budget" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, ntok,
        |    SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM d)
        |SELECT source, doc_id, CAST(ntok AS BIGINT) AS ntok,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum - ntok < 2000
        |ORDER BY source, doc_id""".stripMargin,

    // Streaming-decontamination oracle: the C76 max-cosine filter
    // without the planted rows — batch replication of the stateless
    // per-micro-batch map.
    "q_d17_stream_decontam" ->
      """WITH qv AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |ql AS (SELECT qv.vec_id, e.label, qv.v
        |  FROM qv JOIN embeddings e ON e.vec_id = qv.vec_id),
        |bench AS (SELECT v FROM qv WHERE vec_id < 40
        |  AND list_sum(list_transform(v, x -> x*x)) > 0),
        |mx AS (
        |  SELECT c.vec_id, c.label,
        |    MAX(CASE WHEN list_sum(list_transform(c.v, x -> x*x)) > 0
        |      THEN CAST(list_sum(list_transform(list_zip(c.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(c.v, x -> x*x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))
        |      ELSE -1.0 END) AS m
        |  FROM ql c, bench b GROUP BY 1, 2)
        |SELECT label, COUNT(*) AS survivors, CAST(SUM(vec_id) AS BIGINT) AS sum_ids
        |FROM mx WHERE m < 0.98 GROUP BY label ORDER BY label""".stripMargin,

    // Streaming-repetition oracle: the q_c79 per-(doc, n) mass CTEs at
    // n ∈ {2 (top), 5 (dup)} with the vacuous-pass rule (a doc with
    // < n tokens has no tier-n row → ppm coalesces to 0 → passes).
    "q_d19_stream_repetition" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |    THEN text || repeat(' lorem ipsum dolor', 8) ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, greatest(length(text), 1) AS chars,
        |  string_split_regex(trim(text), '\s+') AS t FROM d),
        |ns AS (SELECT unnest([2, 5]) AS n),
        |grams AS (SELECT doc_id, chars, ns.n,
        |    unnest([array_to_string(t[i:i+ns.n-1], ' ')
        |            for i in generate_series(1, len(t)-ns.n+1)]) AS g
        |  FROM tok, ns WHERE len(t) >= ns.n),
        |cnt AS (SELECT doc_id, chars, n, g, count(*) AS c
        |        FROM grams GROUP BY ALL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |        ORDER BY c DESC, g) AS rn FROM cnt),
        |per AS (SELECT doc_id, chars, n,
        |    MAX(CASE WHEN rn = 1 THEN c * length(g) END) AS topm,
        |    SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dupm
        |  FROM r GROUP BY ALL),
        |p2 AS (SELECT doc_id, CAST(topm AS BIGINT) * 1000000 // chars AS ppm
        |       FROM per WHERE n = 2),
        |p5 AS (SELECT doc_id, CAST(dupm AS BIGINT) * 1000000 // chars AS ppm
        |       FROM per WHERE n = 5)
        |SELECT t.doc_id, coalesce(p2.ppm, 0) AS ppm_2,
        |  coalesce(p5.ppm, 0) AS ppm_5,
        |  CAST(CASE WHEN coalesce(p2.ppm, 0) <= 200000
        |    AND coalesce(p5.ppm, 0) <= 150000 THEN 1 ELSE 0 END AS BIGINT) AS admit
        |FROM tok t LEFT JOIN p2 USING (doc_id) LEFT JOIN p5 USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // D26 oracle: the q_c103 plant + marker replay at per-doc grain;
    // repair deltas derive from the plant literals (same contract —
    // fixer false-positives/missed repairs diverge the genuine columns).
    "q_d26_stream_encoding" -> {
      val moji = graft.functions.EncodingQa.MojiSample
      val clean = graft.functions.EncodingQa.CleanSample
      val mark = graft.functions.EncodingQa.MarkerRe
      val ff = "�"
      s"""WITH c AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |           THEN regexp_replace(text, '[^ -~]', '', 'g') || '$moji'
         |         WHEN doc_id % 7 = 3 THEN text || '$ff$ff'
         |         ELSE text END AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t2, '$mark')) AS BIGINT) AS marker_hits,
         |  CAST(len(t2) - len(replace(t2, '$ff', '')) AS BIGINT) AS repl_chars,
         |  CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS fixed,
         |  CAST(CASE WHEN doc_id % 7 = 0 THEN len('$moji') - len('$clean')
         |    ELSE 0 END AS BIGINT) AS fixed_chars,
         |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS admit
         |FROM c ORDER BY doc_id""".stripMargin
    },

    // D28 oracle: IDENTICAL to q_c109's — the stream extracts the same
    // synthetic pages per micro-batch, at the same per-doc grain.
    "q_d28_stream_html" -> PipeQueries.oracleSql("q_c109_html_extract"),
    "q_d30_stream_examples" -> PipeQueries.oracleSql("q_c116_span_corrupt"),

    // D29 oracle: IDENTICAL to q_c111's — the stream frames the same
    // synthetic WARC segments, at the same per-doc grain.
    "q_d29_stream_warc" -> PipeQueries.oracleSql("q_c111_warc_extract"),

    // D27 oracle: identical rollup to q_log_hive_partitions — the
    // stream parse of the partitioned tree and the batch read compute
    // the same function of the synthesized events.
    "q_d27_stream_hive" -> (LogQueries.synthSql +
      """SELECT 's' || (event_id % 4) AS shard,
        |  count(*) AS cnt, CAST(sum(bytes) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT host) AS hosts, CAST(1 AS BIGINT) AS files
        |FROM synth WHERE event_id % 4 <> 3
        |GROUP BY 1 ORDER BY shard""".stripMargin),

    // Streaming-funnel oracle: IDENTICAL to q_b18's — the stream's
    // per-user monotone stage machine and the batch's cumulative
    // window flags compute the same function of the event log, and
    // sharing one SQL text makes the parity a checked contract.
    "q_d23_stream_funnel" -> BQueries.oracleSql("q_b18_funnel"),

    // D25 oracle: pure batch replay — released rows are exactly the
    // rows of groups with total ≥ k; seq is the (µs event time,
    // event_id) arrival rank (epoch_us ⇔ the stream's (getTime,
    // getNanos) sort at the file's µs precision).
    "q_d25_stream_kanon" ->
      """WITH e AS (SELECT
        |    event_type || '|' || CAST(CAST(ts AS DATE) AS VARCHAR) || '|' ||
        |      CAST(CAST(floor(value / 10) AS BIGINT) AS VARCHAR) AS key,
        |    event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT key, event_id,
        |    COUNT(*) OVER (PARTITION BY key) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY us, event_id) AS seq
        |  FROM e)
        |SELECT key, event_id, CAST(seq AS BIGINT) AS seq
        |FROM g WHERE n >= 10 ORDER BY key, seq""".stripMargin,

    // D24 oracle: the open-ended CUSUM recursion solved in closed form
    // (Lindley): s_t = c_t − min(0, min_{j≤t} c_j) over per-source
    // prefix sums of (x − k) in (ts, doc_id) order — ts is monotone in
    // doc_id by construction, so doc_id alone orders. Pure integer
    // window arithmetic; alarm flags compare longs.
    "q_d24_stream_cusum" ->
      """WITH d AS (SELECT source, doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS x FROM documents),
        |c AS (SELECT source, doc_id, x,
        |    CAST(SUM(x - 60) OVER w AS BIGINT) AS cu,
        |    CAST(SUM(45 - x) OVER w AS BIGINT) AS cd
        |  FROM d
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING)),
        |m AS (SELECT source, doc_id, x,
        |    cu - least(0, CAST(MIN(cu) OVER w2 AS BIGINT)) AS s_up,
        |    cd - least(0, CAST(MIN(cd) OVER w2 AS BIGINT)) AS s_dn
        |  FROM c
        |  WINDOW w2 AS (PARTITION BY source ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING))
        |SELECT source, doc_id, CAST(x AS BIGINT) AS n_tokens,
        |  CAST(s_up AS BIGINT) AS s_up, CAST(s_dn AS BIGINT) AS s_dn,
        |  CAST(CASE WHEN s_up > 120 THEN 1 ELSE 0 END AS BIGINT) AS alarm_up,
        |  CAST(CASE WHEN s_dn > 120 THEN 1 ELSE 0 END AS BIGINT) AS alarm_dn
        |FROM m ORDER BY source, doc_id""".stripMargin,

    // Streaming-blocklist oracle: the q_c88 length(replace()) replay
    // per doc (valid because the patterns are border-free — cannot
    // self-overlap); first_hit = min over matching patterns of the
    // 0-based match-end offset (position + len − 2; char == byte on
    // this ASCII surface), −1 when clean.
    "q_d22_stream_blocklist" ->
      (s"""WITH pats(pat) AS (VALUES ${PipeQueries.blocklistValuesSql}),
         |d AS (SELECT doc_id, lower(text) AS t FROM documents),
         |pc AS (SELECT d.doc_id,
         |    sum((length(t) - length(replace(t, p.pat, ''))) // length(p.pat)) AS th,
         |    sum(CASE WHEN contains(t, p.pat) THEN 1 ELSE 0 END) AS ph,
         |    min(CASE WHEN position(p.pat IN t) > 0
         |        THEN position(p.pat IN t) + length(p.pat) - 2 END) AS fh
         |  FROM d CROSS JOIN pats p GROUP BY d.doc_id)
         |SELECT doc_id, CAST(th AS BIGINT) AS total_hits,
         |  CAST(ph AS INTEGER) AS patterns_hit,
         |  CAST(coalesce(fh, -1) AS INTEGER) AS first_hit,
         |  CAST(CASE WHEN th = 0 THEN 1 ELSE 0 END AS BIGINT) AS admit
         |FROM pc ORDER BY doc_id""".stripMargin),

    // Streaming-scoring oracle: the shared unrolled perceptron chain's
    // final per-doc margins (PipeQueries.perceptronCtes) — the
    // stateless stream map computes Σ_tokens w[bucket] + bias, which
    // is identically Σ_buckets count·w.
    "q_d16_stream_score" -> (PipeQueries.perceptronCtes +
      """SELECT doc_id, CAST(marg AS BIGINT) AS margin,
        |  CAST(CASE WHEN marg > 0 THEN 1 ELSE 0 END AS BIGINT) AS admit
        |FROM m4 ORDER BY doc_id""".stripMargin),

    // Bottom-k sample oracle: the final reservoir is order-independent
    // (any global bottom-k key is in the bottom-k of every prefix that
    // contains it, so it is always admitted), so the oracle is the
    // direct one-window batch sample over the same md5-prefix hash.
    "q_d15_stream_sample" ->
      """WITH hh AS (SELECT source, doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
        |  FROM hh)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, h FROM r
        |WHERE rank <= 32 ORDER BY source, rank""".stripMargin,

    "q_d8_stream_quota" ->
      """WITH r AS (
        |  SELECT 'u' || CAST(user_id % 50 AS VARCHAR) AS key, event_id,
        |    row_number() OVER (PARTITION BY user_id % 50
        |      ORDER BY epoch_us(ts) // 1000, event_id) AS quota_rank
        |  FROM events)
        |SELECT key, event_id, quota_rank FROM r WHERE quota_rank <= 20
        |ORDER BY key, quota_rank""".stripMargin,

    "q_d7_stream_sink" ->
      """SELECT strftime(DATE '2024-01-01' + INTERVAL ((doc_id % 7)) DAY, '%Y-%m-%d') AS day,
        |  count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM documents GROUP BY 1 ORDER BY day""".stripMargin,

    // D34: the re-read WET payload IS q_c111's main_text contract.
    "q_d34_stream_wet" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(coalesce(text, ''),
        |      '[^ -~]', '', 'g'), ' +', ' ', 'g')) AS p
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, p,
        |    (p <> '' AND (len(p) >= 70 OR
        |      8 * len(regexp_extract_all(
        |            ' ' || regexp_replace(lower(p), ' ', '  ', 'g') || ' ',
        |            ' (the|a|and|is|of|to|in) '))
        |        >= len(string_split(p, ' ')))) AS keepp
        |  FROM c)
        |SELECT doc_id, 'text/plain' AS content_type,
        |  md5(CASE WHEN keepp THEN p ELSE '' END) AS main_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    // D36: ord-ascending chunks make streaming first-arrival ownership
    // equal batch min-ord ownership — the oracle IS q_c128's replay.
    "q_d36_stream_archive" -> PipeQueries.oracleSql("q_c128_archive_dedup"),

    // D35: batch 0 full + 3 deltas + scheduled compaction → the
    // verified latest is the full corpus at slot 5.
    "q_d35_stream_delta" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST(5 AS BIGINT) AS version
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // D33: the final published version is the FULL corpus (cumulative
    // snapshot), and four batches at everyBatches=2 commit exactly two
    // versions — version pins to 2 analytically.
    "q_d33_stream_publish" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST(2 AS BIGINT) AS version
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_d6_stream_static" ->
      """SELECT n_name, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents d JOIN nation n ON d.doc_id % 25 = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_d5_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // q_d4's oracle is data-dependent (learned BPE) — generated by
    // [[dynamicOracleSql]] at Verify time; no static entry.

    // D20 oracle: replay the cell assignment (the q_c7b/q_c81 argmax —
    // affinity 2·v·c − ‖c‖², ties to the lower cell), number each
    // cell's members in vec_id order (= arrival order under the sorted
    // chunk feed), keep the power-of-two rows.
    // D21 oracle: STATIC — the C86 analytic dHash (see q_c86's
    // constants), banded 4×16 bits; a doc's owner is the smallest id
    // sharing any band bucket (sorted chunks ⇒ smaller ids arrive no
    // later, so the stream's min-owner state equals the global min).
    "q_d21_stream_image_dedup" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id % 16) >= 14 THEN
        |      (1103823438081 << CAST(doc_id % 7 AS INTEGER))
        |        + (72339069014638592 << CAST((doc_id % 7 + 3) % 7 AS INTEGER))
        |    ELSE (72340172838076673 << CAST(doc_id % 7 AS INTEGER)) END AS dhash
        |  FROM documents),
        |bands AS (
        |  SELECT doc_id, bt.b, (dhash >> (16 * bt.b)) & 65535 AS v
        |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) bt),
        |own AS (
        |  SELECT d.doc_id, min(e.doc_id) AS eo
        |  FROM bands d JOIN bands e ON e.b = d.b AND e.v = d.v AND e.doc_id < d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT s.doc_id,
        |  CAST(o.eo IS NOT NULL AS INTEGER) AS dropped,
        |  coalesce(o.eo, s.doc_id) AS owner
        |FROM sig s LEFT JOIN own o ON o.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "q_d20_stream_ivf_growth" -> (CQueries.qvCte +
      """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |aff AS (
        |  SELECT qv.vec_id, cent.cell,
        |    2*list_sum(list_transform(list_zip(qv.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM qv, cent),
        |assign AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
        |    FROM aff) WHERE r = 1),
        |rn AS (SELECT cell, vec_id,
        |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS n
        |  FROM assign)
        |SELECT CAST(cell AS INTEGER) AS cell, CAST(n AS BIGINT) AS level, vec_id
        |FROM rn WHERE n >= 2 AND (n & (n - 1)) = 0
        |ORDER BY cell, level""".stripMargin),

    // q_d10 streams the q_c7b queries through the same IVF math — the
    // batch oracle IS the streaming oracle (batch/stream parity).
    "q_d10_stream_ann" -> CQueries.oracleSql("q_c7b_ann_ivf"),
    "q_d1_stream_ingest" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         |  status, count(*) AS hits
         |FROM (SELECT ts, $statusSql AS status FROM events)
         |GROUP BY 1, 2 ORDER BY hour, status""".stripMargin,
    "q_d11_stream_errorlog" -> (LogQueries.errorSynthSql +
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |  loglevel, count(*) AS cnt, CAST(sum(pid) AS BIGINT) AS sum_pid
        |FROM esynth GROUP BY 1, 2 ORDER BY hour, loglevel""".stripMargin),

    // Replays the engine's session rules. After every data batch, the
    // watermark advances to that chunk's global max event time and a
    // no-data micro-batch fires the now-expired timeouts — so a burst
    // survives to the next chunk ONLY if the client's last event sits
    // within the gap of the chunk's global max (the watermark hasn't
    // passed its timeout yet) AND the client has data in the very next
    // chunk's batch (data beats timeout). Comparisons are at millisecond
    // precision — the engine's event-time watermark / GroupState
    // timestamp granularity.
    "q_d2_stream_sessions" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS client, ts,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') // 10 AS c
        |  FROM events),
        |uc AS (SELECT client, c, min(ts) AS s, max(ts) AS l, count(*) AS n
        |       FROM e GROUP BY client, c),
        |cm AS (SELECT c, max(ts) AS cmax,
        |         row_number() OVER (ORDER BY c) AS seq FROM e GROUP BY c),
        |x AS (SELECT uc.*, lag(c) OVER w AS pc, lag(l) OVER w AS pl
        |      FROM uc WINDOW w AS (PARTITION BY client ORDER BY c)),
        |-- a session survives from the client's previous burst iff no
        |-- batch strictly before this chunk's batch fired its timeout.
        |-- Batches exist only for chunks WITH data; the watermarks
        |-- checked between the bursts are the cmax of every fed chunk
        |-- from the previous burst up to this chunk's global
        |-- predecessor — cmax is monotone, so the single comparison
        |-- against the predecessor's cmax decides survival
        |y AS (SELECT x.client, x.c, x.s, x.n,
        |        CASE WHEN x.pc IS NOT NULL
        |               AND epoch_us(x.pl) // 1000 + 1800000 >= epoch_us(cp.cmax) // 1000
        |               THEN 0
        |             ELSE 1 END AS ns
        |      FROM x JOIN cm cc ON cc.c = x.c
        |             LEFT JOIN cm cp ON cp.seq = cc.seq - 1),
        |z AS (SELECT client, s, n,
        |        sum(ns) OVER (PARTITION BY client ORDER BY c) AS sid FROM y)
        |SELECT client, strftime(min(s), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(sum(n) AS BIGINT) AS events
        |FROM z GROUP BY client, sid ORDER BY client, session_start""".stripMargin,

    "q_d13_stream_cms" ->
      """WITH d AS (
        |  SELECT (doc_id // 600) * 600 AS woff, text FROM documents),
        |tok AS (
        |  SELECT woff, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM d),
        |tc AS (SELECT woff, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |bk AS (
        |  SELECT woff, w, c, t.r,
        |    CAST(('0x' || substr(md5(w), t.r * 8 + 1, 8)) AS BIGINT) % 512 AS b
        |  FROM tc, unnest([0, 1, 2, 3]) AS t(r)),
        |bs AS (
        |  SELECT woff, r, b, CAST(SUM(c) AS BIGINT) AS s
        |  FROM bk GROUP BY 1, 2, 3),
        |wins AS (SELECT woff, CAST(SUM(c) AS BIGINT) AS n_tokens FROM tc GROUP BY 1),
        |pb AS (
        |  SELECT p.w, t.r,
        |    CAST(('0x' || substr(md5(p.w), t.r * 8 + 1, 8)) AS BIGINT) % 512 AS b
        |  FROM (SELECT unnest(['scan', 'table', 'key']) AS w) p,
        |    unnest([0, 1, 2, 3]) AS t(r)),
        |est AS (
        |  SELECT wins.woff, pb.w, MIN(COALESCE(bs.s, 0)) AS e
        |  FROM wins CROSS JOIN pb
        |  LEFT JOIN bs ON bs.woff = wins.woff AND bs.r = pb.r AND bs.b = pb.b
        |  GROUP BY 1, 2)
        |SELECT strftime(make_timestamp((1704067200 + wins.woff) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS w_start,
        |  wins.n_tokens,
        |  MAX(CASE WHEN est.w = 'scan' THEN est.e END) AS est_scan,
        |  MAX(CASE WHEN est.w = 'table' THEN est.e END) AS est_table,
        |  MAX(CASE WHEN est.w = 'key' THEN est.e END) AS est_key
        |FROM wins JOIN est ON est.woff = wins.woff
        |GROUP BY 1, 2 ORDER BY w_start""".stripMargin,

    // Streaming drift oracle: batch replay of the windowed bucket
    // histogram + the TV arithmetic, ref-only buckets included via the
    // window-grid CROSS JOIN with COALESCE(c, 0).
    "q_d14_stream_drift" ->
      """WITH d AS (
        |  SELECT (doc_id * 97 // 600) * 600 AS woff, text FROM documents),
        |tok AS (
        |  SELECT woff, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM d),
        |tb AS (SELECT woff,
        |    CAST(('0x' || substr(md5(w), 1, 13)) AS BIGINT) % 16 AS b
        |  FROM tok),
        |wc AS (SELECT woff, b, COUNT(*) AS c FROM tb GROUP BY 1, 2),
        |wt AS (SELECT woff, CAST(SUM(c) AS BIGINT) AS nw FROM wc GROUP BY 1),
        |rb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM tb GROUP BY 1),
        |rt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM tb),
        |j AS (SELECT wt.woff, wt.nw, rb.b, rb.r, COALESCE(wc.c, 0) AS c
        |  FROM wt CROSS JOIN rb
        |  LEFT JOIN wc ON wc.woff = wt.woff AND wc.b = rb.b)
        |SELECT strftime(make_timestamp((1704067200 + woff) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS w_start,
        |  nw AS n_tokens,
        |  CAST(SUM(ABS(c * 1000000 // nw - r * 1000000 // nr)) AS BIGINT)
        |    AS tv_ppm
        |FROM j, rt GROUP BY woff, nw ORDER BY w_start""".stripMargin,

    "q_d3_stream_dedup" ->
      """SELECT count(*) AS kept, min(f) AS min_fp, max(f) AS max_fp FROM (
        |  SELECT DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f
        |  FROM documents)""".stripMargin
  )

  /**
   * Data-dependent oracle for q_d4 (q_c11b pattern): docs/tokens and
   * the (source, predicted) langId keys stay genuinely SQL-computed in
   * DuckDB; only the learned-BPE sums — not SQL-expressible — are
   * pinned as literal VALUES computed by the INDEPENDENT
   * [[graft.functions.BpeCodec.encode]] path. The inner join on BOTH
   * keys means a streaming langId divergence drops rows and fails the
   * row-count check, so grouping parity is still oracle-enforced.
   */
  def dynamicOracleSql(s: SparkSession, dir: String): Map[String, String] = {
    val d = s.read.parquet(s"$dir/documents.parquet")
    val codec = graft.functions.Bpe.learnFromCorpus(
      d, "doc_id", "text", numMerges = 100, sampleDocs = 500)
    // predicted via the same expression surface, evaluated in BATCH —
    // execution-mode invariance of langId is exactly what q_d4 tests
    val perKey = d
      .withColumn("__padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .select(col("source"),
        TF.langIdPadded(col("text"), col("__padded")).as("predicted"),
        col("text"))
      .collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case ((src, pred), rows) =>
        (src, pred, rows.map(r => codec.encode(r.getString(2)).length.toLong).sum)
      }
      .toSeq.sortBy(t => (t._1, t._2))
    val values = perKey
      .map { case (src, pred, n) =>
        s"('${src.replace("'", "''")}', '${pred.replace("'", "''")}', $n)"
      }
      .mkString(",\n        ")
    // q_d9: xxhash64-based simhash is not DuckDB-expressible, so the
    // per-doc 64-bit signatures are pinned from the INDEPENDENT HOF
    // formulation (Dedup.simhash — bit-identical to the codegen'd
    // SimHash64 the stream runs, parity spec'd), while the ENTIRE
    // LSH-band first-occurrence decision stays genuinely SQL: band
    // extraction by shift/mask, earlier-owner by self-join, verdict by
    // left join.
    val d9base = d.select(col("doc_id"), col("text"))
    val d9all = d9base.union(
      d9base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val d9sigs = d9all
      .select(col("doc_id"), graft.operators.Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val d9values = d9sigs.map { case (id, sig) => s"($id, CAST($sig AS BIGINT))" }
      .mkString(",\n        ")
    // q_d18: same signature-pinning rule as q_d9; the old corpus rides
    // the sigs table with its REAL ids (all < 200000, so the
    // earlier-owner self-join sees exactly what the initialState seed
    // gave the stream: the per-bucket old minimum), and only new ids
    // are emitted.
    val d18base = d.select(col("doc_id"), col("text"))
    val d18all = d18base.union(d18NewDocs(d18base))
    val d18sigs = d18all
      .select(col("doc_id"), graft.operators.Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val d18values = d18sigs.map { case (id, sig) => s"($id, CAST($sig AS BIGINT))" }
      .mkString(",\n        ")
    Map(
      "q_d18_stream_warm_dedup" ->
        s"""WITH sigs(doc_id, sig) AS (VALUES $d18values),
           |bands AS (
           |  SELECT doc_id, bt.b, (sig >> (16 * bt.b)) & 65535 AS v
           |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS b) bt),
           |own AS (
           |  SELECT d.doc_id, min(e.doc_id) AS eo
           |  FROM bands d JOIN bands e ON e.b = d.b AND e.v = d.v AND e.doc_id < d.doc_id
           |  WHERE d.doc_id >= 200000
           |  GROUP BY d.doc_id)
           |SELECT s.doc_id,
           |  CAST(o.eo IS NOT NULL AS INTEGER) AS dropped,
           |  coalesce(o.eo, s.doc_id) AS owner
           |FROM sigs s LEFT JOIN own o ON o.doc_id = s.doc_id
           |WHERE s.doc_id >= 200000
           |ORDER BY s.doc_id""".stripMargin,
      "q_d9_stream_neardup" ->
        s"""WITH sigs(doc_id, sig) AS (VALUES $d9values),
           |bands AS (
           |  SELECT doc_id, bt.b, (sig >> (16 * bt.b)) & 65535 AS v
           |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS b) bt),
           |own AS (
           |  SELECT d.doc_id, min(e.doc_id) AS eo
           |  FROM bands d JOIN bands e ON e.b = d.b AND e.v = d.v AND e.doc_id < d.doc_id
           |  GROUP BY d.doc_id)
           |SELECT s.doc_id,
           |  CAST(o.eo IS NOT NULL AS INTEGER) AS dropped,
           |  coalesce(o.eo, s.doc_id) AS owner
           |FROM sigs s LEFT JOIN own o ON o.doc_id = s.doc_id
           |ORDER BY s.doc_id""".stripMargin,
      "q_d4_stream_annotate" ->
        s"""SELECT b.source, b.predicted, b.docs, b.tokens,
           |  CAST(v.bpe_learned AS BIGINT) AS bpe_learned
           |FROM (
           |  SELECT source, predicted, count(*) AS docs,
           |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tokens
           |  FROM (
           |    SELECT source, text, CASE
           |      WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           |      WHEN regexp_matches(' ' || lower(text) || ' ', ' (der|und|die|nicht|das|ist) ') THEN 'de'
           |      WHEN regexp_matches(' ' || lower(text) || ' ', ' (le|la|les|est|dans|une) ') THEN 'fr'
           |      WHEN regexp_matches(' ' || lower(text) || ' ', ' (el|los|las|es|una|por) ') THEN 'es'
           |      WHEN regexp_matches(' ' || lower(text) || ' ', ' (the|and|is|of|to|in) ') THEN 'en'
           |      ELSE 'unknown' END AS predicted
           |    FROM documents)
           |  GROUP BY source, predicted) b
           |JOIN (VALUES $values) v(source, predicted, bpe_learned)
           |  ON b.source = v.source AND b.predicted = v.predicted
           |ORDER BY b.source, b.predicted""".stripMargin)
  }
}
