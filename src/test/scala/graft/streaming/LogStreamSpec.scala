package graft.streaming

import graft.SparkSpec
import graft.streaming.{SessionEvent, SessionUpdate}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import java.io.File
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** D1/D2 streaming specs: parse-in-stream + watermarked windows, and
 * stateful gap sessionization (SURVEY.md §2 D1-D2). */
class LogStreamSpec extends SparkSpec {

  import spark.implicits._

  test("D1: streaming log parse with watermarked windowed aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val parsed = LogStream.parse(mem.toDF().toDF("value"), "%h %t \"%r\" %>s %b")
    val agg = LogStream.windowedStatusCounts(parsed, watermark = "1 hour", windowLen = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("d1_out").outputMode("update").start()
    try {
      mem.addData(
        """1.1.1.1 [01/Jan/2024:00:01:00 +0000] "GET /a HTTP/1.1" 200 10""",
        """1.1.1.2 [01/Jan/2024:00:02:00 +0000] "GET /b HTTP/1.1" 200 20""",
        """1.1.1.3 [01/Jan/2024:00:07:00 +0000] "GET /c HTTP/1.1" 404 30""")
      q.processAllAvailable()
      val rows = spark.table("d1_out")
        .select(date_format($"window_start", "HH:mm").as("w"), $"status", $"hits")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows == Set(("00:00", 200, 2L), ("00:05", 404, 1L)))
    } finally q.stop()
  }

  test("D3: streaming dedup drops repeated fingerprints within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val deduped = LogStream.dedupStream(docs, watermarkDelay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("d3_out").outputMode("append").start()
    try {
      mem.addData(
        (1L, "the same document body", Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "a different document", Timestamp.valueOf("2024-01-01 00:00:30")),
        (3L, "the  same   document body", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      mem.addData( // same batch-1 content arriving again within the horizon
        (4L, "the same document body", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val ids = spark.table("d3_out").select("doc_id").collect().map(_.getLong(0)).toSet
      // doc 3 is a whitespace-variant of doc 1 (same fingerprint); doc 4 repeats it
      assert(ids == Set(1L, 2L))
    } finally q.stop()
  }

  test("D18: warm-start near-dup resolves new copies to OLD owners the stream never saw") {
    implicit val sqlCtx = spark.sqlContext
    val old = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "totally different words here")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val name = s"d18_${System.nanoTime()}"
    val q = LogStream.nearDupStreamWarm(mem.toDF().toDF("doc_id", "text"), old)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1: a copy of OLD doc 1 (must resolve to owner 1 via the
      // initialState seed alone) and a novel doc (stays its own owner)
      mem.addData((10L, "alpha beta gamma delta"), (11L, "brand new unique content"))
      q.processAllAvailable()
      // batch 2: a copy of the NEW doc 11 — the state machine keeps
      // accumulating on top of the warm seed
      mem.addData((12L, "brand new unique content"))
      q.processAllAvailable()
      val owners = spark.table(name).groupBy("doc_id").agg(min("owner").as("o"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(owners(10L) == 1L, s"copy of old doc must take the OLD owner, got ${owners(10L)}")
      assert(owners(11L) == 11L)
      assert(owners(12L) == 11L, s"new-new dup must take the new owner, got ${owners(12L)}")
    } finally q.stop()
  }

  test("D18: batch-mates see the batch minimum even when the warm seed id is larger") {
    implicit val sqlCtx = spark.sqlContext
    // old owner id 100 — LARGER than the new stream's ids, so the
    // pre-r11-review emission (min(state, self), head not folded in)
    // would report doc 50 as owner 100 and miss batch-mate 10
    val old = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val name = s"d18b_${System.nanoTime()}"
    val q = LogStream.nearDupStreamWarm(mem.toDF().toDF("doc_id", "text"), old)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData((10L, "alpha beta gamma delta"), (50L, "alpha beta gamma delta"))
      q.processAllAvailable()
      val owners = spark.table(name).groupBy("doc_id").agg(min("owner").as("o"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(owners(10L) == 10L)
      assert(owners(50L) == 10L,
        s"doc 50 must take batch-mate 10 as owner, got ${owners(50L)}")
    } finally q.stop()
  }

  test("D31: corpus-owned grams scrub arriving dups; fresh text passes; stream-stream dups resolve across batches") {
    implicit val sqlCtx = spark.sqlContext
    // corpus doc 1 owns the 8-token run; doc 2 is unrelated
    val corpus = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer"),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val name = s"d31_${System.nanoTime()}"
    val q = LogStream.exactSubstrStream(mem.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1: doc 10 repeats the corpus run (+ fresh tail) -> its
      // positions 0 and 1 start duplicated grams; doc 11 is fresh
      mem.addData(
        (10L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer own10"),
        (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"))
      q.processAllAvailable()
      // batch 2: doc 12 repeats doc ELEVEN's fresh run — cross-batch
      // stream-stream dup, owner is the already-streamed doc 11
      mem.addData((12L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"))
      q.processAllAvailable()
      val starts = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(starts == Set((10L, 0), (10L, 1), (12L, 0), (12L, 1)),
        s"got $starts")
    } finally q.stop()
  }

  test("D32: leakage gate state is READ-ONLY — corpus dups leak, candidate-candidate dups do not, any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    def run(order: Seq[(Long, String)]): Map[Long, Long] = {
      val mem = MemoryStream[(Long, String)]
      val name = s"d32_${System.nanoTime()}"
      val q = LogStream.leakageGateStream(mem.toDF().toDF("doc_id", "text"), corpus)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        order.foreach { r => mem.addData(r); q.processAllAvailable() }
        spark.table(name).groupBy("doc_id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally q.stop()
    }
    val cands = Seq(
      (10L, "t1 t2 t3 t4 t5 t6"),       // corpus copy -> leaks all bands
      (11L, "c1 c2 c3 c4 c5 c6"),       // fresh -> admitted
      (12L, "c1 c2 c3 c4 c5 c6"))       // dup of CANDIDATE 11 -> still admitted
    val fwd = run(cands)
    assert(fwd.getOrElse(10L, 0L) == 4L, s"corpus copy must hit all 4 bands: $fwd")
    assert(!fwd.contains(11L) && !fwd.contains(12L),
      s"candidate-candidate dup must NOT leak (read-only state): $fwd")
    // arrival-order independence: reversed feed gives identical verdicts
    assert(run(cands.reverse) == fwd)
  }

  test("D31/D32 verdicts match a string-keyed Scala reference") {
    // Both gates key their state by xxhash64; the reference groups by
    // the exact gram / band strings, so any key or fold divergence
    // shows. The shapes: corpus copies, shared-prefix tails, fresh docs,
    // stream-stream dups across batches, a batch fed in DESCENDING id
    // order (the fold must sort it), and a doc repeating its own gram.
    implicit val sqlCtx = spark.sqlContext
    val corpusRows = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer"),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8"),
      (3L, "t1 t2 t3 t4 t5 t6"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batches = Seq(
      Seq((10L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer own10"),
        (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),
        (13L, "t1 t2 t3 t4 t5 t6")),
      Seq((12L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")),
      Seq((15L, "g1 g2 g3 g4 g5 g6 g7 g8 g9 tail15"),
        (14L, "g1 g2 g3 g4 g5 g6 g7 g8 g9")),
      Seq((16L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8")))
    val streamRows = batches.flatten
    def run(gate: DataFrame => Dataset[_], prefix: String): Set[(Long, Int)] = {
      val mem = MemoryStream[(Long, String)]
      val name = s"${prefix}_${System.nanoTime()}"
      val q = gate(mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      } finally q.stop()
    }
    // D31 reference: walk every occurrence in (doc, pos) order, grouped
    // by the gram string; a stream occurrence is a scrub start iff the
    // count so far is > 1 and it is not the minimum owner
    val n = 8
    val occs = (corpusRows ++ streamRows).flatMap { case (id, text) =>
      text.split(" ").sliding(n).filter(_.length == n).zipWithIndex
        .map { case (g, pos) => (id, pos, g.mkString(" ")) }
    }.sortBy(o => (o._1, o._2))
    val streamIds = streamRows.map(_._1).toSet
    val seen = scala.collection.mutable.Map.empty[String, (Long, (Long, Int))]
    val substrRef = occs.flatMap { case (id, pos, g) =>
      val (c, own) = seen.get(g).fold((1L, (id, pos))) { case (c0, o0) =>
        (c0 + 1, Ordering[(Long, Int)].min(o0, (id, pos)))
      }
      seen(g) = (c, own)
      if (streamIds(id) && c > 1 && own != ((id, pos))) Some((id, pos)) else None
    }.toSet
    val substr = run(LogStream.exactSubstrStream(_, corpus, n = n), "d31_ref")
    assert(substr == substrRef, "D31 verdicts must match the string reference")
    assert(substr.map(_._1) == Set(10L, 12L, 15L, 16L), substr)
    // D32 reference: a (doc, band) is a hit iff its exact band string
    // occurs among the corpus's band strings of the same band; the
    // signatures come from a batch select of the gate's own expression
    val (sigs, bands) = (8, 4)
    def bandStrings(rows: Seq[(Long, String)]): Seq[(Long, Int, String)] =
      rows.toDF("doc_id", "text")
        .select($"doc_id", graft.functions.Md5MinhashSig(
          graft.functions.TextFunctions.tokens($"text"), 3, sigs).as("sig"))
        .collect().toSeq.flatMap { r =>
          val sig = r.getSeq[Long](1)
          sig.grouped(sigs / bands).zipWithIndex
            .map { case (slots, b) => (r.getLong(0), b, slots.mkString(",")) }
        }
    val trainBands = bandStrings(corpusRows).map(t => (t._2, t._3)).toSet
    val gateRef = bandStrings(streamRows)
      .collect { case (id, b, s) if trainBands((b, s)) => (id, b) }.toSet
    val gate = run(LogStream.leakageGateStream(_, corpus, sigs = sigs, bands = bands),
      "d32_ref")
    assert(gate == gateRef, "D32 verdicts must match the string reference")
    assert((0 until bands).forall(b => gate((13L, b))), s"corpus copy must leak: $gate")
  }

  test("D32 forced collision: buckets sharing a hashed key merge, the query still runs") {
    // Two train buckets in different bands whose hashed keys collide,
    // forced with hand-made keyed rows sharing k = 42. initialState
    // takes one row per key, so the warm start must seed DISTINCT keys;
    // seeding one row per (band, bk) would hand it k = 42 twice and
    // fail the query.
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(BandKeyK(1L, 0, 42L), BandKeyK(2L, 1, 42L), BandKeyK(3L, 2, 7L)).toDS()
    val mem = MemoryStream[BandKeyK]
    val name = s"d32_collide_${System.nanoTime()}"
    val q = LogStream.leakGateKeyed(mem.toDS(), corpus)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // candidate 10 lands in the merged bucket (under a third band);
      // candidate 11's bucket holds no train content
      mem.addData(BandKeyK(10L, 3, 42L), BandKeyK(11L, 0, 99L))
      q.processAllAvailable()
      assert(spark.table(name).as[LeakHit].collect().toSet == Set(LeakHit(10L, 3)))
    } finally q.stop()
  }

  /** Chunk `i` as one JSON file whose mtime orders it after chunk
   * i − 1: the file source takes new files in mtime order, one file per
   * micro-batch under maxFilesPerTrigger = 1. */
  private def writeChunk(root: File, i: Int, rows: Seq[(Long, String)]): Unit = {
    val src = new File(root, "src")
    src.mkdirs()
    val f = new File(src, f"chunk-$i%03d.json")
    java.nio.file.Files.writeString(f.toPath,
      rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("", "\n", "\n"))
    f.setLastModified(1700000000000L + i * 1000L)
  }

  /** Run `stream` over every chunk under `root`/src not yet committed to
   * `root`/ckpt, to a parquet sink at `root`/out, then stop. */
  private def runAvailable(root: File, stream: DataFrame => Dataset[_]): Unit = {
    val docs = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(new File(root, "src").getAbsolutePath)
    stream(docs).writeStream.format("parquet")
      .option("checkpointLocation", new File(root, "ckpt").getAbsolutePath)
      .option("path", new File(root, "out").getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
  }

  private val resumeCorpus = Seq(
    (1L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer"),
    (3L, "t1 t2 t3 t4 t5 t6"))
  private val resumeChunks = Seq(
    Seq((10L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer own10"), (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")),
    Seq((12L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"), (13L, "t1 t2 t3 t4 t5 t6")),
    Seq((14L, "a1 a2 a3 a4 a5 a6 a7 a8 trailer"), (15L, "g1 g2 g3 g4 g5 g6 g7 g8 g9")),
    Seq((16L, "g1 g2 g3 g4 g5 g6 g7 g8 g9 tail16"), (17L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")))

  /** The D31/D32 gates, each with a post-resume verdict that needs
   * restored state: 14 copies a warm-start corpus doc, and 17 repeats
   * doc 11 from before the kill. */
  private def resumeGates: Seq[(String, DataFrame => Dataset[_], (Long, Int))] = {
    val corpus = resumeCorpus.toDF("doc_id", "text")
    Seq(
      ("D31", LogStream.exactSubstrStream(_, corpus), (17L, 0)),
      ("D32", LogStream.leakageGateStream(_, corpus), (14L, 0)))
  }

  /** Feed the resume chunks to `gate` on one checkpoint: the chunks up
   * to `killAfter` under the confs `before`, then stop ("kill") and
   * resume with the rest under `after`. killAfter = 0 is one
   * uninterrupted run under `after`. Returns the output rows and the
   * checkpoint dir. */
  private def resumeRun(gate: DataFrame => Dataset[_], killAfter: Int,
      before: Seq[(String, String)], after: Seq[(String, String)]): (Set[(Long, Int)], File) = {
    val root = java.nio.file.Files.createTempDirectory("graft_resume_").toFile
    root.deleteOnExit()
    resumeChunks.zipWithIndex.foreach { case (rows, i) =>
      writeChunk(root, i, rows)
      if (i + 1 == killAfter)
        graft.operators.Scoped.withConf(spark, before: _*)(runAvailable(root, gate))
    }
    graft.operators.Scoped.withConf(spark, after: _*)(runAvailable(root, gate))
    (spark.read.parquet(new File(root, "out").getAbsolutePath).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet, new File(root, "ckpt"))
  }

  test("D31/D32 kill-and-resume equals one uninterrupted run") {
    // Under StateStoreConf.recommended (RocksDB + changelog).
    // Interrupted: feed half the chunks, stop, resume from the same
    // checkpoint with the rest.
    val rec = StateStoreConf.recommended
    resumeGates.foreach { case (name, gate, needsState) =>
      val (cut, _) = resumeRun(gate, resumeChunks.length / 2, rec, rec)
      val (whole, _) = resumeRun(gate, 0, rec, rec)
      assert(cut == whole, s"$name interrupted vs uninterrupted:\n$cut\n$whole")
      assert(cut.contains(needsState), s"$name: state lost on resume: $cut")
    }
  }

  test("D31/D32 kill-and-resume across checkpoint file managers equals one uninterrupted run") {
    // A checkpoint written by Spark's default manager resumes under
    // graft's LocalCheckpointFileManager, and the reverse: the file
    // formats are the same, only the write path differs.
    val rec = StateStoreConf.recommended
    val sparkDefault = rec.filterNot(_._1 == "spark.sql.streaming.checkpointFileManagerClass")
    assert(sparkDefault.length == rec.length - 1)
    // Hadoop's checksummed local FS leaves a `.<name>.crc` sidecar per
    // file (Spark's own state-file checksums are `<name>.crc`)
    def crcFiles(d: File): Seq[String] = {
      val s = java.nio.file.Files.walk(d.toPath)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".") && n.endsWith(".crc")).toList
      finally s.close()
    }
    resumeGates.foreach { case (name, gate, needsState) =>
      val (whole, wholeCkpt) = resumeRun(gate, 0, rec, rec)
      // every checkpoint writer took graft's manager: no checksum sidecar
      assert(crcFiles(wholeCkpt).isEmpty, s"$name: written through Hadoop's FS: ${crcFiles(wholeCkpt)}")
      for ((first, second, dir) <- Seq((sparkDefault, rec, "default -> graft"),
          (rec, sparkDefault, "graft -> default"))) {
        val (cut, _) = resumeRun(gate, resumeChunks.length / 2, first, second)
        assert(cut == whole, s"$name $dir interrupted vs uninterrupted:\n$cut\n$whole")
        assert(cut.contains(needsState), s"$name $dir: state lost on resume: $cut")
      }
    }
  }

  test("D32 resume on a String-keyed checkpoint fails loudly") {
    // A checkpoint written by a String-keyed gate (the shape of the
    // retired string-key twin) must not resume silently under the long
    // xxhash64 key.
    val corpus = resumeCorpus.toDF("doc_id", "text")
    val stringKeyed: DataFrame => Dataset[_] = d => d.as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(Long, String)], s: GroupState[TrainMark]) => {
          s.update(TrainMark(1))
          rows.map(r => LeakHit(r._1, 0))
        })
    graft.operators.Scoped.withConf(spark, StateStoreConf.recommended: _*) {
      val root = java.nio.file.Files.createTempDirectory("graft_resume_sk_").toFile
      root.deleteOnExit()
      writeChunk(root, 0, resumeChunks(0))
      runAvailable(root, stringKeyed)
      writeChunk(root, 1, resumeChunks(1))
      val err = intercept[Exception](
        runAvailable(root, LogStream.leakageGateStream(_, corpus)))
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(e => String.valueOf(e.getMessage)
          .contains("STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE")), err)
    }
  }

  test("StateStoreConf: the library owns the production state-store shape") {
    // r19 verdict item: the changelog conf lived only in the harness
    // builders. The library surface must carry the full recommended
    // set; Bench/Verify consume it (StateStoreConf.applyTo), so the
    // harness can never drift from what the operators are designed for.
    val m = StateStoreConf.recommended.toMap
    assert(m("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    assert(m(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      == "true")
    assert(m("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")
      == "false")
    // checkpoint files on local paths skip Hadoop's forking local FileContext
    assert(m("spark.sql.streaming.checkpointFileManagerClass")
      == classOf[LocalCheckpointFileManager].getName)
    // applyTo(session) must set every conf on a live session
    val prev = StateStoreConf.recommended.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    try {
      StateStoreConf.applyTo(spark)
      StateStoreConf.recommended.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"conf $k not applied") }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("D19: repetition firewall is stateless — stream verdicts equal the batch map") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "spam spam spam spam spam spam"),       // top-2-gram dominates → reject
      (3L, "a b c d e a b c d e a b c d e a b")) // heavy dup-5-grams
    val batch = LogStream.repetitionGateStream(rows.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, String)]
    val name = s"d19_${System.nanoTime()}"
    val q = LogStream.repetitionGateStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() }
      val streamed = spark.table(name).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      val admits = spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(admits(1L) == 1L)
      assert(admits(2L) == 0L, "repeated-phrase doc must be rejected")
    } finally q.stop()
  }

  test("D26: encoding firewall repairs mojibake in-stream and rejects tombstoned docs") {
    import graft.functions.EncodingQa
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "clean ascii row"),
      (2L, "damaged" + EncodingQa.MojiSample),
      (3L, "lost bytes � here"))
    val batch = LogStream.encodingGateStream(rows.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, String)]
    val name = s"d26_${System.nanoTime()}"
    val q = LogStream.encodingGateStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() }
      val streamed = spark.table(name).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      val byId = spark.table(name).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(byId(1L) == ((0L, 0L, 0L, 0L, 1L)))         // untouched, admitted
      assert(byId(2L)._1 == 3L && byId(2L)._3 == 1L &&   // 3 markers, fixed
        byId(2L)._4 == (EncodingQa.MojiSample.length - EncodingQa.CleanSample.length).toLong &&
        byId(2L)._5 == 1L)
      assert(byId(3L) == ((0L, 1L, 0L, 0L, 0L)))          // tombstone → reject
    } finally q.stop()
  }

  test("D27: hive-partitioned stream ingest surfaces and filters the partition column") {
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("d27_hive").toString
    for ((day, d) <- Seq("a", "b", "c").zipWithIndex) {
      val dir = Paths.get(base, s"shard=$day"); Files.createDirectories(dir)
      val text = (0 until 3).map(i =>
        s"""10.0.0.${d * 10 + i} - u$i [05/Feb/2024:10:00:0$i +0000] "GET /p/$i HTTP/1.1" 200 ${100 + i}""")
        .mkString("\n")
      Files.write(dir.resolve("x.txt"), text.getBytes(StandardCharsets.UTF_8))
    }
    val parsed = LogStream.readPartitioned(
        spark, base, base + "/shard=*/*.txt", graft.logs.HttpdLog.CommonFormat)
      .filter(col("shard") =!= "c")
    assert(parsed.columns.contains("shard"))
    val name = s"d27_${System.nanoTime()}"
    val q = parsed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name)
        .groupBy(col("shard").cast("string").as("sh"))
        .agg(count(lit(1)).as("n"), sum("bytes").as("b"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map("a" -> ((3L, 303L)), "b" -> ((3L, 303L))))
      // the partition filter must PRUNE the micro-batch scan, not just
      // drop rows: log_file rides _metadata.file_path (deterministic),
      // so the predicate pushes past the projection into
      // PartitionFilters — the HivePartitionSpec pin, streaming twin
      // (input_file_name() here kept PartitionFilters empty, r13)
      val exec = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      val planStr = exec.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(planStr).isDefined,
        s"shard predicate did not reach PartitionFilters:\n$planStr")
    } finally q.stop()
  }

  test("D30: span corruption is stateless — stream examples equal the batch map") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, (0 until 45).map(i => s"a$i").mkString(" ")), // 2 spans
      (2L, "too short to mask"),
      (3L, ""))
    val batch = LogStream.exampleStream(rows.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, String)]
    val name = s"d30_${System.nanoTime()}"
    val q = LogStream.exampleStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() }
      val streamed = spark.table(name).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      val byId = spark.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
      assert(byId(1L) == ((45, 2, 6)))
      assert(byId(2L) == ((4, 0, 0)))
    } finally q.stop()
  }

  test("D28: html extraction is stateless — stream verdicts equal the batch map") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "<body><nav><a href='/'>x</a></nav><p>body &amp; soul</p></body>"),
      (2L, "<body><script>var a='<p>no</p>';</script><h1>T</h1></body>"),
      (3L, ""))
    val batch = LogStream.htmlExtractStream(rows.toDF("doc_id", "html"))
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, String)]
    val name = s"d28_${System.nanoTime()}"
    val q = LogStream.htmlExtractStream(mem.toDF().toDF("doc_id", "html"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() }
      val streamed = spark.table(name).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      val byId = spark.table(name).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
      // kept_blocks 0 everywhere: nav drops by tag, "body & soul" and
      // "T" by the short/stopword-poor density rule
      assert(byId(1L) == ((2, 0, 12L, 1L))) // "x" (nav) + "body & soul"
      assert(byId(2L) == ((1, 0, 1L, 0L)))  // script content dropped, h1 "T"
      assert(byId(3L) == ((0, 0, 0L, 0L)))
    } finally q.stop()
  }

  test("D22: blocklist firewall is stateless — stream verdicts equal the batch map") {
    implicit val sqlCtx = spark.sqlContext
    val pats = Seq("free money", "click here", "ok word")
    val rows = Seq(
      (1L, "act now for FREE money and free money again"), // 2 hits, 1 pattern
      (2L, "please Click Here to claim"),                  // 1 hit
      (3L, "perfectly clean document"))                    // clean
    val batch = LogStream.blocklistStream(rows.toDF("doc_id", "text"), pats)
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, String)]
    val name = s"d22_${System.nanoTime()}"
    val q = LogStream.blocklistStream(mem.toDF().toDF("doc_id", "text"), pats)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() }
      val streamed = spark.table(name).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      val byId = spark.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
      assert(byId(1L) == ((2L, 1, 21, 0L))) // 'free money' ends at byte 21 of the lowered text
      assert(byId(2L) == ((1L, 1, 16, 0L)))
      assert(byId(3L) == ((0L, 0, -1, 1L)))
    } finally q.stop()
  }

  test("D23: funnel state machine — ordered steps, one transition each, cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // user 1 completes the funnel across batches; user 2's click comes
    // BEFORE any view (must not advance); user 3 never views.
    val batch1 = Seq(
      graft.streaming.FunnelEvent(1L, ts(1), 10L, "view"),
      graft.streaming.FunnelEvent(2L, ts(2), 20L, "click"),
      graft.streaming.FunnelEvent(3L, ts(3), 30L, "error"))
    val batch2 = Seq(
      // arrives before the click in the SEQ but after it in event time:
      // the in-batch (ts, event_id) sort must apply the click first,
      // so this purchase completes the funnel
      graft.streaming.FunnelEvent(1L, ts(5), 11L, "purchase"),
      graft.streaming.FunnelEvent(1L, ts(4), 12L, "click"),
      graft.streaming.FunnelEvent(2L, ts(6), 21L, "view"))
    val batch3 = Seq(
      graft.streaming.FunnelEvent(1L, ts(7), 13L, "purchase"),  // already at 3: no transition
      graft.streaming.FunnelEvent(2L, ts(8), 22L, "purchase")) // ignored: no click after view
    val mem = MemoryStream[graft.streaming.FunnelEvent]
    val name = s"d23_${System.nanoTime()}"
    val q = LogStream.funnelStream(mem.toDS())
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      Seq(batch1, batch2, batch3).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == Set(
        (1L, 0, 10L), (1L, 1, 10L),           // first-seen + view at event 10
        (1L, 2, 12L),                         // click at 12 (in-batch sort)
        (1L, 3, 11L),                         // ts-5 purchase fires after the ts-4 click
        (2L, 0, 20L),                         // first-seen; pre-view click ignored
        (2L, 1, 21L),                         // view later
        (3L, 0, 30L)))                        // seen only
      assert(!got.exists(_._3 == 13L), "terminal stage must not re-emit")
      assert(!got.exists(_._3 == 22L), "purchase without click-after-view must not fire")
    } finally q.stop()
  }

  test("D24: CUSUM drift alarm — cross-batch state equals the Lindley closed form") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val kUp = 10L; val kDn = 5L; val h = 8L
    // src a drifts UP (x ramps past kUp), src b collapses (x → 0)
    val xsA = Seq(9L, 12L, 15L, 18L, 4L, 20L)
    val xsB = Seq(7L, 6L, 1L, 0L, 0L, 9L)
    val events =
      xsA.zipWithIndex.map { case (x, i) =>
        graft.streaming.CusumEvent("a", i.toLong, ts(i), x) } ++
      xsB.zipWithIndex.map { case (x, i) =>
        graft.streaming.CusumEvent("b", i.toLong, ts(i), x) }
    // independent closed-form replay: s_t = c_t − min(0, min_{j≤t} c_j)
    def closedForm(xs: Seq[Long], k: Long, up: Boolean): Seq[Long] = {
      val c = xs.map(x => if (up) x - k else k - x)
        .scanLeft(0L)(_ + _).tail
      c.zipWithIndex.map { case (ct, i) =>
        ct - math.min(0L, c.take(i + 1).min)
      }
    }
    val mem = MemoryStream[graft.streaming.CusumEvent]
    val name = s"d24_${System.nanoTime()}"
    val q = LogStream.cusumStream(mem.toDS(), kUp, kDn, h)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // 3 chunks in event-time order → state must carry across batches
      events.sortBy(e => (e.ts.getTime, e.source)).grouped(4).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val got = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      val upA = closedForm(xsA, kUp, up = true)
      val dnA = closedForm(xsA, kDn, up = false)
      val upB = closedForm(xsB, kUp, up = true)
      val dnB = closedForm(xsB, kDn, up = false)
      xsA.indices.foreach { i =>
        assert(got(("a", i.toLong)) ==
          ((upA(i), dnA(i), if (upA(i) > h) 1L else 0L, if (dnA(i) > h) 1L else 0L)),
          s"src a doc $i")
        assert(got(("b", i.toLong)) ==
          ((upB(i), dnB(i), if (upB(i) > h) 1L else 0L, if (dnB(i) > h) 1L else 0L)),
          s"src b doc $i")
      }
      // the scenario actually exercises both alarms
      assert(upA.exists(_ > h), "src a must trip the upward alarm")
      assert(dnB.exists(_ > h), "src b must trip the downward alarm")
      // max(0,·) floors: the statistic never goes negative
      assert((upA ++ dnA ++ upB ++ dnB).forall(_ >= 0L))
    } finally q.stop()
  }

  test("D25: k-anon gate buffers until the k-th member, flushes across batches, suppresses forever-small groups") {
    implicit val sqlCtx = spark.sqlContext
    def ev(key: String, id: Long, sec: Int) =
      graft.streaming.KAnonEvent(key, id, new java.sql.Timestamp(sec * 1000L))
    val k = 3
    // group A reaches k=3 only in batch 2 (buffer must flush then);
    // group B never reaches k (never emitted); group C reaches k inside
    // ONE batch and a 4th member flows immediately in batch 2
    val batch1 = Seq(ev("A", 1L, 1), ev("A", 2L, 2), ev("B", 10L, 3),
      ev("C", 20L, 6), ev("C", 21L, 4), ev("C", 22L, 5))
    val batch2 = Seq(ev("A", 3L, 7), ev("B", 11L, 8), ev("C", 23L, 9))
    val mem = MemoryStream[graft.streaming.KAnonEvent]
    val name = s"d25_${System.nanoTime()}"
    val q = LogStream.kAnonStream(mem.toDS(), k)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      val afterB1 = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // A is still under k (nothing published); C flushed in event-time
      // order (21@4s, 22@5s, 20@6s)
      assert(afterB1 == Set(("C", 21L, 1L), ("C", 22L, 2L), ("C", 20L, 3L)))
      mem.addData(batch2); q.processAllAvailable()
      val all = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(all == Set(
        ("C", 21L, 1L), ("C", 22L, 2L), ("C", 20L, 3L),
        ("C", 23L, 4L),                                  // post-release: immediate
        ("A", 1L, 1L), ("A", 2L, 2L), ("A", 3L, 3L)))    // cross-batch flush
      assert(!all.exists(_._1 == "B"), "a group that never reaches k stays suppressed")
    } finally q.stop()
  }

  test("D3: streaming dedup runs on the RocksDB state store (the 100 TB/day state backend)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Timestamp)]
      val docs = mem.toDF().toDF("doc_id", "text", "ts")
      val deduped = LogStream.dedupStream(docs, watermarkDelay = "10 minutes")
      val q = deduped.writeStream.format("memory").queryName("d3_rocks_out")
        .outputMode("append").start()
      try {
        mem.addData(
          (1L, "rocksdb backed document", Timestamp.valueOf("2024-01-01 00:00:00")),
          (2L, "rocksdb  backed   document", Timestamp.valueOf("2024-01-01 00:00:30")),
          (3L, "another document entirely", Timestamp.valueOf("2024-01-01 00:01:00")))
        q.processAllAvailable()
        val ids = spark.table("d3_rocks_out").select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 3L))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("D2+D9+D12 parity: HDFS vs RocksDB state stores produce identical results") {
    // the 100 TB streaming story rests on the state backend; the HDFS
    // provider's per-batch file cost is the scaling concern, RocksDB is
    // the production-scale option. This runs the three HARD state
    // shapes — flatMapGroupsWithState with an event-time TIMEOUT firing
    // (q_d2), the banded near-dup LSH state (q_d9), and the metered
    // token-budget counter (q_d12) — under both providers and demands
    // bit-identical result sets.
    implicit val sqlCtx = spark.sqlContext
    def sessionRun(): Set[(String, java.sql.Timestamp, Long, Boolean)] = {
      val mem = MemoryStream[SessionEvent]
      val name = s"parity_s_${System.nanoTime()}"
      val q = LogStream.sessionize(mem.toDS(), gapSeconds = 600, watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        mem.addData(
          SessionEvent("hostA", Timestamp.valueOf("2024-01-01 00:00:00")),
          SessionEvent("hostA", Timestamp.valueOf("2024-01-01 00:03:00")),
          SessionEvent("hostB", Timestamp.valueOf("2024-01-01 00:01:00")))
        q.processAllAvailable()
        // advance the watermark far past hostA/hostB gaps → timeouts fire
        mem.addData(SessionEvent("hostC", Timestamp.valueOf("2024-01-01 02:00:00")))
        q.processAllAvailable()
        mem.addData(SessionEvent("hostC", Timestamp.valueOf("2024-01-01 04:00:00")))
        q.processAllAvailable()
        spark.table(name).as[SessionUpdate].collect()
          .map(u => (u.clientHost, u.sessionStart, u.events, u.closed)).toSet
      } finally q.stop()
    }
    def nearDupRun(): Set[(Long, Int, Long)] = {
      val mem = MemoryStream[(Long, String)]
      val name = s"parity_n_${System.nanoTime()}"
      val q = LogStream.nearDupStream(mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        mem.addData((1L, "alpha beta gamma delta"), (2L, "totally different words here"))
        q.processAllAvailable()
        mem.addData((3L, "alpha beta gamma delta"), (4L, "yet another unique doc"))
        q.processAllAvailable()
        spark.table(name).as[BandOwner].collect()
          .map(b => (b.doc_id, b.band, b.owner)).toSet
      } finally q.stop()
    }
    def underProvider[A](provider: Option[String])(body: => A): A = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    def budgetRun(): Set[(String, Long, Long, Long)] = {
      val mem = MemoryStream[BudgetDoc]
      val name = s"parity_b_${System.nanoTime()}"
      val q = LogStream.budgetStream(mem.toDS(), budgetTokens = 6L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        mem.addData(BudgetDoc("a", 1L, "one two three"), BudgetDoc("b", 2L, "x"))
        q.processAllAvailable()
        mem.addData(BudgetDoc("a", 3L, "four five six overshoot"),
          BudgetDoc("a", 4L, "dropped"), BudgetDoc("b", 5L, "y z"))
        q.processAllAvailable()
        spark.table(name).as[BudgetAdmit].collect()
          .map(a => (a.source, a.doc_id, a.ntok, a.cum_tokens)).toSet
      } finally q.stop()
    }
    val rocks = Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (sessHdfs, nearHdfs, budHdfs) =
      underProvider(None)((sessionRun(), nearDupRun(), budgetRun()))
    val (sessRocks, nearRocks, budRocks) =
      underProvider(rocks)((sessionRun(), nearDupRun(), budgetRun()))
    // r19: Bench/Verify run RocksDB with CHANGELOG CHECKPOINTING
    // (per-batch changelog uploads instead of full snapshots — the
    // production setting); it changes the checkpoint format only, so
    // the same three hard state shapes must stay bit-identical.
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val clPrev = spark.conf.getOption(clKey)
    spark.conf.set(clKey, "true")
    val (sessCl, nearCl, budCl) =
      try underProvider(rocks)((sessionRun(), nearDupRun(), budgetRun()))
      finally clPrev match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    assert(sessHdfs == sessRocks, "sessionize results diverge across state stores")
    assert(nearHdfs == nearRocks, "nearDupStream results diverge across state stores")
    assert(budHdfs == budRocks, "budgetStream results diverge across state stores")
    assert(sessHdfs == sessCl, "sessionize diverges under changelog checkpointing")
    assert(nearHdfs == nearCl, "nearDupStream diverges under changelog checkpointing")
    assert(budHdfs == budCl, "budgetStream diverges under changelog checkpointing")
    assert(budHdfs.exists(_._4 > 6L), "expected an overshooting admission")
    // the timeout actually fired in both runs (closed sessions present)
    assert(sessHdfs.exists(_._4), "expected a watermark-driven session close")
    assert(sessHdfs.collect { case (h, _, e, true) => (h, e) } ==
      sessRocks.collect { case (h, _, e, true) => (h, e) })
  }

  test("D13 parity: windowed CMS sketch state identical across HDFS/RocksDB and batch") {
    // q_d13 stores a custom TypedImperativeAggregate buffer (the
    // depth×width long grid) in the streaming aggregation state store —
    // this pins that CountMinAgg.serialize/deserialize round-trips
    // identically under both providers AND that merging a later
    // micro-batch into existing window state equals the batch compute.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.CountMin
    val depth = 4; val width = 64
    val chunk1 = Seq(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "alpha"),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "beta"),
      (Timestamp.valueOf("2024-01-01 00:11:00"), "alpha"))
    val chunk2 = Seq(
      (Timestamp.valueOf("2024-01-01 00:03:00"), "alpha"),
      (Timestamp.valueOf("2024-01-01 00:12:00"), "gamma"))
    def aggOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "10 minutes").as("win"))
      .agg(
        CountMin.sketchAgg(CountMin.buckets(col("w"), depth, width), depth, width).as("sk"),
        count(lit(1)).as("n"))
      .select(col("win.start").as("ws"), col("n"), col("sk"))
    def run(provider: Option[String]): Seq[(Timestamp, Long, Seq[Long])] = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try {
        val mem = MemoryStream[(Timestamp, String)]
        val name = s"d13_parity_${System.nanoTime()}"
        val q = aggOf(mem.toDF().toDF("ts", "w")).writeStream
          .format("memory").queryName(name).outputMode("complete").start()
        try {
          mem.addData(chunk1: _*)
          q.processAllAvailable()
          mem.addData(chunk2: _*) // re-opens both windows → state merge path
          q.processAllAvailable()
          spark.table(name).collect()
            .map(r => (r.getTimestamp(0), r.getLong(1), r.getSeq[Long](2)))
            .sortBy(_._1.getTime).toSeq
        } finally q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val hdfs = run(None)
    val rocks = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(hdfs == rocks, "CMS streaming state diverges across state stores")
    val batch = aggOf((chunk1 ++ chunk2).toDF("ts", "w")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1.getTime).toSeq
    assert(hdfs == batch, "streaming CMS state diverges from the batch aggregate")
    assert(hdfs.size == 2 && hdfs.forall { case (_, n, sk) => sk.sum == depth * n })
  }

  test("D2: flatMapGroupsWithState sessionization accumulates per client") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val sessions = LogStream.sessionize(mem.toDS(), gapSeconds = 1800)
    val q = sessions.writeStream.format("memory").queryName("d2_out").outputMode("append").start()
    try {
      mem.addData(
        SessionEvent("hostA", Timestamp.valueOf("2024-01-01 00:00:00")),
        SessionEvent("hostA", Timestamp.valueOf("2024-01-01 00:05:00")),
        SessionEvent("hostB", Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent("hostA", Timestamp.valueOf("2024-01-01 00:10:00")))
      q.processAllAvailable()
      val byHost = spark.table("d2_out").as[SessionUpdate].collect()
        .groupBy(_.clientHost)
      assert(byHost("hostA").map(_.events).max == 3L)
      assert(byHost("hostB").map(_.events).max == 1L)
      assert(byHost("hostA").forall(_.sessionStart == Timestamp.valueOf("2024-01-01 00:00:00")))
    } finally q.stop()
  }

  test("D5: stream-stream attribution join matches across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[AttrEvent]
    val purchases = MemoryStream[AttrEvent]
    val joined = LogStream.attributionJoin(clicks.toDF(), purchases.toDF(), 3600L)
    val q = joined.writeStream.format("memory").queryName("d5_out")
      .outputMode("append").start()
    try {
      // batch 1: two clicks, one purchase 30 min after click 10 (in-batch pair)
      clicks.addData(
        AttrEvent(10L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")),
        AttrEvent(11L, 2L, Timestamp.valueOf("2024-01-01 00:30:00")))
      purchases.addData(AttrEvent(20L, 1L, Timestamp.valueOf("2024-01-01 00:30:00")))
      q.processAllAvailable()
      // batch 2: purchase for user 2 fifty minutes after its buffered click
      // (cross-batch), plus one outside the window and one wrong-user
      purchases.addData(
        AttrEvent(21L, 2L, Timestamp.valueOf("2024-01-01 01:20:00")),
        AttrEvent(22L, 1L, Timestamp.valueOf("2024-01-01 02:00:00")), // >1h after click 10
        AttrEvent(23L, 9L, Timestamp.valueOf("2024-01-01 00:40:00")))
      q.processAllAvailable()
      val pairs = spark.table("d5_out").select("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((20L, 10L), (21L, 11L)))
    } finally q.stop()
  }

  test("D8: streaming quota admits first N per key across micro-batches, one counter of state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[QuotaEvent]
    val admitted = LogStream.quotaStream(mem.toDS(), maxPerKey = 2)
    val q = admitted.writeStream.format("memory").queryName("d8_out")
      .outputMode("append").start()
    try {
      // batch 1: a has room for both (admitted in (ts, id) order even
      // though fed out of order); b admits its single row
      mem.addData(
        QuotaEvent("a", 2L, Timestamp.valueOf("2024-01-01 00:01:00")),
        QuotaEvent("a", 1L, Timestamp.valueOf("2024-01-01 00:00:00")),
        QuotaEvent("b", 3L, Timestamp.valueOf("2024-01-01 00:00:30")))
      q.processAllAvailable()
      // batch 2: a is exhausted (row dropped); b admits one more and
      // drops the third
      mem.addData(
        QuotaEvent("a", 4L, Timestamp.valueOf("2024-01-01 00:02:00")),
        QuotaEvent("b", 5L, Timestamp.valueOf("2024-01-01 00:02:00")),
        QuotaEvent("b", 6L, Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val out = spark.table("d8_out").as[QuotaAdmit].collect()
        .map(a => (a.key, a.id, a.quota_rank)).toSet
      assert(out == Set(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 1L), ("b", 5L, 2L)))
    } finally q.stop()
  }

  test("D12: streaming token budget meters per source across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BudgetDoc]
    val admitted = LogStream.budgetStream(mem.toDS(), budgetTokens = 5L)
    val q = admitted.writeStream.format("memory").queryName("d12_out")
      .outputMode("append").start()
    try {
      // batch 1: src a admits docs 1 (3 tokens, used 3 < 5) and 2 —
      // used was 3 < 5 at arrival, so it admits and OVERSHOOTS to 7
      // (the greedy rule); doc 3 arrives with used 7 ≥ 5 → dropped.
      // In-batch admission order is doc_id even when fed out of order.
      mem.addData(
        BudgetDoc("a", 2L, "four tokens right here"),
        BudgetDoc("a", 1L, "one two three"),
        BudgetDoc("a", 3L, "late"),
        BudgetDoc("b", 4L, "only two"))
      q.processAllAvailable()
      // batch 2: a stays exhausted (state, not batch-local); b has
      // used 2 < 5 and admits the overshooting doc 5
      mem.addData(
        BudgetDoc("a", 5L, "still dropped"),
        BudgetDoc("b", 5L, "five more words land here"))
      q.processAllAvailable()
      val out = spark.table("d12_out").as[BudgetAdmit].collect()
        .map(a => (a.source, a.doc_id, a.ntok, a.cum_tokens)).toSet
      assert(out == Set(
        ("a", 1L, 3L, 3L), ("a", 2L, 4L, 7L),
        ("b", 4L, 2L, 2L), ("b", 5L, 5L, 7L)))
    } finally q.stop()
  }

  test("D9: streaming near-dup drops exact copies across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CorpusDoc]
    val verdicts = LogStream.nearDupStream(mem.toDF())
    val q = verdicts.writeStream.format("memory").queryName("d9_out")
      .outputMode("append").start()
    def droppedSet = spark.table("d9_out")
      .groupBy("doc_id").agg(min("owner").as("o"))
      .filter($"o" < $"doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    try {
      // batch 1: three distinct docs + an in-batch exact copy of doc 1
      mem.addData(
        CorpusDoc(1L, "the quick brown fox jumps over the lazy dog"),
        CorpusDoc(2L, "completely different text about spark streaming state"),
        CorpusDoc(3L, "a third unrelated document mentioning parquet files"),
        CorpusDoc(4L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      assert(droppedSet == Set(4L), "in-batch copy drops against its original")
      // batch 2: a copy of doc 2 must drop against STATE from batch 1,
      // and a fresh doc must survive
      mem.addData(
        CorpusDoc(10L, "completely different text about spark streaming state"),
        CorpusDoc(11L, "yet another genuinely novel piece of content here"))
      q.processAllAvailable()
      assert(droppedSet == Set(4L, 10L), "cross-batch copy drops via kept state")
      // owners name the ORIGINAL doc, not just any earlier one
      val owners = spark.table("d9_out").groupBy("doc_id").agg(min("owner").as("o"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(owners(4L) == 1L && owners(10L) == 2L)
    } finally q.stop()
  }

  test("D10: streamed ANN serving == batch ivfTopKSeeded, bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val corpus = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextInt(2000).toLong - 1000))).toDF("vec_id", "qv")
    val queries = corpus.filter($"vec_id" < 4)
    val batch = graft.operators.Similarity
      .ivfTopKSeeded(corpus, queries, "vec_id", "qv", k = 3, nSeeds = 8, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val mem = MemoryStream[QueryVec]
    val served = AnnStream.ivfServe(mem.toDF(), corpus, "vec_id", "qv",
      k = 3, nSeeds = 8, probes = 2)
    val q = served.writeStream.format("memory").queryName("d10_out")
      .outputMode("append").start()
    try {
      val qRows = queries.collect().map(r => QueryVec(r.getLong(0), r.getSeq[Long](1)))
      // two micro-batches: serving must not depend on arrival batching
      mem.addData(qRows.take(2).toIndexedSeq); q.processAllAvailable()
      mem.addData(qRows.drop(2).toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("d10_out").as[AnnResult].collect()
        .map(a => (a.query_id, a.neighbor_id, a.cosine, a.rank)).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("D16: streaming scoring equals the batch map and admits by sign") {
    implicit val sqlCtx = spark.sqlContext
    val w = Array.tabulate(32)(i => (i * 7 - 100).toLong)
    val docs = (0 until 60).map(i => CorpusDoc(i.toLong,
      s"word$i tok${i % 9} filler${i % 4}"))
    val batchScores = LogStream.scoreStream(
        docs.toDF(), "doc_id", "text", w, bias = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchScores.forall { case (_, m, a) => a == (if (m > 0) 1L else 0L) })
    val mem = MemoryStream[CorpusDoc]
    val name = s"d16_${System.nanoTime()}"
    val q = LogStream.scoreStream(mem.toDF(), "doc_id", "text", w, bias = 5L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      docs.grouped(20).foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
      val streamed = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batchScores, "streamed scores diverge from the batch map")
    } finally q.stop()
  }

  test("D15: streaming bottom-k sample equals the batch bottom-k under ANY feed order") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val docs = (0 until 200).map(i =>
      SampleDoc(s"s${i % 2}", i.toLong, s"doc $i body ${rnd.nextInt(100000)}"))
    def h52(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16)
    }
    val k = 8
    val expect = docs.groupBy(_.source).flatMap { case (src, ds) =>
      ds.map(d => (h52(d.text), d.doc_id)).sortBy(identity).take(k)
        .zipWithIndex.map { case ((h, id), i) => (src, (i + 1).toLong, id, h) }
    }.toSet
    def run(order: Seq[SampleDoc]): (Set[(String, Long, Long, Long)], Long) = {
      val mem = MemoryStream[SampleDoc]
      val name = s"d15_${System.nanoTime()}"
      val q = LogStream.sampleStream(mem.toDS(), k)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        order.grouped(50).foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
        val admitted = spark.table(name).as[SampleAdmit].collect()
        val fin = admitted.groupBy(_.source).flatMap { case (src, as) =>
          as.toSeq.map(a => (a.h, a.doc_id)).sortBy(identity).take(k)
            .zipWithIndex.map { case ((h, id), i) => (src, (i + 1).toLong, id, h) }
        }.toSet
        (fin, admitted.length.toLong)
      } finally q.stop()
    }
    val (finSorted, nSorted) = run(docs.sortBy(_.doc_id))
    val (finRev, nRev) = run(docs.sortBy(d => -d.doc_id))
    assert(finSorted == expect, "sorted-order final sample != batch bottom-k")
    assert(finRev == expect, "reversed-order final sample != batch bottom-k")
    // the admitted superset is order-dependent but far below n:
    // expected ≈ 2·k·(1+ln(100/k)) ≈ 56 per 200 docs
    assert(nSorted < 150 && nRev < 150, s"superset too large: $nSorted / $nRev")
    assert(nSorted >= 2L * k && nRev >= 2L * k)
  }

  test("D36: streaming archive dedup — first arrival owns across micro-batches; records hydrate back") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)] // (ord, url, text)
    val fetches = mem.toDF().toDF("ord", "url", "text")
      .select(col("url"),
        concat(lit("<urn:uuid:"), col("ord").cast("string"), lit(">")).as("rid"),
        lit("2026-01-01T00:00:00Z").as("dt"), lit(200).as("st"),
        lit("text/plain").as("mi"), col("text").cast("binary").as("pl"),
        col("ord"))
    val recs = LogStream.archiveDedupStream(fetches, "url", "rid", "dt",
      "st", "mi", "pl", "ord")
    val q = recs.writeStream.format("memory").queryName("d36_out")
      .outputMode("append").start()
    try {
      // batch 0: two fetches of X (same payload) + one of Y
      mem.addData((1L, "http://x/1", "payload X"), (2L, "http://x/2", "payload X"),
        (3L, "http://x/3", "payload Y"))
      q.processAllAvailable()
      // batch 1: X again (cross-batch state) + a null payload
      mem.addData((4L, "http://x/4", "payload X"),
        (5L, "http://x/5", null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("d36_out").orderBy("ord").collect()
    assert(out.map(r => (r.getAs[Long]("ord"), r.getAs[Boolean]("is_owner"),
      r.getAs[String]("own_rid"))).toSeq == Seq(
      (1L, true, "<urn:uuid:1>"), (2L, false, "<urn:uuid:1>"),
      (3L, true, "<urn:uuid:3>"),
      (4L, false, "<urn:uuid:1>"), // cross-batch revisit of batch-0 owner
      (5L, true, "<urn:uuid:5>")))
    assert(out.filter(!_.getAs[Boolean]("is_owner"))
      .forall(_.getAs[Long]("saved_bytes") == "payload X".length.toLong))
    // emitted bytes are the SAME record builders as batch C128: frame
    // them back and hydrate — revisits recover the owner payload
    val framed = spark.table("d36_out").select(
        org.apache.spark.sql.functions.explode(
          graft.functions.WarcRecords(col("rec"))).as("r"))
      .select(col("r.*"))
    val hyd = graft.sources.Warc.hydrateRevisits(framed)
      .orderBy("record_id").collect()
    assert(hyd.length == 5)
    assert(hyd.filter(_.getAs[String]("warc_type") == "revisit")
      .forall(r => r.getAs[String]("payload") == "payload X" &&
        r.getAs[Boolean]("digest_ok")))
  }

  test("D36: retention evicts idle families — the next fetch re-admits as a NEW owner") {
    // r18 verdict #6: NoTimeout state is O(distinct payloads) forever;
    // with retention, a family whose last fetch is older than the
    // horizon (by watermark) evicts, and identical bytes re-admit as a
    // new owner. Timeline (retention 10s, watermark delay 0):
    //   t0      : X owner (rid 1)
    //   t0 + 30 : Z owner — advances the watermark past X's horizon;
    //             the no-data batch fires X's timeout (q_d2 truths)
    //   t0 + 35 : X again — state evicted → NEW owner, not a revisit
    //   t0 + 36 : Z again — within Z's horizon → revisit (refreshed)
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def ts(offS: Int) = new java.sql.Timestamp(t0 + offS * 1000L)
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val fetches = mem.toDF().toDF("ord", "url", "text", "ets")
      .select(col("url"),
        concat(lit("<urn:uuid:"), col("ord").cast("string"), lit(">")).as("rid"),
        lit("2026-01-01T00:00:00Z").as("dt"), lit(200).as("st"),
        lit("text/plain").as("mi"), col("text").cast("binary").as("pl"),
        col("ord"), col("ets"))
    val recs = LogStream.archiveDedupStream(fetches, "url", "rid", "dt",
      "st", "mi", "pl", "ord", eventTimeCol = "ets", retentionMs = 10000L)
    val q = recs.writeStream.format("memory").queryName("d36_ret")
      .outputMode("append").start()
    try {
      mem.addData((1L, "http://x/1", "payload X", ts(0)))
      q.processAllAvailable()
      mem.addData((2L, "http://x/2", "payload Z", ts(30)))
      q.processAllAvailable()
      mem.addData((3L, "http://x/3", "payload X", ts(35)))
      q.processAllAvailable()
      mem.addData((4L, "http://x/4", "payload Z", ts(36)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("d36_ret").orderBy("ord").collect()
      .map(r => (r.getAs[Long]("ord"), r.getAs[Boolean]("is_owner"),
        r.getAs[String]("own_rid"))).toSeq
    assert(out == Seq(
      (1L, true, "<urn:uuid:1>"),
      (2L, true, "<urn:uuid:2>"),
      (3L, true, "<urn:uuid:3>"), // evicted family re-admits as owner
      (4L, false, "<urn:uuid:2>")), // refreshed family stays a revisit
      out)
  }

  /** D36 over (ord, url, text, ms) chunks through a parquet file
   * source to the WARC member sink: each chunk is one micro-batch; the
   * query runs AvailableNow after chunk `killAfter` ("kill") and resumes
   * from the same checkpoint over the rest (0 = one uninterrupted run).
   * `retentionMs` ≥ 0 turns on eviction with `ms` as event time.
   * Returns target_uri -> (warc_type, refers_to). */
  private def archiveResume(chunks: Seq[Seq[(Long, String, String, Long)]],
      killAfter: Int, retentionMs: Long = -1L): Map[String, (String, String)] = {
    val root = java.nio.file.Files.createTempDirectory("graft_d36r_").toFile
    root.deleteOnExit()
    val src = new File(root, "src").getAbsolutePath
    val out = new File(root, "out").getAbsolutePath
    def go(): Unit = {
      val sch = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/part-*")
        .select(col("url"),
          concat(lit("<urn:uuid:"), col("ord").cast("string"), lit(">"))
            .as("rid"),
          lit("2026-01-01T00:00:00Z").as("dt"), lit(200).as("st"),
          lit("text/plain").as("mi"), col("text").cast("binary").as("pl"),
          col("ord"), (col("ms") / 1000).cast("timestamp").as("ets"))
      val recs = LogStream.archiveDedupStream(stream, "url", "rid", "dt",
        "st", "mi", "pl", "ord", eventTimeCol = "ets", retentionMs = retentionMs)
      graft.sources.Warc.streamMemberWriter(recs.select(col("rec")), "rec", out, "arc")
        .option("checkpointLocation", new File(root, "ckpt").getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("ord", "url", "text", "ms").coalesce(1)
        .write.mode("append").parquet(src)
      if (i + 1 == killAfter) go() // "kill" here, resume later
    }
    go()
    graft.sources.Warc.read(spark, out).collect()
      .map(r => r.getAs[String]("target_uri") ->
        (r.getAs[String]("warc_type"), r.getAs[String]("refers_to")))
      .toMap
  }

  test("D36: kill-resume across the eviction boundary stays hash-stable") {
    // The interrupted run (restart between the eviction-driving batch
    // and the re-fetch) must produce the SAME records as one
    // uninterrupted run over the same files — watermark and timeout
    // state restore from the checkpoint.
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    val chunks = Seq(
      Seq((1L, "http://x/1", "payload X", t0)),
      Seq((2L, "http://x/2", "payload Z", t0 + 30000L)),
      Seq((3L, "http://x/3", "payload W", t0 + 31000L)),
      Seq((4L, "http://x/4", "payload X", t0 + 35000L)))
    // A: restart right after the watermark-advancing batch (the
    // eviction boundary); B: one uninterrupted run
    val a = archiveResume(chunks, killAfter = 2, retentionMs = 10000L)
    val b = archiveResume(chunks, killAfter = 0, retentionMs = 10000L)
    assert(a == b, s"interrupted vs uninterrupted:\n$a\n$b")
    // and the boundary semantics themselves: the post-horizon X
    // re-fetch is a NEW OWNER (response), not a revisit
    assert(a("http://x/4")._1 == "response", a)
  }

  /** Owner of payload X before the kill, a re-fetch of X after it. */
  private val ownerResumeChunks = Seq(
    Seq((1L, "http://x/1", "payload X", 0L)),
    Seq((2L, "http://x/2", "payload X", 0L)))

  test("D36: owner state survives kill-and-resume from the checkpoint") {
    // The production property the MemoryStream case cannot show: a
    // RESTARTED query restores the (payload -> owner) state from the
    // state store, so a post-restart fetch of a pre-restart payload
    // still becomes a revisit — not a second owner.
    val back = archiveResume(ownerResumeChunks, killAfter = 1)
    assert(back("http://x/1")._1 == "response")
    // the restart restored state: the re-fetch is a revisit of the
    // PRE-RESTART owner, and its refers_to names that owner's rid
    assert(back("http://x/2") == (("revisit", "<urn:uuid:1>")), back)
  }

  test("D36: kill-and-resume under RocksDB changelog checkpointing (the Bench/Verify conf)") {
    // r19: Bench/Verify enable rocksdb.changelogCheckpointing; the
    // riskiest path is a RESTART that must restore state from a
    // changelog-style checkpoint (not a full snapshot). Same sequence
    // as the kill-resume case above, under the exact harness confs.
    graft.operators.Scoped.withConf(spark, StateStoreConf.recommended: _*) {
      val back = archiveResume(ownerResumeChunks, killAfter = 1)
      assert(back("http://x/1")._1 == "response")
      assert(back("http://x/2") == (("revisit", "<urn:uuid:1>")), back)
    }
  }
}
