package graft.queries

import graft.functions.{BloomFunctions => BF, TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Round-3 training-data-pipeline queries (SURVEY.md §2 C13-C18): PII
 * redaction, deterministic splits/sampling, sentence-level dedup,
 * benchmark-contamination checks, bloom membership. Synthetic PII /
 * contamination is planted deterministically from doc_id so every
 * result is DuckDB-oracle-checkable; all hot paths are built-in
 * codegen'd expressions over the parallelized documents table.
 */
object PipeQueries {

  private def docsPar(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  /** C109/D28 synthetic page: fixed chrome around the entity-encoded
   * ASCII-sanitized text — every block analytic from (doc_id, text),
   * so the oracle replays extraction without an HTML parser. Shared
   * by the batch query and the D28 stream twin (same oracle). */
  private[queries] def syntheticHtml(
      idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val a = regexp_replace(coalesce(textCol, lit("")), "[^ -~]", "")
    val enc = regexp_replace(regexp_replace(regexp_replace(
      a, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val idStr = idCol.cast(StringType)
    concat(
      lit("<html><head><title>Doc "), idStr,
      lit("</title><script type=\"text/javascript\">var id="), idStr,
      lit("; if (id > 1) { alert(\"<p>not text</p>\"); }</script>" +
        "<style>.main > p { color: red; }</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About &amp; more</a></nav>" +
        "<h1>Doc &quot;"), idStr,
      lit("&quot;</h1><!-- comment with <p>fake</p> tags -->" +
        "<div class=\"main\"><p>"), enc,
      lit("</p><p>Numeric &#65;&#x42; entities &amp; more</p></div>" +
        "<footer><a href=\"/tos\">Terms</a> &#169; 2026 &#8482;</footer>" +
        "</body></html>"))
  }

  /** C111/D29 synthetic WARC segment: warcinfo + an HTTP response
   * wrapping the [[syntheticHtml]] page, byte-exact Content-Length
   * framing via octet_length — a one-byte framing error misparses
   * record 2 and fails loudly. Shared by the batch query and the D29
   * stream twin (same oracle). */
  private[queries] def syntheticWarc(
      idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val html = syntheticHtml(idCol, textCol)
    val idStr = idCol.cast(StringType)
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
        "\r\nContent-Length: "),
      octet_length(html).cast(StringType), lit("\r\n\r\n"), html)
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Type: application/warc-fields\r\nContent-Length: 16\r\n\r\n" +
      "software: graft\n\r\n\r\n"
    concat(
      lit(info + "WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: http://example.com/doc/"), idStr,
      lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
        "WARC-Record-ID: <urn:uuid:"), idStr,
      lit(">\r\nContent-Type: application/http;msgtype=response\r\n" +
        "Content-Length: "),
      octet_length(http).cast(StringType), lit("\r\n\r\n"), http,
      lit("\r\n\r\n"))
  }

  /** q_c111b member-charset plants: member 1 is latin-1 (declared via
   * the HTTP charset param), member 2 is cp1252 (declared ONLY via a
   * `<meta charset>` tag — exercises the body sniff); both get a
   * non-ASCII marker appended inside the main paragraph so a decoder
   * that assumes UTF-8 tombstones it and fails the md5. Members 0/3
   * stay the plain charset=utf-8 segments. */
  private val MarkerLatin = " café être"
  private val MarkerCp = " café ’smart“ ™"

  /** Driver-side BYTE-grain twin of [[syntheticWarc]] for the q_c111b
   * archive fixture: the same chrome and framing, but the HTML encodes
   * with the member's charset and both Content-Lengths count THOSE
   * octets — so latin-1/cp1252 members are byte-exact on disk and the
   * oracle replays the decode analytically from (doc_id, text). */
  private def memberSegmentBytes(id: Long, text: String): Array[Byte] = {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
    val m = (id % 4).toInt
    val (cs, ctHeader, marker, meta) = m match {
      case 1 => (ISO_8859_1, "text/html; charset=iso-8859-1", MarkerLatin, "")
      case 2 => (java.nio.charset.Charset.forName("windows-1252"),
        "text/html", MarkerCp, "<meta charset=\"windows-1252\">")
      case _ => (UTF_8, "text/html; charset=utf-8", "", "")
    }
    val a = Option(text).getOrElse("").replaceAll("[^ -~]", "")
    val enc = a.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val html = "<html><head><title>Doc " + id + "</title>" + meta +
      "<script type=\"text/javascript\">var id=" + id +
      "; if (id > 1) { alert(\"<p>not text</p>\"); }</script>" +
      "<style>.main > p { color: red; }</style></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About &amp; more</a></nav>" +
      "<h1>Doc &quot;" + id + "&quot;</h1><!-- comment with <p>fake</p> tags -->" +
      "<div class=\"main\"><p>" + enc + marker +
      "</p><p>Numeric &#65;&#x42; entities &amp; more</p></div>" +
      "<footer><a href=\"/tos\">Terms</a> &#169; 2026 &#8482;</footer>" +
      "</body></html>"
    val htmlBytes = html.getBytes(cs)
    val httpHead = ("HTTP/1.1 200 OK\r\nContent-Type: " + ctHeader +
      "\r\nContent-Length: " + htmlBytes.length + "\r\n\r\n").getBytes(US_ASCII)
    val httpLen = httpHead.length + htmlBytes.length
    val pre = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Type: application/warc-fields\r\nContent-Length: 16\r\n\r\n" +
      "software: graft\n\r\n\r\n" +
      "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://example.com/doc/" + id +
      "\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:uuid:" + id +
      ">\r\nContent-Type: application/http;msgtype=response\r\n" +
      "Content-Length: " + httpLen + "\r\n\r\n").getBytes(US_ASCII)
    pre ++ httpHead ++ htmlBytes ++ "\r\n\r\n".getBytes(US_ASCII)
  }

  /** Build (or refresh) a .warc.gz member-archive fixture for `dir`'s
   * documents under /tmp: members routed by doc_id % 4 with the C111d
   * charset plants ([[memberSegmentBytes]]), one gzip stream per
   * member, segments concatenated in id order. `dupEvery > 0` appends
   * a re-crawl DUPLICATE of every dupEvery-th doc's whole segment
   * after its member's originals (in id order — the C111c
   * archive-grain dedup plant). The dir is keyed on the FULL dataset
   * path (hashCode could collide across dirs — r15 advice) and
   * rewritten every call so it can never go stale; write-then-rename
   * with the PID in the tmp name keeps concurrent JVMs from
   * interleaving (r15 advice). Returns the fixture directory. */
  private def warcFixture(
      s: SparkSession, dir: String, prefix: String, dupEvery: Int): String = {
    val segs = docsPar(s, dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val outDir = new java.io.File(s"/tmp/${prefix}_" +
      java.net.URLEncoder.encode(dir, "UTF-8"))
    outDir.mkdirs()
    segs.groupBy(_._1 % 4).foreach { case (m, rows) =>
      val tmp = new java.io.File(outDir,
        s".member$m.warc.gz.${ProcessHandle.current().pid()}.tmp")
      val fin = new java.io.File(outDir, s"member$m.warc.gz")
      // BEST_SPEED: the fixture is rewritten per call and its gzip is
      // the dominant driver-side cost at the tiers (q_c111c x100 read
      // 20.5 s mostly here); the reader sniffs any deflate level
      val os = new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(tmp)) {
        `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
      }
      try {
        rows.foreach(r => os.write(memberSegmentBytes(r._1, r._2)))
        if (dupEvery > 0) rows.filter(_._1 % dupEvery == 0)
          .foreach(r => os.write(memberSegmentBytes(r._1, r._2)))
      } finally os.close()
      java.nio.file.Files.move(tmp.toPath, fin.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    outDir.getAbsolutePath
  }

  /** C119 input: the C116 examples' token mass — input (n − masked +
   * n_spans) + target (masked + n_spans) + 1 EOS = n + 2·n_spans + 1
   * with n_spans = n div 20 (the q_c116 contract, ExampleBuildSpec-
   * pinned), so the mass is pure token-count arithmetic: building the
   * example STRINGS to read three ints cost ~half the ×100 runtime. */
  private def c119Examples(s: SparkSession, dir: String): DataFrame =
    docsPar(s, dir)
      .select(col("doc_id"),
        TF.tokenCount(col("text")).cast(LongType).as("__n"))
      .select(col("doc_id"),
        (col("__n") + expr("__n div 20") * 2 + 1).as("ex_tokens"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C50: temperature-scaled mixture solver — per-source √(tokens)
    // weights, token targets for a fixed budget, ppm admission rates,
    // and the deterministic content-hash application of those rates.
    "q_c50_temp_mixture" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .temperatureMixture(docsPar(s, dir), budgetTokens = 100000L)
        .orderBy("source")
    }),

    // C51: exact ROC-AUC of the hashed linear classifier's score
    // against an independent label (is the doc English?) — the QA gate
    // before a scorer filters 100 TB. Tie-aware Mann–Whitney rank sum,
    // integer-exact via 2·R⁺, distributed prefix sum over distinct
    // scores (no global single-task rank).
    "q_c51_auc" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val scored = graft.operators.CorpusPipeline
        .scoreLinearHashed(d, "doc_id", "text")
      val labeled = scored.join(
        d.select(col("doc_id"),
          coalesce((col("lang") === "en").cast(LongType), lit(0L)).as("y")),
        "doc_id")
      graft.operators.Evaluation.exactAuc(labeled, "lin_score", "y")
    }),

    // C52: normalized-text exact dedup — case/punctuation/reflow
    // variants (planted for 1-of-7 docs) collapse onto their originals
    // under the canonical form; min-id row survives.
    "q_c52_norm_dedup" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "text")
      val variants = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!!")).as("text"))
      val all = d.union(variants)
        .withColumn("norm", TF.normalizeText(col("text")))
      graft.operators.Dedup.exact(all, "norm", "doc_id")
        .agg(count(lit(1)).as("survivors"), sum("doc_id").as("sum_ids"))
    }),

    // C53: content-defined-chunk dedup — SHIFTED copies (prefix
    // prepended, 1-of-6 docs) still share every chunk after the first
    // re-aligned boundary; fixed blocks would share nothing. The
    // oracle replays boundaries over exact strings and the counts
    // hash-match.
    "q_c53_cdc_dedup" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(lit("shifted prefix goes here "), col("text")).as("text"))
      graft.operators.CorpusPipeline
        .cdcDedupStats(d.union(planted), "doc_id", "text",
          window = 4, modulus = 8)
        .groupBy(when(col("doc_id") >= 500000L, "planted").otherwise("orig")
          .as("bucket"))
        .agg(
          count(lit(1)).as("docs"),
          sum("n_chunks").as("n_chunks"),
          sum("dup_chunks").as("dup_chunks"),
          sum("dup_tokens").as("dup_tokens"))
        .orderBy("bucket")
    }),

    // C56: snapshot diff — "today's" corpus drops 1-of-11 docs,
    // rewrites 1-of-7 (non-dropped), and adds 1-of-13 under new ids;
    // the diff must classify every id exactly.
    "q_c56_snapshot_diff" -> ((s, dir) => {
      val old = docsPar(s, dir).select("doc_id", "text")
      val newer = old.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .union(old.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 600000L).as("doc_id"), col("text")))
      graft.operators.CorpusPipeline.snapshotDiff(old, newer)
        .groupBy("status")
        .agg(count(lit(1)).as("docs"), sum("doc_id").as("sum_ids"))
        .orderBy("status")
    }),

    // C57: PageRank over the customer↔supplier trade graph (both edge
    // directions) — the crawl-graph "domain authority" shape: 3
    // fixed-point integer rounds, every round one slim (node, rank)
    // shuffle against the persisted degree-annotated edge list.
    "q_c57_pagerank" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val fwd = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      // both directions in ONE pass over the join (a union of fwd with
      // its reverse would run the orders⋈lineitem join twice)
      val edges = fwd.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(15)
    }),

    // C58: Count-Min sketch vs exact counts — the mergeable
    // fixed-size frequency state; estimates for the exact top-20
    // tokens must dominate their true counts (overcount >= 0 always).
    "q_c58_cms_topk" -> ((s, dir) => {
      import graft.functions.CountMin
      val depth = 4; val width = 1024
      val tok = docsPar(s, dir).select(explode(TF.tokens(col("text"))).as("w"))
      val sketch = tok
        .select(CountMin.sketchAgg(CountMin.buckets(col("w"), depth, width), depth, width)
          .as("sk"))
        .head().getSeq[Long](0).toArray
      tok.groupBy("w").agg(count(lit(1)).as("exact_c"))
        .orderBy(col("exact_c").desc, col("w")).limit(20)
        .withColumn("cms_est", CountMin.estimate(sketch, col("w"), depth, width))
        .withColumn("overcount", col("cms_est") - col("exact_c"))
        .orderBy(col("exact_c").desc, col("w"))
    }),

    // C59: DSIR-shaped importance scoring — target = English docs; the
    // top-ranked rows should be overwhelmingly lang='en' (the lang
    // column rides along as the validation signal).
    "q_c59_importance" -> ((s, dir) => {
      val d = docsPar(s, dir).withColumn("is_target", (col("lang") === "en").cast("int"))
      graft.operators.CorpusPipeline
        .importanceScore(d, "doc_id", "text", "is_target", buckets = 65536)
        .join(d.select("doc_id", "lang"), "doc_id")
        .orderBy(col("imp_ppm").desc, col("doc_id")).limit(20)
        .select("doc_id", "lang", "n_feats", "imp_ppm")
    }),

    // C60: per-source lexical diversity (vocab size, TTR, hapax count,
    // Simpson repeat rate) — the boilerplate-source detector.
    "q_c60_diversity" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .diversityStats(docsPar(s, dir))
        .orderBy("source")
    }),

    // C61: pairwise source-overlap matrix — shared distinct 3-grams and
    // integer Jaccard per source pair, from ONE bitmask aggregate (the
    // oracle replays it as the quadratic distinct-gram self-join).
    "q_c61_source_overlap" -> ((s, dir) => {
      graft.operators.CorpusPipeline.sourceOverlap(docsPar(s, dir), n = 3)
        .orderBy("src_a", "src_b")
    }),

    // C62: incremental near-dup — today's "crawl" = appended-token
    // mutations of 1-of-5 corpus docs (near-dups the index must catch:
    // word-Jaccard 1.0, shingle similarity ~0.98) + disjoint-vocab
    // novel docs (1-of-9, must pass untouched). The planted-invariant
    // oracle (q_c2 style): every mutation matches exactly its origin,
    // every novel matches nothing.
    "q_c62_incremental_neardup" -> ((s, dir) => {
      val old = docsPar(s, dir).select("doc_id", "text")
      val mutated = old.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat(col("text"), lit(" "),
            element_at(TF.tokens(col("text")), 1)).as("text"))
      val novel = old.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 800000L).as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(9)),
            k => concat(lit("nv"), col("doc_id"), lit("_"), k))).as("text"))
      // counts are the deterministic invariant: every mutation verifies
      // against its origin (word-Jaccard 1.0), every novel verifies
      // against nothing. WHICH old id wins min-tie-break is corpus-
      // dependent on this shared-vocab synthetic data (two corpus docs
      // can share a word set), so the id itself is spec-pinned on a
      // controlled corpus, not oracle-pinned here.
      graft.operators.Dedup
        .incrementalNearDup(old, mutated.union(novel), "doc_id", "text",
          threshold = 0.9)
        .groupBy(when(col("new_id") >= 800000L, "novel").otherwise("dup").as("bucket"))
        .agg(
          count(lit(1)).as("new_docs"),
          sum(when(col("matched_old_id").isNotNull, 1L).otherwise(0L)).as("matched"),
          sum(col("new_id")).as("sum_new_ids"))
        .orderBy("bucket")
    }),

    // C63: calibration table for the hashed linear scorer vs the
    // is-English label — 8 equal-width score bins, integer positive
    // rates; the reliability check AUC (q_c51) doesn't give.
    "q_c63_calibration" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val scored = graft.operators.CorpusPipeline
        .scoreLinearHashed(d, "doc_id", "text")
        .join(d.select(col("doc_id"),
          coalesce((col("lang") === "en").cast(LongType), lit(0L)).as("y")), "doc_id")
      graft.operators.Evaluation.calibrationBins(scored, "lin_score", "y", bins = 8)
        .orderBy("bin")
    }),

    // C64: snapshot drift — "tomorrow's" corpus drops 1-of-11 docs and
    // appends drifted variants (1-of-13, half their tokens rewritten to
    // a new vocabulary); the monitor must quantify the shift exactly.
    "q_c64_corpus_drift" -> ((s, dir) => {
      val old = docsPar(s, dir).select("doc_id", "text")
      val drifted = old.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"),
          concat(col("text"), lit(" drift"), (col("doc_id") % 17).cast(StringType)).as("text"))
      val newer = old.filter(col("doc_id") % 11 =!= 0).union(drifted)
      graft.operators.CorpusPipeline.corpusDrift(old, newer)
    }),

    // C65: exact precision/recall curve of the hashed scorer vs the
    // is-English label — one row per candidate threshold, the table a
    // filter-threshold decision actually reads.
    "q_c65_pr_curve" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val scored = graft.operators.CorpusPipeline
        .scoreLinearHashed(d, "doc_id", "text")
        .join(d.select(col("doc_id"),
          coalesce((col("lang") === "en").cast(LongType), lit(0L)).as("y")), "doc_id")
      graft.operators.Evaluation.prCurve(scored, "lin_score", "y")
        .orderBy(col("threshold").desc)
    }),

    // C68: source-level MinHash resemblance — the sketch-path corpus
    // similarity matrix (per-source signature = 32 longs at any corpus
    // size; pairwise step on signatures, never grams). Exact integer
    // signatures → the oracle replays them bit-for-bit.
    "q_c68_source_minhash" -> ((s, dir) => {
      graft.operators.CorpusPipeline.sourceMinhash(docsPar(s, dir), n = 3, sigs = 32)
        .orderBy("src_a", "src_b")
    }),

    // C66: distributed perceptron training — a cheap is-English linear
    // classifier trained with 3 fixed batch-update rounds over 32
    // hashed token features (one pivot shuffle, then one map-side
    // aggregate per round against the driver-held weight literal); the
    // confusion matrix under the final weights, with exact integer
    // margin sums fingerprinting every round's update.
    "q_c66_perceptron" -> ((s, dir) => {
      val d = docsPar(s, dir)
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
      graft.operators.Training
        .perceptron(d, "doc_id", "text", "y", features = 32, rounds = 3)
    }),

    // C69: winnowing fingerprints (MOSS local fingerprinting) — the
    // position-robust PARTIAL-overlap detector between whole-doc
    // hashing and all-gram storage: min hash per w-window of k-gram
    // hashes (~1/w the footprint, guaranteed hit for any shared run
    // ≥ w+k−1 tokens), boilerplate fingerprints df-capped before the
    // pair join, top pairs by shared count. Planted overlaps: 1-in-9
    // docs get a 12-token block copied from the previous planted doc,
    // so known high-containment pairs exist for the oracle to rank.
    "q_c69_winnow" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" winnow block"),
            expr("doc_id div 9 div 4").cast(StringType),
            lit(" alpha bravo charlie delta echo foxtrot golf hotel india juliett")))
          .otherwise(col("text")))
      graft.operators.CorpusPipeline.winnowFingerprints(
        planted.select(col("doc_id"), col("text2")), "doc_id", "text2",
        k = 4, w = 4, maxDocsPerFp = 16, minShared = 2, topPairs = 50)
    }),

    // C70: blocked edit-distance fuzzy dedup — prefix-blocked,
    // length-prefiltered, banded-DP Levenshtein pairs on normalized
    // text (the record-linkage rung between normalized-exact C52 and
    // set-based MinHash C2). Planted: 1-in-11 docs get a ' zq' suffix
    // copy (distance 3 on the normalized form when it lands inside the
    // 400-char compare window, 0 beyond it).
    "q_c70_edit_neardup" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "text")
      val variants = d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" zq")).as("text"))
      graft.operators.Dedup.editDistancePairs(d.union(variants), "doc_id", "text",
          maxDist = 4, prefixLen = 12, compareLen = 400, maxBucketSize = 64)
        .orderBy("id_a", "id_b")
    }),

    // C74: uncertainty-based selection — the active-learning loop's
    // acquisition step: train the q_c66 integer perceptron, then take
    // the 32 docs with the smallest |margin| under the final weights
    // (the docs to route to human labeling / a stronger judge). One
    // extra k-bounded TakeOrdered over the persisted compact frame.
    "q_c74_uncertainty" -> ((s, dir) => {
      val d = docsPar(s, dir)
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
      graft.operators.Training.mostUncertain(d, "doc_id", "text", "y",
        features = 32, rounds = 3, k = 32)
    }),

    // C77: curriculum ordering — easy-first schedule over corpus-
    // unigram rarity, equal-count integer phase cuts, md5-shuffled
    // within phase; the per-phase order fingerprint pins every
    // position of the schedule.
    "q_c77_curriculum" -> ((s, dir) => {
      graft.operators.CorpusPipeline.curriculumOrder(
        docsPar(s, dir), "doc_id", "text", phases = 4)
    }),

    // C78: packing-efficiency audit — per-doc chunk padding vs
    // concat-and-chunk padding at seqLen=128, exact integer ppm.
    "q_c78_packing_audit" -> ((s, dir) => {
      graft.operators.CorpusPipeline.packingEfficiency(
        docsPar(s, dir), "doc_id", "text", seqLen = 128)
    }),

    // C79: Gopher repetition gates — every 9th doc gets a planted
    // repeated phrase (8× " lorem ipsum dolor"), so top-2/3/4-gram and
    // dup-5/6/7-gram char fractions actually fire; per (source, n):
    // failing docs under the published thresholds + exact mass sums.
    "q_c79_repetition" -> ((s, dir) => {
      val d = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 9 === 0,
          concat(col("text"), repeat(lit(" lorem ipsum dolor"), 8)))
          .otherwise(col("text")))
      val prof = graft.operators.CorpusPipeline.repetitionProfile(
        d.select(col("doc_id"), col("text2").as("text")), "doc_id", "text")
      val fail =
        (col("n") === 2 && col("top_ppm") > 200000) ||
        (col("n") === 3 && col("top_ppm") > 180000) ||
        (col("n") === 4 && col("top_ppm") > 160000) ||
        (col("n") === 5 && col("dup_ppm") > 150000) ||
        (col("n") === 6 && col("dup_ppm") > 140000) ||
        (col("n") === 7 && col("dup_ppm") > 130000)
      prof.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "n")
        .agg(count(lit(1)).as("docs"),
          sum(when(fail, 1L).otherwise(0L)).as("fail_docs"),
          sum(col("top_char_mass")).as("top_mass"),
          sum(col("dup_char_mass")).as("dup_mass"))
        .orderBy("source", "n")
    }),

    // C82: contamination attribution — the q_c16 planting (every 9th
    // doc gains the leading 5-gram of bench doc id%20) viewed as the
    // forensics matrix: per (bench doc, source), distinct shared
    // 5-shingles + distinct contaminated docs.
    "q_c82_contam_attribution" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val bench = d.filter(col("doc_id") < 20).select(col("doc_id").as("bid"), col("text"))
      val benchGram = bench.select(
        col("bid"), concat_ws(" ", slice(TF.tokens(col("text")), 1, 5)).as("gram"))
      val corpus = d.filter(col("doc_id") >= 20)
        .join(broadcast(benchGram), col("doc_id") % 20 === col("bid"))
        .withColumn("text2",
          when(col("doc_id") % 9 === 0, concat(col("text"), lit(" "), col("gram")))
            .otherwise(col("text")))
        .select("doc_id", "source", "text2")
      graft.operators.CorpusPipeline.contaminationAttribution(
        corpus.withColumnRenamed("text2", "text"),
        bench.withColumnRenamed("bid", "bench_id"), n = 5)
    }),

    // C83: URL canonicalization — four messy synthesized variants per
    // doc class (case-mangled host, default port, fragment, tracking
    // params, unsorted query); canon collapses classes 0/1 and 2/3.
    // The oracle derives the canonical forms ANALYTICALLY from doc_id
    // arithmetic — an independent check of the algorithm, not a replay.
    "q_c83_url_canon" -> ((s, dir) => {
      val m = (col("doc_id") % 23).cast(StringType)
      val g = (col("doc_id") % 5).cast(StringType)
      val raw = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://Site"), m, lit(".Example/Path%2Fa/"), g,
            lit("?b=2&a=1&utm_source=x")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://site"), m, lit(".example:80/Path%2fa/"), g, lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://CDN"), m, lit(".example/img#frag")))
        .otherwise(concat(lit("https://cdn"), m, lit(".example:443/img?gclid=abc")))
      docsPar(s, dir).withColumn("raw", raw)
        .withColumn("canon", graft.functions.CanonicalUrl(col("raw")))
        .groupBy("source").agg(count(lit(1)).as("docs"),
          countDistinct(col("raw")).as("raw_urls"),
          countDistinct(col("canon")).as("canon_urls"))
        .orderBy("source")
    }),

    // C80: Luhn-validated card detection — every 11th doc gets a valid
    // 16-digit PAN, an off-by-one INVALID twin (must NOT count: the
    // whole point of the checksum gate), a valid 13-digit PAN, and a
    // 20-digit order id (outside the candidate length range). Counts
    // and redaction mass per source; the oracle replays the mod-10
    // fold as a list comprehension.
    "q_c80_luhn" -> ((s, dir) => {
      val d = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 11 === 0, concat(col("text"),
          lit(" pay 4539578763621486 ref 4539578763621487 alt 4222222222222 ord 12345678901234567890")))
          .otherwise(col("text")))
      d.groupBy("source").agg(
          count(lit(1)).as("docs"),
          sum(graft.functions.LuhnCardCount(col("text2")).cast(LongType)).as("cards"),
          sum((length(col("text2")) -
            length(graft.functions.LuhnRedact(col("text2")))).cast(LongType))
            .as("redacted_chars"))
        .orderBy("source")
    }),

    // C84: Stupid-Backoff trigram scoring — the CCNet shape: the LM is
    // trained ONLY on the 1-in-5 reference slice (doc_id % 5 = 0), so
    // held-out docs genuinely back off trigram → bigram (×0.4) →
    // unigram (×0.4²) → OOV; every level is integer-exact inverse
    // probability (the q_c42 device), so level counts and surprisal
    // sums hash-check against the DuckDB replay.
    "q_c84_stupid_backoff" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .stupidBackoffSurprisal(docsPar(s, dir), col("doc_id") % 5 === 0,
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C101: interpolated Kneser–Ney bigram scoring — same CCNet split
    // as C84 (train = 1-in-5 slice) but with the smoothing the n-gram
    // literature actually ships: absolute discount D = 3/4 plus the
    // continuation-probability interpolation, all integer-ppm so the
    // two separately-rounded terms replay bit-for-bit in DuckDB.
    "q_c101_kneser_ney" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .kneserNeyNgramSurprisal(docsPar(s, dir), col("doc_id") % 5 === 0,
          order = 2, "doc_id", "text")
        .withColumnsRenamed(Map("n_ngrams" -> "n_bigrams", "n_unig" -> "n_uctx"))
        .orderBy("doc_id")
    }),

    // C110: interpolated Kneser–Ney TRIGRAM scoring — C101 one order
    // up (the CCNet-reference recursion). The oracle replays the whole
    // ladder (type tables, continuation counts, three separately-
    // rounded terms) genuinely in SQL over string keys.
    "q_c110_kneser_ney_tri" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .kneserNeyNgramSurprisal(docsPar(s, dir), col("doc_id") % 5 === 0,
          order = 3, "doc_id", "text")
        .withColumnsRenamed(Map("n_ngrams" -> "n_trigrams", "n_bo2" -> "n_umid",
          "n_unig" -> "n_ubw"))
        .orderBy("doc_id")
    }),

    // C115: interpolated Kneser–Ney at order 5 — the Wenzek 2020 CCNet
    // configuration, from the same order-n ladder q_c101 and q_c110
    // run at orders 2 and 3. 8-byte exchange keys are the
    // measured 100 TB plan (x100: 163.3 s string-keyed vs 33.5 s
    // hashed, BASELINE r15); the oracle replays the full 5-deep
    // suffix-type chain genuinely in SQL over strings.
    "q_c115_kneser_ney_5" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .kneserNeyNgramSurprisal(docsPar(s, dir), col("doc_id") % 5 === 0,
          order = 5, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C106: CCNet-style perplexity tercile filter — the C101 KN LM
    // scores every doc, GroupedScan ranks within source (partition-
    // parallel, not |sources|-task), exact integer terciles; tail
    // (highest perplexity) is cut. The oracle replays LM + ranks +
    // buckets fully in SQL.
    "q_c106_ccnet_filter" -> ((s, dir) => {
      graft.operators.CorpusPipeline.perplexityTercileFilter(
        docsPar(s, dir), col("doc_id") % 5 === 0, "doc_id", "source", "text")
    }),

    // C109: HTML→text extraction + boilerplate removal — the crawl
    // front door. The page is SYNTHESIZED analytically from the doc
    // (the Multimodal withSynthetic* discipline): fixed chrome (head/
    // title/script-with-fake-tags/style/comment, nav+footer link
    // boilerplate, numeric+named entities) around the entity-encoded
    // ASCII-sanitized text in a <p>, so the oracle derives the exact
    // expected extraction — block counts, char/anchor totals, and the
    // md5 of BOTH the full text and the boilerplate-stripped main
    // text — from the raw text column without replaying the parser.
    "q_c109_html_extract" -> ((s, dir) => {
      import graft.functions.HtmlExtract
      docsPar(s, dir)
        .select(col("doc_id"),
          HtmlExtract(syntheticHtml(col("doc_id"), col("text"))).as("e"))
        .select(col("doc_id"),
          col("e.n_blocks").as("n_blocks"),
          size(filter(col("e.blocks"), b => b.getField("kept")))
            .as("kept_blocks"),
          col("e.total_chars").as("total_chars"),
          col("e.anchor_chars").as("anchor_chars"),
          md5(col("e.text")).as("text_md5"),
          md5(col("e.main_text")).as("main_md5"))
        .orderBy("doc_id")
    }),

    // C109b: the language-keyed density gate (r15 stretch) — each doc
    // gets a page whose body is a SHORT sentence rich in its OWN
    // language's function words and empty of English ones; under the
    // lang-keyed gate every body survives (main_md5), under the
    // English default only the en docs do (main_md5_en). Both columns
    // replay as per-language CASE literals.
    "q_c109b_html_lang_gate" -> ((s, dir) => {
      import graft.functions.HtmlExtract
      val plant = when(col("lang") === "de",
          lit("der kleine zug und das alte haus"))
        .when(col("lang") === "fr", lit("le train et la maison est grande"))
        .when(col("lang") === "es", lit("el tren y la casa es grande"))
        .when(col("lang") === "zh", lit("的 火车 和 房子 是 大 的"))
        .otherwise(lit("a small train and a big house"))
      val page = concat(
        lit("<body><nav><a href=\"/\">Home</a></nav><p>"), plant,
        lit("</p></body>"))
      docsPar(s, dir)
        .select(col("doc_id"), col("lang"),
          md5(HtmlExtract(page, col("lang")).getField("main_text"))
            .as("main_md5"),
          md5(HtmlExtract(page).getField("main_text")).as("main_md5_en"))
        .orderBy("doc_id")
    }),

    // C111: WARC → HTML → text, the FULL crawl front door: per doc, a
    // two-record WARC segment (warcinfo + HTTP response wrapping the
    // C109 synthetic page) is synthesized analytically — byte-exact
    // Content-Length framing via octet_length — then re-parsed by
    // WarcRecords and the response payload extracted by HtmlExtract.
    // Every output column is analytic from (doc_id, text), so the
    // oracle replays the whole chain without a WARC or HTML parser;
    // a one-byte framing error misparses record 2 and fails loudly.
    "q_c111_warc_extract" -> ((s, dir) => {
      import graft.functions.{HtmlExtract, PayloadDecode, WarcRecords}
      val warc = syntheticWarc(col("doc_id"), col("text"))
      docsPar(s, dir)
        .select(col("doc_id"), WarcRecords(warc.cast(BinaryType)).as("rs"))
        .select(col("doc_id"), size(col("rs")).as("n_records"),
          element_at(col("rs"), 2).as("r"))
        .select(col("doc_id"), col("n_records"),
          col("r.warc_type").as("warc_type"),
          col("r.target_uri").as("target_uri"),
          col("r.http_status").as("http_status"),
          col("r.http_content_type").as("http_content_type"),
          // the charset-honest path (C111d): bytes -> declared-charset
          // decode -> extract; these segments declare charset=utf-8 so
          // the oracle is unchanged
          md5(HtmlExtract(PayloadDecode(col("r.payload_bytes"),
            col("r.http_content_type"))).getField("main_text"))
            .as("main_md5"))
        .orderBy("doc_id")
    }),

    // C111b: the ARCHIVE half of the front door — multi-record
    // .warc.gz members on disk, read back through sources/Warc.read
    // (binaryFile + gzip sniff, one task per member). The fixture is
    // synthesized at query time from the same analytic segments as
    // q_c111 (4 members, docs routed by doc_id % 4, concatenated in
    // id order, one gzip stream per member — rewritten every call so
    // it can never go stale), so per-member attribution and the
    // member-response counts replay from doc_id arithmetic with no
    // parser in the oracle.
    "q_c111b_warc_files" -> ((s, dir) => {
      import graft.functions.{HtmlExtract, PayloadDecode}
      // the DIRECTORY, not a glob: Hadoop probes a literal glob path
      // first and logs a loud (caught) FileNotFoundException
      val recs = graft.sources.Warc
        .read(s, warcFixture(s, dir, "graft_warc_members", dupEvery = 0))
        .filter(col("warc_type") === "response")
        .select(
          substring_index(col("target_uri"), "/", -1).cast(LongType)
            .as("doc_id"),
          regexp_extract(col("warc_file"), "[^/]+$", 0).as("member"),
          col("http_status"),
          // C111d: member 1 is latin-1 (HTTP param), member 2 cp1252
          // (meta sniff) — decode by declaration, THEN extract; the
          // planted markers tombstone under a UTF-8 assumption
          md5(HtmlExtract(PayloadDecode(col("payload_bytes"),
            col("http_content_type"))).getField("main_text"))
            .as("main_md5"))
      val perMember = recs.groupBy("member")
        .agg(count(lit(1)).as("member_responses"))
      recs.join(broadcast(perMember), Seq("member"))
        .select(col("doc_id"), col("member"), col("http_status"),
          col("main_md5"), col("member_responses"))
        .orderBy("doc_id")
    }),

    // C111c: CDX-style archive index — the standard Common-Crawl
    // artifact that makes a WARC archive randomly accessible: per
    // response record its coordinates (member, decompressed offset,
    // record length — both now surfaced by the framer), mime, status,
    // and a raw-byte content digest (md5 over hex(payload_bytes):
    // DuckDB's md5 is VARCHAR-only, the hex transport keeps the
    // oracle byte-faithful across the latin-1/cp1252 members), plus
    // the (url, digest)-grain dup counts over a fixture with planted
    // re-crawl duplicates (every 50th doc's segment appended again).
    // Offsets/lengths replay in SQL from the same segment-length
    // arithmetic that frames the fixture.
    "q_c111c_cdx_index" -> ((s, dir) => {
      val fix = warcFixture(s, dir, "graft_cdx_members", dupEvery = 50)
      val recs = graft.sources.Warc.read(s, fix)
        .filter(col("warc_type") === "response")
        .select(
          substring_index(col("target_uri"), "/", -1).cast(LongType)
            .as("doc_id"),
          col("target_uri").as("url"),
          regexp_extract(col("warc_file"), "[^/]+$", 0).as("member"),
          col("offset"), col("length"),
          col("http_content_type").as("mime"),
          col("http_status").as("status"),
          md5(hex(col("payload_bytes"))).as("digest"))
      val dups = recs.groupBy("url", "digest")
        .agg(count(lit(1)).as("dup_count"))
      recs.join(dups, Seq("url", "digest"))
        .select(col("doc_id"), col("member"), col("offset"), col("length"),
          col("mime"), col("status"), col("digest"), col("dup_count"))
        .orderBy("doc_id", "offset")
    }),

    // C126: snapshot retention — publish v1 (even ids), v2 (all), a
    // dead marker-less corpse, then v4 (all); vacuum(keepLast=1,
    // minAge=0) must delete the two old published versions and the
    // corpse while leaving the newest published slot readable and
    // verified. The surviving card's stats + the deletion counts
    // replay analytically.
    "q_c126_snapshot_vacuum" -> ((s, dir) => {
      val base = s"/tmp/graft_vacuum_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast(LongType).as("tokens"))
      graft.sources.Snapshots.publish(d.filter(col("doc_id") % 2 === 0),
        base, statsCols = Seq("source"), sumCols = Seq("tokens"))
      graft.sources.Snapshots.publish(d, base)
      d.limit(1).write.parquet(s"$base/v=3") // crashed writer, no marker
      graft.sources.Snapshots.publish(d, base,
        statsCols = Seq("source"), sumCols = Seq("tokens")) // slot 4
      val (nPub, nGarbage) =
        graft.sources.Snapshots.vacuum(s, base, keepLast = 1, minAgeMs = 0L)
      graft.sources.Snapshots.read(s, base, verify = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tokens"))
        .withColumn("version",
          lit(graft.sources.Snapshots.latestVersion(s, base)))
        .withColumn("published_deleted", lit(nPub.toLong))
        .withColumn("garbage_deleted", lit(nGarbage.toLong))
        .orderBy("source")
    }),

    // C127: delta publication + compaction — the log-structured shape
    // that makes daily corpus growth O(new rows) instead of O(corpus):
    // v1 full (even ids), v2 delta (odd ids), readAt materializes the
    // chain (verified per constituent), compact folds it into v3 full
    // (digest provably equals a direct full publish — commutative
    // sum), delta-aware vacuum retires the chain. Final verified read
    // of the compacted corpus replays analytically; version pins to 3.
    "q_c127_delta_publish" -> ((s, dir) => {
      val base = s"/tmp/graft_delta_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast(LongType).as("tokens"))
      graft.sources.Snapshots.publish(d.filter(col("doc_id") % 2 === 0),
        base, statsCols = Seq("source"), sumCols = Seq("tokens"))
      graft.sources.Snapshots.publishDelta(d.filter(col("doc_id") % 2 =!= 0),
        base, statsCols = Seq("source"), sumCols = Seq("tokens"))
      val cv = graft.sources.Snapshots.compact(s, base,
        statsCols = Seq("source"), sumCols = Seq("tokens"))
      graft.sources.Snapshots.vacuum(s, base, keepLast = 1, minAgeMs = 0L)
      graft.sources.Snapshots.readAt(s, base, verify = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tokens"))
        .withColumn("version", lit(cv))
        .orderBy("source")
    }),

    // SQL TVF surface for the lifecycle tier (r17 verdict #7): the
    // reference's whole UX is SQL table functions, and graft matched
    // that for logs (q_sql_tvf) — snapshot_read gives the snapshot
    // tier the same pure-SQL front door: a pinned version (time
    // travel) and the verified logical full+delta chain, both
    // aggregated entirely in Spark SQL.
    "q_sql_snapshot" -> ((s, dir) => {
      graft.sql.GraftSql.register(s)
      val base = s"/tmp/graft_sqlsnap_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"))
      graft.sources.Snapshots.publish(d.filter(col("doc_id") % 2 === 0),
        base, statsCols = Seq("source"), sumCols = Seq("n_chars"))
      graft.sources.Snapshots.publishDelta(d.filter(col("doc_id") % 2 =!= 0),
        base, statsCols = Seq("source"), sumCols = Seq("n_chars"))
      s.sql(
        s"""SELECT 'pinned' AS vw, source, count(*) AS n_docs,
           |  sum(n_chars) AS chars
           |FROM snapshot_read('$base', 1) GROUP BY 1, 2
           |UNION ALL
           |SELECT 'logical', source, count(*), sum(n_chars)
           |FROM snapshot_read('$base', logical => true, verify => true)
           |GROUP BY 1, 2
           |ORDER BY vw, source""".stripMargin)
    }),

    // SQL TVF surface for the archive tier: WET emission read back
    // through pure SQL — warc_read frames the members and the
    // aggregate replays count / payload-md5 sum / byte totals.
    "q_sql_warc" -> ((s, dir) => {
      graft.sql.GraftSql.register(s)
      val out = s"/tmp/graft_sqlwarc_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val wet = docsPar(s, dir).filter(col("doc_id") % 20 === 0)
        .select(graft.sources.Warc.wetRecord(
          concat(lit("http://example.com/doc/"),
            col("doc_id").cast(StringType)),
          lit(null).cast(StringType),
          lit("2026-01-01T00:00:00Z"), col("text")).as("rec"))
      graft.sources.Warc.writeMembers(wet, "rec", out, "wet")
      s.sql(
        s"""SELECT warc_type, count(*) AS n_records,
           |  sum(cast(conv(substring(md5(payload), 1, 8), 16, 10)
           |    AS BIGINT)) AS md5_sum,
           |  sum(octet_length(payload)) AS n_bytes
           |FROM warc_read('$out')
           |GROUP BY warc_type ORDER BY warc_type""".stripMargin)
    }),

    // warc_read(hydrate => true): the C129 read half reachable from
    // pure SQL (r18 verdict missing #3) — a SQL-only consumer of a
    // DEDUPLICATED archive must see restored revisit payloads, not
    // empty blocks. The aggregate replays the never-deduplicated
    // view's totals; bad_digests ≡ 0 end-to-end.
    "q_sql_hydrate" -> ((s, dir) => {
      graft.sql.GraftSql.register(s)
      val out = s"/tmp/graft_sqlhyd_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val fetches = d.unionAll(
          d.filter(col("doc_id") % 50 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        .select(
          concat(lit("http://example.com/doc/"),
            (col("doc_id") % 1000000L).cast(StringType)).as("url"),
          concat(lit("<urn:uuid:f"), col("doc_id").cast(StringType),
            lit(">")).as("rid"),
          lit("2026-01-01T00:00:00Z").as("fdate"),
          lit(200).as("status"), lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("payload"),
          col("doc_id").as("ord"))
      val recs = graft.sources.Warc.dedupArchive(fetches, "url", "rid",
        "fdate", "status", "mime", "payload", "ord")
      graft.sources.Warc.writeMembers(recs.select(col("rec")), "rec",
        out, "arc")
      s.sql(
        s"""SELECT count(*) AS n_fetches,
           |  sum(CASE WHEN hydrated THEN 1L ELSE 0L END) AS n_hydrated,
           |  sum(cast(conv(substring(md5(payload), 1, 8), 16, 10)
           |    AS BIGINT)) AS md5_sum,
           |  sum(cast(octet_length(payload) AS BIGINT)) AS n_bytes,
           |  sum(CASE WHEN digest_ok = false THEN 1L ELSE 0L END)
           |    AS bad_digests
           |FROM warc_read('$out', hydrate => true)""".stripMargin)
    }),

    // C128: deduplicating archive writer — re-crawl fetches (every
    // 50th doc fetched twice) and cross-doc duplicate texts collapse
    // to ONE stored response per payload digest; later fetches become
    // header-only REVISIT records referencing the owner. The emitted
    // archive round-trips through Warc.read, and the per-source
    // rollup (owners, revisits, bytes actually archived) replays from
    // min-order ownership over text families in SQL.
    "q_c128_archive_dedup" -> ((s, dir) => {
      val out = s"/tmp/graft_arcdedup_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val fetches = d.unionAll(
          d.filter(col("doc_id") % 50 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        .select(
          concat(lit("http://example.com/doc/"),
            (col("doc_id") % 1000000L).cast(StringType)).as("url"),
          concat(lit("<urn:uuid:f"), col("doc_id").cast(StringType),
            lit(">")).as("rid"),
          lit("2026-01-01T00:00:00Z").as("fdate"),
          lit(200).as("status"), lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("payload"),
          col("doc_id").as("ord"))
      val recs = graft.sources.Warc.dedupArchive(fetches, "url", "rid",
        "fdate", "status", "mime", "payload", "ord")
      graft.sources.Warc.writeMembers(recs.select(col("rec")), "rec",
        out, "arc")
      val back = graft.sources.Warc.read(s, out)
        .select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          col("warc_type"),
          octet_length(col("payload_bytes")).cast(LongType).as("pb"))
      val src = docsPar(s, dir).select(col("doc_id"), col("source"))
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

    // C129: revisit hydration — the READ half of C128's contract: the
    // deduplicated archive (every 50th doc fetched twice; later fetch
    // stored as a header-only revisit) round-trips through Warc.read +
    // hydrateRevisits back to the ORIGINAL per-fetch view — per source,
    // the fetch count, the commutative sum of per-fetch payload md5s,
    // and total payload bytes all equal what a never-deduplicated
    // archive would read; digest_ok verifies every restored payload
    // against the revisit's recorded WARC-Payload-Digest.
    "q_c129_archive_hydrate" -> ((s, dir) => {
      val out = s"/tmp/graft_archyd_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val fetches = d.unionAll(
          d.filter(col("doc_id") % 50 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        .select(
          concat(lit("http://example.com/doc/"),
            (col("doc_id") % 1000000L).cast(StringType)).as("url"),
          concat(lit("<urn:uuid:f"), col("doc_id").cast(StringType),
            lit(">")).as("rid"),
          lit("2026-01-01T00:00:00Z").as("fdate"),
          lit(200).as("status"), lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("payload"),
          col("doc_id").as("ord"))
      val recs = graft.sources.Warc.dedupArchive(fetches, "url", "rid",
        "fdate", "status", "mime", "payload", "ord")
      graft.sources.Warc.writeMembers(recs.select(col("rec")), "rec",
        out, "arc")
      val hyd = graft.sources.Warc
        .hydrateRevisits(graft.sources.Warc.read(s, out))
        .select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          // 8 hex digits (32 bits) so the per-source SUM stays far from
          // BIGINT overflow at any plausible corpus size (13 digits =
          // 52 bits would overflow DuckDB's BIGINT cast past ~2k rows)
          graft.functions.Md5HexSlice(col("payload_bytes"), 1, 8).as("m13"),
          octet_length(col("payload_bytes")).cast(LongType).as("pb"),
          col("hydrated"),
          col("digest_ok"))
      val src = docsPar(s, dir).select(col("doc_id"), col("source"))
      hyd.join(src, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_fetches"),
          sum(when(col("hydrated"), 1L).otherwise(0L)).as("n_hydrated"),
          sum(col("m13")).as("md5_sum"),
          sum(col("pb")).as("payload_bytes"),
          sum(when(col("digest_ok") === false, 1L).otherwise(0L))
            .as("bad_digests"))
        .orderBy("source")
    }),

    // C131: archive GC with revisit-aware liveness — fetches dated
    // live (ord % 3 == 0) or expired; GC keeps live records plus
    // expired OWNERS some live revisit still references (dropping
    // them would orphan the revisit's only payload copy). The rollup
    // replays ownership + family liveness in SQL.
    "q_c131_archive_gc" -> ((s, dir) => {
      val out = s"/tmp/graft_arcgc_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val fetches = d.unionAll(
          d.filter(col("doc_id") % 50 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        .select(
          concat(lit("http://example.com/doc/"),
            (col("doc_id") % 1000000L).cast(StringType)).as("url"),
          concat(lit("<urn:uuid:f"), col("doc_id").cast(StringType),
            lit(">")).as("rid"),
          when(col("doc_id") % 3 === 0, "2026-02-01T00:00:00Z")
            .otherwise("2025-01-01T00:00:00Z").as("fdate"),
          lit(200).as("status"), lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("payload"),
          col("doc_id").as("ord"))
      val recs = graft.sources.Warc.dedupArchive(fetches, "url", "rid",
        "fdate", "status", "mime", "payload", "ord")
      graft.sources.Warc.writeMembers(recs.select(col("rec")), "rec",
        out, "arc")
      val kept = graft.sources.Warc.gcArchive(
        graft.sources.Warc.read(s, out),
        col("warc_date") >= "2026-01-01")
      val src = docsPar(s, dir).select(col("doc_id"), col("source"))
      kept.select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          col("warc_type"), col("gc_reason"))
        .join(src, Seq("doc_id"))
        .groupBy("source")
        .agg(sum(when(col("warc_type") === "response" &&
            col("gc_reason") === "live", 1L).otherwise(0L))
            .as("live_responses"),
          sum(when(col("warc_type") === "revisit", 1L).otherwise(0L))
            .as("live_revisits"),
          sum(when(col("gc_reason") === "pinned_by_revisit", 1L)
            .otherwise(0L)).as("pinned_owners"))
        .orderBy("source")
    }),

    // C132: the archive lifecycle closed PHYSICALLY (r18 verdict
    // missing #1) — publish the deduplicated archive as v=1 through
    // the claim/manifest/marker protocol, GC-PUBLISH the survivors as
    // v=2 (the member tree is REWRITTEN byte-exact, not just
    // selected), vacuum retires v=1, and the read-back hydrates the
    // surviving revisits from their pinned owners. The oracle replays
    // liveness + ownership analytically and checks the post-GC,
    // post-hydration payload md5 sums — the whole loop (publish → GC
    // rewrite → vacuum → versioned read → hydrate) must preserve
    // bytes end to end.
    "q_c132_archive_gc_publish" -> ((s, dir) => {
      val out = s"/tmp/graft_arclc_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val fetches = d.unionAll(
          d.filter(col("doc_id") % 50 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        .select(
          concat(lit("http://example.com/doc/"),
            (col("doc_id") % 1000000L).cast(StringType)).as("url"),
          concat(lit("<urn:uuid:f"), col("doc_id").cast(StringType),
            lit(">")).as("rid"),
          when(col("doc_id") % 3 === 0, "2026-02-01T00:00:00Z")
            .otherwise("2025-01-01T00:00:00Z").as("fdate"),
          lit(200).as("status"), lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("payload"),
          col("doc_id").as("ord"))
      val recs = graft.sources.Warc.dedupArchive(fetches, "url", "rid",
        "fdate", "status", "mime", "payload", "ord")
      graft.sources.Warc.publishArchive(recs.select(col("rec")), "rec",
        out, "arc")
      graft.sources.Warc.gcPublishArchive(s, out,
        col("warc_date") >= "2026-01-01")
      graft.sources.Snapshots.vacuum(s, out, keepLast = 1, minAgeMs = 0L)
      val hyd = graft.sources.Warc
        .hydrateRevisits(graft.sources.Warc.readArchive(s, out))
      val src = docsPar(s, dir).select(col("doc_id"), col("source"))
      hyd.select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          col("warc_type"),
          graft.functions.Md5HexSlice(col("payload_bytes"), 1, 8).as("m8"),
          octet_length(col("payload_bytes")).cast(LongType).as("pb"),
          col("digest_ok"))
        .join(src, Seq("doc_id"))
        .groupBy("source")
        .agg(sum(when(col("warc_type") === "response", 1L).otherwise(0L))
            .as("kept_responses"),
          sum(when(col("warc_type") === "revisit", 1L).otherwise(0L))
            .as("kept_revisits"),
          sum(col("m8")).as("md5_sum"),
          sum(col("pb")).as("payload_bytes"),
          sum(when(col("digest_ok") === false, 1L).otherwise(0L))
            .as("bad_digests"))
        .orderBy("source")
    }),

    // C124: WET/WAT sibling emission — the Common-Crawl artifact pair
    // downstream consumers expect beside the WARC: WET conversion
    // records (extracted text) and WAT metadata records (JSON envelope
    // with response headers + links), both assembled with codegen
    // column arithmetic from the same front door (WARC → decode →
    // HtmlExtract), written as real .warc.gz members (one per
    // partition, tmp→rename commit), and READ BACK through Warc.read —
    // so the oracle checks the full emit→re-read loop: the WET
    // payload's md5 equals q_c111's main_md5 contract, the WAT
    // envelope replays status/mime/link-count analytically.
    "q_c124_wet_wat" -> ((s, dir) => {
      import graft.functions.{HtmlExtract, PayloadDecode, WarcRecords}
      val out = s"/tmp/graft_wetwat_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ex = docsPar(s, dir)
        .select(col("doc_id"),
          WarcRecords(syntheticWarc(col("doc_id"), col("text"))
            .cast(BinaryType)).as("rs"))
        .select(col("doc_id"), element_at(col("rs"), 2).as("r"))
        .withColumn("e", HtmlExtract(PayloadDecode(col("r.payload_bytes"),
          col("r.http_content_type"))))
      val wet = ex.select(graft.sources.Warc.wetRecord(col("r.target_uri"),
        col("r.record_id"), col("r.warc_date"), col("e.main_text")).as("rec"))
      val wat = ex.select(graft.sources.Warc.watRecord(col("r.target_uri"),
        col("r.record_id"), col("r.warc_date"), col("r.http_status"),
        col("r.http_content_type"), col("e.links")).as("rec"))
      graft.sources.Warc.writeMembers(wet, "rec", s"$out/wet", "wet")
      graft.sources.Warc.writeMembers(wat, "rec", s"$out/wat", "wat")
      val wetBack = graft.sources.Warc.read(s, s"$out/wet")
        .filter(col("warc_type") === "conversion")
        .select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          md5(col("payload")).as("main_md5"))
      val watBack = graft.sources.Warc.read(s, s"$out/wat")
        .filter(col("warc_type") === "metadata")
        .select(substring_index(col("target_uri"), "/", -1)
            .cast(LongType).as("doc_id"),
          get_json_object(col("payload"),
            "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']" +
              "['Response-Message']['Status']").cast(IntegerType)
            .as("status"),
          get_json_object(col("payload"),
            "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']" +
              "['Headers']['Content-Type']").as("mime"),
          json_array_length(get_json_object(col("payload"),
            "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']" +
              "['HTML-Metadata']['Links']")).as("n_links"))
      wetBack.join(watBack, Seq("doc_id")).orderBy("doc_id")
    }),

    // C120: bucketed corpus materialization + exchange-free co-located
    // join — documents and embeddings both bucketed by id into 8
    // sorted buckets (the one-time shuffle a 100 TB pipeline pays
    // ONCE), then the docs ⋈ embeddings pass reads co-located buckets:
    // SortMergeJoin with NO Exchange on either side (spec-pinned with
    // broadcast disabled). The oracle replays the join in SQL; the
    // embedding component quantizes through double (exact float
    // widening) so the sum is integer-exact.
    "q_c120_bucketed_join" -> ((s, dir) => {
      // PID in the warehouse root AND the table names: Verify + Bench
      // run concurrently on the same dataset dir (the r15 q_c111b
      // class) and a shared path would let one JVM's DROP+overwrite
      // clobber the other's in-flight bucketed read (r16 verdict #3)
      val pid = ProcessHandle.current().pid()
      val wh = s"/tmp/graft_bucketed_${pid}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val docs = docsPar(s, dir).select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast(LongType).as("t"))
      val embs = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("label"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000)
            .cast(LongType).as("q0"))
      graft.sources.Bucketed.materialize(docs, s"graft_c120_docs_$pid", 8,
        "doc_id", Some(s"$wh/docs"))
      graft.sources.Bucketed.materialize(embs, s"graft_c120_embs_$pid", 8,
        "doc_id", Some(s"$wh/embs"))
      graft.sources.Bucketed
        .join(s, s"graft_c120_docs_$pid", s"graft_c120_embs_$pid", "doc_id")
        .groupBy("source", "label")
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens"),
          sum(col("q0")).as("q0_sum"))
        .orderBy("source", "label")
    }),

    // C122: atomic versioned snapshot publishing — v1 (doc counts)
    // then v2 (counts + token mass) publish under a per-dataset base
    // rebuilt every call; a planted CRASHED WRITER dir (parquet, no
    // _PUBLISHED marker) between them stays invisible, so the real v2
    // lands in slot 3 and the latest-published read returns it. The
    // oracle replays the v2 stats (version pinned to the analytic 3).
    "q_c122_snapshot_publish" -> ((s, dir) => {
      // PID in the base: the delete-at-start + versioned publishes
      // race across concurrent Verify/Bench JVMs on a shared path
      // (r16 verdict #3, the r15 q_c111b class)
      val base = s"/tmp/graft_snapshots_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir)
      val v1 = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val v2 = d.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast(LongType)).as("tokens"))
      graft.sources.Snapshots.publish(v1, base)
      v1.limit(1).write.parquet(s"$base/v=2") // crashed writer: no marker
      graft.sources.Snapshots.publish(v2, base)
      graft.sources.Snapshots.read(s, base)
        .withColumn("version",
          lit(graft.sources.Snapshots.latestVersion(s, base)))
        .orderBy("source")
    }),

    // C123: snapshot manifest / data card — publish() writes _MANIFEST
    // (row count, schema DDL, commutative content digest, per-source
    // doc+token stats) BEFORE the _PUBLISHED marker, so the card
    // commits atomically with the data; read(verify = true) recomputes
    // rows+digest against the published bytes INSIDE this query (a
    // tampered snapshot throws instead of returning rows). The output
    // rows come from PARSING the manifest JSON, so the oracle checks
    // what the card SAYS, not what the data would re-derive.
    "q_c123_snapshot_manifest" -> ((s, dir) => {
      val base = s"/tmp/graft_manifest_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast(LongType).as("tokens"))
      graft.sources.Snapshots.publish(d, base,
        statsCols = Seq("source"), sumCols = Seq("tokens"))
      graft.sources.Snapshots.read(s, base, verify = true)
      val m = graft.sources.Snapshots.manifest(s, base)
      s.range(1)
        .select(from_json(lit(m), graft.sources.Snapshots.manifestSchema)
          .as("m"))
        .select(col("m.rows").as("total_rows"),
          explode(col("m.stats")("source")).as("st"))
        .select(col("st.v").as("source"), col("st.rows").as("n_docs"),
          col("st.sums")("tokens").cast(LongType).as("tokens"),
          col("total_rows"))
        .orderBy("source")
    }),

    // C125: metadata-only version diff — the movement report between
    // two published versions answered from their _MANIFEST data cards
    // alone (zero data I/O: diffing two 100 TB snapshots costs two
    // KB-sized metadata reads; C56's content diff is the per-document
    // complement). v1 = even-id docs, v2 = all docs under one base;
    // the per-source row/token deltas replay in SQL with FILTER.
    "q_c125_manifest_diff" -> ((s, dir) => {
      val base = s"/tmp/graft_mandiff_${ProcessHandle.current().pid()}_" +
        java.net.URLEncoder.encode(dir, "UTF-8")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = docsPar(s, dir).select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast(LongType).as("tokens"))
      graft.sources.Snapshots.publish(d.filter(col("doc_id") % 2 === 0),
        base, statsCols = Seq("source"), sumCols = Seq("tokens"))
      graft.sources.Snapshots.publish(d,
        base, statsCols = Seq("source"), sumCols = Seq("tokens"))
      graft.sources.Snapshots.diffManifests(s, base, 1L, 2L, "source")
        .select(col("value").as("source"),
          col("rows_a"), col("rows_b"), col("rows_delta"),
          coalesce(element_at(col("sums_a"), "tokens").cast(LongType),
            lit(0L)).as("tokens_a"),
          coalesce(element_at(col("sums_b"), "tokens").cast(LongType),
            lit(0L)).as("tokens_b"))
        .orderBy("source")
    }),

    // C113: link-graph extraction — hrefs ARE the crawl frontier and
    // the PageRank edge source (C57 consumes edges; this builds them
    // from pages). Each synthetic page links "/" plus /doc/{id+1} and
    // /doc/{id div 2}; HtmlExtract's links field re-derives the edge
    // list, one id-keyed aggregate computes out-degrees/dst sums and
    // one co-partitioned join the in-degrees — the oracle replays the
    // graph from doc_id arithmetic with no HTML parser.
    "q_c113_link_graph" -> ((s, dir) => {
      import graft.functions.HtmlExtract
      val page = concat(
        lit("<body><nav><a href=\"/\">Home</a></nav><p>See <a href=\"/doc/"),
        (col("doc_id") + 1).cast(StringType),
        lit("\">next</a> and <a href=\"/doc/"),
        expr("doc_id div 2").cast(StringType),
        lit("\">parent</a>.</p></body>"))
      // feeds n_links, the out-aggregate, and the in-degree
      val base = docsPar(s, dir)
        .select(col("doc_id"),
          HtmlExtract(page).getField("links").as("ls"))
        .transform(graft.operators.Scoped.pinned)
      val edges = base
        .select(col("doc_id").as("src"), explode(col("ls")).as("l"))
        .filter(col("l").startsWith("/doc/"))
        .select(col("src"), substring_index(col("l"), "/", -1)
          .cast(LongType).as("dst"))
      val outAgg = edges.groupBy(col("src").as("doc_id"))
        .agg(count(lit(1)).as("out_edges"), sum(col("dst")).as("dst_sum"))
      val inAgg = edges.groupBy(col("dst").as("doc_id"))
        .agg(count(lit(1)).as("in_edges"))
      base.select(col("doc_id"), size(col("ls")).as("n_links"))
        .join(outAgg, Seq("doc_id"), "left")
        .join(inAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_links"),
          coalesce(col("out_edges"), lit(0L)).as("out_edges"),
          coalesce(col("in_edges"), lit(0L)).as("in_edges"),
          coalesce(col("dst_sum"), lit(0L)).as("dst_sum"))
        .orderBy("doc_id")
    }),

    // C112: robots.txt crawl admission (RFC 9309) — a fixed politeness
    // file evaluated for TWO agents (one falls to the * group, one
    // selects the specific-bot group, which then IGNORES * rules) over
    // six deterministic path families per doc: longest-match, the $
    // anchor, the * wildcard, and group exclusivity all decide rows,
    // and the oracle replays every decision as doc_id CASE arithmetic
    // with no robots parser.
    "q_c112_robots" -> ((s, dir) => {
      import graft.functions.RobotsEval
      val robots = "# graft politeness rules\n" +
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n" +
        "Disallow: /tmp$\n\n" +
        "User-agent: graftbot\nUser-agent: otherbot\n" +
        "Disallow: /doc/3\nAllow: /doc/\nDisallow: /public/*7$\n"
      val idStr = col("doc_id").cast(StringType)
      val path = when(col("doc_id") % 6 === 0, concat(lit("/doc/"), idStr))
        .when(col("doc_id") % 6 === 1, concat(lit("/private/p"), idStr))
        .when(col("doc_id") % 6 === 2, concat(lit("/private/ok/"), idStr))
        .when(col("doc_id") % 6 === 3, lit("/tmp"))
        .when(col("doc_id") % 6 === 4, concat(lit("/tmp"), idStr))
        .otherwise(concat(lit("/public/"), idStr))
      docsPar(s, dir)
        .select(col("doc_id"), path.as("path"))
        .withColumn("star", RobotsEval(lit(robots), col("path"), "genericbot/2.0"))
        .withColumn("bot", RobotsEval(lit(robots), col("path"), "graftbot/1.0"))
        .select(col("doc_id"), col("path"),
          col("star.allowed").as("star_allowed"),
          col("star.rule").as("star_rule"),
          col("bot.allowed").as("bot_allowed"),
          col("bot.rule").as("bot_rule"))
        .orderBy("doc_id")
    }),

    // C103: encoding QA — the ftfy-class ingest gate. Mojibake
    // (UTF-8-as-cp1252) is planted on the 1-in-7 slice and U+FFFD
    // tombstones on a DISJOINT slice (mixed corruption would block the
    // all-mappable reversal, by design); the oracle replays the plant
    // and marker counts genuinely in SQL and derives the repair deltas
    // from the plant literals — so a fixer false-positive on the clean
    // corpus OR a missed repair on a planted doc hash-fails.
    "q_c103_encoding_qa" -> ((s, dir) => {
      import graft.functions.EncodingQa
      // the mojibake slice plants on ASCII-SANITIZED base text
      // ("[^ -~]" = outside printable ASCII, no escapes — the Edit
      // NUL lesson): the whole-string-reversal contract needs the
      // planted doc fully cp1252-invertible, which raw testdata text
      // is not guaranteed to be (r13 advisor finding). Non-planted
      // docs stay RAW by design — a fixer false-positive on them is
      // exactly what this gate must catch.
      val t2 = when(col("doc_id") % 7 === 0,
          concat(regexp_replace(col("text"), "[^ -~]", ""),
            lit(EncodingQa.MojiSample)))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit("��")))
        .otherwise(col("text"))
      docsPar(s, dir)
        .select(col("source"), t2.as("t2"))
        .withColumn("fixed", EncodingQa.fixMojibake(col("t2")))
        .withColumn("hits",
          size(regexp_extract_all(col("t2"), lit(EncodingQa.MarkerRe), lit(0))))
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("mojibake_docs"),
          sum(col("hits").cast(LongType)).as("marker_hits"),
          sum(when(col("fixed") =!= col("t2"), 1L).otherwise(0L)).as("fixed_docs"),
          sum((length(col("t2")) - length(col("fixed"))).cast(LongType))
            .as("fixed_chars"),
          sum((octet_length(col("t2")) - octet_length(col("fixed"))).cast(LongType))
            .as("fixed_bytes"),
          sum((length(col("t2")) -
            length(regexp_replace(col("t2"), lit("�"), lit(""))))
            .cast(LongType)).as("repl_chars"))
        .orderBy("source")
    }),

    // C85: cascading k-anonymity audit over the events stream — QI
    // ladder (type, day, value-decade) → (type, day) → (type), k=10;
    // per published level: rows, groups, smallest group (the k
    // certificate) and the worst per-group user diversity (the
    // l-diversity read on the user_id sensitive column).
    "q_c85_k_anon" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val anon = graft.operators.Privacy.kAnonymityLevels(e, Seq(
        Seq(col("event_type"), col("ts").cast("date"),
          expr("CAST(floor(value / 10) AS BIGINT)")),
        Seq(col("event_type"), col("ts").cast("date")),
        Seq(col("event_type"))), k = 10)
      anon.groupBy("anon_level", "anon_key")
        .agg(count(lit(1)).as("kk"), countDistinct(col("user_id")).as("l"))
        .groupBy("anon_level")
        .agg(sum(col("kk")).as("n_rows"), count(lit(1)).as("n_groups"),
          min(col("kk")).as("min_k"), min(col("l")).as("min_l"))
        .orderBy("anon_level")
    }),

    // C92: IPF mixture raking — rake the (source × language) token
    // cells until BOTH temperature-α=0.5 marginals hold (C50 balances
    // one axis; IPF balances two that fight each other). 4 rounds of
    // integer ppm row/column rescaling, replayed bit-for-bit by the
    // unrolled-CTE oracle.
    "q_c92_ipf_mixture" -> ((s, dir) => {
      graft.operators.CorpusPipeline.ipfMixture(docsPar(s, dir), rounds = 4)
    }),

    // C93: dedup-ladder attrition funnel — per-source docs/tokens
    // surviving raw → exact → normalized → minhash, each rung applied
    // to the previous rung's survivors. Plants exercise every rung:
    // exact copies (1-in-7, the q_c52 device), normalized variants
    // (1-in-5, case/punct/reflow), near-dup variants (1-in-4, two
    // appended tokens — caught by shared minhash bands). Plant offsets
    // are 10M-spaced so they clear the ×100 tier's id space (499 999)
    // AND each other — +400000-style offsets collided with real ids
    // there (round-12 review finding).
    // C121: train/eval split-leakage audit — the Lee et al. 2022
    // eval-dup QA: after an 80/20 md5-ppm split, per (rung, source)
    // how many eval docs still have a train-side counterpart at the
    // exact / normalized / minhash-band grain? The q_c93 plants
    // guarantee every rung fires (copies straddle the split with
    // ~80/20 odds per family); the oracle replays the split, both
    // md5 keys, and the full signature chain in SQL.
    "q_c121_split_leakage" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "source", "text")
      val ex = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"), col("text"))
      val nv = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("source"),
          concat(lit("  "), upper(col("text")), lit(" !!!")).as("text"))
      val nd = d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" qq zz")).as("text"))
      graft.operators.Dedup.splitLeakage(
        d.unionAll(ex).unionAll(nv).unionAll(nd), trainPpm = 800000)
    }),

    "q_c93_attrition_funnel" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "source", "text")
      val ex = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"), col("text"))
      val nv = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("source"),
          concat(lit("  "), upper(col("text")), lit(" !!!")).as("text"))
      val nd = d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" qq zz")).as("text"))
      graft.operators.Dedup.attritionFunnel(d.unionAll(ex).unionAll(nv).unionAll(nd))
    }),

    // C94: Zipf rank-frequency slope per source — the C90 Heaps-law
    // companion: integer log2-floor buckets (length(bin(x))-1), exact
    // integer least squares over the ≤64 per-source bucket means.
    "q_c94_zipf_slope" -> ((s, dir) => {
      graft.operators.CorpusPipeline.zipfSlope(docsPar(s, dir))
    }),

    // C95: LSH parameter recall audit — the measured S-curve of the
    // 16-sig/8-band banding vs exact hashed-shingle Jaccard, per
    // decile. Plants populate the curve: appended-token near-dups
    // (J≈0.95), 30-token excerpts (J≈0.55) and 15-token excerpts
    // (J≈0.25) of 1-in-6/9/11 docs. 10M-spaced offsets: +700000-style
    // plant families collided with EACH OTHER at the ×100 tier
    // (200022+700000 = 22+900000 — round-12 review finding).
    "q_c95_lsh_recall" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "text")
      def excerpt(k: Int) =
        concat_ws(" ", slice(TF.tokens(col("text")), 1, k))
      val nd = d.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" xq")).as("text"))
      val e30 = d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), excerpt(30).as("text"))
      val e15 = d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"), excerpt(15).as("text"))
      graft.operators.Dedup.lshRecallAudit(
        d.unionAll(nd).unionAll(e30).unionAll(e15))
    }),

    // C97: stratified eval split — exact per-(source, lang) counts
    // (n·40% floor each), selection = first k in (md5(text), id)
    // order; the id sum fingerprints the exact chosen set.
    "q_c97_stratified_split" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .stratifiedEvalSplit(docsPar(s, dir), evalPpm = 400000L)
    }),

    // C98: token-exact budget fill — greedy prefix fill of an 800-
    // token-per-source budget in (md5(text), id) order; the hard-
    // budget contrast to C50's in-expectation ppm rates.
    "q_c98_budget_fill" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .tokenBudgetFill(docsPar(s, dir), budgetTokens = 800L)
    }),

    // C13: plant emails/IPs/phones in 1-of-7 docs, redact, count per class
    "q_c13_pii" -> ((s, dir) => {
      val withPii = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" contact u"), col("doc_id").cast(StringType), lit("@example.com"),
            lit(" from 10.0."), (col("doc_id") % 250).cast(StringType), lit(".1"),
            lit(" tel 555-123-"), lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
          .otherwise(col("text")))
      withPii.groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(TF.emailCount(col("text2")).cast(LongType)).as("emails"),
          sum(TF.ipv4Count(col("text2")).cast(LongType)).as("ips"),
          sum(TF.phoneCount(col("text2")).cast(LongType)).as("phones"),
          sum((length(col("text2")) - length(TF.redactPii(col("text2")))).cast(LongType))
            .as("chars_removed"))
        .orderBy("source")
    }),

    // C20: Gopher-style quality gates — word-count bounds, mean word
    // length, required-stopword presence, and token-repetition ratio
    // (the max-frequency check is a real distributed computation:
    // explode -> per-(doc,token) partial counts -> per-doc max, two
    // map-side-combining shuffles, never a per-doc driver loop)
    "q_c20_gopher" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val per = d
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          max(col("c")).as("maxc"),
          sum(col("c")).as("ntok"),
          count(lit(1)).as("dtok"))
      val base = d.select(
        col("doc_id"), col("source"),
        length(regexp_replace(col("text"), "\\s+", "")).as("chars"),
        concat(lit(" "), regexp_replace(lower(col("text")), "\\s+", " "), lit(" "))
          .as("norm"))
      val stopPresent = Seq("the", "a", "and", "is", "of", "to", "in")
        .map(w => contains(col("norm"), lit(s" $w ")).cast(IntegerType))
        .reduce(_ + _)
      base.join(per, "doc_id")
        .withColumn("stops", stopPresent)
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(when(col("ntok") < 60 || col("ntok") > 5000, 1L).otherwise(0L))
            .as("fail_words"),
          sum(when(col("chars").cast(DoubleType) / col("ntok") < 4.4
              || col("chars").cast(DoubleType) / col("ntok") > 4.7, 1L).otherwise(0L))
            .as("fail_meanlen"),
          sum(when(col("stops") < 2, 1L).otherwise(0L)).as("fail_stops"),
          sum(when(col("maxc").cast(DoubleType) / col("ntok") > 0.09, 1L).otherwise(0L))
            .as("fail_repetition"),
          sum(col("dtok")).as("distinct_tokens"))
        .orderBy("source")
    }),

    // C21: URL/domain analytics — plant deterministic URLs in 1-of-3
    // docs, extract with regexp_extract_all, parse hosts with the
    // built-in parse_url, aggregate per domain
    "q_c21_url_domains" -> ((s, dir) => {
      val withUrls = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" see http://site"), (col("doc_id") % 37).cast(StringType),
            lit(".example/p/"), col("doc_id").cast(StringType),
            lit(" and https://cdn"), (col("doc_id") % 11).cast(StringType),
            lit(".example/img")))
          .otherwise(col("text")))
      withUrls
        .select(col("source"), col("doc_id"),
          explode(expr("regexp_extract_all(text2, 'https?://[^\\\\s]+', 0)")).as("url"))
        // host via the same regex the oracle uses — parse_url(HOST)
        // diverges from it on ports/userinfo/malformed authorities, so
        // any URL-shaped text in a future corpus would silently split
        // the domain groups between the engines
        .withColumn("domain", regexp_extract(col("url"), "https?://([^/]+)", 1))
        .groupBy("domain")
        .agg(count(lit(1)).as("urls"),
          countDistinct(col("doc_id")).as("docs"),
          countDistinct(col("source")).as("sources"))
        .orderBy("domain")
    }),

    // C22: corpus-level duplicated-n-gram mass — for each source, how
    // many of its 8-gram instances also occur elsewhere in the corpus
    // (the dataset-curation repetition metric). Two map-side-combining
    // shuffles: per-(source,gram) partial counts, then per-gram totals;
    // the join back is gram-co-partitioned, never a broadcast of the
    // near-distinct gram table.
    "q_c22_dupgrams" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" shared boilerplate gram alpha beta gamma delta epsilon")))
          .otherwise(col("text")))
      // hashed 8-byte gram keys (the production default): the output is
      // per-source COUNTS, which DuckDB reproduces from exact string
      // grams — identical unless xxhash64 collides (odds ~grams²/2^65;
      // a spec pins hashed == exact on real text)
      graft.operators.CorpusPipeline
        .dupGramStats(planted, n = 8, textCol = "text2")
        .orderBy("source")
    }),

    // SQL-surface parity for the pipeline functions: the same corpus
    // annotations, written in pure Spark SQL against the registered
    // scalar functions (lang_id/token_count/fingerprint_md5/hash_split)
    "q_sql_funcs" -> ((s, dir) => {
      graft.sql.GraftSql.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("graft_docs")
      s.sql(
        """SELECT lang_id(text) AS predicted, count(*) AS docs,
          |  CAST(sum(token_count(text)) AS BIGINT) AS tokens,
          |  count(DISTINCT fingerprint_md5(text)) AS fps,
          |  count(DISTINCT hash_split(text)) AS splits
          |FROM graft_docs GROUP BY lang_id(text) ORDER BY predicted""".stripMargin)
    }),

    // C24: token-balanced shard packing via global size-rank round-robin
    "q_c24_pack" -> ((s, dir) => {
      graft.operators.CorpusPipeline.packShards(docsPar(s, dir), 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("tokens"))
        .orderBy("shard")
    }),

    // C25: cross-source duplicate overlap matrix — which source pairs
    // share exact-duplicate content (dataset-provenance signal). The
    // per-(source,fingerprint) distinct set self-joins fp-co-partitioned;
    // output is at most sources² rows.
    "q_c25_overlap" -> ((s, dir) => {
      // plant cross-source dups: 1-of-8 docs collapse to one of three
      // fixed boilerplate bodies, so sources share fingerprints
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 8 === 0,
          concat(lit("boilerplate body variant "), (col("doc_id") % 3).cast(StringType)))
          .otherwise(col("text")))
      // both self-join sides re-ran the fingerprint+distinct subplan
      // (no ReusedExchange across the aliased branches) — persist+pin
      // the small (source, fp) table: 14.3 s → 6.5 s at the ×100 tier
      val sf = planted
        .select(col("source"), TF.fingerprintMd5(col("text2")).as("fp"))
        .distinct()
        .transform(graft.operators.Scoped.pinned)
      sf.as("a").join(sf.as("b"), Seq("fp"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(countDistinct(col("fp")).as("shared_fps"))
        .orderBy("src_a", "src_b")
    }),

    // C27: distinctive terms per source — tf-idf-shaped scoring kept in
    // exact integer arithmetic (tf*1000 div source-df) so both engines
    // rank identically; explode → two map-side-combining aggregates →
    // small broadcast of per-term source-df → salted two-phase top-3
    // (topNPerKey — a per-source rank window would sort each source's
    // FULL vocabulary in one task; r13 verdict #3)
    "q_c27_top_terms" -> ((s, dir) => {
      val tok = docsPar(s, dir)
        .select(col("source"), explode(TF.tokens(lower(col("text")))).as("term"))
      // the sdf branch re-ran the corpus explode+aggregate — pin the
      // vocab×sources-bounded tf table (the sourceDivergence pattern)
      val tf = tok.groupBy("source", "term").agg(count(lit(1)).as("tf"))
        .transform(graft.operators.Scoped.pinned)
      val df = tf.groupBy("term").agg(count(lit(1)).as("sdf"))
      val scored = tf.join(df, "term")
        .withColumn("score", expr("tf * 1000 div sdf"))
      graft.operators.CorpusPipeline
        .topNPerKey(scored, Seq(col("source")), col("term"),
          Seq(col("score").desc, col("term")), n = 3)
        .select(col("source"), col("rank"), col("term"), col("score"))
        .orderBy("source", "rank")
    }),

    // C28: deterministic global training-order shuffle — the full
    // permutation (position + round-robin shard per doc) hash-checks
    // against the oracle replaying the same md5-keyed sort
    "q_c28_shuffle" -> ((s, dir) => {
      graft.operators.CorpusPipeline.shuffleOrder(docsPar(s, dir), 8)
        .select(col("doc_id"), col("pos"), col("shard"))
        .orderBy("pos")
    }),

    // C14: md5-bucket train/val/test split — stable under reprocessing
    "q_c14_split" -> ((s, dir) => {
      docsPar(s, dir)
        .withColumn("split", TF.hashSplit(col("text")))
        .groupBy("split")
        .agg(
          count(lit(1)).as("docs"),
          sum("doc_id").as("sum_ids"),
          countDistinct(TF.md5Bucket(col("text"), 100)).as("buckets"))
        .orderBy("split")
    }),

    // C15: sentence-level dedup — 1-of-6 docs share a planted boilerplate
    // sentence; count exact-duplicate sentences per source
    "q_c15_sentence_dedup" -> ((s, dir) => {
      val withDup = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 6 === 0,
          concat(col("text"), lit(". this boilerplate footer repeats across documents. end")))
          .otherwise(col("text")))
      withDup
        .select(col("source"), explode(TF.sentences(col("text2"))).as("sent"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("sentences"),
          countDistinct(col("sent")).as("distinct_sentences"),
          min(md5(col("sent"))).as("min_hash"))
        .orderBy("source")
    }),

    // C16: benchmark contamination — docs sharing any 5-gram with the
    // benchmark set (doc_id < 20); 1-of-9 corpus docs planted dirty
    "q_c16_contamination" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val bench = d.filter(col("doc_id") < 20).select(col("doc_id").as("bid"), col("text"))
      val benchGram = bench.select(
        col("bid"), concat_ws(" ", slice(TF.tokens(col("text")), 1, 5)).as("gram"))
      val corpus = d.filter(col("doc_id") >= 20)
        .join(broadcast(benchGram), col("doc_id") % 20 === col("bid"))
        .withColumn("text2",
          when(col("doc_id") % 9 === 0, concat(col("text"), lit(" "), col("gram")))
            .otherwise(col("text")))
        .select("doc_id", "source", "text2")
      val corpusShingles = corpus.select(
        col("doc_id"), col("source"), explode(TF.shingles(col("text2"), 5)).as("sh"))
      val benchShingles = bench
        .select(explode(TF.shingles(col("text"), 5)).as("sh")).distinct()
      val contaminated = corpusShingles
        .join(broadcast(benchShingles), Seq("sh"), "left_semi")
        .select("doc_id").distinct()
      corpus
        .join(contaminated.withColumn("dirty", lit(1L)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(coalesce(col("dirty"), lit(0L))).as("contaminated"))
        .orderBy("source")
    }),

    // C17: deterministic priority sample — top-50 docs by content hash
    // (TakeOrderedAndProject: no global sort, uniform w/o replacement)
    "q_c17_sample" -> ((s, dir) => {
      docsPar(s, dir)
        .select(col("doc_id"), md5(concat(col("text"), lit("sample-salt"))).as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(50)
    }),

    // C19: dataset mixing — deterministic per-source sampling rates
    // (content-hashed: reprocessing-stable, exactly reproducible in SQL)
    "q_c19_mixture" -> ((s, dir) => {
      val rates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0)
      graft.operators.CorpusPipeline
        .sampleBySource(docsPar(s, dir), rates, defaultRate = 0.75)
        .groupBy("source")
        .agg(count(lit(1)).as("kept"), sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // Sink: date-partitioned parquet round trip — the write lays out
    // p_date=YYYY-MM-DD directories; the read-back date filter prunes
    // partitions before any IO (PartitionFilters, proven in spec)
    "q_sink_partitioned" -> ((s, dir) => {
      val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_sink_" + dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
      graft.sources.PartitionedSink.writeByDate(Tables.events(s, dir), out, "ts")
      graft.sources.PartitionedSink.read(s, out)
        .filter(col("p_date").between("2024-01-05", "2024-01-09"))
        .groupBy(col("p_date").cast(StringType).as("day"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"))
        .orderBy("day")
    }),

    // C18: bloom membership — fingerprints of 1-of-10 docs into a bloom
    // sketch, probe the whole corpus; no false negatives ⇒ recovered ==
    // planted exactly (the oracle-checkable bloom invariant)
    "q_c18_bloom" -> ((s, dir) => {
      val d = docsPar(s, dir).select(
        col("doc_id"), xxhash64(TF.fingerprintMd5(col("text"))).as("fph"))
      val bloom = BF.build(d.filter(col("doc_id") % 10 === 0),
        col("fph"), 100000L, 1000000L)
      d.withColumn("hit", BF.mightContain(bloom, col("fph")))
        .agg(
          sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L)).as("planted"),
          sum(when(col("doc_id") % 10 === 0 && col("hit"), 1L).otherwise(0L)).as("recovered"))
    }),

    // C29: SemDeDup — embedding-cluster semantic dedup; every 10th
    // vector is re-planted under a new id, semDedup must drop exactly
    // the planted copies (cos=1.0 to their originals) plus any natural
    // near-dups, keeping the lower id. Per-cell audit output.
    "q_c29_semdedup" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val dups = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("qv"))
      graft.operators.Dedup
        .semDedup(e.union(dups), "vec_id", "qv", nSeeds = 16, threshold = 0.95)
        .groupBy("cell")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          sum(when(col("keep"), col("vec_id"))).as("sum_kept_ids"))
        .orderBy("cell")
    }),

    // C32: SemDeDup via the two-level (√C per row) assignment scale
    // path — same planted dups as C29, 8 coarse × 4 fine = 32 effective
    // cells; the full (ccell, fcell, keep) outcome hash-matches a
    // DuckDB replication of both assignment levels.
    "q_c32_semdedup_2level" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val dups = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("qv"))
      graft.operators.Dedup
        .semDedupHierarchical(e.union(dups), "vec_id", "qv",
          nCoarse = 8, nFinePerCell = 4, threshold = 0.95)
        .groupBy("ccell", "fcell")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          sum(when(col("keep"), col("vec_id"))).as("sum_kept_ids"))
        .orderBy("ccell", "fcell")
    }),

    // C33: GPT-style concat-and-chunk packing layout — per-doc global
    // token offset + first/last training-sequence index under the C28
    // deterministic order, via the distributed prefix sum.
    "q_c33_pack_spans" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .packedSequenceSpans(docsPar(s, dir), seqLen = 128)
        .orderBy("doc_id")
    }),

    // C34: collocation extraction — top bigrams by the integer-exact
    // PMI-proportional score; full ranking hash-checked.
    "q_c34_collocations" -> ((s, dir) => {
      graft.operators.CorpusPipeline.collocations(docsPar(s, dir), "text", k = 20, minCount = 5L)
    }),

    // C36: BM25 top-k search for a fixed three-term query — integer
    // milli-scaled scoring, postings filtered before any shuffle
    "q_c36_bm25" -> ((s, dir) => {
      graft.operators.CorpusPipeline.bm25TopK(
        docsPar(s, dir), Seq("vector", "stream", "merge"), k = 15)
    }),

    // C35: CCNet-shaped LM quality filter — corpus unigram LM, each
    // doc scored by integer-exact mean token surprisal (totalTokens
    // div count(w)); per-source token/surprisal mass + rare-tail count
    "q_c35_lm_rarity" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val m = graft.operators.CorpusPipeline.lmSurprisal(d, "doc_id", "text")
      d.select("doc_id", "source").join(m, "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum("ntok").as("tokens"),
          sum("surprisal_sum").as("surprisal"),
          sum(when(col("rarity") > 40, 1L).otherwise(0L)).as("rare_docs"))
        .orderBy("source")
    }),

    // C31: intra-document repeated-sentence scrub — a boilerplate
    // sentence is planted twice in 1-of-4 docs; dedupWithinDoc must
    // keep only its first occurrence and preserve sentence order
    // (full-content md5 check per doc).
    "q_c31_linededup" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(". repeated promo line. genuine tail content. repeated promo line")))
          .otherwise(col("text")))
      graft.operators.CorpusPipeline
        .dedupWithinDoc(planted.select(col("doc_id"), col("text2")), "doc_id", "text2")
        .select(col("doc_id"), col("kept_sentences"),
          substring(md5(col("text_dedup")), 1, 8).as("text_md5"))
        .orderBy("doc_id")
    }),

    // C30: fixed-budget sequence chunking — every document split into
    // 16-token training sequences; per-chunk token count + content
    // digest give a full-content hash check without megabyte outputs.
    "q_c30_chunks" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .chunkSequences(docsPar(s, dir), "doc_id", "text", maxTokens = 16)
        .select(
          col("doc_id"), col("chunk_id"),
          col("chunk_tokens").cast(IntegerType).as("chunk_tokens"),
          substring(md5(col("chunk_text")), 1, 8).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // C37: corpus-WIDE first-occurrence sentence scrub — a shared
    // boilerplate sentence planted in 1-of-4 docs must survive only in
    // the globally-first one; natural cross-doc collisions are judged
    // identically by both engines.
    "q_c37_corpus_linededup" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(". subscribe to the global newsletter today")))
          .otherwise(col("text")))
      graft.operators.CorpusPipeline
        .dedupAcrossDocs(planted.select(col("doc_id"), col("text2")), "doc_id", "text2")
        .select(col("doc_id"), col("kept_sentences"), col("dropped_sentences"),
          substring(md5(col("text_dedup")), 1, 8).as("text_md5"))
        .orderBy("doc_id")
    }),

    // C38: at most 5 docs per synthetic domain (doc_id % 37), chosen by
    // stable md5 order — the full kept set (id + rank) is the answer,
    // so the oracle checks survivor choice, not just counts.
    "q_c38_domain_cap" -> ((s, dir) => {
      val d = docsPar(s, dir).withColumn("domain",
        concat(lit("site"), (col("doc_id") % 37).cast(StringType)))
      graft.operators.CorpusPipeline
        .capPerKey(d, "domain", "doc_id", maxPerKey = 5, salts = 8)
        .select(col("domain"), col("doc_id"), col("cap_rank").cast(LongType).as("cap_rank"))
        .orderBy("domain", "cap_rank")
    }),

    // C39: hashed linear classifier — per-source positives / score
    // mass / token counts, integer-exact on both engines.
    "q_c39_quality_clf" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val scored = graft.operators.CorpusPipeline
        .scoreLinearHashed(d, "doc_id", "text")
      d.select(col("doc_id"), col("source")).join(scored, "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(col("lin_label").cast(LongType)).as("positives"),
          sum(col("lin_score")).as("sum_score"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source")
    }),

    // C46: per-doc top-3 tf-idf keywords — integer-exact score, term
    // tiebreak; the doc-tagging counterpart of C27's per-source ranking.
    "q_c46_doc_keywords" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .docTopTerms(docsPar(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
          col("term"), col("score"))
        .orderBy("doc_id", "rank")
    }),

    // C45: per-source exact token-count quantiles via the distributed
    // range-sort rank selection (no per-group single-task sort);
    // discrete (type-1) ranks so both engines return real elements.
    "q_c45_group_quantiles" -> ((s, dir) => {
      val d = docsPar(s, dir)
        .select(col("source"), TF.tokenCount(col("text")).cast(DoubleType).as("ntok"))
      graft.operators.ExactQuantiles
        .byGroup(d, "source", "ntok", Seq(0.0, 0.5, 0.9, 0.99, 1.0))
        .select(col("source"),
          concat(lit("p"), round(col("fraction") * 100).cast(LongType).cast(StringType)).as("pct"),
          col("value").cast(LongType).as("value"))
        .orderBy("source", "pct")
    }),

    // C44: per-doc gram novelty under training order — boilerplate
    // planted in 1-of-5 docs is novel only in the earliest planted doc.
    "q_c44_gram_novelty" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" shared boilerplate gram alpha beta gamma delta epsilon zeta eta")))
          .otherwise(col("text")))
      graft.operators.CorpusPipeline
        .gramNovelty(planted.select(col("doc_id"), col("text2")), "doc_id", "text2")
        .select(col("doc_id"), col("grams"), col("novel_grams"), col("novelty_pct"))
        .orderBy("doc_id")
    }),

    // C43: duplicated-span detection — a 10-token boilerplate tail
    // planted in 1-of-5 docs must merge into ONE maximal 3-gram span
    // (10 tokens) per planted doc; natural repeats judged identically
    // by both engines.
    "q_c43_dup_spans" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" shared boilerplate gram alpha beta gamma delta epsilon zeta eta")))
          .otherwise(col("text")))
      graft.operators.CorpusPipeline
        .duplicatedSpans(planted.select(col("doc_id"), col("text2")), "doc_id", "text2")
        .select(col("doc_id"), col("n_spans"), col("dup_grams"), col("max_span_tokens"))
        .orderBy("doc_id")
    }),

    // C114: exact-substring dedup WITH REMOVAL (Lee et al. 2022
    // ExactSubstr) — the planted 1-in-5 boilerplate tail must survive
    // ONLY in the lowest planted doc_id (the canonical owner) and be
    // scrubbed token-exact everywhere else; natural cross-doc and
    // intra-doc repeats are judged identically by both engines. The
    // oracle replays grams → packed argmin owner → interval-union
    // coverage → string_agg rejoin, md5-pinning the full scrubbed text.
    "q_c114_exact_substr" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text2",
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" shared boilerplate gram alpha beta gamma delta epsilon zeta eta")))
          .otherwise(col("text")))
      graft.operators.CorpusPipeline
        .exactSubstrScrub(planted, "doc_id", "text2", carryCols = Seq("source"))
        .select(col("doc_id"), col("source"),
          col("kept_tokens"), col("removed_tokens"), col("n_spans"),
          md5(col("kept_text")).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // C116: T5 span-corruption example builder — every full 20-token
    // window masks one md5-placed 3-token span (noise density 0.15);
    // the oracle rebuilds sentinel-holed input and sentinel-keyed
    // target token-by-token and both md5s must match byte-exact.
    "q_c116_span_corrupt" -> ((s, dir) => {
      import graft.functions.SpanCorrupt
      docsPar(s, dir)
        .select(col("doc_id"),
          SpanCorrupt(TF.tokens(col("text")), col("doc_id")).as("sc"))
        .select(col("doc_id"),
          col("sc.total_tokens").as("total_tokens"),
          col("sc.n_spans").as("n_spans"),
          col("sc.masked_tokens").as("masked_tokens"),
          md5(col("sc.input_text")).as("input_md5"),
          md5(col("sc.target_text")).as("target_md5"))
        .orderBy("doc_id")
    }),

    // C117: fill-in-the-middle transformation — md5-derived cuts,
    // PSM/SPM coin, and 50% gate; the oracle reassembles the exact
    // sentinel-delimited string from array slices.
    "q_c117_fim" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .fimTransform(docsPar(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("mode"), col("n_tokens"),
          col("prefix_tokens"), col("middle_tokens"), col("suffix_tokens"),
          md5(col("fim_text")).as("fim_md5"))
        .orderBy("doc_id")
    }),

    // C118: UL2 mixture-of-denoisers — each doc trains under its
    // md5-selected arm (R = 20/3 span corruption, X = 10/5 extreme,
    // S = prefix-LM); both example strings md5-pinned per arm.
    "q_c118_ul2_mix" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .ul2Mixture(docsPar(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("objective"), col("total_tokens"),
          col("n_spans"), col("masked_tokens"),
          md5(col("input_text")).as("input_md5"),
          md5(col("target_text")).as("target_md5"))
        .orderBy("doc_id")
    }),

    // C119: packed-example assembly — C116's examples (input + target
    // + EOS token mass, all analytic) concat-packed into 256-token
    // sequences in md5 order; the full boundary layout (starts,
    // offsets digest, marked straddles, carry mass) replays in SQL
    // from the same prefix-sum arithmetic.
    "q_c119_pack_examples" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .packExamples(c119Examples(s, dir), seqLen = 256, seqsPerShard = 8)
        .drop("boundary_offsets")
        .orderBy("seq_no")
    }),

    // C119b: the per-shard pad-waste rollup (C78's audit shape at the
    // shard grain): sequence counts, example counts, fill/pad masses,
    // marked-straddle counts and token mass, utilization ppm.
    "q_c119b_pack_shards" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .packExamples(c119Examples(s, dir), seqLen = 256, seqsPerShard = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_seqs"),
          sum(col("n_starts")).as("n_examples"),
          sum(col("filled_tokens")).as("filled_tokens"),
          sum(col("pad_tokens")).as("pad_tokens"),
          sum(when(col("starts_mid"), 1L).otherwise(0L)).as("straddled_seqs"),
          sum(col("carry_in_tokens")).as("straddle_tokens"))
        .withColumn("util_ppm",
          expr("filled_tokens * 1000000 div (n_seqs * 256)"))
        .orderBy("shard")
    }),

    // C42: bigram-LM surprisal — integer-exact inverse conditional
    // probability summed per doc; the oracle rebuilds the same bigram
    // LM with a lead() window.
    "q_c42_bigram_lm" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .lmBigramSurprisal(docsPar(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"), col("surprisal_sum"), col("rarity"))
        .orderBy("doc_id")
    }),

    // C41: per-source unigram-distribution divergence from the corpus
    // mix — integer total-variation in ppm, exact on both engines.
    "q_c41_source_divergence" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .sourceDivergence(docsPar(s, dir), "source", "text")
        .select(col("source"), col("n_tokens"), col("distinct_terms"), col("tv_ppm"))
        .orderBy("source")
    }),

    // C40: inverted index over the corpus, df ≥ 40 terms only (the
    // posting-list digest makes the full per-term doc/tf list part of
    // the hash check without megabyte outputs).
    "q_c40_inverted_index" -> ((s, dir) => {
      graft.operators.CorpusPipeline
        .invertedIndex(docsPar(s, dir), "doc_id", "text")
        .filter(col("df") >= 40)
        .select(col("term"), col("df"), col("total_tf"), col("postings_md5"))
        .orderBy("term")
    }),

    // C90: Heaps-law vocabulary growth — cumulative docs/tokens/vocab
    // at 16 fixed md5-space checkpoints (ingestion order = hash order,
    // so NO global sort/row_number); ttr_ppm is the type-token-ratio
    // curve a dedup stage should flatten. All integer-exact.
    "q_c90_vocab_growth" -> ((s, dir) => {
      graft.operators.CorpusPipeline.vocabGrowth(docsPar(s, dir))
    }),

    // C89: hybrid retrieval — integer-exact RRF fusion of the C36
    // BM25 leg (three-term query) and the C7b seeded-IVF ANN leg
    // (query = doc 0's embedding); both legs exclude the query doc,
    // fusion joins two ≤20-row frames. The oracle replays both legs'
    // CTE chains and the fused integer ranking bit-for-bit.
    "q_c89_hybrid_rrf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.quantize(col("embedding")).as("qv"))
      graft.operators.CorpusPipeline.hybridRrf(
        docsPar(s, dir), e, Seq("vector", "stream", "merge"), queryVecId = 0L,
        kEach = 20, kOut = 15)
    }),

    // C88: Aho–Corasick blocklist scan — ONE automaton pass per doc
    // counts every phrase of the list (vs |patterns| corpus rescans
    // with per-pattern contains/regex), then a map-combining aggregate
    // on (source, pattern-index): shuffle rows ≤ sources × patterns
    // per task regardless of corpus size. Patterns are border-free by
    // construction (build-time require), so the all-positions count
    // equals the greedy non-overlapping count and the oracle can
    // replay it with the length(replace()) device; the nested pair
    // ("stream" inside "data stream") pins independent per-pattern
    // counting, and "quantum leap" pins the zero-hit path.
    "q_c88_blocklist" -> ((s, dir) => {
      val patArr = array(blocklistPats.map(lit): _*)
      docsPar(s, dir)
        .select(col("source"),
          graft.functions.BlocklistCounts(lower(col("text")), blocklistPats).as("c"))
        .select(col("source"), posexplode(col("c")).as(Seq("i", "hits")))
        .groupBy(col("source"), col("i"))
        .agg(sum(col("hits")).as("hits"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_with"))
        .select(col("source"),
          element_at(patArr, col("i").cast("int") + 1).as("pattern"),
          col("hits"), col("docs_with"))
        .orderBy("source", "pattern")
    })
  )

  /** C88/D22 blocklist — lowercase phrases over the synthetic corpus
   * vocabulary; every entry is border-free (see [[graft.functions.AcAutomaton]]'s
   * replay contract) and "stream" nests inside "data stream". */
  val blocklistPats: Seq[String] = Seq(
    "data stream", "stream", "table scan", "slow sort", "merge part",
    "spark customer", "quantum leap")

  private[queries] def blocklistValuesSql: String =
    blocklistPats.map(p => s"('$p')").mkString(", ")

  // Shared by q_c66 (confusion matrix) and q_c74 (uncertainty
  // selection): the full unrolled 3-round perceptron replay — round 1
  // updates on every doc (w=0 margins), later rounds join the hashed
  // per-(doc, feature) counts against the unrolled weight CTEs; all
  // arithmetic integer. Ends with m4 (per-doc final margins) open.
  /** C92 oracle device: the IPF rounds unrolled as row/column rescale
   * CTE pairs (`ra_r` = row step over rb_{r-1}, `rb_r` = column step).
   * Emitted WITH `|` margins — the caller's stripMargin strips them —
   * and without a trailing comma (the final SELECT follows directly).
   * Every DuckDB window SUM is CAST back to BIGINT (the q_c81 rule). */
  private[queries] def ipfRoundCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""ra$r AS (SELECT src, lg, n, t_src, t_lang, w0,
         |    CAST(w * t_src // greatest(
         |      CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT), 1) AS BIGINT) AS w
         |  FROM rb${r - 1}),
         |rb$r AS (SELECT src, lg, n, t_src, t_lang, w0,
         |    CAST(w * t_lang // greatest(
         |      CAST(SUM(w) OVER (PARTITION BY lg) AS BIGINT), 1) AS BIGINT) AS w
         |  FROM ra$r)"""
    }.mkString(",\n|")

  private[queries] val perceptronCtes =
    """WITH base AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    string_split_regex(trim(text), '\s+') AS l
        |  FROM documents),
        |fv AS (
        |  SELECT doc_id, y,
        |    CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) % 32 AS f,
        |    COUNT(*) AS cnt
        |  FROM (SELECT doc_id, y, unnest(l) AS g FROM base)
        |  GROUP BY 1, 2, 3),
        |d0 AS (SELECT DISTINCT doc_id, y FROM fv),
        |w1 AS (SELECT f, CAST(SUM(y * cnt) AS BIGINT) AS w FROM fv GROUP BY f),
        |b1 AS (SELECT CAST(SUM(y) AS BIGINT) AS b FROM d0),
        |m2 AS (
        |  SELECT fv.doc_id, fv.y,
        |    CAST(SUM(fv.cnt * w1.w) AS BIGINT) + (SELECT b FROM b1) AS marg
        |  FROM fv JOIN w1 USING (f) GROUP BY 1, 2),
        |mis2 AS (SELECT doc_id, y FROM m2 WHERE y * marg <= 0),
        |w2 AS (
        |  SELECT w1.f, w1.w + COALESCE(d.dw, 0) AS w
        |  FROM w1 LEFT JOIN (
        |    SELECT f, CAST(SUM(fv.y * fv.cnt) AS BIGINT) AS dw
        |    FROM fv JOIN mis2 USING (doc_id) GROUP BY f) d USING (f)),
        |b2 AS (SELECT (SELECT b FROM b1)
        |  + COALESCE((SELECT CAST(SUM(y) AS BIGINT) FROM mis2), 0) AS b),
        |m3 AS (
        |  SELECT fv.doc_id, fv.y,
        |    CAST(SUM(fv.cnt * w2.w) AS BIGINT) + (SELECT b FROM b2) AS marg
        |  FROM fv JOIN w2 USING (f) GROUP BY 1, 2),
        |mis3 AS (SELECT doc_id, y FROM m3 WHERE y * marg <= 0),
        |w3 AS (
        |  SELECT w2.f, w2.w + COALESCE(d.dw, 0) AS w
        |  FROM w2 LEFT JOIN (
        |    SELECT f, CAST(SUM(fv.y * fv.cnt) AS BIGINT) AS dw
        |    FROM fv JOIN mis3 USING (doc_id) GROUP BY f) d USING (f)),
        |b3 AS (SELECT (SELECT b FROM b2)
        |  + COALESCE((SELECT CAST(SUM(y) AS BIGINT) FROM mis3), 0) AS b),
        |m4 AS (
        |  SELECT fv.doc_id, fv.y,
        |    CAST(SUM(fv.cnt * w3.w) AS BIGINT) + (SELECT b FROM b3) AS marg
        |  FROM fv JOIN w3 USING (f) GROUP BY 1, 2)
        |""".stripMargin


  val oracleSql: Map[String, String] = Map(
    // C84: full replay of the Stupid-Backoff ladder — the LM counts
    // come only from the train slice; every level is the same integer
    // inverse-probability arithmetic as the operator (c2//c3, then
    // (c1·5)//(cb·2), then (N·25)//(cu·4), OOV (N·25)//4).
    "q_c84_stupid_backoff" ->
      """WITH base AS (
        |  SELECT doc_id, (doc_id % 5 = 0) AS train,
        |    string_split_regex(trim(text), '\s+') AS l FROM documents),
        |tg AS (
        |  SELECT doc_id, train,
        |    array_to_string(l[i:i+2], ' ') AS tri,
        |    array_to_string(l[i:i+1], ' ') AS ctx2,
        |    array_to_string(l[i+1:i+2], ' ') AS bo,
        |    l[i+1] AS w2, l[i+2] AS w3
        |  FROM base, unnest(generate_series(1, len(l) - 2)) AS t(i)
        |  WHERE len(l) >= 3),
        |dtf AS (SELECT doc_id, train, tri, ctx2, bo, w2, w3, COUNT(*) AS cnt
        |        FROM tg GROUP BY 1, 2, 3, 4, 5, 6, 7),
        |t3 AS (SELECT tri, ctx2, CAST(SUM(cnt) AS BIGINT) AS c3
        |       FROM dtf WHERE train GROUP BY 1, 2),
        |tctx AS (SELECT ctx2, CAST(SUM(c3) AS BIGINT) AS c2 FROM t3 GROUP BY 1),
        |s1 AS (SELECT tri, c2 // c3 AS sur1 FROM t3 JOIN tctx USING (ctx2)),
        |tb AS (SELECT bo, w2, CAST(SUM(cnt) AS BIGINT) AS cb
        |       FROM dtf WHERE train GROUP BY 1, 2),
        |tw AS (SELECT w2, CAST(SUM(cb) AS BIGINT) AS c1 FROM tb GROUP BY 1),
        |s2 AS (SELECT bo, (c1 * 5) // (cb * 2) AS sur2 FROM tb JOIN tw USING (w2)),
        |tu AS (SELECT w3, CAST(SUM(cnt) AS BIGINT) AS cu
        |       FROM dtf WHERE train GROUP BY 1),
        |tot AS (SELECT CAST(COALESCE(SUM(cu), 0) AS BIGINT) AS n FROM tu),
        |sc AS (
        |  SELECT d.doc_id, d.cnt,
        |    CASE WHEN s1.sur1 IS NOT NULL THEN 1 WHEN s2.sur2 IS NOT NULL THEN 2
        |         WHEN s3.sur3 IS NOT NULL THEN 3 ELSE 4 END AS lvl,
        |    COALESCE(s1.sur1, s2.sur2, s3.sur3, (tot.n * 25) // 4) AS sur
        |  FROM dtf d LEFT JOIN s1 USING (tri) LEFT JOIN s2 USING (bo)
        |    LEFT JOIN (SELECT w3, (tot.n * 25) // (cu * 4) AS sur3
        |               FROM tu CROSS JOIN tot) s3 USING (w3)
        |    CROSS JOIN tot)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_bo,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_uni,
        |  CAST(SUM(CASE WHEN lvl = 4 THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(sur * cnt) AS BIGINT) AS surprisal_sum,
        |  CAST(SUM(sur * cnt) AS BIGINT) // CAST(SUM(cnt) AS BIGINT) AS rarity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C101: Kneser–Ney replay — same instance CTEs as q_c84 at n=2;
    // the two ppm terms are rounded SEPARATELY (term1 on c1, term2's
    // inner div on c1 then outer on T) exactly as the Spark expr, and
    // both engines' integer division truncates toward zero.
    "q_c101_kneser_ney" ->
      """WITH base AS (
        |  SELECT doc_id, (doc_id % 5 = 0) AS train,
        |    string_split_regex(trim(text), '\s+') AS l FROM documents),
        |bg AS (
        |  SELECT doc_id, train,
        |    array_to_string(l[i:i+1], ' ') AS bi, l[i] AS w1, l[i+1] AS w2
        |  FROM base, unnest(generate_series(1, len(l) - 1)) AS t(i)
        |  WHERE len(l) >= 2),
        |dtf AS (SELECT doc_id, train, bi, w1, w2, COUNT(*) AS cnt
        |        FROM bg GROUP BY 1, 2, 3, 4, 5),
        |tb AS (SELECT bi, any_value(w1) AS w1, any_value(w2) AS w2,
        |         CAST(SUM(cnt) AS BIGINT) AS c12
        |       FROM dtf WHERE train GROUP BY 1),
        |tc1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |          CAST(COUNT(*) AS BIGINT) AS n1fw FROM tb GROUP BY 1),
        |tbw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bw FROM tb GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bigt FROM tb),
        |sc AS (
        |  SELECT d.doc_id, d.cnt,
        |    CASE WHEN tb.c12 IS NOT NULL THEN 1
        |         WHEN tc1.c1 IS NOT NULL AND tbw.n1bw IS NOT NULL THEN 2
        |         WHEN tbw.n1bw IS NOT NULL THEN 3 ELSE 4 END AS lvl,
        |    CASE WHEN tc1.c1 IS NOT NULL THEN
        |      (greatest(4 * COALESCE(tb.c12, 0) - 3, 0) * 250000) // tc1.c1
        |        + ((3 * tc1.n1fw * 250000) // tc1.c1) * COALESCE(tbw.n1bw, 0)
        |          // greatest(tot.bigt, 1)
        |    ELSE COALESCE(tbw.n1bw, 0) * 1000000 // greatest(tot.bigt, 1)
        |    END AS p_ppm
        |  FROM dtf d
        |  LEFT JOIN tb ON d.bi = tb.bi
        |  LEFT JOIN tc1 ON d.w1 = tc1.w1
        |  LEFT JOIN tbw ON d.w2 = tbw.w2
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_cont,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_uctx,
        |  CAST(SUM(CASE WHEN lvl = 4 THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(p_ppm * cnt) AS BIGINT) AS p_sum_ppm,
        |  CAST(SUM(p_ppm * cnt) AS BIGINT) // CAST(SUM(cnt) AS BIGINT)
        |    AS mean_p_ppm
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C110: the full trigram-KN ladder replayed in SQL — trigram type
    // table, context totals, (w2,w3) continuation types, middle/bw
    // marginals, and the three separately-rounded terms with the
    // EXACT Spark `div` association (both engines parse `a // b * c`
    // left-to-right at one precedence level).
    "q_c110_kneser_ney_tri" ->
      """WITH base AS (
        |  SELECT doc_id, (doc_id % 5 = 0) AS train,
        |    string_split_regex(trim(text), '\s+') AS l FROM documents),
        |tg AS (
        |  SELECT doc_id, train,
        |    array_to_string(l[i:i+2], ' ') AS tri,
        |    array_to_string(l[i:i+1], ' ') AS ctx2,
        |    array_to_string(l[i+1:i+2], ' ') AS bo,
        |    l[i+1] AS w2, l[i+2] AS w3
        |  FROM base, unnest(generate_series(1, len(l) - 2)) AS t(i)
        |  WHERE len(l) >= 3),
        |dtf AS (SELECT doc_id, train, tri, ctx2, bo, w2, w3,
        |          COUNT(*) AS cnt
        |        FROM tg GROUP BY 1, 2, 3, 4, 5, 6, 7),
        |tt AS (SELECT tri, any_value(ctx2) AS ctx2, any_value(bo) AS bo,
        |         any_value(w2) AS w2, any_value(w3) AS w3,
        |         CAST(SUM(cnt) AS BIGINT) AS c123
        |       FROM dtf WHERE train GROUP BY 1),
        |tctx AS (SELECT ctx2, CAST(SUM(c123) AS BIGINT) AS c12,
        |           CAST(COUNT(*) AS BIGINT) AS n1fw12 FROM tt GROUP BY 1),
        |tbi AS (SELECT bo, any_value(w2) AS w2, any_value(w3) AS w3,
        |          CAST(COUNT(*) AS BIGINT) AS nbi FROM tt GROUP BY 1),
        |tmid AS (SELECT w2, CAST(SUM(nbi) AS BIGINT) AS nmid,
        |           CAST(COUNT(*) AS BIGINT) AS n1fw2 FROM tbi GROUP BY 1),
        |tbw AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS n1bw
        |        FROM tbi GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bigt FROM tbi),
        |sc AS (
        |  SELECT d.doc_id, d.cnt,
        |    CASE WHEN tt.c123 IS NOT NULL THEN 1
        |         WHEN tctx.c12 IS NOT NULL THEN 2
        |         WHEN tmid.nmid IS NOT NULL THEN 3
        |         WHEN tbw.n1bw IS NOT NULL THEN 4 ELSE 5 END AS lvl,
        |    CASE WHEN tctx.c12 IS NOT NULL THEN
        |      (greatest(4 * COALESCE(tt.c123, 0) - 3, 0) * 250000) // tctx.c12
        |        + ((3 * tctx.n1fw12 * 250000) // tctx.c12)
        |          * greatest(4 * COALESCE(tbi.nbi, 0) - 3, 0)
        |          // (4 * tmid.nmid)
        |        + ((((3 * tctx.n1fw12 * 250000) // tctx.c12)
        |            * (3 * tmid.n1fw2)) // (4 * tmid.nmid))
        |          * COALESCE(tbw.n1bw, 0) // greatest(tot.bigt, 1)
        |    WHEN tmid.nmid IS NOT NULL THEN
        |      (greatest(4 * COALESCE(tbi.nbi, 0) - 3, 0) * 250000)
        |          // tmid.nmid
        |        + ((3 * tmid.n1fw2 * 250000) // tmid.nmid)
        |          * COALESCE(tbw.n1bw, 0) // greatest(tot.bigt, 1)
        |    ELSE COALESCE(tbw.n1bw, 0) * 1000000 // greatest(tot.bigt, 1)
        |    END AS p_ppm
        |  FROM dtf d
        |  LEFT JOIN tt ON d.tri = tt.tri
        |  LEFT JOIN tctx ON d.ctx2 = tctx.ctx2
        |  LEFT JOIN tbi ON d.bo = tbi.bo
        |  LEFT JOIN tmid ON d.w2 = tmid.w2
        |  LEFT JOIN tbw ON d.w3 = tbw.w3
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_cont,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_umid,
        |  CAST(SUM(CASE WHEN lvl = 4 THEN cnt ELSE 0 END) AS BIGINT) AS n_ubw,
        |  CAST(SUM(CASE WHEN lvl = 5 THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(p_ppm * cnt) AS BIGINT) AS p_sum_ppm,
        |  CAST(SUM(p_ppm * cnt) AS BIGINT) // CAST(SUM(cnt) AS BIGINT)
        |    AS mean_p_ppm
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C115: the C110 replay one suffix deeper — the full 5-gram type
    // chain (tt → t4 → t3 → t2 → t1), per-order context marginals, the
    // five separately-rounded ppm terms with inline backoff weights,
    // and the 7-level ladder. Every intermediate is a BIGINT; // and
    // div truncate identically on these non-negative values.
    "q_c115_kneser_ney_5" ->
      """WITH base AS (
        |  SELECT doc_id, (doc_id % 5 = 0) AS train,
        |    string_split_regex(trim(text), '\s+') AS l FROM documents),
        |tg AS (
        |  SELECT doc_id, train,
        |    array_to_string(l[i:i+4], ' ') AS g,
        |    array_to_string(l[i:i+3], ' ') AS ctop,
        |    array_to_string(l[i+1:i+4], ' ') AS s4,
        |    array_to_string(l[i+2:i+4], ' ') AS s3,
        |    array_to_string(l[i+3:i+4], ' ') AS s2,
        |    l[i+4] AS s1,
        |    array_to_string(l[i+1:i+3], ' ') AS c4,
        |    array_to_string(l[i+2:i+3], ' ') AS c3,
        |    l[i+3] AS c2
        |  FROM base, unnest(generate_series(1, len(l) - 4)) AS t(i)
        |  WHERE len(l) >= 5),
        |dtf AS (SELECT doc_id, train, g, ctop, s4, s3, s2, s1, c4, c3, c2,
        |          COUNT(*) AS cnt
        |        FROM tg GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11),
        |tt AS (SELECT g, any_value(ctop) AS ctop, any_value(s4) AS s4,
        |         any_value(s3) AS s3, any_value(s2) AS s2,
        |         any_value(s1) AS s1, any_value(c4) AS c4,
        |         any_value(c3) AS c3, any_value(c2) AS c2,
        |         CAST(SUM(cnt) AS BIGINT) AS cn
        |       FROM dtf WHERE train GROUP BY 1),
        |tp AS (SELECT ctop, CAST(SUM(cn) AS BIGINT) AS cden,
        |         CAST(COUNT(*) AS BIGINT) AS cn1 FROM tt GROUP BY 1),
        |t4 AS (SELECT s4, any_value(c4) AS c4, any_value(s3) AS s3,
        |         any_value(s2) AS s2, any_value(s1) AS s1,
        |         any_value(c3) AS c3, any_value(c2) AS c2,
        |         CAST(COUNT(*) AS BIGINT) AS n4
        |       FROM tt GROUP BY 1),
        |tc4 AS (SELECT c4, CAST(SUM(n4) AS BIGINT) AS d4,
        |          CAST(COUNT(*) AS BIGINT) AS f4 FROM t4 GROUP BY 1),
        |t3 AS (SELECT s3, any_value(c3) AS c3, any_value(s2) AS s2,
        |         any_value(s1) AS s1, any_value(c2) AS c2,
        |         CAST(COUNT(*) AS BIGINT) AS n3
        |       FROM t4 GROUP BY 1),
        |tc3 AS (SELECT c3, CAST(SUM(n3) AS BIGINT) AS d3,
        |          CAST(COUNT(*) AS BIGINT) AS f3 FROM t3 GROUP BY 1),
        |t2 AS (SELECT s2, any_value(c2) AS c2, any_value(s1) AS s1,
        |         CAST(COUNT(*) AS BIGINT) AS n2
        |       FROM t3 GROUP BY 1),
        |tc2 AS (SELECT c2, CAST(SUM(n2) AS BIGINT) AS d2,
        |          CAST(COUNT(*) AS BIGINT) AS f2 FROM t2 GROUP BY 1),
        |t1 AS (SELECT s1, CAST(COUNT(*) AS BIGINT) AS n1 FROM t2 GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bigt FROM t2),
        |sc AS (
        |  SELECT d.doc_id, d.cnt,
        |    CASE WHEN tt.cn IS NOT NULL THEN 1
        |         WHEN tp.cden IS NOT NULL THEN 2
        |         WHEN tc4.d4 IS NOT NULL THEN 3
        |         WHEN tc3.d3 IS NOT NULL THEN 4
        |         WHEN tc2.d2 IS NOT NULL THEN 5
        |         WHEN t1.n1 IS NOT NULL THEN 6 ELSE 7 END AS lvl,
        |    CASE WHEN tp.cden IS NOT NULL THEN
        |      (greatest(4 * COALESCE(tt.cn, 0) - 3, 0) * 250000) // tp.cden
        |        + ((3 * tp.cn1 * 250000) // tp.cden)
        |          * greatest(4 * COALESCE(t4.n4, 0) - 3, 0) // (4 * tc4.d4)
        |        + ((((3 * tp.cn1 * 250000) // tp.cden) * (3 * tc4.f4))
        |            // (4 * tc4.d4))
        |          * greatest(4 * COALESCE(t3.n3, 0) - 3, 0) // (4 * tc3.d3)
        |        + ((((((3 * tp.cn1 * 250000) // tp.cden) * (3 * tc4.f4))
        |            // (4 * tc4.d4)) * (3 * tc3.f3)) // (4 * tc3.d3))
        |          * greatest(4 * COALESCE(t2.n2, 0) - 3, 0) // (4 * tc2.d2)
        |        + ((((((((3 * tp.cn1 * 250000) // tp.cden) * (3 * tc4.f4))
        |            // (4 * tc4.d4)) * (3 * tc3.f3)) // (4 * tc3.d3))
        |            * (3 * tc2.f2)) // (4 * tc2.d2))
        |          * COALESCE(t1.n1, 0) // greatest(tot.bigt, 1)
        |    WHEN tc4.d4 IS NOT NULL THEN
        |      (greatest(4 * COALESCE(t4.n4, 0) - 3, 0) * 250000) // tc4.d4
        |        + ((3 * tc4.f4 * 250000) // tc4.d4)
        |          * greatest(4 * COALESCE(t3.n3, 0) - 3, 0) // (4 * tc3.d3)
        |        + ((((3 * tc4.f4 * 250000) // tc4.d4) * (3 * tc3.f3))
        |            // (4 * tc3.d3))
        |          * greatest(4 * COALESCE(t2.n2, 0) - 3, 0) // (4 * tc2.d2)
        |        + ((((((3 * tc4.f4 * 250000) // tc4.d4) * (3 * tc3.f3))
        |            // (4 * tc3.d3)) * (3 * tc2.f2)) // (4 * tc2.d2))
        |          * COALESCE(t1.n1, 0) // greatest(tot.bigt, 1)
        |    WHEN tc3.d3 IS NOT NULL THEN
        |      (greatest(4 * COALESCE(t3.n3, 0) - 3, 0) * 250000) // tc3.d3
        |        + ((3 * tc3.f3 * 250000) // tc3.d3)
        |          * greatest(4 * COALESCE(t2.n2, 0) - 3, 0) // (4 * tc2.d2)
        |        + ((((3 * tc3.f3 * 250000) // tc3.d3) * (3 * tc2.f2))
        |            // (4 * tc2.d2))
        |          * COALESCE(t1.n1, 0) // greatest(tot.bigt, 1)
        |    WHEN tc2.d2 IS NOT NULL THEN
        |      (greatest(4 * COALESCE(t2.n2, 0) - 3, 0) * 250000) // tc2.d2
        |        + ((3 * tc2.f2 * 250000) // tc2.d2)
        |          * COALESCE(t1.n1, 0) // greatest(tot.bigt, 1)
        |    ELSE COALESCE(t1.n1, 0) * 1000000 // greatest(tot.bigt, 1)
        |    END AS p_ppm
        |  FROM dtf d
        |  LEFT JOIN tt ON d.g = tt.g
        |  LEFT JOIN tp ON d.ctop = tp.ctop
        |  LEFT JOIN t4 ON d.s4 = t4.s4
        |  LEFT JOIN tc4 ON d.c4 = tc4.c4
        |  LEFT JOIN t3 ON d.s3 = t3.s3
        |  LEFT JOIN tc3 ON d.c3 = tc3.c3
        |  LEFT JOIN t2 ON d.s2 = t2.s2
        |  LEFT JOIN tc2 ON d.c2 = tc2.c2
        |  LEFT JOIN t1 ON d.s1 = t1.s1
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_cont,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_bo4,
        |  CAST(SUM(CASE WHEN lvl = 4 THEN cnt ELSE 0 END) AS BIGINT) AS n_bo3,
        |  CAST(SUM(CASE WHEN lvl = 5 THEN cnt ELSE 0 END) AS BIGINT) AS n_bo2,
        |  CAST(SUM(CASE WHEN lvl = 6 THEN cnt ELSE 0 END) AS BIGINT) AS n_unig,
        |  CAST(SUM(CASE WHEN lvl = 7 THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(p_ppm * cnt) AS BIGINT) AS p_sum_ppm,
        |  CAST(SUM(p_ppm * cnt) AS BIGINT) // CAST(SUM(cnt) AS BIGINT)
        |    AS mean_p_ppm
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C106: the q_c101 KN CTEs down to per-doc mean_p, then the
    // per-source (p DESC, id) rank window and exact integer terciles.
    "q_c106_ccnet_filter" ->
      """WITH base0 AS (
        |  SELECT doc_id, (doc_id % 5 = 0) AS train,
        |    string_split_regex(trim(text), '\s+') AS l FROM documents),
        |bg AS (
        |  SELECT doc_id, train,
        |    array_to_string(l[i:i+1], ' ') AS bi, l[i] AS w1, l[i+1] AS w2
        |  FROM base0, unnest(generate_series(1, len(l) - 1)) AS t(i)
        |  WHERE len(l) >= 2),
        |dtf AS (SELECT doc_id, train, bi, w1, w2, COUNT(*) AS cnt
        |        FROM bg GROUP BY 1, 2, 3, 4, 5),
        |tb AS (SELECT bi, any_value(w1) AS w1, any_value(w2) AS w2,
        |         CAST(SUM(cnt) AS BIGINT) AS c12
        |       FROM dtf WHERE train GROUP BY 1),
        |tc1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |          CAST(COUNT(*) AS BIGINT) AS n1fw FROM tb GROUP BY 1),
        |tbw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bw FROM tb GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bigt FROM tb),
        |sc AS (
        |  SELECT d.doc_id, d.cnt,
        |    CASE WHEN tc1.c1 IS NOT NULL THEN
        |      (greatest(4 * COALESCE(tb.c12, 0) - 3, 0) * 250000) // tc1.c1
        |        + ((3 * tc1.n1fw * 250000) // tc1.c1) * COALESCE(tbw.n1bw, 0)
        |          // greatest(tot.bigt, 1)
        |    ELSE COALESCE(tbw.n1bw, 0) * 1000000 // greatest(tot.bigt, 1)
        |    END AS p_ppm
        |  FROM dtf d
        |  LEFT JOIN tb ON d.bi = tb.bi
        |  LEFT JOIN tc1 ON d.w1 = tc1.w1
        |  LEFT JOIN tbw ON d.w2 = tbw.w2
        |  CROSS JOIN tot),
        |kn AS (SELECT doc_id,
        |    CAST(SUM(p_ppm * cnt) AS BIGINT) // CAST(SUM(cnt) AS BIGINT)
        |      AS mp FROM sc GROUP BY doc_id),
        |db AS (SELECT d.doc_id, d.source AS src,
        |    CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS t,
        |    COALESCE(kn.mp, -1) AS p
        |  FROM documents d LEFT JOIN kn USING (doc_id)
        |  WHERE d.text IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY src ORDER BY p DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY src) AS gn FROM db)
        |SELECT src AS source, (rn - 1) * 3 // gn AS bucket,
        |  COUNT(*) AS docs, CAST(SUM(t) AS BIGINT) AS tokens,
        |  CAST(MAX(p) AS BIGINT) AS max_p_ppm, CAST(MIN(p) AS BIGINT) AS min_p_ppm,
        |  CAST(CASE WHEN (rn - 1) * 3 // gn < 2 THEN 1 ELSE 0 END AS BIGINT)
        |    AS admitted
        |FROM r GROUP BY 1, 2, admitted ORDER BY source, bucket""".stripMargin,

    // C109: the synthetic page is an analytic function of (doc_id,
    // text), so the ENTIRE extraction replays in SQL: block inventory
    // is fixed chrome (nav 17 chars / 17 anchored, h1 6+len(id),
    // optional <p> = collapsed sanitized text, numeric-entity <p> 26,
    // footer 14 chars / 5 anchored = 63 + len(id) + len(p) total,
    // 22 anchor), main text keeps h1 + both <p>s (nav/footer drop by
    // tag, nav also by 2*anchor > chars density).
    // The stopword-density gate (r15): every fixed chrome block is now
    // boilerplate (h1 heading and the numeric <p> are short with zero
    // stopwords), so main_text is the doc <p> alone — and only when it
    // is >= 70 chars or >= 1-in-8 stopword tokens (the C9/C20 7-word
    // set, space-doubling device for adjacent-token matches).
    "q_c109_html_extract" ->
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
        |SELECT doc_id,
        |  CAST(4 + CASE WHEN p <> '' THEN 1 ELSE 0 END AS INT) AS n_blocks,
        |  CAST(CASE WHEN keepp THEN 1 ELSE 0 END AS INT) AS kept_blocks,
        |  CAST(63 + len(CAST(doc_id AS VARCHAR)) + len(p) AS BIGINT)
        |    AS total_chars,
        |  CAST(22 AS BIGINT) AS anchor_chars,
        |  md5('Home About & more' || chr(10) ||
        |      'Doc "' || CAST(doc_id AS VARCHAR) || '"' || chr(10) ||
        |      CASE WHEN p <> '' THEN p || chr(10) ELSE '' END ||
        |      'Numeric AB entities & more' || chr(10) ||
        |      'Terms ' || chr(169) || ' 2026 ' || chr(8482)) AS text_md5,
        |  md5(CASE WHEN keepp THEN p ELSE '' END) AS main_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    // C109b: the lang-keyed gate keeps every plant (each is >= 1-in-8
    // dense in its own list); the English default keeps only the en
    // plant (the others have ZERO English stopwords and < 70 chars,
    // the no-rescue BAD class).
    "q_c109b_html_lang_gate" ->
      """SELECT doc_id, lang,
        |  md5(CASE lang
        |    WHEN 'de' THEN 'der kleine zug und das alte haus'
        |    WHEN 'fr' THEN 'le train et la maison est grande'
        |    WHEN 'es' THEN 'el tren y la casa es grande'
        |    WHEN 'zh' THEN '的 火车 和 房子 是 大 的'
        |    ELSE 'a small train and a big house' END) AS main_md5,
        |  md5(CASE WHEN lang = 'de' OR lang = 'fr' OR lang = 'es'
        |        OR lang = 'zh' THEN ''
        |      ELSE 'a small train and a big house' END) AS main_md5_en
        |FROM documents ORDER BY doc_id""".stripMargin,

    // C111: the synthetic WARC chain is analytic end to end — record
    // count, response headers, and the extracted-main-text md5 all
    // derive from (doc_id, text) with no WARC/HTML parser in the
    // oracle (main_md5 is the q_c109 expression).
    "q_c111_warc_extract" ->
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
        |SELECT doc_id, CAST(2 AS INT) AS n_records,
        |  'response' AS warc_type,
        |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CAST(200 AS INT) AS http_status,
        |  'text/html; charset=utf-8' AS http_content_type,
        |  md5(CASE WHEN keepp THEN p ELSE '' END) AS main_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    // C111b: member routing, response counts, and the extraction all
    // replay from doc_id arithmetic (the q_c111 analytic contract read
    // back through real .warc.gz files). C111d plants: member 1 is
    // latin-1 on disk, member 2 cp1252 (meta-declared only); the
    // appended non-ASCII markers replay as UTF-8 literals BECAUSE the
    // engine decodes by declaration — a UTF-8 assumption tombstones
    // them and fails every member-1/2 md5.
    "q_c111b_warc_files" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(coalesce(text, ''),
        |      '[^ -~]', '', 'g'), ' +', ' ', 'g')) AS p0
        |  FROM documents),
        |c2 AS (
        |  SELECT doc_id, ltrim(p0 || CASE doc_id % 4
        |      WHEN 1 THEN ' café être'
        |      WHEN 2 THEN ' café ’smart“ ™'
        |      ELSE '' END) AS p
        |  FROM c),
        |k AS (
        |  SELECT doc_id, p,
        |    (p <> '' AND (len(p) >= 70 OR
        |      8 * len(regexp_extract_all(
        |            ' ' || regexp_replace(lower(p), ' ', '  ', 'g') || ' ',
        |            ' (the|a|and|is|of|to|in) '))
        |        >= len(string_split(p, ' ')))) AS keepp
        |  FROM c2),
        |m AS (SELECT doc_id % 4 AS mb, CAST(COUNT(*) AS BIGINT)
        |        AS member_responses
        |      FROM documents GROUP BY 1)
        |SELECT k.doc_id,
        |  'member' || CAST(k.doc_id % 4 AS VARCHAR) || '.warc.gz' AS member,
        |  CAST(200 AS INT) AS http_status,
        |  md5(CASE WHEN keepp THEN p ELSE '' END) AS main_md5,
        |  m.member_responses
        |FROM k JOIN m ON m.mb = k.doc_id % 4
        |ORDER BY k.doc_id""".stripMargin,

    // C111c: the index replays as pure LENGTH arithmetic — the member
    // is a concatenation of per-doc segments (originals in id order,
    // then the %50 duplicates), so each record's offset is a window
    // prefix sum of rebuilt segment lengths and the digest is md5 over
    // hex of the rebuilt payload BYTES (ASCII pieces via encode(),
    // the latin-1/cp1252 markers as blob byte escapes).
    // C125: the card-level deltas replay with FILTER over the same
    // token arithmetic the cards were built from. An all-odd source
    // would have no v1 card row (full-outer → 0s) — FILTER SUM's NULL
    // coalesces to 0 on both sides.
    "q_c125_manifest_diff" ->
      """SELECT source,
        |  CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS rows_a,
        |  CAST(COUNT(*) AS BIGINT) AS rows_b,
        |  CAST(COUNT(*) FILTER (WHERE doc_id % 2 <> 0) AS BIGINT)
        |    AS rows_delta,
        |  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+')))
        |    FILTER (WHERE doc_id % 2 = 0), 0) AS BIGINT) AS tokens_a,
        |  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))),
        |    0) AS BIGINT) AS tokens_b
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // C126: the survivor is the full corpus at slot 4; two published
    // versions and one corpse die analytically.
    "q_c126_snapshot_vacuum" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST(4 AS BIGINT) AS version,
        |  CAST(2 AS BIGINT) AS published_deleted,
        |  CAST(1 AS BIGINT) AS garbage_deleted
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // C127: the compacted corpus IS the full corpus; full(1) +
    // delta(2) → compact lands slot 3.
    "q_c127_delta_publish" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST(3 AS BIGINT) AS version
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // C128: ownership replays as min fetch-order per text family
    // (re-crawl twins AND cross-doc duplicate texts); archived bytes =
    // owners' byte lengths (DuckDB strlen = bytes on VARCHAR).
    "q_c128_archive_dedup" ->
      """WITH f AS (
        |  SELECT doc_id AS ord, doc_id AS did, coalesce(text, '') AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, coalesce(text, '')
        |  FROM documents WHERE doc_id % 50 = 0),
        |own AS (SELECT t, MIN(ord) AS o FROM f GROUP BY t),
        |j AS (SELECT f.did, f.t, (f.ord = own.o) AS is_owner
        |      FROM f JOIN own ON f.t = own.t)
        |SELECT d.source,
        |  CAST(COUNT(*) FILTER (WHERE is_owner) AS BIGINT)
        |    AS n_responses,
        |  CAST(COUNT(*) FILTER (WHERE NOT is_owner) AS BIGINT)
        |    AS n_revisits,
        |  CAST(COALESCE(SUM(strlen(t)) FILTER (WHERE is_owner), 0)
        |    AS BIGINT) AS archived_bytes
        |FROM j JOIN documents d ON d.doc_id = j.did
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL snapshot TVF: pinned v1 = the even-doc_id half; logical =
    // the whole corpus (full + delta chain).
    "q_sql_snapshot" ->
      """SELECT 'pinned' AS vw, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT 'logical', source, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents GROUP BY 2
        |ORDER BY vw, source""".stripMargin,

    // SQL hydrate TVF: the hydrated archive's totals equal the
    // never-deduplicated view (min-order ownership over text
    // families); every fetch contributes md5(t) post-hydration.
    "q_sql_hydrate" ->
      """WITH f AS (
        |  SELECT doc_id AS ord, doc_id AS did, coalesce(text, '') AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, coalesce(text, '')
        |  FROM documents WHERE doc_id % 50 = 0),
        |own AS (SELECT t, MIN(ord) AS o FROM f GROUP BY t),
        |j AS (SELECT f.did, f.t, (f.ord = own.o) AS is_owner
        |      FROM f JOIN own ON f.t = own.t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_fetches,
        |  CAST(COUNT(*) FILTER (WHERE NOT is_owner) AS BIGINT)
        |    AS n_hydrated,
        |  CAST(SUM(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS md5_sum,
        |  CAST(SUM(strlen(t)) AS BIGINT) AS n_bytes,
        |  CAST(0 AS BIGINT) AS bad_digests
        |FROM j""".stripMargin,

    // SQL warc TVF: every emitted record is a conversion whose payload
    // is the doc text (null -> empty, the wetRecord contract).
    "q_sql_warc" ->
      """SELECT 'conversion' AS warc_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CAST(('0x' || substr(md5(coalesce(text, '')), 1, 8))
        |    AS BIGINT)) AS BIGINT) AS md5_sum,
        |  CAST(SUM(strlen(coalesce(text, ''))) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 20 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // C131: min-order ownership + per-family live-revisit bit replay
    // the GC verdicts (live iff ord % 3 = 0; an expired owner is
    // pinned iff its family has a live non-owner member).
    "q_c131_archive_gc" ->
      """WITH f AS (
        |  SELECT doc_id AS ord, doc_id AS did, coalesce(text, '') AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, coalesce(text, '')
        |  FROM documents WHERE doc_id % 50 = 0),
        |own AS (SELECT t, MIN(ord) AS o FROM f GROUP BY t),
        |j AS (SELECT f.did, f.t, f.ord, (f.ord = own.o) AS is_owner
        |      FROM f JOIN own ON f.t = own.t),
        |fl AS (SELECT t, MAX(CASE WHEN NOT is_owner AND ord % 3 = 0
        |         THEN 1 ELSE 0 END) AS lr FROM j GROUP BY t)
        |SELECT d.source,
        |  CAST(COUNT(*) FILTER (WHERE is_owner AND ord % 3 = 0)
        |    AS BIGINT) AS live_responses,
        |  CAST(COUNT(*) FILTER (WHERE NOT is_owner AND ord % 3 = 0)
        |    AS BIGINT) AS live_revisits,
        |  CAST(COUNT(*) FILTER (WHERE is_owner AND ord % 3 <> 0
        |    AND lr = 1) AS BIGINT) AS pinned_owners
        |FROM j JOIN fl USING (t) JOIN documents d ON d.doc_id = j.did
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // C132: kept set = live rows ∪ pinned owners; every kept row's
    // post-hydration payload is its family text t (responses carry it,
    // hydrated revisits restore the owner's copy), so the md5/byte
    // sums replay from t alone; bad_digests identically 0.
    "q_c132_archive_gc_publish" ->
      """WITH f AS (
        |  SELECT doc_id AS ord, doc_id AS did, coalesce(text, '') AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, coalesce(text, '')
        |  FROM documents WHERE doc_id % 50 = 0),
        |own AS (SELECT t, MIN(ord) AS o FROM f GROUP BY t),
        |j AS (SELECT f.did, f.t, f.ord, (f.ord = own.o) AS is_owner
        |      FROM f JOIN own ON f.t = own.t),
        |fl AS (SELECT t, MAX(CASE WHEN NOT is_owner AND ord % 3 = 0
        |         THEN 1 ELSE 0 END) AS lr FROM j GROUP BY t),
        |k AS (SELECT j.did, j.t, j.is_owner
        |      FROM j JOIN fl USING (t)
        |      WHERE (j.ord % 3 = 0) OR (j.is_owner AND fl.lr = 1))
        |SELECT d.source,
        |  CAST(COUNT(*) FILTER (WHERE is_owner) AS BIGINT)
        |    AS kept_responses,
        |  CAST(COUNT(*) FILTER (WHERE NOT is_owner) AS BIGINT)
        |    AS kept_revisits,
        |  CAST(SUM(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS md5_sum,
        |  CAST(SUM(strlen(t)) AS BIGINT) AS payload_bytes,
        |  CAST(0 AS BIGINT) AS bad_digests
        |FROM k JOIN documents d ON d.doc_id = k.did
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // C129: the hydrated archive equals the never-deduplicated view —
    // per-fetch md5s (commutative 32-bit-prefix sum), byte totals, and
    // the non-owner count (hydrated rows) all replay from min-order
    // ownership over text families; bad_digests is identically 0.
    "q_c129_archive_hydrate" ->
      """WITH f AS (
        |  SELECT doc_id AS ord, doc_id AS did, coalesce(text, '') AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, coalesce(text, '')
        |  FROM documents WHERE doc_id % 50 = 0),
        |own AS (SELECT t, MIN(ord) AS o FROM f GROUP BY t),
        |j AS (SELECT f.did, f.t, (f.ord = own.o) AS is_owner
        |      FROM f JOIN own ON f.t = own.t)
        |SELECT d.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_fetches,
        |  CAST(COUNT(*) FILTER (WHERE NOT is_owner) AS BIGINT)
        |    AS n_hydrated,
        |  CAST(SUM(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS md5_sum,
        |  CAST(SUM(strlen(t)) AS BIGINT) AS payload_bytes,
        |  CAST(0 AS BIGINT) AS bad_digests
        |FROM j JOIN documents d ON d.doc_id = j.did
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // C124: the WET payload read back IS q_c111's main_text contract
    // (same analytic extraction), and the WAT envelope replays
    // analytically — the synthetic page always carries three hrefs
    // (/, /about, /tos), status 200, utf-8 html mime.
    "q_c124_wet_wat" ->
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
        |SELECT doc_id, md5(CASE WHEN keepp THEN p ELSE '' END) AS main_md5,
        |  CAST(200 AS INT) AS status,
        |  'text/html; charset=utf-8' AS mime,
        |  CAST(3 AS BIGINT) AS n_links
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_c111c_cdx_index" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS ids, doc_id % 4 AS m,
        |    replace(replace(replace(
        |      regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g'),
        |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS e
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, ids, m, e,
        |    CASE m WHEN 1 THEN 'text/html; charset=iso-8859-1'
        |           WHEN 2 THEN 'text/html'
        |           ELSE 'text/html; charset=utf-8' END AS ct,
        |    CASE m WHEN 2 THEN '<meta charset="windows-1252">'
        |           ELSE '' END AS meta,
        |    CASE m WHEN 1 THEN 10 WHEN 2 THEN 15 ELSE 0 END AS mkl,
        |    CASE m WHEN 1 THEN ' caf\xE9 \xEAtre'::BLOB
        |           WHEN 2 THEN ' caf\xE9 \x92smart\x93 \x99'::BLOB
        |           ELSE ''::BLOB END AS mkb
        |  FROM d),
        |html AS (
        |  SELECT doc_id, ids, m, ct, mkl, mkb,
        |    '<html><head><title>Doc ' || ids || '</title>' || meta ||
        |    '<script type="text/javascript">var id=' || ids ||
        |    '; if (id > 1) { alert("<p>not text</p>"); }</script>' ||
        |    '<style>.main > p { color: red; }</style></head><body>' ||
        |    '<nav><a href="/">Home</a> <a href="/about">About &amp; more</a></nav>' ||
        |    '<h1>Doc &quot;' || ids ||
        |    '&quot;</h1><!-- comment with <p>fake</p> tags -->' ||
        |    '<div class="main"><p>' || e AS pre,
        |    '</p><p>Numeric &#65;&#x42; entities &amp; more</p></div>' ||
        |    '<footer><a href="/tos">Terms</a> &#169; 2026 &#8482;</footer>' ||
        |    '</body></html>' AS suf
        |  FROM parts),
        |hl AS (
        |  SELECT *, len(pre) + mkl + len(suf) AS hlen FROM html),
        |hh AS (
        |  SELECT *, len('HTTP/1.1 200 OK') + 2
        |    + len('Content-Type: ' || ct) + 2
        |    + len('Content-Length: ' || CAST(hlen AS VARCHAR)) + 2 + 2
        |    + hlen AS httl
        |  FROM hl),
        |rl AS (
        |  SELECT *,
        |    len('WARC/1.0') + 2 + len('WARC-Type: response') + 2
        |    + len('WARC-Target-URI: http://example.com/doc/' || ids) + 2
        |    + len('WARC-Date: 2026-01-01T00:00:00Z') + 2
        |    + len('WARC-Record-ID: <urn:uuid:' || ids || '>') + 2
        |    + len('Content-Type: application/http;msgtype=response') + 2
        |    + len('Content-Length: ' || CAST(httl AS VARCHAR)) + 2 + 2 AS rhl,
        |    len('WARC/1.0') + 2 + len('WARC-Type: warcinfo') + 2
        |    + len('Content-Type: application/warc-fields') + 2
        |    + len('Content-Length: 16') + 2 + 2 + 16 + 4 AS winfo
        |  FROM hh),
        |occ AS (
        |  SELECT *, 0 AS is_dup FROM rl
        |  UNION ALL
        |  SELECT *, 1 AS is_dup FROM rl WHERE doc_id % 50 = 0),
        |pos AS (
        |  SELECT doc_id, m, ct, mkb, pre, suf, httl, rhl,
        |    winfo + COALESCE(SUM(winfo + rhl + httl + 4) OVER (
        |      PARTITION BY m ORDER BY is_dup, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM occ),
        |idx AS (
        |  SELECT doc_id,
        |    'member' || CAST(m AS VARCHAR) || '.warc.gz' AS member,
        |    CAST(off AS BIGINT) AS "offset",
        |    CAST(rhl + httl AS BIGINT) AS length,
        |    ct AS mime, CAST(200 AS INT) AS status,
        |    md5(hex(encode(pre) || mkb || encode(suf))) AS digest
        |  FROM pos),
        |dc AS (SELECT doc_id, digest, CAST(COUNT(*) AS BIGINT) AS dup_count
        |       FROM idx GROUP BY 1, 2)
        |SELECT i.doc_id, i.member, i."offset", i.length, i.mime, i.status,
        |  i.digest, d.dup_count
        |FROM idx i JOIN dc d USING (doc_id, digest)
        |ORDER BY i.doc_id, i."offset"""".stripMargin,

    // C120: the co-located join replays as a plain SQL join; the
    // quantized component widens float->double exactly in both
    // engines before the integer floor.
    "q_c120_bucketed_join" ->
      """SELECT d.source, e.label,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(d.text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST(SUM(CAST(floor(CAST(e.embedding[1] AS DOUBLE) * 1000)
        |    AS BIGINT)) AS BIGINT) AS q0_sum
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // C122: the latest-published snapshot IS v2's stats; the crashed
    // v=2 decoy never surfaces, so version = 3 analytically.
    "q_c122_snapshot_publish" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST(3 AS BIGINT) AS version
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // C123: the manifest's data card replays from the documents table
    // — per-source doc counts, token sums, and the global row count
    // the card must agree with. The digest half is checked in-plan
    // (read(verify=true) recomputes it; a mismatch throws).
    "q_c123_snapshot_manifest" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS tokens,
        |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS total_rows
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // C113: the link graph replays from doc_id arithmetic — edges are
    // (i, i+1) and (i, i//2) by synthesis, so degrees and dst sums
    // derive with no HTML parser in the oracle.
    "q_c113_link_graph" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |e AS (SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        |      UNION ALL SELECT doc_id, doc_id // 2 FROM ids),
        |ind AS (SELECT dst AS doc_id, CAST(COUNT(*) AS BIGINT) AS in_edges
        |        FROM e GROUP BY 1)
        |SELECT i.doc_id, CAST(3 AS INT) AS n_links,
        |  CAST(2 AS BIGINT) AS out_edges,
        |  COALESCE(ind.in_edges, 0) AS in_edges,
        |  CAST(i.doc_id + 1 + i.doc_id // 2 AS BIGINT) AS dst_sum
        |FROM ids i LEFT JOIN ind ON ind.doc_id = i.doc_id
        |ORDER BY i.doc_id""".stripMargin,

    // C112: every admission decision replays as doc_id arithmetic —
    // family CASE + LIKE for the /doc/3 longest-match and /public/*7
    // wildcard rows.
    "q_c112_robots" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS ids,
        |    doc_id % 6 AS f FROM documents)
        |SELECT doc_id,
        |  CASE f WHEN 0 THEN '/doc/' || ids WHEN 1 THEN '/private/p' || ids
        |         WHEN 2 THEN '/private/ok/' || ids WHEN 3 THEN '/tmp'
        |         WHEN 4 THEN '/tmp' || ids ELSE '/public/' || ids END AS path,
        |  CASE WHEN f = 1 OR f = 3 THEN FALSE ELSE TRUE END AS star_allowed,
        |  CASE f WHEN 1 THEN '/private/' WHEN 2 THEN '/private/ok/'
        |         WHEN 3 THEN '/tmp$' ELSE '' END AS star_rule,
        |  CASE WHEN f = 0 AND ids LIKE '3%' THEN FALSE
        |       WHEN f = 5 AND ids LIKE '%7' THEN FALSE
        |       ELSE TRUE END AS bot_allowed,
        |  CASE WHEN f = 0 AND ids LIKE '3%' THEN '/doc/3'
        |       WHEN f = 0 THEN '/doc/'
        |       WHEN f = 5 AND ids LIKE '%7' THEN '/public/*7$'
        |       ELSE '' END AS bot_rule
        |FROM p ORDER BY doc_id""".stripMargin,

    // C103: plant + marker counts replayed genuinely; repair deltas
    // derive from the plant literals (a fixer false-positive or missed
    // repair diverges the genuinely-computed Spark columns).
    "q_c103_encoding_qa" -> {
      val moji = graft.functions.EncodingQa.MojiSample
      val clean = graft.functions.EncodingQa.CleanSample
      val mark = graft.functions.EncodingQa.MarkerRe
      val ff = "�"
      s"""WITH c AS (
         |  SELECT source, doc_id, text,
         |    CASE WHEN doc_id % 7 = 0
         |           THEN regexp_replace(text, '[^ -~]', '', 'g') || '$moji'
         |         WHEN doc_id % 7 = 3 THEN text || '$ff$ff'
         |         ELSE text END AS t2
         |  FROM documents)
         |SELECT source, COUNT(*) AS docs,
         |  CAST(SUM(CASE WHEN len(regexp_extract_all(t2, '$mark')) > 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS mojibake_docs,
         |  CAST(SUM(len(regexp_extract_all(t2, '$mark'))) AS BIGINT)
         |    AS marker_hits,
         |  CAST(SUM(CASE WHEN doc_id % 7 = 0 AND text IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fixed_docs,
         |  CAST(SUM(CASE WHEN doc_id % 7 = 0 AND text IS NOT NULL
         |    THEN len('$moji') - len('$clean') ELSE 0 END) AS BIGINT)
         |    AS fixed_chars,
         |  CAST(SUM(CASE WHEN doc_id % 7 = 0 AND text IS NOT NULL
         |    THEN strlen('$moji') - strlen('$clean') ELSE 0 END) AS BIGINT)
         |    AS fixed_bytes,
         |  CAST(SUM(len(t2) - len(replace(t2, '$ff', ''))) AS BIGINT)
         |    AS repl_chars
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    },

    // C92: full IPF replay — temperature marginals via the floor-sqrt
    // ±1 device, ppm seed, then the 4 rounds unrolled as row/column
    // window-rescale CTE pairs (the q_c66 unrolled-iteration device).
    // Every window SUM is CAST back to BIGINT (the q_c81 HUGEINT rule).
    "q_c92_ipf_mixture" ->
      (s"""WITH d AS (SELECT source AS src, lang AS lg,
        |    len(string_split_regex(trim(text), '\\s+')) AS t FROM documents),
        |c AS (SELECT src, lg, CAST(SUM(t) AS BIGINT) AS n FROM d GROUP BY 1, 2),
        |tot AS (SELECT greatest(CAST(SUM(n) AS BIGINT), 1) AS nn FROM c),
        |ms AS (SELECT src, CAST(SUM(n) AS BIGINT) AS m FROM c GROUP BY 1),
        |ws AS (SELECT src, CASE WHEN (s0+1)*(s0+1) <= m THEN s0+1
        |         WHEN s0*s0 > m THEN s0-1 ELSE s0 END AS w
        |       FROM (SELECT src, m, CAST(floor(sqrt(m)) AS BIGINT) AS s0 FROM ms)),
        |wss AS (SELECT greatest(CAST(SUM(w) AS BIGINT), 1) AS s FROM ws),
        |ts AS (SELECT src, w * 1000000 // s AS t_src FROM ws, wss),
        |ml AS (SELECT lg, CAST(SUM(n) AS BIGINT) AS m FROM c GROUP BY 1),
        |wl AS (SELECT lg, CASE WHEN (s0+1)*(s0+1) <= m THEN s0+1
        |         WHEN s0*s0 > m THEN s0-1 ELSE s0 END AS w
        |       FROM (SELECT lg, m, CAST(floor(sqrt(m)) AS BIGINT) AS s0 FROM ml)),
        |wls AS (SELECT greatest(CAST(SUM(w) AS BIGINT), 1) AS s FROM wl),
        |tl AS (SELECT lg, w * 1000000 // s AS t_lang FROM wl, wls),
        |rb0 AS (SELECT c.src, c.lg, c.n, ts.t_src, tl.t_lang,
        |    n * 1000000 // nn AS w0, n * 1000000 // nn AS w
        |  FROM c JOIN ts ON c.src IS NOT DISTINCT FROM ts.src
        |  JOIN tl ON c.lg IS NOT DISTINCT FROM tl.lg
        |  CROSS JOIN tot),
        |${ipfRoundCtes(4)}
        |SELECT src AS source, lg AS lang, n AS n_tokens, w0 AS w0_ppm,
        |  w AS w_ppm, t_src AS target_src_ppm, t_lang AS target_lang_ppm,
        |  CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS src_sum_ppm,
        |  CAST(SUM(w) OVER (PARTITION BY lg) AS BIGINT) AS lang_sum_ppm
        |FROM rb4 ORDER BY source, lang""").stripMargin,

    // C93: full ladder replay — cascade flags as conditional window
    // minima (the C85 device), the C68 md5 minhash chain, band pivot
    // via j//2, min-owner per (band, sig-pair) among rung-2 survivors.
    // C121: split + both md5 keys + the full band chain replay; the
    // per-family/per-bucket train bit is a windowless MAX aggregate.
    "q_c121_split_leakage" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source AS src, text AS txt FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, source, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000, source, '  ' || upper(text) || ' !!!'
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000000, source, text || ' qq zz'
        |  FROM documents WHERE doc_id % 4 = 0),
        |sp AS (
        |  SELECT id, src, txt,
        |    CAST(('0x' || substr(md5('split:' || CAST(id AS VARCHAR)),
        |      1, 13)) AS BIGINT) % 1000000 < 800000 AS tr,
        |    COALESCE(md5(txt), 'null') AS ke,
        |    COALESCE(md5(trim(regexp_replace(regexp_replace(lower(txt),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))), 'null') AS kn
        |  FROM base),
        |et AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS eval_docs
        |       FROM sp WHERE NOT tr GROUP BY 1),
        |hk AS (SELECT ke, MAX(CASE WHEN tr THEN 1 ELSE 0 END) AS ht
        |       FROM sp GROUP BY 1),
        |l1 AS (SELECT src, CAST(SUM(ht) AS BIGINT) AS leaked
        |       FROM sp JOIN hk USING (ke) WHERE NOT tr GROUP BY 1),
        |hn AS (SELECT kn, MAX(CASE WHEN tr THEN 1 ELSE 0 END) AS ht
        |       FROM sp GROUP BY 1),
        |l2 AS (SELECT src, CAST(SUM(ht) AS BIGINT) AS leaked
        |       FROM sp JOIN hn USING (kn) WHERE NOT tr GROUP BY 1),
        |tok AS (SELECT id, string_split_regex(trim(txt), '\s+') AS l FROM base),
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
        |bh AS (SELECT band, k0, k1, MAX(CASE WHEN tr THEN 1 ELSE 0 END) AS ht
        |       FROM bd JOIN sp USING (id) GROUP BY 1, 2, 3),
        |l3p AS (SELECT bd.id, sp.src, MAX(bh.ht) AS l
        |        FROM bd JOIN sp USING (id)
        |        JOIN bh USING (band, k0, k1)
        |        WHERE NOT sp.tr GROUP BY 1, 2),
        |l3 AS (SELECT src, CAST(SUM(l) AS BIGINT) AS leaked
        |       FROM l3p GROUP BY 1),
        |u AS (
        |  SELECT CAST(0 AS BIGINT) AS rung, 'exact' AS rung_name,
        |    et.src, et.eval_docs, COALESCE(l1.leaked, 0) AS leaked_docs
        |  FROM et LEFT JOIN l1 USING (src)
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'normalized', et.src, et.eval_docs,
        |    COALESCE(l2.leaked, 0)
        |  FROM et LEFT JOIN l2 USING (src)
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'minhash', et.src, et.eval_docs,
        |    COALESCE(l3.leaked, 0)
        |  FROM et LEFT JOIN l3 USING (src))
        |SELECT rung, rung_name, src AS source, eval_docs, leaked_docs,
        |  CAST(leaked_docs * 1000000 // eval_docs AS BIGINT) AS leak_ppm
        |FROM u ORDER BY rung, source""".stripMargin,

    "q_c93_attrition_funnel" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source AS src, text AS txt FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, source, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000, source, '  ' || upper(text) || ' !!!'
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000000, source, text || ' qq zz'
        |  FROM documents WHERE doc_id % 4 = 0),
        |b2 AS (SELECT id, src, txt,
        |    CAST(len(string_split_regex(trim(txt), '\s+')) AS BIGINT) AS t,
        |    md5(txt) AS ke,
        |    trim(regexp_replace(regexp_replace(lower(txt),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS kn
        |  FROM base),
        |f1 AS (SELECT *, (id = MIN(id) OVER (PARTITION BY ke)) AS keep1 FROM b2),
        |f2 AS (SELECT *, (keep1 AND id = MIN(CASE WHEN keep1 THEN id END)
        |         OVER (PARTITION BY kn)) AS keep2 FROM f1),
        |tok AS (SELECT id, string_split_regex(trim(txt), '\s+') AS l FROM base),
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
        |ow AS (SELECT bd.id, f2.keep2,
        |    MIN(CASE WHEN f2.keep2 THEN bd.id END)
        |      OVER (PARTITION BY band, k0, k1) AS own3
        |  FROM bd JOIN f2 USING (id)),
        |k3 AS (SELECT id, (keep2 AND MIN(own3) = id) AS keep3
        |       FROM ow GROUP BY id, keep2),
        |fl AS (SELECT f2.src, f2.t, f2.keep1, f2.keep2, k3.keep3
        |       FROM f2 JOIN k3 USING (id)),
        |a AS (SELECT src,
        |    CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(t) AS BIGINT) AS t0,
        |    CAST(SUM(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN keep1 THEN t ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(SUM(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN keep2 THEN t ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(SUM(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(SUM(CASE WHEN keep3 THEN t ELSE 0 END) AS BIGINT) AS t3
        |  FROM fl GROUP BY 1)
        |SELECT rung, rung_name, source, docs, tokens FROM (
        |  SELECT CAST(0 AS BIGINT) AS rung, 'raw' AS rung_name,
        |    src AS source, d0 AS docs, t0 AS tokens FROM a
        |  UNION ALL SELECT 1, 'exact', src, d1, t1 FROM a
        |  UNION ALL SELECT 2, 'normalized', src, d2, t2 FROM a
        |  UNION ALL SELECT 3, 'minhash', src, d3, t3 FROM a)
        |ORDER BY rung, source""".stripMargin,

    // C94: same integer log2-floor device (length(bin(x))-1), bucket
    // means in milli, exact least squares; NULL slope below 2 buckets.
    "q_c94_zipf_slope" ->
      """WITH tf AS (
        |  SELECT source AS src, g AS w, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS g
        |        FROM documents)
        |  GROUP BY 1, 2),
        |rk AS (SELECT src,
        |    CAST(length(bin(CAST(ROW_NUMBER() OVER
        |      (PARTITION BY src ORDER BY f DESC, w) AS BIGINT))) - 1 AS BIGINT) AS x,
        |    CAST(length(bin(f)) - 1 AS BIGINT) AS y
        |  FROM tf),
        |bk AS (SELECT src, x, CAST(SUM(y) AS BIGINT) * 1000 // COUNT(*) AS ym
        |       FROM rk GROUP BY 1, 2),
        |rg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(ym) AS BIGINT) AS sy,
        |    CAST(SUM(x * ym) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM bk GROUP BY 1),
        |tt AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(f) AS BIGINT) AS total_tokens FROM tf GROUP BY 1)
        |SELECT tt.src AS source, tt.vocab, tt.total_tokens, rg.nb AS n_buckets,
        |  CASE WHEN rg.nb >= 2 AND (rg.nb * rg.sxx - rg.sx * rg.sx) <> 0
        |    THEN (rg.nb * rg.sxy - rg.sx * rg.sy)
        |         // (rg.nb * rg.sxx - rg.sx * rg.sx)
        |    ELSE NULL END AS slope_milli,
        |  CASE WHEN rg.nb >= 2 AND (rg.nb * rg.sxx - rg.sx * rg.sx) <> 0
        |    THEN (rg.sy - ((rg.nb * rg.sxy - rg.sx * rg.sy)
        |         // (rg.nb * rg.sxx - rg.sx * rg.sx)) * rg.sx) // rg.nb
        |    ELSE NULL END AS intercept_milli
        |FROM tt JOIN rg USING (src) ORDER BY source""".stripMargin,

    // C95: full audit replay — the C93 md5 devices (hashed shingles,
    // slot chain, j//2 band pivot) plus the C91 df-capped posting join
    // for exact ground-truth Jaccard; caught = any band's sig-pair
    // matches, grouped to the per-decile recall curve.
    "q_c95_lsh_recall" ->
      """WITH base AS (
        |  SELECT doc_id AS id, text AS txt FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text || ' xq'
        |  FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:30], ' ')
        |  FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:15], ' ')
        |  FROM documents WHERE doc_id % 11 = 0),
        |tok AS (SELECT id, string_split_regex(trim(txt), '\s+') AS l FROM base),
        |g3 AS (SELECT id, array_to_string(l[i:i+2], ' ') AS g
        |       FROM tok, unnest(generate_series(1, len(l) - 2)) AS u(i)
        |       WHERE len(l) >= 3
        |       UNION ALL
        |       SELECT id, array_to_string(l, ' ') AS g FROM tok WHERE len(l) < 3),
        |hs AS (SELECT DISTINCT id,
        |    CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) AS h FROM g3),
        |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS s FROM hs GROUP BY 1),
        |dfq AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) <= 50),
        |kept AS (SELECT hs.id, hs.h FROM hs JOIN dfq USING (h)),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM kept a JOIN kept b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
        |pj AS (SELECT pr.id_a, pr.id_b,
        |    pr.inter * 1000000 // (sa.s + sb.s - pr.inter) AS j_ppm
        |  FROM pr JOIN sz sa ON sa.id = pr.id_a JOIN sz sb ON sb.id = pr.id_b
        |  WHERE pr.inter * 1000000 // (sa.s + sb.s - pr.inter) >= 100000),
        |sg AS (SELECT id, j,
        |    MIN(CAST(('0x' || substr(md5(CAST(h AS VARCHAR) || '_' ||
        |      CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)) AS s
        |  FROM hs CROSS JOIN generate_series(0, 15) u(j) GROUP BY 1, 2),
        |bd AS (SELECT id, j // 2 AS band,
        |    MAX(CASE WHEN j % 2 = 0 THEN s END) AS k0,
        |    MAX(CASE WHEN j % 2 = 1 THEN s END) AS k1
        |  FROM sg GROUP BY 1, 2),
        |ct AS (SELECT pj.id_a, pj.id_b, pj.j_ppm,
        |    MAX(CASE WHEN ba.k0 = bb.k0 AND ba.k1 = bb.k1 THEN 1 ELSE 0 END)
        |      AS caught
        |  FROM pj JOIN bd ba ON ba.id = pj.id_a
        |  JOIN bd bb ON bb.id = pj.id_b AND bb.band = ba.band
        |  GROUP BY 1, 2, 3)
        |SELECT j_ppm // 100000 AS decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(caught) AS BIGINT) AS n_caught,
        |  CAST(SUM(caught) AS BIGINT) * 1000000 // COUNT(*) AS recall_ppm
        |FROM ct GROUP BY 1 ORDER BY 1""".stripMargin,

    // C97: exact replay — row_number in (md5, id) order per stratum,
    // k = n·ppm floor, id sum over the selected prefix.
    "q_c97_stratified_split" ->
      """WITH s AS (SELECT source AS src, lang AS lg, doc_id AS id,
        |    md5(text) AS hk FROM documents),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY src, lg ORDER BY hk, id) AS rnk,
        |    COUNT(*) OVER (PARTITION BY src, lg) AS n FROM s),
        |k AS (SELECT *, CAST(n AS BIGINT) * 400000 // 1000000 AS k FROM r)
        |SELECT src AS source, lg AS lang, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  CAST(MAX(k) AS BIGINT) AS eval_docs,
        |  CAST(MAX(k) AS BIGINT) * 1000000 // CAST(MAX(n) AS BIGINT) AS eval_ppm,
        |  CAST(SUM(CASE WHEN rnk <= k THEN id ELSE 0 END) AS BIGINT) AS eval_id_sum
        |FROM k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // C98: exact replay — per-source prefix sums in (md5, id) order,
    // admit while the running total fits the 800-token budget.
    "q_c98_budget_fill" ->
      """WITH s AS (SELECT source AS src, doc_id AS id,
        |    len(string_split_regex(trim(text), '\s+')) AS t,
        |    md5(text) AS hk FROM documents),
        |c AS (SELECT *, CAST(SUM(t) OVER (PARTITION BY src ORDER BY hk, id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM s)
        |SELECT src AS source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(t) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN cum <= 800 THEN 1 ELSE 0 END) AS BIGINT) AS admitted_docs,
        |  CAST(SUM(CASE WHEN cum <= 800 THEN t ELSE 0 END) AS BIGINT) AS admitted_tokens,
        |  CAST(SUM(CASE WHEN cum <= 800 THEN t ELSE 0 END) AS BIGINT) * 1000000 // 800
        |    AS fill_ppm,
        |  CAST(SUM(CASE WHEN cum <= 800 THEN id ELSE 0 END) AS BIGINT) AS admitted_id_sum
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // C85: the cascade as conditional window counts — level-i
    // membership counts only rows that failed every finer level, so
    // published finer groups never bulk up coarser ones.
    "q_c85_k_anon" ->
      """WITH e AS (
        |  SELECT event_type AS et, CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
        |    CAST(floor(value / 10) AS BIGINT) AS vb, user_id
        |  FROM events),
        |w0 AS (SELECT *, count(*) OVER (PARTITION BY et, d, vb) AS k0 FROM e),
        |w1 AS (SELECT *, count(CASE WHEN k0 < 10 THEN 1 END)
        |         OVER (PARTITION BY et, d) AS k1 FROM w0),
        |w2 AS (SELECT *, count(CASE WHEN k0 < 10 AND k1 < 10 THEN 1 END)
        |         OVER (PARTITION BY et) AS k2 FROM w1),
        |lv AS (SELECT user_id,
        |    CASE WHEN k0 >= 10 THEN 0 WHEN k1 >= 10 THEN 1
        |         WHEN k2 >= 10 THEN 2 ELSE 3 END AS anon_level,
        |    CASE WHEN k0 >= 10 THEN coalesce(et, '<null>') || '|' ||
        |           coalesce(d, '<null>') || '|' ||
        |           coalesce(CAST(vb AS VARCHAR), '<null>')
        |         WHEN k1 >= 10 THEN coalesce(et, '<null>') || '|' ||
        |           coalesce(d, '<null>')
        |         WHEN k2 >= 10 THEN coalesce(et, '<null>') END AS anon_key
        |  FROM w2),
        |g AS (SELECT anon_level, anon_key, COUNT(*) AS kk,
        |        COUNT(DISTINCT user_id) AS l
        |      FROM lv GROUP BY 1, 2)
        |SELECT anon_level, CAST(SUM(kk) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(MIN(kk) AS BIGINT) AS min_k, CAST(MIN(l) AS BIGINT) AS min_l
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_c37_corpus_linededup" ->
      """WITH d2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || '. subscribe to the global newsletter today'
        |    ELSE text END AS text2 FROM documents),
        |base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text2), '\.\s+'), x -> len(x) > 0) AS l
        |  FROM d2),
        |s AS (
        |  SELECT doc_id, l[i] AS sent, i
        |  FROM base, unnest(generate_series(1, len(l))) AS t(i)),
        |ranked AS (
        |  SELECT doc_id, sent, i,
        |    row_number() OVER (PARTITION BY sent ORDER BY doc_id, i) AS rn
        |  FROM s)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_sentences,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS dropped_sentences,
        |  substr(md5(coalesce(string_agg(CASE WHEN rn = 1 THEN sent END, '. ' ORDER BY i), '')), 1, 8) AS text_md5
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_c38_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id, 'site' || CAST(doc_id % 37 AS VARCHAR) AS domain FROM documents),
        |r AS (
        |  SELECT domain, doc_id,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS cap_rank
        |  FROM d)
        |SELECT domain, doc_id, cap_rank FROM r WHERE cap_rank <= 5
        |ORDER BY domain, cap_rank""".stripMargin,

    "q_c39_quality_clf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 4)) AS BIGINT) % 19 - 9 AS w
        |  FROM tok),
        |ds AS (
        |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS lin_score, COUNT(*) AS n_tokens
        |  FROM w GROUP BY doc_id)
        |SELECT d.source, COUNT(*) AS docs,
        |  CAST(SUM(CASE WHEN ds.lin_score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positives,
        |  CAST(SUM(ds.lin_score) AS BIGINT) AS sum_score,
        |  CAST(SUM(ds.n_tokens) AS BIGINT) AS sum_tokens
        |FROM documents d JOIN ds USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q_c46_doc_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id, tf.term, (tf.tf * 1000000) // df.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY (tf.tf * 1000000) // df.df DESC, tf.term) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, rank, term, score FROM s WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q_c45_group_quantiles" ->
      """WITH d AS (
        |  SELECT source, len(string_split_regex(trim(text), '\s+')) AS ntok
        |  FROM documents),
        |r AS (
        |  SELECT source, ntok,
        |    row_number() OVER (PARTITION BY source ORDER BY ntok) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS cnt
        |  FROM d),
        |f AS (SELECT unnest([0.0, 0.5, 0.9, 0.99, 1.0]) AS f)
        |SELECT source,
        |  'p' || CAST(CAST(round(f * 100) AS BIGINT) AS VARCHAR) AS pct,
        |  CAST(ntok AS BIGINT) AS value
        |FROM r JOIN f ON r.rk = CAST(floor((cnt - 1) * f) AS BIGINT)
        |ORDER BY source, pct""".stripMargin,

    "q_c44_gram_novelty" ->
      """WITH d2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' shared boilerplate gram alpha beta gamma delta epsilon zeta eta'
        |    ELSE text END AS text2 FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(trim(text2), '\s+') AS t FROM d2),
        |g AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g8
        |  FROM tok, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |fd AS (SELECT g8, MIN(doc_id) AS fdoc FROM g GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS grams,
        |  CAST(SUM(CASE WHEN fdoc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
        |  CAST(SUM(CASE WHEN fdoc = doc_id THEN 1 ELSE 0 END) AS BIGINT) * 100 // COUNT(*) AS novelty_pct
        |FROM g JOIN fd USING (g8)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_c43_dup_spans" ->
      """WITH d2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' shared boilerplate gram alpha beta gamma delta epsilon zeta eta'
        |    ELSE text END AS text2 FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(trim(text2), '\s+') AS t FROM d2),
        |g AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g8
        |  FROM tok, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |gc AS (SELECT g8, COUNT(*) AS c FROM g GROUP BY 1),
        |dup AS (SELECT doc_id, pos FROM g JOIN gc USING (g8) WHERE c > 1),
        |sp AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
        |      THEN 0 ELSE 1 END AS ns
        |  FROM dup),
        |sp2 AS (
        |  SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
        |  FROM sp),
        |spans AS (SELECT doc_id, sid, COUNT(*) AS glen FROM sp2 GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(glen) AS BIGINT) AS dup_grams,
        |  CAST(MAX(glen) + 7 AS BIGINT) AS max_span_tokens
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C116: positions -> window -> md5 span offset -> masked/first
    // flags -> two ordered string_aggs (input keeps unmasked + one
    // sentinel per span; target keeps masked with sentinel prefix).
    "q_c116_span_corrupt" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, i AS pos, t[i] AS tokn, len(t) AS n,
        |    (i - 1) // 20 AS w
        |  FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
        |mx AS (
        |  SELECT doc_id, pos, tokn, n, w,
        |    CASE WHEN w < n // 20 THEN
        |      CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(w AS VARCHAR)), 1, 13)) AS BIGINT) % 18
        |    ELSE NULL END AS soff
        |  FROM px),
        |fx AS (
        |  SELECT doc_id, pos, tokn, n, w,
        |    soff IS NOT NULL AND (pos - 1) - w * 20 BETWEEN soff AND soff + 2
        |      AS masked,
        |    soff IS NOT NULL AND (pos - 1) - w * 20 = soff AS firstp
        |  FROM mx),
        |inp AS (
        |  SELECT doc_id, string_agg(
        |    CASE WHEN masked THEN '<extra_id_' || CAST(w AS VARCHAR) || '>'
        |         ELSE tokn END, ' ' ORDER BY pos) AS itext
        |  FROM fx WHERE NOT masked OR firstp GROUP BY 1),
        |tgt AS (
        |  SELECT doc_id, string_agg(
        |    CASE WHEN firstp THEN '<extra_id_' || CAST(w AS VARCHAR)
        |      || '> ' || tokn ELSE tokn END, ' ' ORDER BY pos) AS ttext
        |  FROM fx WHERE masked GROUP BY 1),
        |agg AS (
        |  SELECT doc_id, CAST(MAX(n) AS INT) AS total_tokens,
        |    CAST(MAX(n) // 20 AS INT) AS n_spans,
        |    CAST(3 * (MAX(n) // 20) AS INT) AS masked_tokens
        |  FROM fx GROUP BY 1)
        |SELECT a.doc_id, a.total_tokens, a.n_spans, a.masked_tokens,
        |  md5(COALESCE(i.itext, '')) AS input_md5,
        |  md5(COALESCE(g.ttext, '')) AS target_md5
        |FROM agg a LEFT JOIN inp i USING (doc_id)
        |LEFT JOIN tgt g USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    // C118: the q_c116 chain instantiated per arm (R = 20/3, X = 10/5
    // with mod 6) over the coin-routed doc slices, plus the S-arm
    // prefix-LM from a single md5 cut; UNION ALL of the three arms.
    "q_c118_ul2_mix" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |coin AS (
        |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
        |    CAST(('0x' || substr(md5('ul2-c:' || CAST(doc_id AS VARCHAR)),
        |      1, 13)) AS BIGINT) % 3 AS c
        |  FROM tok),
        |px0 AS (
        |  SELECT doc_id, i AS pos, t[i] AS tokn, n, (i - 1) // 20 AS w
        |  FROM coin, unnest(generate_series(1, len(t))) AS u(i)
        |  WHERE c = 0),
        |fx0 AS (
        |  SELECT doc_id, pos, tokn, n, w,
        |    s0 IS NOT NULL AND (pos - 1) - w * 20 BETWEEN s0 AND s0 + 2
        |      AS masked,
        |    s0 IS NOT NULL AND (pos - 1) - w * 20 = s0 AS firstp
        |  FROM (SELECT *, CASE WHEN w < n // 20 THEN
        |      CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(w AS VARCHAR)), 1, 13)) AS BIGINT) % 18
        |    ELSE NULL END AS s0 FROM px0)),
        |r0 AS (
        |  SELECT f.doc_id, 'r' AS objective, MAX(f.n) AS total_tokens,
        |    MAX(f.n) // 20 AS n_spans, 3 * (MAX(f.n) // 20) AS masked_tokens,
        |    md5(COALESCE((SELECT string_agg(CASE WHEN masked
        |        THEN '<extra_id_' || CAST(w AS VARCHAR) || '>'
        |        ELSE tokn END, ' ' ORDER BY pos)
        |      FROM fx0 WHERE doc_id = f.doc_id AND (NOT masked OR firstp)),
        |      '')) AS input_md5,
        |    md5(COALESCE((SELECT string_agg(CASE WHEN firstp
        |        THEN '<extra_id_' || CAST(w AS VARCHAR) || '> ' || tokn
        |        ELSE tokn END, ' ' ORDER BY pos)
        |      FROM fx0 WHERE doc_id = f.doc_id AND masked), '')) AS target_md5
        |  FROM fx0 f GROUP BY f.doc_id),
        |px1 AS (
        |  SELECT doc_id, i AS pos, t[i] AS tokn, n, (i - 1) // 10 AS w
        |  FROM coin, unnest(generate_series(1, len(t))) AS u(i)
        |  WHERE c = 1),
        |fx1 AS (
        |  SELECT doc_id, pos, tokn, n, w,
        |    s0 IS NOT NULL AND (pos - 1) - w * 10 BETWEEN s0 AND s0 + 4
        |      AS masked,
        |    s0 IS NOT NULL AND (pos - 1) - w * 10 = s0 AS firstp
        |  FROM (SELECT *, CASE WHEN w < n // 10 THEN
        |      CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(w AS VARCHAR)), 1, 13)) AS BIGINT) % 6
        |    ELSE NULL END AS s0 FROM px1)),
        |x1 AS (
        |  SELECT f.doc_id, 'x' AS objective, MAX(f.n) AS total_tokens,
        |    MAX(f.n) // 10 AS n_spans, 5 * (MAX(f.n) // 10) AS masked_tokens,
        |    md5(COALESCE((SELECT string_agg(CASE WHEN masked
        |        THEN '<extra_id_' || CAST(w AS VARCHAR) || '>'
        |        ELSE tokn END, ' ' ORDER BY pos)
        |      FROM fx1 WHERE doc_id = f.doc_id AND (NOT masked OR firstp)),
        |      '')) AS input_md5,
        |    md5(COALESCE((SELECT string_agg(CASE WHEN firstp
        |        THEN '<extra_id_' || CAST(w AS VARCHAR) || '> ' || tokn
        |        ELSE tokn END, ' ' ORDER BY pos)
        |      FROM fx1 WHERE doc_id = f.doc_id AND masked), '')) AS target_md5
        |  FROM fx1 f GROUP BY f.doc_id),
        |s2 AS (
        |  SELECT doc_id, 's' AS objective, n AS total_tokens,
        |    CAST(1 AS BIGINT) AS n_spans, n - cut AS masked_tokens,
        |    md5(array_to_string(t[1:cut] || ['<extra_id_0>'], ' '))
        |      AS input_md5,
        |    md5(array_to_string(['<extra_id_0>'] || t[cut+1:n], ' '))
        |      AS target_md5
        |  FROM (SELECT doc_id, t, n,
        |      CAST(('0x' || substr(md5('ul2-s:' || CAST(doc_id AS VARCHAR)),
        |        1, 13)) AS BIGINT) % (n + 1) AS cut
        |    FROM coin WHERE c = 2))
        |SELECT doc_id, objective, CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(n_spans AS BIGINT) AS n_spans,
        |  CAST(masked_tokens AS BIGINT) AS masked_tokens,
        |  input_md5, target_md5
        |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM x1
        |      UNION ALL SELECT * FROM s2)
        |ORDER BY doc_id""".stripMargin,

    // C119: the packing replays entirely as prefix-sum arithmetic —
    // example mass t = n + 2·(n//20) + 1 (the q_c116 contract), global
    // offsets via SUM OVER the md5 order, coverage via generate_series
    // over the spanned sequence range, the boundary digest as the
    // PostingsMd5 "off:id" string in (off, id) order.
    "q_c119_pack_examples" ->
      """WITH tok AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5('graft'
        |      || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS k,
        |    CAST(n + 2 * (n // 20) + 1 AS BIGINT) AS t
        |  FROM tok),
        |cum AS (
        |  SELECT doc_id, t, CAST(SUM(t) OVER (ORDER BY k, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cend
        |  FROM ex),
        |sp AS (SELECT doc_id, cend - t AS st, cend - 1 AS en FROM cum),
        |cov AS (
        |  SELECT doc_id, st, en, s AS seq_no,
        |    least(en, (s + 1) * 256 - 1) - greatest(st, s * 256) + 1 AS c,
        |    st // 256 = s AS isst, st % 256 AS off
        |  FROM sp, unnest(generate_series(st // 256, en // 256)) AS u(s)),
        |seqs AS (
        |  SELECT seq_no, CAST(SUM(c) AS BIGINT) AS filled_tokens,
        |    CAST(SUM(CASE WHEN isst THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_starts,
        |    CAST(SUM(CASE WHEN NOT isst THEN c ELSE 0 END) AS BIGINT)
        |      AS carry_in_tokens,
        |    md5(coalesce(string_agg(CASE WHEN isst THEN
        |      CAST(off AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) END,
        |      ' ' ORDER BY off, doc_id), '')) AS boundaries_md5
        |  FROM cov GROUP BY 1)
        |SELECT CAST(seq_no AS BIGINT) AS seq_no,
        |  CAST(seq_no // 8 AS BIGINT) AS shard,
        |  filled_tokens,
        |  CAST(256 - filled_tokens AS BIGINT) AS pad_tokens,
        |  n_starts, carry_in_tokens > 0 AS starts_mid, carry_in_tokens,
        |  boundaries_md5
        |FROM seqs ORDER BY seq_no""".stripMargin,

    // C119b: the shard rollup over the same seqs frame.
    "q_c119b_pack_shards" ->
      """WITH tok AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5('graft'
        |      || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS k,
        |    CAST(n + 2 * (n // 20) + 1 AS BIGINT) AS t
        |  FROM tok),
        |cum AS (
        |  SELECT doc_id, t, CAST(SUM(t) OVER (ORDER BY k, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cend
        |  FROM ex),
        |sp AS (SELECT doc_id, cend - t AS st, cend - 1 AS en FROM cum),
        |cov AS (
        |  SELECT doc_id, s AS seq_no,
        |    least(en, (s + 1) * 256 - 1) - greatest(st, s * 256) + 1 AS c,
        |    st // 256 = s AS isst
        |  FROM sp, unnest(generate_series(st // 256, en // 256)) AS u(s)),
        |seqs AS (
        |  SELECT seq_no, CAST(SUM(c) AS BIGINT) AS filled_tokens,
        |    CAST(SUM(CASE WHEN isst THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_starts,
        |    CAST(SUM(CASE WHEN NOT isst THEN c ELSE 0 END) AS BIGINT)
        |      AS carry_in_tokens
        |  FROM cov GROUP BY 1)
        |SELECT CAST(seq_no // 8 AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_seqs,
        |  CAST(SUM(n_starts) AS BIGINT) AS n_examples,
        |  CAST(SUM(filled_tokens) AS BIGINT) AS filled_tokens,
        |  CAST(SUM(256 - filled_tokens) AS BIGINT) AS pad_tokens,
        |  CAST(SUM(CASE WHEN carry_in_tokens > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS straddled_seqs,
        |  CAST(SUM(carry_in_tokens) AS BIGINT) AS straddle_tokens,
        |  CAST(SUM(filled_tokens) * 1000000 // (COUNT(*) * 256) AS BIGINT)
        |    AS util_ppm
        |FROM seqs GROUP BY 1 ORDER BY 1""".stripMargin,

    // C117: md5 cuts + mode coin + gate, then the exact PSM/SPM
    // sentinel string from list slices.
    "q_c117_fim" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
        |    CAST(('0x' || substr(md5('fim-g:' || CAST(doc_id AS VARCHAR)),
        |      1, 13)) AS BIGINT) % 1000000 < 500000 AS gate,
        |    CAST(('0x' || substr(md5('fim-a:' || CAST(doc_id AS VARCHAR)),
        |      1, 13)) AS BIGINT) % (len(t) + 1) AS h1,
        |    CAST(('0x' || substr(md5('fim-b:' || CAST(doc_id AS VARCHAR)),
        |      1, 13)) AS BIGINT) % (len(t) + 1) AS h2,
        |    CAST(('0x' || substr(md5('fim-m:' || CAST(doc_id AS VARCHAR)),
        |      1, 13)) AS BIGINT) % 2 AS hm
        |  FROM tok),
        |c AS (
        |  SELECT doc_id, t, n, least(h1, h2) AS c1, greatest(h1, h2) AS c2,
        |    CASE WHEN NOT gate THEN 'plain'
        |         WHEN hm = 0 THEN 'psm' ELSE 'spm' END AS mode
        |  FROM h)
        |SELECT doc_id, mode, n AS n_tokens,
        |  CASE WHEN mode = 'plain' THEN n ELSE c1 END AS prefix_tokens,
        |  CASE WHEN mode = 'plain' THEN 0 ELSE c2 - c1 END AS middle_tokens,
        |  CASE WHEN mode = 'plain' THEN 0 ELSE n - c2 END AS suffix_tokens,
        |  md5(CASE WHEN mode = 'plain' THEN array_to_string(t, ' ')
        |    WHEN mode = 'psm' THEN array_to_string(
        |      ['<fim_prefix>'] || t[1:c1] || ['<fim_suffix>'] || t[c2+1:n]
        |        || ['<fim_middle>'] || t[c1+1:c2], ' ')
        |    ELSE array_to_string(
        |      ['<fim_suffix>'] || t[c2+1:n] || ['<fim_prefix>'] || t[1:c1]
        |        || ['<fim_middle>'] || t[c1+1:c2], ' ')
        |    END) AS fim_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // C114: grams -> packed (doc_id, pos) argmin owner -> non-owner
    // duplicated positions -> interval-union coverage (a range join on
    // [p-7, p]) -> span runs via lag + rejoin of uncovered tokens.
    // Positions are 1-based here vs 0-based in Spark; the owner rule is
    // lexicographic (doc_id, pos) so the base cancels out.
    "q_c114_exact_substr" ->
      """WITH d2 AS (
        |  SELECT doc_id, source, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' shared boilerplate gram alpha beta gamma delta epsilon zeta eta'
        |    ELSE text END AS text2 FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(trim(text2), '\s+') AS t FROM d2),
        |g AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g8
        |  FROM tok, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |own AS (SELECT g8, COUNT(*) AS c,
        |          MIN(doc_id * 4294967296 + pos) AS o FROM g GROUP BY 1),
        |scrub AS (
        |  SELECT doc_id, pos FROM g JOIN own USING (g8)
        |  WHERE c > 1 AND doc_id * 4294967296 + pos <> o),
        |posx AS (
        |  SELECT doc_id, i AS p, t[i] AS tokn
        |  FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
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
        |    CAST(SUM(CASE WHEN cvr THEN 0 ELSE 1 END) AS INTEGER) AS kept_tokens,
        |    CAST(SUM(CASE WHEN cvr THEN 1 ELSE 0 END) AS INTEGER) AS removed_tokens,
        |    CAST(SUM(ns) AS INTEGER) AS n_spans
        |  FROM runs GROUP BY 1)
        |SELECT a.doc_id, d.source, a.kept_tokens, a.removed_tokens,
        |  a.n_spans, md5(COALESCE(k.kt, '')) AS kept_md5
        |FROM agg a JOIN d2 d USING (doc_id) LEFT JOIN kept k USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    "q_c42_bigram_lm" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
        |bi AS (
        |  SELECT doc_id, l[i] AS w1, array_to_string(l[i:i+1], ' ') AS bg
        |  FROM base, unnest(generate_series(1, len(l) - 1)) AS t(i)
        |  WHERE len(l) >= 2),
        |bc AS (SELECT bg, COUNT(*) AS cb FROM bi GROUP BY 1),
        |ctx AS (SELECT w1, COUNT(*) AS cw FROM bi GROUP BY 1),
        |s AS (
        |  SELECT bi.doc_id, (ctx.cw // bc.cb) AS sur
        |  FROM bi JOIN bc USING (bg) JOIN ctx USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(sur) AS BIGINT) AS surprisal_sum,
        |  CAST(SUM(sur) AS BIGINT) // COUNT(*) AS rarity
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_c41_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |sw AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |corpus AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM sw GROUP BY 1),
        |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM sw),
        |grid AS (SELECT corpus.w, corpus.cw, totals.source, totals.ts FROM corpus, totals),
        |j AS (
        |  SELECT g.source, g.ts, coalesce(sw.c, 0) AS c,
        |    (coalesce(sw.c, 0) * 1000000) // g.ts AS p_ppm,
        |    (g.cw * 1000000) // tot.t AS q_ppm
        |  FROM grid g LEFT JOIN sw ON sw.w = g.w AND sw.source = g.source
        |  CROSS JOIN tot)
        |SELECT source, MAX(ts) AS n_tokens,
        |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS distinct_terms,
        |  CAST(SUM(abs(p_ppm - q_ppm)) AS BIGINT) AS tv_ppm
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "q_c40_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |tf AS (
        |  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |idx AS (
        |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        |    md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR), ' ' ORDER BY doc_id)) AS postings_md5
        |  FROM tf GROUP BY term)
        |SELECT term, df, total_tf, postings_md5 FROM idx
        |WHERE df >= 40 ORDER BY term""".stripMargin,

    "q_c29_semdedup" ->
      """WITH qv AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |uni AS (SELECT vec_id, v FROM qv
        |        UNION ALL SELECT vec_id + 10000, v FROM qv WHERE vec_id % 10 = 0),
        |cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |aff AS (
        |  SELECT u.vec_id, cent.cell,
        |    2*list_sum(list_transform(list_zip(u.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM uni u, cent),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
        |    FROM aff) WHERE r = 1),
        |dropped AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  JOIN uni ua ON ua.vec_id = a.vec_id JOIN uni ub ON ub.vec_id = b.vec_id
        |  WHERE list_sum(list_transform(ua.v, x -> x*x)) > 0
        |    AND list_sum(list_transform(ub.v, x -> x*x)) > 0
        |    AND CAST(list_sum(list_transform(list_zip(ua.v, ub.v), p -> p[1]*p[2])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(ua.v, x -> x*x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(ub.v, x -> x*x)) AS DOUBLE)) >= 0.95)
        |SELECT a.cell, count(*) AS n,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id END) AS BIGINT) AS sum_kept_ids
        |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        |GROUP BY 1 ORDER BY cell""".stripMargin,
    "q_c32_semdedup_2level" ->
      """WITH qv AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |uni AS (SELECT vec_id, v FROM qv
        |        UNION ALL SELECT vec_id + 10000, v FROM qv WHERE vec_id % 10 = 0),
        |coarse AS (SELECT vec_id AS cc, v AS c FROM qv WHERE vec_id < 8),
        |aff1 AS (
        |  SELECT u.vec_id, coarse.cc,
        |    2*list_sum(list_transform(list_zip(u.v, coarse.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(coarse.c, x -> x*x)) AS score
        |  FROM uni u, coarse),
        |route AS (
        |  SELECT vec_id, cc FROM (
        |    SELECT vec_id, cc, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cc) AS r
        |    FROM aff1) WHERE r = 1),
        |fseeds AS (
        |  SELECT cc, vec_id AS fid, v AS fv FROM (
        |    SELECT r.cc, r.vec_id, u.v,
        |      row_number() OVER (PARTITION BY r.cc ORDER BY r.vec_id) AS rn
        |    FROM route r JOIN uni u USING (vec_id)) WHERE rn <= 4),
        |aff2 AS (
        |  SELECT r.vec_id, r.cc, f.fid,
        |    2*list_sum(list_transform(list_zip(u.v, f.fv), p -> p[1]*p[2]))
        |      - list_sum(list_transform(f.fv, x -> x*x)) AS score
        |  FROM route r JOIN uni u USING (vec_id) JOIN fseeds f ON f.cc = r.cc),
        |assign AS (
        |  SELECT vec_id, cc, fid FROM (
        |    SELECT vec_id, cc, fid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, fid) AS r
        |    FROM aff2) WHERE r = 1),
        |dropped AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM assign a JOIN assign b ON a.cc = b.cc AND a.fid = b.fid AND b.vec_id < a.vec_id
        |  JOIN uni ua ON ua.vec_id = a.vec_id JOIN uni ub ON ub.vec_id = b.vec_id
        |  WHERE list_sum(list_transform(ua.v, x -> x*x)) > 0
        |    AND list_sum(list_transform(ub.v, x -> x*x)) > 0
        |    AND CAST(list_sum(list_transform(list_zip(ua.v, ub.v), p -> p[1]*p[2])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(ua.v, x -> x*x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(ub.v, x -> x*x)) AS DOUBLE)) >= 0.95)
        |SELECT CAST(a.cc AS INTEGER) AS ccell, a.fid AS fcell, count(*) AS n,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id END) AS BIGINT) AS sum_kept_ids
        |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        |GROUP BY 1, 2 ORDER BY ccell, fcell""".stripMargin,
    "q_c33_pack_spans" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5('graft' || CAST(doc_id AS VARCHAR)) AS k,
        |    len(string_split_regex(trim(text), '\s+')) + 1 AS t
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, t,
        |    SUM(t) OVER (ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cend
        |  FROM keyed)
        |SELECT doc_id, CAST(cend - t AS BIGINT) AS token_start,
        |  CAST((cend - t) // 128 AS BIGINT) AS first_seq,
        |  CAST((cend - 1) // 128 AS BIGINT) AS last_seq
        |FROM cum ORDER BY doc_id""".stripMargin,
    "q_c34_collocations" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
        |uni AS (SELECT unnest(l) AS w FROM t),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |tot AS (SELECT count(*) AS n FROM uni),
        |bi AS (SELECT unnest([array_to_string(l[i:i+1], ' ')
        |  for i in generate_series(1, len(l)-1)]) AS bg FROM t),
        |bc AS (SELECT bg, count(*) AS cab FROM bi GROUP BY bg HAVING count(*) >= 5),
        |scored AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, cab,
        |    cab * tot.n * 1000 // (a.c * b.c) AS score
        |  FROM bc, tot
        |  JOIN uc a ON a.w = string_split(bg, ' ')[1]
        |  JOIN uc b ON b.w = string_split(bg, ' ')[2])
        |SELECT w1, w2, cab AS pair_cnt, CAST(score AS BIGINT) AS score
        |FROM scored ORDER BY score DESC, w1, w2 LIMIT 20""".stripMargin,
    "q_c36_bm25" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS dl,
        |  string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
        |n AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tt FROM d),
        |adl AS (SELECT (tt * 1000) // n AS adl_m FROM n),
        |tok AS (SELECT doc_id, unnest(l) AS w FROM d),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('vector', 'stream', 'merge') GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ((n.n * 1000) // df.df) *
        |    ((tf.tf * 2200 * 1000) //
        |     (tf.tf * 1000 + (1200 * (250 + (750 * d2.dl * 1000) // adl.adl_m)) // 1000))
        |      AS contrib
        |  FROM tf JOIN df USING (w) JOIN d d2 USING (doc_id)
        |  CROSS JOIN n CROSS JOIN adl)
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score,
        |       count(*) AS matched_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "q_c35_lm_rarity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |            FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS t FROM tok),
        |doc AS (SELECT doc_id, count(*) AS ntok, CAST(sum(t // c) AS BIGINT) AS ssum
        |        FROM tok JOIN cnt USING (w) CROSS JOIN tot GROUP BY doc_id)
        |SELECT d.source, count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS tokens,
        |       CAST(sum(ssum) AS BIGINT) AS surprisal,
        |       CAST(sum(CASE WHEN ssum // ntok > 40 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS rare_docs
        |FROM documents d JOIN doc USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_c31_linededup" ->
      """WITH d2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || '. repeated promo line. genuine tail content. repeated promo line'
        |    ELSE text END AS text2 FROM documents),
        |base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text2), '\.\s+'), x -> len(x) > 0) AS l
        |  FROM d2),
        |s AS (
        |  SELECT doc_id, l[i] AS sent, i
        |  FROM base, unnest(generate_series(1, len(l))) AS t(i)),
        |firsts AS (
        |  SELECT doc_id, sent, i,
        |    row_number() OVER (PARTITION BY doc_id, sent ORDER BY i) AS rn
        |  FROM s)
        |SELECT doc_id, count(*) AS kept_sentences,
        |  substr(md5(string_agg(sent, '. ' ORDER BY i)), 1, 8) AS text_md5
        |FROM firsts WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_c30_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |base AS (SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) > 0)
        |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_id,
        |  CAST(least(n - ci*16, 16) AS INTEGER) AS chunk_tokens,
        |  substr(md5(array_to_string(l[ci*16+1:ci*16+16], ' ')), 1, 8) AS chunk_md5
        |FROM base, unnest(generate_series(0, CAST((n + 15) // 16 AS BIGINT) - 1)) AS t(ci)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_c28_shuffle" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5('graft' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |ordered AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS pos FROM keyed)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(pos % 8 AS BIGINT) AS shard
        |FROM ordered ORDER BY pos""".stripMargin,
    "q_c27_top_terms" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term),
        |df AS (SELECT term, count(*) AS sdf FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.source, tf.term, tf.tf * 1000 // df.sdf AS score
        |  FROM tf JOIN df USING (term)),
        |ranked AS (
        |  SELECT source, term, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT source, CAST(rank AS INTEGER) AS rank, term,
        |  CAST(score AS BIGINT) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY source, rank""".stripMargin,
    "q_c25_overlap" ->
      """WITH planted AS (
        |  SELECT source, CASE WHEN doc_id % 8 = 0
        |    THEN 'boilerplate body variant ' || (doc_id % 3)
        |    ELSE text END AS text2
        |  FROM documents),
        |sf AS (SELECT DISTINCT source,
        |         md5(lower(regexp_replace(text2, '\s+', ' ', 'g'))) AS fp
        |       FROM planted)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(DISTINCT a.fp) AS shared_fps
        |FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin,
    "q_c24_pack" ->
      """SELECT shard, count(*) AS docs, CAST(sum(tc) AS BIGINT) AS tokens FROM (
        |  SELECT (row_number() OVER (ORDER BY tc DESC, doc_id) - 1) % 8 AS shard, tc
        |  FROM (SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS tc
        |        FROM documents))
        |GROUP BY shard ORDER BY shard""".stripMargin,
    "q_sql_funcs" ->
      """SELECT predicted, count(*) AS docs, CAST(sum(tc) AS BIGINT) AS tokens,
        |  count(DISTINCT fp) AS fps, count(DISTINCT spl) AS splits FROM (
        |  SELECT CASE
        |    WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (der|und|die|nicht|das|ist) ') THEN 'de'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (le|la|les|est|dans|une) ') THEN 'fr'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (el|los|las|es|una|por) ') THEN 'es'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (the|and|is|of|to|in) ') THEN 'en'
        |    ELSE 'unknown' END AS predicted,
        |    len(string_split_regex(trim(text), '\s+')) AS tc,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |    CASE WHEN CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS spl
        |  FROM documents)
        |GROUP BY predicted ORDER BY predicted""".stripMargin,
    "q_c22_dupgrams" ->
      """WITH planted AS (
        |  SELECT source, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' shared boilerplate gram alpha beta gamma delta epsilon'
        |    ELSE text END AS text2
        |  FROM documents),
        |tok AS (SELECT source, string_split_regex(trim(text2), '\s+') AS t FROM planted),
        |grams AS (
        |  SELECT source, unnest(CASE WHEN len(t) >= 8
        |    THEN [array_to_string(t[i:i+7], ' ')
        |          for i in generate_series(1, len(t)-7)]
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM tok),
        |sg AS (SELECT source, g, count(*) AS sc FROM grams GROUP BY source, g),
        |gt AS (SELECT g, sum(sc) AS c FROM sg GROUP BY g)
        |SELECT source,
        |  CAST(sum(sc) AS BIGINT) AS gram_instances,
        |  CAST(sum(CASE WHEN c > 1 THEN sc ELSE 0 END) AS BIGINT) AS dup_instances,
        |  count(*) AS distinct_grams
        |FROM sg JOIN gt USING (g)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_c20_gopher" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk
        |  FROM documents),
        |tf AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk),
        |per AS (SELECT doc_id, max(c) AS maxc, sum(c) AS ntok, count(*) AS dtok
        |        FROM tf GROUP BY doc_id),
        |base AS (SELECT doc_id, source,
        |  length(regexp_replace(text, '\s+', '', 'g')) AS chars,
        |  ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS norm
        |  FROM documents),
        |j AS (SELECT b.source, b.chars, b.norm, p.maxc, p.ntok, p.dtok
        |      FROM base b JOIN per p USING (doc_id))
        |SELECT source, count(*) AS docs,
        |  CAST(sum(CASE WHEN ntok < 60 OR ntok > 5000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_words,
        |  CAST(sum(CASE WHEN CAST(chars AS DOUBLE) / ntok < 4.4
        |    OR CAST(chars AS DOUBLE) / ntok > 4.7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_meanlen,
        |  CAST(sum(CASE WHEN
        |    CAST(contains(norm, ' the ') AS INTEGER) + CAST(contains(norm, ' a ') AS INTEGER)
        |    + CAST(contains(norm, ' and ') AS INTEGER) + CAST(contains(norm, ' is ') AS INTEGER)
        |    + CAST(contains(norm, ' of ') AS INTEGER) + CAST(contains(norm, ' to ') AS INTEGER)
        |    + CAST(contains(norm, ' in ') AS INTEGER) < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_stops,
        |  CAST(sum(CASE WHEN CAST(maxc AS DOUBLE) / ntok > 0.09 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fail_repetition,
        |  CAST(sum(dtok) AS BIGINT) AS distinct_tokens
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_c21_url_domains" ->
      """WITH withurls AS (
        |  SELECT doc_id, source, CASE WHEN doc_id % 3 = 0
        |    THEN text || ' see http://site' || (doc_id % 37) || '.example/p/' || doc_id
        |      || ' and https://cdn' || (doc_id % 11) || '.example/img'
        |    ELSE text END AS text2
        |  FROM documents),
        |u AS (SELECT doc_id, source,
        |  unnest(regexp_extract_all(text2, 'https?://[^\s]+', 0)) AS url FROM withurls)
        |SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
        |  count(*) AS urls, count(DISTINCT doc_id) AS docs,
        |  count(DISTINCT source) AS sources
        |FROM u GROUP BY 1 ORDER BY domain""".stripMargin,
    "q_c13_pii" ->
      """WITH withpii AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || doc_id || '@example.com'
        |      || ' from 10.0.' || (doc_id % 250) || '.1'
        |      || ' tel 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS t
        |  FROM documents),
        |redacted AS (
        |  SELECT source, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t_e
        |  FROM withpii)
        |SELECT source, count(*) AS docs,
        |  CAST(sum(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS emails,
        |  CAST(sum(len(regexp_extract_all(t_e, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS ips,
        |  CAST(sum(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))) AS BIGINT) AS phones,
        |  CAST(sum(length(t) - length(
        |    regexp_replace(regexp_replace(t_e,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'))) AS BIGINT) AS chars_removed
        |FROM redacted GROUP BY source ORDER BY source""".stripMargin,
    "q_c14_split" ->
      """SELECT split, count(*) AS docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  count(DISTINCT bucket) AS buckets FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 AS bucket,
        |    CASE WHEN CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin,
    "q_c15_sentence_dedup" ->
      """SELECT source, count(*) AS sentences, count(DISTINCT sent) AS distinct_sentences,
        |  min(md5(sent)) AS min_hash FROM (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(trim(CASE WHEN doc_id % 6 = 0
        |      THEN text || '. this boilerplate footer repeats across documents. end'
        |      ELSE text END), '\.\s+'), s -> len(s) > 0)) AS sent
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_c16_contamination" ->
      """WITH bench AS (
        |  SELECT doc_id AS bid, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id < 20),
        |benchgram AS (SELECT bid, array_to_string(t[1:5], ' ') AS gram FROM bench),
        |corpus AS (
        |  SELECT c.doc_id, c.source,
        |    string_split_regex(trim(CASE WHEN c.doc_id % 9 = 0
        |      THEN c.text || ' ' || g.gram ELSE c.text END), '\s+') AS t
        |  FROM documents c JOIN benchgram g ON c.doc_id % 20 = g.bid
        |  WHERE c.doc_id >= 20),
        |cg AS (
        |  SELECT doc_id, source,
        |    unnest([array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)]) AS sh
        |  FROM corpus),
        |bg AS (
        |  SELECT DISTINCT unnest([array_to_string(t[i:i+4], ' ')
        |    for i in generate_series(1, len(t)-4)]) AS sh
        |  FROM bench),
        |cont AS (SELECT DISTINCT doc_id FROM cg WHERE sh IN (SELECT sh FROM bg))
        |SELECT source, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS contaminated
        |FROM corpus GROUP BY source ORDER BY source""".stripMargin,
    "q_c17_sample" ->
      """SELECT doc_id, priority FROM (
        |  SELECT doc_id, md5(text || 'sample-salt') AS priority FROM documents)
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    "q_c18_bloom" ->
      """SELECT CAST(count(*) AS BIGINT) AS planted, CAST(count(*) AS BIGINT) AS recovered
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,
    "q_sink_partitioned" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS cnt,
        |  count(DISTINCT user_id) AS users
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "q_c19_mixture" ->
      """SELECT source, count(*) AS kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM (
        |  SELECT source, doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 10000 AS b,
        |    CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
        |      WHEN 'src2' THEN 0.0 ELSE 0.75 END AS rate
        |  FROM documents)
        |WHERE CAST(b AS DOUBLE) < rate * 10000
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_c56_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents),
        |newer AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM old WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 600000, text FROM old WHERE doc_id % 13 = 0),
        |fo AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f
        |  FROM old),
        |fn AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f
        |  FROM newer),
        |d AS (
        |  SELECT COALESCE(fo.doc_id, fn.doc_id) AS doc_id,
        |    CASE WHEN fo.f IS NULL THEN 'added'
        |         WHEN fn.f IS NULL THEN 'removed'
        |         WHEN fo.f = fn.f THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM fo FULL OUTER JOIN fn ON fo.doc_id = fn.doc_id)
        |SELECT status, COUNT(*) AS docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    "q_c53_cdc_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, 'shifted prefix goes here ' || text
        |  FROM documents WHERE doc_id % 6 = 0),
        |tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM base),
        |pos AS (
        |  SELECT doc_id, i, t[i] AS tk,
        |    CASE WHEN i > 4 AND CAST(('0x' || substr(md5(
        |        array_to_string(t[i-4:i-1], ' ')), 1, 13)) AS BIGINT) % 8 = 0
        |      THEN 1 ELSE 0 END AS cut
        |  FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
        |cid AS (
        |  SELECT doc_id, i, tk,
        |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY i) AS chunk_id
        |  FROM pos),
        |ch AS (
        |  SELECT doc_id, chunk_id, string_agg(tk, ' ' ORDER BY i) AS chunk
        |  FROM cid GROUP BY 1, 2),
        |cc AS (SELECT chunk, COUNT(*) AS c FROM ch GROUP BY 1),
        |pd AS (
        |  SELECT ch.doc_id, COUNT(*) AS n_chunks,
        |    SUM(CASE WHEN cc.c > 1 THEN 1 ELSE 0 END) AS dup_chunks,
        |    SUM(CASE WHEN cc.c > 1 THEN len(string_split(ch.chunk, ' '))
        |      ELSE 0 END) AS dup_tokens
        |  FROM ch JOIN cc USING (chunk) GROUP BY 1)
        |SELECT CASE WHEN doc_id >= 500000 THEN 'planted' ELSE 'orig' END AS bucket,
        |  COUNT(*) AS docs, CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(SUM(dup_chunks) AS BIGINT) AS dup_chunks,
        |  CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens
        |FROM pd GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_c50_temp_mixture" ->
      """WITH d AS (
        |  SELECT source,
        |    len(string_split_regex(trim(text), '\s+')) AS t,
        |    CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 1000000 AS b
        |  FROM documents),
        |st AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |w AS (SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS s0 FROM st),
        |w2 AS (
        |  SELECT source, n_docs, n_tokens,
        |    CASE WHEN (s0+1)*(s0+1) <= n_tokens THEN s0+1
        |         WHEN s0*s0 > n_tokens THEN s0-1 ELSE s0 END AS weight
        |  FROM w),
        |ws AS (SELECT greatest(CAST(SUM(weight) AS HUGEINT), 1) AS wsum FROM w2),
        |tgt AS (
        |  SELECT w2.*,
        |    CAST(CAST(weight AS HUGEINT) * 100000 // wsum AS BIGINT) AS target_tokens
        |  FROM w2, ws),
        |rt AS (
        |  SELECT *,
        |    CAST(least(CAST(target_tokens AS HUGEINT) * 1000000
        |      // greatest(n_tokens, 1), 1000000) AS BIGINT) AS rate_ppm
        |  FROM tgt),
        |adm AS (
        |  SELECT d.source, COUNT(*) AS admitted_docs,
        |    CAST(SUM(d.t) AS BIGINT) AS admitted_tokens
        |  FROM d JOIN rt ON d.source = rt.source
        |  WHERE d.b < rt.rate_ppm GROUP BY 1)
        |SELECT rt.source, rt.n_docs, rt.n_tokens,
        |  CAST(rt.weight AS BIGINT) AS weight, rt.target_tokens, rt.rate_ppm,
        |  COALESCE(adm.admitted_docs, 0) AS admitted_docs,
        |  COALESCE(adm.admitted_tokens, 0) AS admitted_tokens
        |FROM rt LEFT JOIN adm ON rt.source = adm.source
        |ORDER BY rt.source""".stripMargin,

    "q_c51_auc" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk
        |  FROM documents),
        |ds AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(('0x' || substr(md5(tk), 1, 4)) AS BIGINT) % 19 - 9)
        |      AS BIGINT) AS s
        |  FROM tok GROUP BY doc_id),
        |lb AS (
        |  SELECT ds.s, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM ds JOIN documents d USING (doc_id)),
        |g AS (SELECT s, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS p FROM lb GROUP BY 1),
        |w AS (
        |  SELECT c, p,
        |    COALESCE(SUM(c) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM g),
        |t AS (
        |  SELECT CAST(SUM(p) AS BIGINT) AS np,
        |    CAST(SUM(c) - SUM(p) AS BIGINT) AS nn,
        |    CAST(SUM(p * (2*cb + c + 1)) AS BIGINT) AS r2
        |  FROM w)
        |SELECT np AS n_pos, nn AS n_neg, r2 AS r2_pos,
        |  CAST(CAST(r2 - np*(np+1) AS HUGEINT) * 1000000
        |    // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) AS auc_ppm
        |FROM t""".stripMargin,

    "q_c65_pr_curve" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk
        |  FROM documents),
        |ds AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(('0x' || substr(md5(tk), 1, 4)) AS BIGINT) % 19 - 9)
        |      AS BIGINT) AS s
        |  FROM tok GROUP BY doc_id),
        |lb AS (
        |  SELECT ds.s, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM ds JOIN documents d USING (doc_id)),
        |g AS (SELECT s, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS p
        |  FROM lb GROUP BY 1),
        |w AS (
        |  SELECT s, CAST(SUM(c) OVER (ORDER BY s DESC) AS BIGINT) AS cum,
        |    CAST(SUM(p) OVER (ORDER BY s DESC) AS BIGINT) AS tp
        |  FROM g),
        |t AS (SELECT CAST(SUM(p) AS BIGINT) AS tpos FROM g)
        |SELECT s AS threshold, tp, cum - tp AS fp,
        |  tp * 1000000 // cum AS precision_ppm,
        |  tp * 1000000 // tpos AS recall_ppm
        |FROM w, t ORDER BY threshold DESC""".stripMargin,

    "q_c62_incremental_neardup" ->
      """SELECT 'dup' AS bucket, COUNT(*) AS new_docs, COUNT(*) AS matched,
        |  CAST(SUM(doc_id + 700000) AS BIGINT) AS sum_new_ids
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT 'novel', COUNT(*), 0,
        |  CAST(SUM(doc_id + 800000) AS BIGINT)
        |FROM documents WHERE doc_id % 9 = 0
        |ORDER BY bucket""".stripMargin,

    "q_c63_calibration" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk
        |  FROM documents),
        |ds AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(('0x' || substr(md5(tk), 1, 4)) AS BIGINT) % 19 - 9)
        |      AS BIGINT) AS s
        |  FROM tok GROUP BY doc_id),
        |lb AS (
        |  SELECT ds.s, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM ds JOIN documents d USING (doc_id)),
        |mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM lb),
        |b AS (
        |  SELECT least(7, (s - mn) * 8 // (mx - mn + 1)) AS bin, s, y, mn
        |  FROM lb, mm)
        |SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS positives,
        |  CAST(SUM(y) AS BIGINT) * 1000000 // COUNT(*) AS pos_rate_ppm,
        |  MAX(mn) + (CAST(SUM(s) AS BIGINT) - MAX(mn) * COUNT(*)) // COUNT(*)
        |    AS mean_score
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,

    "q_c64_corpus_drift" ->
      """WITH oldt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |newdocs AS (
        |  SELECT text FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT text || ' drift' || CAST(doc_id % 17 AS VARCHAR)
        |  FROM documents WHERE doc_id % 13 = 0),
        |newt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM newdocs),
        |oc AS (SELECT w, COUNT(*) AS co FROM oldt GROUP BY 1),
        |nc AS (SELECT w, COUNT(*) AS cn FROM newt GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(oc.co, 0) AS co, COALESCE(nc.cn, 0) AS cn
        |  FROM oc FULL OUTER JOIN nc ON oc.w = nc.w),
        |t AS (SELECT CAST(SUM(co) AS BIGINT) AS t_o,
        |  CAST(SUM(cn) AS BIGINT) AS t_n FROM j)
        |SELECT t_o AS old_tokens, t_n AS new_tokens,
        |  CAST(SUM(CASE WHEN co > 0 THEN 1 ELSE 0 END) AS BIGINT) AS old_vocab,
        |  CAST(SUM(CASE WHEN cn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS new_vocab,
        |  CAST(SUM(CASE WHEN co > 0 AND cn > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS shared_vocab,
        |  CAST(SUM(abs(co * 1000000 // t_o - cn * 1000000 // t_n)) AS BIGINT)
        |    AS tv_ppm,
        |  CAST(SUM(CASE WHEN co = 0 THEN cn * 1000000 // t_n ELSE 0 END)
        |    AS BIGINT) AS new_mass_ppm,
        |  CAST(SUM(CASE WHEN cn = 0 THEN co * 1000000 // t_o ELSE 0 END)
        |    AS BIGINT) AS gone_mass_ppm
        |FROM j, t GROUP BY 1, 2""".stripMargin,

    // Source-MinHash oracle: identical gram construction to q_c61,
    // then the same md5 base hash and linear permutations — the
    // signature mins must match bit-for-bit before any estimate does.
    "q_c68_source_minhash" ->
      """WITH base AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents),
        |g3 AS (
        |  SELECT source, array_to_string(l[i:i+2], ' ') AS g
        |  FROM base, unnest(generate_series(1, len(l) - 2)) AS t(i)
        |  WHERE len(l) >= 3
        |  UNION ALL
        |  SELECT source, array_to_string(l, ' ') AS g FROM base
        |  WHERE len(l) < 3),
        |hs AS (SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) AS h
        |  FROM g3),
        |sg AS (SELECT source, j,
        |    MIN(CAST(('0x' || substr(md5(CAST(h AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 13))
        |      AS BIGINT)) AS s
        |  FROM hs CROSS JOIN generate_series(0, 31) t(j) GROUP BY 1, 2),
        |pr AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(SUM(CASE WHEN a.s = b.s THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM sg a JOIN sg b ON a.j = b.j AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, agree, agree * 1000000 // 32 AS est_jaccard_ppm
        |FROM pr ORDER BY src_a, src_b""".stripMargin,

    // Perceptron oracle: replays the fixed-round batch updates exactly.
    // Round 1 starts from w = 0, so every margin is 0 and every doc
    // updates (y·0 ≤ 0 for both classes); later rounds join the hashed
    // per-(doc, feature) counts against the unrolled weight CTEs. All
    // arithmetic is integer, so the margin sums hash-match bit-exactly.
    // Winnowing oracle: replays the fingerprint scheme exactly — the
    // same 52-bit md5 gram hashes, the same ROWS window min with a
    // full-window count guard, value-set distinct, df cap, pair join
    // and deterministic top-50. generate_series is 1-based where
    // posexplode is 0-based, but pos only orders the frame.
    "q_c69_winnow" ->
      """WITH planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |    THEN text || ' winnow block' || CAST(doc_id // 9 // 4 AS VARCHAR)
        |      || ' alpha bravo charlie delta echo foxtrot golf hotel india juliett'
        |    ELSE text END AS text2
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(trim(text2), '\s+') AS t FROM planted),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 13)) AS BIGINT) AS h
        |  FROM tok, unnest(generate_series(1, len(t) - 3)) AS s(i)
        |  WHERE len(t) >= 7),
        |win AS (
        |  SELECT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cw
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE cw = 4),
        |tot AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY 1),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 16),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
        |  FROM fps a JOIN keep k ON a.fp = k.fp
        |    JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT doc_a, doc_b, shared_fps, ta.nfp AS fps_a, tb.nfp AS fps_b,
        |  shared_fps * 1000000 // LEAST(ta.nfp, tb.nfp) AS containment_ppm
        |FROM pairs JOIN tot ta ON ta.doc_id = doc_a JOIN tot tb ON tb.doc_id = doc_b
        |ORDER BY shared_fps DESC, doc_a, doc_b LIMIT 50""".stripMargin,

    // Edit-distance oracle: DuckDB's levenshtein is the same unit-cost
    // edit distance (probed: kitten→sitting = 3); the threshold arg on
    // the Spark side only prunes the DP, never changes the value, so
    // filtering the full distance ≤ 4 replays the pair set exactly.
    "q_c70_edit_neardup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text || ' zq' FROM documents WHERE doc_id % 11 = 0),
        |n AS (SELECT doc_id AS id,
        |    substr(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')), 1, 400) AS c
        |  FROM base),
        |nn AS (SELECT id, c, substr(c, 1, 12) AS k, length(c) AS len FROM n),
        |st AS (SELECT k, COUNT(*) AS nb, MIN(id) AS rep FROM nn GROUP BY 1),
        |tg AS (SELECT nn.id, nn.c, nn.k, nn.len, st.nb, st.rep
        |  FROM nn JOIN st USING (k)),
        |small AS (SELECT * FROM tg WHERE nb <= 64),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(levenshtein(a.c, b.c) AS BIGINT) AS dist
        |  FROM small a JOIN small b ON a.k = b.k AND a.id < b.id
        |  WHERE abs(a.len - b.len) <= 4),
        |starp AS (
        |  SELECT t.rep AS id_a, t.id AS id_b,
        |    CAST(levenshtein(t.c, r.c) AS BIGINT) AS dist
        |  FROM tg t JOIN nn r ON r.id = t.rep
        |  WHERE t.nb > 64 AND t.id <> t.rep AND abs(t.len - r.len) <= 4)
        |SELECT id_a, id_b, dist FROM (
        |  SELECT id_a, id_b, dist FROM pairs WHERE dist <= 4
        |  UNION ALL
        |  SELECT id_a, id_b, dist FROM starp WHERE dist <= 4)
        |ORDER BY id_a, id_b""".stripMargin,

    // Curriculum oracle: the q_c35 rarity CTEs (plain-word grouping ≡
    // Spark's hashed grouping up to shared 64-bit collisions), integer
    // phase cuts, md5 within-phase shuffle, arg_min for the schedule
    // head, Σ pos·(id mod 97) as the order fingerprint.
    "q_c77_curriculum" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |            FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS t FROM tok),
        |doc AS (SELECT doc_id, count(*) AS ntok, CAST(sum(t // c) AS BIGINT) AS ssum
        |        FROM tok JOIN cnt USING (w) CROSS JOIN tot GROUP BY doc_id),
        |sc AS (SELECT doc_id, ssum // ntok AS rarity FROM doc),
        |r AS (SELECT doc_id, rarity,
        |        row_number() OVER (ORDER BY rarity, doc_id) - 1 AS rk FROM sc),
        |ph AS (SELECT doc_id, rarity,
        |        rk * 4 // (SELECT count(*) FROM sc) AS phase,
        |        md5('curr' || CAST(doc_id AS VARCHAR)) AS k FROM r),
        |o AS (SELECT doc_id, rarity, phase,
        |        row_number() OVER (ORDER BY phase, k, doc_id) - 1 AS pos FROM ph)
        |SELECT phase, COUNT(*) AS n,
        |  MIN(rarity) AS min_rarity, MAX(rarity) AS max_rarity,
        |  arg_min(doc_id, pos) AS first_doc,
        |  CAST(SUM(pos * (doc_id % 97)) AS BIGINT) AS order_fp
        |FROM o GROUP BY phase ORDER BY phase""".stripMargin,

    "q_c78_packing_audit" ->
      """WITH t AS (SELECT len(string_split_regex(trim(text), '\s+')) + 1 AS tt
        |           FROM documents),
        |a AS (SELECT CAST(SUM(tt) AS BIGINT) AS total_tokens,
        |             CAST(SUM((tt + 127) // 128) AS BIGINT) AS seqs_perdoc FROM t)
        |SELECT total_tokens, seqs_perdoc,
        |  seqs_perdoc * 128 - total_tokens AS pad_perdoc,
        |  total_tokens * 1000000 // (seqs_perdoc * 128) AS util_perdoc_ppm,
        |  (total_tokens + 127) // 128 AS seqs_concat,
        |  ((total_tokens + 127) // 128) * 128 - total_tokens AS pad_concat,
        |  total_tokens * 1000000 // (((total_tokens + 127) // 128) * 128) AS util_concat_ppm
        |FROM a""".stripMargin,

    // Repetition-gate oracle: replays the per-(doc, n) top-gram and
    // dup-gram char masses with the same deterministic tie-break
    // (count desc, gram asc) and the same short-doc gate (len(t) >= n),
    // then the per-source threshold counts. All integer.
    "q_c79_repetition" ->
      """WITH ns AS (SELECT unnest([2, 3, 4, 5, 6, 7]) AS n),
        |d AS (SELECT doc_id, source, CASE WHEN doc_id % 9 = 0
        |    THEN text || repeat(' lorem ipsum dolor', 8) ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, source, length(text) AS chars,
        |  string_split_regex(trim(text), '\s+') AS t FROM d),
        |grams AS (SELECT doc_id, source, chars, ns.n,
        |    unnest([array_to_string(t[i:i+ns.n-1], ' ')
        |            for i in generate_series(1, len(t)-ns.n+1)]) AS g
        |  FROM tok, ns WHERE len(t) >= ns.n),
        |cnt AS (SELECT doc_id, source, chars, n, g, count(*) AS c
        |        FROM grams GROUP BY ALL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |        ORDER BY c DESC, g) AS rn FROM cnt),
        |per AS (SELECT doc_id, source, chars, n,
        |    MAX(CASE WHEN rn = 1 THEN c * length(g) END) AS topm,
        |    SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dupm
        |  FROM r GROUP BY ALL),
        |pp AS (SELECT doc_id, source, n, topm, dupm,
        |    CAST(topm AS BIGINT) * 1000000 // greatest(chars, 1) AS top_ppm,
        |    CAST(dupm AS BIGINT) * 1000000 // greatest(chars, 1) AS dup_ppm
        |  FROM per)
        |SELECT source, CAST(n AS INTEGER) AS n, count(*) AS docs,
        |  CAST(SUM(CASE WHEN (n = 2 AND top_ppm > 200000)
        |    OR (n = 3 AND top_ppm > 180000) OR (n = 4 AND top_ppm > 160000)
        |    OR (n = 5 AND dup_ppm > 150000) OR (n = 6 AND dup_ppm > 140000)
        |    OR (n = 7 AND dup_ppm > 130000) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_docs,
        |  CAST(SUM(topm) AS BIGINT) AS top_mass,
        |  CAST(SUM(dupm) AS BIGINT) AS dup_mass
        |FROM pp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // URL-canonicalization oracle: the canonical strings are derived
    // ANALYTICALLY (lowercased host, port/fragment/tracking dropped,
    // %2f hex uppercased, params pre-sorted) from the same doc_id
    // arithmetic — if the
    // expression's steps diverge anywhere, distinct counts break.
    "q_c83_url_canon" ->
      """WITH u AS (SELECT doc_id, source,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'HTTP://Site' || (doc_id % 23) || '.Example/Path%2Fa/' || (doc_id % 5) || '?b=2&a=1&utm_source=x'
        |    WHEN 1 THEN 'http://site' || (doc_id % 23) || '.example:80/Path%2fa/' || (doc_id % 5) || '?a=1&b=2'
        |    WHEN 2 THEN 'https://CDN' || (doc_id % 23) || '.example/img#frag'
        |    ELSE 'https://cdn' || (doc_id % 23) || '.example:443/img?gclid=abc' END AS raw,
        |  CASE WHEN doc_id % 4 IN (0, 1)
        |    THEN 'http://site' || (doc_id % 23) || '.example/Path%2Fa/' || (doc_id % 5) || '?a=1&b=2'
        |    ELSE 'https://cdn' || (doc_id % 23) || '.example/img' END AS canon
        |  FROM documents)
        |SELECT source, count(*) AS docs,
        |  CAST(count(DISTINCT raw) AS BIGINT) AS raw_urls,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS canon_urls
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // Attribution oracle: the q_c16 CTEs with the final aggregate
    // keyed by (bench doc, source) over DISTINCT (doc, shingle) pairs.
    "q_c82_contam_attribution" ->
      """WITH bench AS (
        |  SELECT doc_id AS bid, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id < 20),
        |benchgram AS (SELECT bid, array_to_string(t[1:5], ' ') AS gram FROM bench),
        |corpus AS (
        |  SELECT c.doc_id, c.source,
        |    string_split_regex(trim(CASE WHEN c.doc_id % 9 = 0
        |      THEN c.text || ' ' || g.gram ELSE c.text END), '\s+') AS t
        |  FROM documents c JOIN benchgram g ON c.doc_id % 20 = g.bid
        |  WHERE c.doc_id >= 20),
        |cg AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest([array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)]) AS sh
        |  FROM corpus),
        |bg AS (
        |  SELECT DISTINCT bid AS bench_id,
        |    unnest([array_to_string(t[i:i+4], ' ')
        |      for i in generate_series(1, len(t)-4)]) AS sh
        |  FROM bench)
        |SELECT bg.bench_id, cg.source,
        |  CAST(count(DISTINCT cg.sh) AS BIGINT) AS shared_shingles,
        |  CAST(count(DISTINCT cg.doc_id) AS BIGINT) AS contaminated_docs
        |FROM cg JOIN bg USING (sh)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Luhn oracle: candidates = maximal digit runs (RE2 '\d+', the
    // engine-portable rule — no lookarounds), length 13-19; the mod-10
    // fold runs as a reversed-chars list comprehension (alternate
    // doubling with the >9 subtract-9 rule); redaction mass =
    // Σ (len − len('[CARD]')) over valid candidates.
    "q_c80_luhn" ->
      """WITH d AS (SELECT doc_id, source, CASE WHEN doc_id % 11 = 0
        |    THEN text || ' pay 4539578763621486 ref 4539578763621487 alt 4222222222222 ord 12345678901234567890'
        |    ELSE text END AS text
        |  FROM documents),
        |runs AS (SELECT doc_id, unnest(regexp_extract_all(text, '\d+')) AS r FROM d),
        |cand AS (SELECT doc_id, r FROM runs WHERE length(r) BETWEEN 13 AND 19),
        |luhn AS (SELECT doc_id, r,
        |    list_sum([CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN 2*CAST(ds[i] AS INTEGER) > 9 THEN 2*CAST(ds[i] AS INTEGER) - 9
        |             ELSE 2*CAST(ds[i] AS INTEGER) END
        |      ELSE CAST(ds[i] AS INTEGER) END for i in generate_series(1, len(ds))]) AS s
        |  FROM (SELECT doc_id, r,
        |          [r[length(r)-i+1] for i in generate_series(1, length(r))] AS ds
        |        FROM cand)),
        |pc AS (SELECT doc_id, count(*) AS c, sum(length(r) - 6) AS red
        |       FROM luhn WHERE s % 10 = 0 GROUP BY doc_id)
        |SELECT d.source, count(*) AS docs,
        |  CAST(coalesce(sum(pc.c), 0) AS BIGINT) AS cards,
        |  CAST(coalesce(sum(pc.red), 0) AS BIGINT) AS redacted_chars
        |FROM d LEFT JOIN pc USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_c66_perceptron" -> (perceptronCtes +
      """SELECT CAST(y AS BIGINT) AS label,
        |  CAST(CASE WHEN marg > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        |  COUNT(*) AS n, CAST(SUM(marg) AS BIGINT) AS margin_sum
        |FROM m4 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Uncertainty-selection oracle: the SAME replayed training chain
    // ([[perceptronCtes]]), then rank by (|final margin|, doc_id).
    "q_c74_uncertainty" -> (perceptronCtes +
      """SELECT CAST(r AS INTEGER) AS sel_rank, doc_id,
        |  CAST(y AS BIGINT) AS label, CAST(marg AS BIGINT) AS margin
        |FROM (SELECT doc_id, y, marg,
        |    row_number() OVER (ORDER BY ABS(marg), doc_id) AS r FROM m4)
        |WHERE r <= 32 ORDER BY r""".stripMargin),


    "q_c57_pagerank" ->
      """WITH fwd AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
        |r1 AS (
        |  SELECT n.node, 150000 + 85 * COALESCE(m.im, 0) // 100 AS rank
        |  FROM n LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(SUM(r0.rank // ed.outdeg) AS BIGINT) AS im
        |    FROM ed JOIN r0 ON r0.node = ed.src GROUP BY 1) m USING (node)),
        |r2 AS (
        |  SELECT n.node, 150000 + 85 * COALESCE(m.im, 0) // 100 AS rank
        |  FROM n LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(SUM(r1.rank // ed.outdeg) AS BIGINT) AS im
        |    FROM ed JOIN r1 ON r1.node = ed.src GROUP BY 1) m USING (node)),
        |r3 AS (
        |  SELECT n.node, 150000 + 85 * COALESCE(m.im, 0) // 100 AS rank
        |  FROM n LEFT JOIN (
        |    SELECT ed.dst AS node, CAST(SUM(r2.rank // ed.outdeg) AS BIGINT) AS im
        |    FROM ed JOIN r2 ON r2.node = ed.src GROUP BY 1) m USING (node))
        |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 15""".stripMargin,

    "q_c58_cms_topk" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |tc AS (SELECT w, COUNT(*) AS exact_c FROM tok GROUP BY 1),
        |bk AS (
        |  SELECT tc.w, tc.exact_c, t.r,
        |    CAST(('0x' || substr(md5(tc.w), t.r * 8 + 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM tc, unnest([0, 1, 2, 3]) AS t(r)),
        |bs AS (SELECT r, b, CAST(SUM(exact_c) AS BIGINT) AS s FROM bk GROUP BY 1, 2),
        |top AS (SELECT w, exact_c FROM tc ORDER BY exact_c DESC, w LIMIT 20),
        |est AS (
        |  SELECT top.w, top.exact_c, MIN(bs.s) AS cms_est
        |  FROM top JOIN bk ON bk.w = top.w
        |  JOIN bs ON bs.r = bk.r AND bs.b = bk.b
        |  GROUP BY 1, 2)
        |SELECT w, exact_c, cms_est, cms_est - exact_c AS overcount
        |FROM est ORDER BY exact_c DESC, w""".stripMargin,

    "q_c59_importance" ->
      """WITH base AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        |    string_split_regex(trim(text), '\s+') AS l
        |  FROM documents),
        |uni AS (SELECT doc_id, tgt, unnest(l) AS g FROM base),
        |big AS (
        |  SELECT doc_id, tgt, array_to_string(l[i:i+1], ' ') AS g
        |  FROM base, unnest(generate_series(1, len(l) - 1)) AS t(i)
        |  WHERE len(l) >= 2),
        |feats AS (
        |  SELECT doc_id, tgt,
        |    CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) % 65536 AS f
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
        |wt AS (
        |  SELECT f,
        |    (CAST(SUM(tgt) AS BIGINT) + 1) * 1000000 // (COUNT(*) + 2) AS w
        |  FROM feats GROUP BY 1),
        |ds AS (
        |  SELECT doc_id, COUNT(*) AS n_feats, CAST(SUM(w) AS BIGINT) AS s
        |  FROM feats JOIN wt USING (f) GROUP BY 1)
        |SELECT ds.doc_id, d.lang, ds.n_feats, s // n_feats AS imp_ppm
        |FROM ds JOIN documents d USING (doc_id)
        |ORDER BY imp_ppm DESC, ds.doc_id LIMIT 20""".stripMargin,

    "q_c60_diversity" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |sw AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS distinct_terms,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
        |  FROM sw GROUP BY 1)
        |SELECT source, n_tokens, distinct_terms, hapax,
        |  distinct_terms * 1000000 // n_tokens AS ttr_ppm,
        |  CASE WHEN n_tokens > 1
        |    THEN coll * 1000000 // (n_tokens * (n_tokens - 1)) ELSE 0 END
        |    AS simpson_ppm
        |FROM st ORDER BY source""".stripMargin,

    "q_c61_source_overlap" ->
      """WITH base AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents),
        |g3 AS (
        |  SELECT source, array_to_string(l[i:i+2], ' ') AS g
        |  FROM base, unnest(generate_series(1, len(l) - 2)) AS t(i)
        |  WHERE len(l) >= 3
        |  UNION ALL
        |  SELECT source, array_to_string(l, ' ') AS g FROM base
        |  WHERE len(l) < 3),
        |sp AS (SELECT DISTINCT source, g FROM g3),
        |dg AS (SELECT source, COUNT(*) AS d FROM sp GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_grams
        |  FROM sp a JOIN sp b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pr.src_a, pr.src_b, pr.shared_grams,
        |  pr.shared_grams * 1000000 // (da.d + db.d - pr.shared_grams)
        |    AS jaccard_ppm
        |FROM pr
        |JOIN dg da ON da.source = pr.src_a
        |JOIN dg db ON db.source = pr.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "q_c52_norm_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000, '  ' || upper(text) || ' !!!'
        |  FROM documents WHERE doc_id % 7 = 0),
        |n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM base),
        |k AS (SELECT norm, MIN(doc_id) AS keep FROM n GROUP BY 1)
        |SELECT count(*) AS survivors, CAST(SUM(keep) AS BIGINT) AS sum_ids
        |FROM k""".stripMargin,

    // C90 oracle: same fixed-threshold bucketing ((md5₅₂ · 16) // 2⁵²),
    // per-token min bucket, cumulative sums over the 16-row grid.
    "q_c90_vocab_growth" ->
      """WITH d AS (SELECT
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) * 16)
        |      // 4503599627370496 AS b,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |bd AS (SELECT b, count(*) AS dn, CAST(sum(len(t)) AS BIGINT) AS tn
        |       FROM d GROUP BY b),
        |tok AS (SELECT b, unnest(t) AS w FROM d),
        |fb AS (SELECT w, min(b) AS fb FROM tok GROUP BY w),
        |nv AS (SELECT fb AS b, count(*) AS vn FROM fb GROUP BY fb),
        |g AS (SELECT range AS b FROM range(16)),
        |j AS (SELECT g.b, coalesce(dn, 0) AS dn, coalesce(tn, 0) AS tn,
        |             coalesce(vn, 0) AS vn
        |      FROM g LEFT JOIN bd ON g.b = bd.b LEFT JOIN nv ON g.b = nv.b)
        |SELECT CAST(b AS INTEGER) AS bucket,
        |  CAST(sum(dn) OVER w AS BIGINT) AS docs_cum,
        |  CAST(sum(tn) OVER w AS BIGINT) AS tokens_cum,
        |  CAST(sum(vn) OVER w AS BIGINT) AS vocab_cum,
        |  CAST(CASE WHEN sum(tn) OVER w = 0 THEN 0
        |       ELSE (sum(vn) OVER w * 1000000) // (sum(tn) OVER w) END AS BIGINT) AS ttr_ppm
        |FROM j
        |WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin,

    // C89 oracle: the q_c7b IVF chain (restricted to query vec 0) and
    // the q_c36 BM25 chain (docs ≠ 0), each ranked to top-20, fused by
    // integer RRF 1000000 // (60 + rank); a leg miss contributes 0.
    "q_c89_hybrid_rrf" -> (graft.queries.CQueries.qvCte +
      """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |aff AS (
        |  SELECT qv.vec_id, cent.cell,
        |    2*list_sum(list_transform(list_zip(qv.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM qv, cent),
        |ranked_cells AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
        |  FROM aff),
        |assign AS (SELECT vec_id, cell FROM ranked_cells WHERE r = 1),
        |hits AS (
        |  SELECT a.vec_id AS neighbor_id
        |  FROM ranked_cells p JOIN assign a ON p.cell = a.cell
        |  WHERE p.vec_id = 0 AND p.r <= 2 AND p.vec_id <> a.vec_id),
        |ascored AS (
        |  SELECT h.neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
        |             * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) AS cos
        |  FROM hits h JOIN qv a ON a.vec_id = 0 JOIN qv b ON b.vec_id = h.neighbor_id),
        |ann AS (SELECT neighbor_id AS doc_id, rnk AS ann_rank FROM (
        |    SELECT neighbor_id, row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rnk
        |    FROM ascored) WHERE rnk <= 20),
        |bd AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS dl,
        |  string_split_regex(trim(lower(text)), '\s+') AS l
        |  FROM documents WHERE doc_id <> 0),
        |bn AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tt FROM bd),
        |adl AS (SELECT (tt * 1000) // n AS adl_m FROM bn),
        |btok AS (SELECT doc_id, unnest(l) AS w FROM bd),
        |btf AS (SELECT doc_id, w, count(*) AS tf FROM btok
        |       WHERE w IN ('vector', 'stream', 'merge') GROUP BY doc_id, w),
        |bdf AS (SELECT w, count(*) AS df FROM btf GROUP BY w),
        |bscored AS (
        |  SELECT btf.doc_id,
        |    ((bn.n * 1000) // bdf.df) *
        |    ((btf.tf * 2200 * 1000) //
        |     (btf.tf * 1000 + (1200 * (250 + (750 * d2.dl * 1000) // adl.adl_m)) // 1000))
        |      AS contrib
        |  FROM btf JOIN bdf USING (w) JOIN bd d2 USING (doc_id)
        |  CROSS JOIN bn CROSS JOIN adl),
        |bm AS (SELECT doc_id, rnk AS bm25_rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk FROM (
        |      SELECT doc_id, sum(contrib) AS s FROM bscored GROUP BY doc_id))
        |  WHERE rnk <= 20)
        |SELECT doc_id,
        |  CAST(coalesce(bm25_rank, 0) AS INTEGER) AS bm25_rank,
        |  CAST(coalesce(ann_rank, 0) AS INTEGER) AS ann_rank,
        |  CAST(coalesce(1000000 // (60 + bm25_rank), 0)
        |     + coalesce(1000000 // (60 + ann_rank), 0) AS BIGINT) AS rrf_score
        |FROM bm FULL OUTER JOIN ann USING (doc_id)
        |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin),

    // C88 oracle: per-pattern greedy non-overlapping occurrence counts
    // via the length(replace()) device — equal to the operator's
    // all-positions Aho–Corasick count because every pattern is
    // border-free (cannot self-overlap). Each pattern is counted
    // independently on the ORIGINAL text, matching the automaton's
    // independent per-pattern outputs.
    "q_c88_blocklist" ->
      s"""WITH pats(pat) AS (VALUES $blocklistValuesSql),
         |d AS (SELECT source, lower(text) AS t FROM documents)
         |SELECT d.source, p.pat AS pattern,
         |  CAST(sum((length(t) - length(replace(t, p.pat, ''))) // length(p.pat)) AS BIGINT) AS hits,
         |  CAST(sum(CASE WHEN contains(t, p.pat) THEN 1 ELSE 0 END) AS BIGINT) AS docs_with
         |FROM d CROSS JOIN pats p
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
