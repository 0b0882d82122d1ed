package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-wide sentence dedup (C37), per-key caps (C38), hashed linear
 * classifier (C39), inverted index (C40). */
class CorpusOpsSpec extends SparkSpec {

  import spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dedupAcrossDocs keeps only the globally first occurrence of a sentence") {
    val docs = Seq(
      (1L, "alpha one. shared promo. tail one"),
      (2L, "shared promo. beta two"),
      (3L, "shared promo")                      // fully duplicated doc
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.dedupAcrossDocs(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, "alpha one. shared promo. tail one"),
      (2L, 1L, 1L, "beta two"),
      (3L, 0L, 1L, "")))
  }

  test("dedupAcrossDocs: within-doc repeats also collapse to the first position") {
    val docs = Seq((7L, "x y. x y. z")).toDF("doc_id", "text")
    val out = CorpusPipeline.dedupAcrossDocs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((2L, 1L, "x y. z")))
  }

  test("capPerKey keeps at most N per key and is salt-count independent") {
    val rows = (0L until 200L).map(i => (i, s"k${i % 3}")).toDF("id", "key")
    val a = CorpusPipeline.capPerKey(rows, "key", "id", maxPerKey = 4, salts = 1)
      .select("key", "id", "cap_rank").orderBy("key", "cap_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val b = CorpusPipeline.capPerKey(rows, "key", "id", maxPerKey = 4, salts = 13)
      .select("key", "id", "cap_rank").orderBy("key", "cap_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(a == b)
    assert(a.groupBy(_._1).forall { case (_, g) =>
      g.size == 4 && g.map(_._3).sorted == Seq(1, 2, 3, 4) })
    // survivor choice matches the reference md5 order
    val expectK0 = (0L until 200L).filter(_ % 3 == 0)
      .sortBy(i => (md5Hex(s"cap:$i"), i)).take(4)
    assert(a.filter(_._1 == "k0").map(_._2) == expectK0)
  }

  test("capPerKey with a cap above the key size keeps everything") {
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "key")
    val out = CorpusPipeline.capPerKey(rows, "key", "id", maxPerKey = 10, salts = 4)
    assert(out.count() == 3)
  }

  test("topNPerKey == naive window top-N under a scored order, any salt count") {
    // skewed: key k0 holds 70% of rows; scores collide so the term
    // tie-break decides — exactly the q_c27/q_c49 shape
    val rows = (0L until 300L).map { i =>
      val key = if (i % 10 < 7) "k0" else s"k${i % 10}"
      (key, s"t${i % 37}", i % 11)
    }.toDF("key", "term", "score").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("score").desc, col("term"))
    val naive = rows.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("key", "rank", "term", "score").orderBy("key", "rank")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    for (salts <- Seq(1, 7, 64)) {
      val got = CorpusPipeline.topNPerKey(rows, Seq(col("key")), col("term"),
          Seq(col("score").desc, col("term")), n = 5, salts = salts)
        .select("key", "rank", "term", "score").orderBy("key", "rank")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
      assert(got == naive, s"salts=$salts diverged from the naive window")
    }
  }

  test("topNPerKey plan pin: the full-input rank partitions by (key, salt), never key alone") {
    val rows = (0L until 50L).map(i => (s"k${i % 3}", s"t$i", i)).toDF("key", "term", "score")
    val out = CorpusPipeline.topNPerKey(rows, Seq(col("key")), col("term"),
      Seq(col("score").desc, col("term")), n = 3)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 2, s"expected 2 Window nodes, got ${windows.size}")
    // the UPSTREAM (full-input) window is the last in collect order;
    // its partition spec must carry the salt expression alongside key
    val full = windows.last
    assert(full.partitionSpec.size == 2,
      s"vocab-sized rank must partition by (key, salt): ${full.partitionSpec}")
    assert(windows.head.partitionSpec.size == 1) // survivors-only rank
  }

  test("scoreLinearHashed: weights are (md5 hex prefix % 19) - 9, summed per doc") {
    def w(tok: String): Long =
      java.lang.Long.parseLong(md5Hex(tok).take(4), 16) % 19 - 9
    val docs = Seq((1L, "hello world hello"), (2L, "zzz")).toDF("doc_id", "text")
    val out = CorpusPipeline.scoreLinearHashed(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val s1 = 2 * w("hello") + w("world")
    val s2 = w("zzz")
    assert(out.toSeq == Seq(
      (1L, s1, 3L, if (s1 > 0) 1 else 0),
      (2L, s2, 1L, if (s2 > 0) 1 else 0)))
  }

  test("sourceDivergence: integer ppm total variation vs the corpus mix") {
    // s1: a:2 b:1 (ts=3), s2: a:1 b:3 (ts=4); corpus a:3 b:4 (t=7)
    // q_ppm: a=428571 b=571428
    // s1: |666666-428571| + |333333-571428| = 476190
    // s2: |250000-428571| + |750000-571428| = 357143
    val docs = Seq(("s1", "a a b"), ("s2", "a b b b")).toDF("source", "text")
    val out = CorpusPipeline.sourceDivergence(docs, "source", "text")
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("s1", 3L, 2L, 476190L), ("s2", 4L, 2L, 357143L)))
  }

  test("sourceDivergence: terms absent from a source contribute their corpus mass") {
    val docs = Seq(("s1", "a"), ("s2", "b")).toDF("source", "text")
    val out = CorpusPipeline.sourceDivergence(docs, "source", "text")
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("s1", 1L, 1000000L), ("s2", 1L, 1000000L)))
  }

  test("lmBigramSurprisal: inverse conditional probability, context marginal from bigrams") {
    // instances: d1 (a b)(b a)(a b), d2 (a b)(b c)
    // bc: "a b"=3 "b a"=1 "b c"=1; ctx: a=3, b=2
    // sur: "a b" = 3 div 3 = 1, "b a" = 2 div 1 = 2, "b c" = 2 div 1 = 2
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val out = CorpusPipeline.lmBigramSurprisal(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // d3 has one token -> no bigrams -> no row
    assert(out.toSeq == Seq((1L, 3L, 4L, 1L), (2L, 2L, 3L, 1L)))
  }

  test("lmBigramSurprisal: hashed and string keys agree") {
    val rows = Seq((1L, "x y x y z"), (2L, "y z q")) ++ (3L to 40L).map(i =>
      (i, s"w${i % 5} w${i % 3} w${i % 5} w${i % 7} w${i % 2}"))
    // brute force over the bigram strings: c(w1 ·) div c(w1 w2) per instance
    val bgs = rows.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      .filter(_._2.length >= 2)
      .map { case (id, ts) => id -> ts.sliding(2).toSeq }
    val cb = bgs.flatMap(_._2).groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    val cw = cb.toSeq.groupBy(_._1.head).map { case (w, v) => w -> v.map(_._2).sum }
    val expected = bgs.map { case (id, bs) =>
      val s = bs.map(b => cw(b.head) / cb(b)).sum
      (id, bs.size.toLong, s, s / bs.size)
    }
    val got = CorpusPipeline.lmBigramSurprisal(rows.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("duplicatedSpans merges consecutive duplicated gram positions into maximal spans") {
    // shared 4-token run "a b c d" -> with n=3: grams "a b c","b c d"
    // duplicated, consecutive in both docs -> 1 span of 2 grams = 4 tokens
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d q"),
      (3L, "totally different words here")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.duplicatedSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 3 has no duplicated grams -> no row
    assert(out.toSeq == Seq((1L, 1L, 2L, 4L), (2L, 1L, 2L, 4L)))
  }

  test("duplicatedSpans: two separated repeats stay two spans") {
    // "p q r" (pos 0) and "u v w" (pos 4) both duplicated, gap at 1-3
    val docs = Seq(
      (1L, "p q r m n o u v w"),
      (2L, "p q r z z z"),
      (3L, "k u v w k k")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.duplicatedSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 2L, 3L), (2L, 1L, 1L, 3L), (3L, 1L, 1L, 3L)))
  }

  test("docTopTerms ranks by tf*1e6 div df with term tiebreak") {
    // df: a=2 b=1 c=2; d1 scores: a 2*1e6/2=1e6, b 1e6, c 5e5
    // tie a/b at 1e6 -> a first (term order)
    val docs = Seq((1L, "a a b c"), (2L, "a c c")).toDF("doc_id", "text")
    val out = CorpusPipeline.docTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1, "a", 1000000L), (1L, 2, "b", 1000000L),
      (2L, 1, "c", 1000000L), (2L, 2, "a", 500000L)))
  }

  test("gramNovelty: a gram instance is novel only in its earliest document") {
    // n=3: d1 "a b c d" grams (a b c)(b c d); d2 repeats (a b c) + own (b c x)
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c x")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.gramNovelty(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 2L, 100L), (2L, 2L, 1L, 50L)))
  }

  test("invertedIndex: df, total tf, and doc-ordered posting digest") {
    val docs = Seq(
      (10L, "a b a"),
      (11L, "b c"),
      (12L, "a")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.invertedIndex(docs, "doc_id", "text")
      .orderBy("term")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      ("a", 2L, 3L, md5Hex("10:2 12:1")),
      ("b", 2L, 2L, md5Hex("10:1 11:1")),
      ("c", 1L, 1L, md5Hex("11:1"))))
  }

  test("invertedIndex dfCap: stopword-grade terms keep stats but skip the posting digest") {
    val docs = Seq((10L, "a b a"), (11L, "b c"), (12L, "a")).toDF("doc_id", "text")
    val out = CorpusPipeline.invertedIndex(docs, "doc_id", "text", dfCap = 1L)
      .orderBy("term")
      .collect().map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(3)) null else r.getString(3)))
    // a and b have df=2 > cap -> exact stats, NULL digest; c still digests
    assert(out.toSeq == Seq(
      ("a", 2L, null), ("b", 2L, null), ("c", 1L, md5Hex("11:1"))))
  }

  test("C68 sourceMinhash: identical sources agree everywhere, disjoint (almost) nowhere") {
    val rnd = new scala.util.Random(3)
    val textsA = Seq.fill(30)(Seq.fill(12)("w" + rnd.nextInt(200)).mkString(" "))
    val textsC = Seq.fill(30)(Seq.fill(12)("z" + rnd.nextInt(200)).mkString(" "))
    val docs = (textsA.map(("a", _)) ++ textsA.map(("b", _)) ++ textsC.map(("c", _)))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val out = CorpusPipeline.sourceMinhash(docs, n = 3, sigs = 32)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("a", "b")) == 32L) // identical gram sets: every slot agrees
    assert(out(("a", "c")) <= 3L)  // disjoint vocab: chance agreement only
    assert(out(("b", "c")) == out(("a", "c")))
  }

  test("C68 sourceMinhash: estimate tracks the exact Jaccard on a 50% overlap") {
    // source a holds grams of texts 0..39, source b of texts 20..59 —
    // half the DISTINCT gram universe is shared (each 12-token doc has
    // its own disjoint gram set by construction)
    val texts = (0 until 60).map(d => (0 until 12).map(w => s"t${d}_$w").mkString(" "))
    val docs = (texts.take(40).map(("a", _)) ++ texts.drop(20).map(("b", _)))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val est = CorpusPipeline.sourceMinhash(docs, n = 3, sigs = 32)
      .head().getLong(3) / 1e6
    // exact Jaccard = 20/60 = 0.333; 32 slots → sd ≈ 0.083
    assert(est > 0.12 && est < 0.58, s"estimate $est too far from exact 0.333")
  }

  /** md5₅₂ straight from the hex digest — independent of the kernel. */
  private def md552(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(13), 16)

  /** `TF.tokens`: Spark `trim` strips spaces only, then `split(_, "\\s+", -1)`. */
  private def tokensOf(t: String): Seq[String] =
    t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.split("\\s+", -1).toSeq

  test("C68 sourceMinhash: per-source slot minima == brute force; null-only source has no row") {
    val n = 3
    val sigs = 8
    val rows = Seq(
      ("a", "alpha beta gamma delta epsilon"), ("a", "beta gamma delta"),
      ("a", "short"), ("a", null),
      ("b", "alpha beta gamma zeta"), ("b", "two words"), ("b", ""),
      ("e", ""), ("e", "   "), ("e", " \t "),         // empty / whitespace-only only
      ("z", null), ("z", null))                       // null-only source
    val docs = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      .toDF("doc_id", "source", "text")
    val got = CorpusPipeline.sourceSignatures(docs, n, sigs, "source", "text")
      .collect().map(r => r.getString(0) -> (1 to sigs).map(r.getLong)).toMap
    val want = rows.filter(_._2 != null).groupBy(_._1).map { case (src, ds) =>
      val hs = ds.flatMap { case (_, t) =>
        val tk = tokensOf(t)
        if (tk.length < n) Seq(tk.mkString(" ")) else tk.sliding(n).map(_.mkString(" "))
      }.map(md552).distinct
      src -> (0 until sigs).map(j => hs.map(h => md552(s"${h}_$j")).min)
    }
    assert(got == want)
    assert(!got.contains("z"))
    val pairs = CorpusPipeline.sourceMinhash(docs, n = n, sigs = sigs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set(("a", "b"), ("a", "e"), ("b", "e")))
    pairs.foreach { case ((x, y), agree) =>
      assert(agree == (0 until sigs).count(j => want(x)(j) == want(y)(j)), s"($x, $y)")
    }
  }

  test("C69 winnowFingerprints: identical docs contain each other fully") {
    val rnd = new scala.util.Random(5)
    val shared = Seq.fill(20)("s" + rnd.nextInt(1000)).mkString(" ")
    val other = Seq.fill(20)("o" + rnd.nextInt(1000)).mkString(" ")
    val docs = Seq((1L, shared), (2L, shared), (3L, other)).toDF("doc_id", "text")
    val out = CorpusPipeline.winnowFingerprints(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (sh, fa, fb, ppm) = out((1L, 2L))
    assert(sh == fa && fa == fb && ppm == 1000000L)
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
  }

  test("C69 winnowFingerprints: a shared run of w+k-1 tokens guarantees a shared fingerprint") {
    // the winnowing guarantee (Schleimer et al. §2): any match of at
    // least w+k−1 tokens contributes ≥1 fingerprint on both sides
    val run = (0 until 7).map(i => s"run$i").mkString(" ") // w+k-1 = 7
    val a = s"a0 a1 a2 a3 a4 a5 $run a6 a7 a8 a9 a10 a11"
    val b = s"b0 b1 b2 $run b3 b4 b5 b6 b7 b8"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = CorpusPipeline.winnowFingerprints(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 1)
      .collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getLong(2) >= 1L))
  }

  test("C69 winnowFingerprints: boilerplate fingerprints are df-capped out of the pair join") {
    // 20 identical docs: every fingerprint lives in all 20 > maxDocsPerFp,
    // so the pair step sees nothing (the inverted-index dfCap rule)
    val text = (0 until 15).map(i => s"c$i").mkString(" ")
    val docs = (1 to 20).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val out = CorpusPipeline.winnowFingerprints(docs, "doc_id", "text",
      k = 4, w = 4, maxDocsPerFp = 16, minShared = 1)
    assert(out.count() == 0L)
  }

  test("C69 winnowFingerprints: footprint is between #windows/w and #windows") {
    // a value is frame-minimum for at most w of the sliding windows, so
    // distinct minima ≥ ceil(#windows/w); trivially ≤ #windows
    val rnd = new scala.util.Random(9)
    val toks = Seq.fill(300)("t" + rnd.nextInt(100000))
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val grams = toks.size - 3       // k = 4
    val windows = grams - 3         // w = 4, full windows only
    // count fingerprints via a containment-with-self trick: minShared=1
    // finds no pair (single doc), so probe the internal set size with a
    // second identical doc whose pair row reports fps_a
    val two = Seq((1L, toks.mkString(" ")), (2L, toks.mkString(" ")))
      .toDF("doc_id", "text")
    val row = CorpusPipeline.winnowFingerprints(two, "doc_id", "text",
      k = 4, w = 4, minShared = 1).head()
    val nfp = row.getLong(3)
    assert(nfp <= windows && nfp * 4 >= windows,
      s"nfp $nfp outside [${windows / 4.0}, $windows]")
  }

  test("C79 repetitionProfile: hand-computed masses, tie-break, short-doc gate") {
    // doc 1 "a a a b" (7 chars): 2-grams "a a"×2, "a b"×1 → top "a a"
    // (len 3, mass 6), dup mass 6; 3-grams "a a a", "a a b" both ×1 →
    // tie broken to "a a a" (lexicographically smallest), dup mass 0.
    // doc 2 "x y" has < 3 tokens → NO n=3 row (whole-doc shingle gated).
    val docs = Seq((1L, "a a a b"), (2L, "x y")).toDF("doc_id", "text")
    val out = CorpusPipeline.repetitionProfile(docs, ns = Seq(2, 3))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(8))).toMap
    assert(out((1L, 2)) == (("a a", 2L, 6L, 6L, 857142L)))
    assert(out((1L, 3)) == (("a a a", 1L, 5L, 0L, 714285L)))
    assert(out((2L, 2)) == (("x y", 1L, 3L, 0L, 1000000L)))
    assert(!out.contains((2L, 3)), "doc with < n tokens must be gated out of tier n")
  }

  test("C89 hybridRrf: RRF formula exact, query doc excluded, lexical top is the term-heaviest doc") {
    // 8 docs: doc 5 is saturated with the query terms (lexical top-1);
    // embeddings: docs 1 and 2 sit on doc 0's axis (semantic hits),
    // docs 5-7 are far away on another axis.
    val docs = (0L to 7L).map { i =>
      val t = if (i == 5) "fox dog fox dog fox dog fox"
        else if (i == 6) "fox dog filler words here"
        else "plain filler words here nothing"
      (i, t)
    }.toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Seq(1000L, 0L, 0L, 0L)), (1L, Seq(990L, 10L, 0L, 0L)),
      (2L, Seq(980L, 20L, 0L, 0L)), (3L, Seq(0L, 1000L, 0L, 0L)),
      (4L, Seq(0L, 0L, 1000L, 0L)), (5L, Seq(0L, 0L, 0L, 1000L)),
      (6L, Seq(0L, 0L, 10L, 1000L)), (7L, Seq(0L, 0L, 20L, 1000L))
    ).toDF("vec_id", "qv")
    val out = CorpusPipeline.hybridRrf(docs, vecs, Seq("fox", "dog"),
        queryVecId = 0L, kEach = 5, kOut = 8, nSeeds = 4, probes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(!out.exists(_._1 == 0L), "query doc must be excluded from both legs")
    out.foreach { case (id, br, ar, s) =>
      val expect = (if (br > 0) 1000000L / (60 + br) else 0L) +
        (if (ar > 0) 1000000L / (60 + ar) else 0L)
      assert(s == expect, s"rrf formula mismatch for doc $id")
      assert(br > 0 || ar > 0, s"doc $id in neither leg")
    }
    val lexTop = out.find(_._2 == 1).map(_._1)
    assert(lexTop.contains(5L), s"doc 5 should be the BM25 top-1, got $lexTop")
    // output is sorted by (rrf desc, id)
    assert(out.sortBy { case (id, _, _, s) => (-s, id) }.toSeq == out.toSeq)
  }

  test("C90 vocabGrowth: cumulative totals exact, duplicate corpus flattens the curve") {
    val docs = (0L until 40L).map { i =>
      val t = if (i % 2 == 0) "common words shared by every doc"
        else s"common words plus unique token u$i"
      (i, t)
    }.toDF("doc_id", "text")
    val out = CorpusPipeline.vocabGrowth(docs, buckets = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSeq == (0 until 8), "full bucket grid")
    // cumulative columns are monotone
    out.sliding(2).foreach { case Array(a, bb) =>
      assert(a._2 <= bb._2 && a._3 <= bb._3 && a._4 <= bb._4)
    }
    val last = out.last
    assert(last._2 == 40L)
    assert(last._3 == 40L * 6) // 6 tokens in both doc variants
    // vocab: common, words, shared, by, every, doc, plus, unique, token + 20 u$i
    assert(last._4 == 9L + 20L)
    out.foreach { case (_, _, tc, vc, ttr) =>
      assert(ttr == (if (tc == 0) 0L else vc * 1000000L / tc), "ttr formula")
    }
    // an all-duplicate corpus: vocab flatlines at the first non-empty bucket
    val dup = (0L until 40L).map(i => (i, "same six words in all docs")).toDF("doc_id", "text")
    val flat = CorpusPipeline.vocabGrowth(dup, buckets = 8)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    flat.foreach { case (dc, vc) => assert(vc == (if (dc == 0) 0L else 6L)) }
  }

  test("C90 vocabGrowth: buckets = 4096 keeps every doc (md5₅₂·buckets exceeds a long)") {
    val buckets = 4096
    val texts = (0L until 60L).map(i => i -> s"w${i % 7} v$i common")
    val docs = texts.toDF("doc_id", "text")
    val out = CorpusPipeline.vocabGrowth(docs, buckets = buckets)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference bucket floor(h · B / 2⁵²) in exact BigInt arithmetic
    val bucketOf = texts.map { case (i, _) =>
      i -> ((BigInt(md552(i.toString)) * buckets) >> 52).toInt }.toMap
    assert(bucketOf.values.exists(b => BigInt(b) * (BigInt(1) << 52) >= BigInt(Long.MaxValue)),
      "some products must pass 2⁶³ for this case to test anything")
    val firstSeen = texts.flatMap { case (i, t) => tokensOf(t).map(_ -> bucketOf(i)) }
      .groupBy(_._1).map { case (_, bs) => bs.map(_._2).min }
    val want = (0 until buckets).map { b =>
      val in = texts.filter { case (i, _) => bucketOf(i) <= b }
      (b, in.size.toLong, in.map(t => tokensOf(t._2).size.toLong).sum,
        firstSeen.count(_ <= b).toLong)
    }
    assert(out.last._2 == texts.size.toLong, "docs_cum must reach the doc count")
    assert(out.length == buckets)
    val differ = out.toSeq.zip(want).filter { case (g, w) => g != w }
    assert(differ.isEmpty, s"${differ.size} buckets differ, first: ${differ.take(3)}")
  }

  test("C79 repetitionProfile: a planted repeated phrase fires the dup-5-gram gate") {
    val clean = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val spammy = clean + (" lorem ipsum dolor" * 8)
    val docs = Seq((1L, clean), (2L, spammy)).toDF("doc_id", "text")
    val m = CorpusPipeline.repetitionProfile(docs, ns = Seq(5))
      .collect().map(r => r.getLong(0) -> r.getLong(9)).toMap // col 9 = dup_ppm
    assert(m(1L) == 0L, "clean doc must carry zero dup-5-gram mass")
    assert(m(2L) > 150000L, s"spammy doc dup_ppm ${m(2L)} must exceed the Gopher 0.15 gate")
  }

  test("C97 stratifiedEvalSplit: exact floor counts, md5-order prefix selection, 0-ppm empty") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = (0L until 23L).map(i =>
      (i, if (i < 14) "a" else "b", if (i % 2 == 0) "en" else "fr", s"doc text $i"))
    val df = corpus.toDF("doc_id", "source", "lang", "text")
    val ppm = 300000L
    val out = CorpusPipeline.stratifiedEvalSplit(df, ppm)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    corpus.groupBy(c => (c._2, c._3)).foreach { case (key, cs) =>
      val n = cs.size.toLong
      val k = n * ppm / 1000000L
      val chosen = cs.sortBy(c => (md5Hex(c._4), c._1)).take(k.toInt)
      assert(out(key) == ((n, k, k * 1000000L / n, chosen.map(_._1).sum)),
        s"stratum $key")
    }
    val zero = CorpusPipeline.stratifiedEvalSplit(df, 0L).collect()
    assert(zero.forall(r => r.getLong(3) == 0L && r.getLong(5) == 0L))
    intercept[IllegalArgumentException](CorpusPipeline.stratifiedEvalSplit(df, -1L))
  }

  test("C98 tokenBudgetFill: greedy md5-order prefix — the overflow doc ends the fill for good") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def toks(n: Int, tag: String) = Seq.tabulate(n)(i => s"$tag$i").mkString(" ")
    // token counts chosen so SOME budget cut lands mid-sequence with a
    // smaller doc after the boundary (proves prefix, not knapsack)
    val corpus = Seq(
      (1L, "a", toks(40, "p")), (2L, "a", toks(35, "q")),
      (3L, "a", toks(3, "r")), (4L, "a", toks(30, "s")),
      (5L, "b", toks(10, "t")))
    val df = corpus.toDF("doc_id", "source", "text")
    val budget = 60L
    val out = CorpusPipeline.tokenBudgetFill(df, budget)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    corpus.groupBy(_._2).foreach { case (src, cs) =>
      val ordered = cs.sortBy(c => (md5Hex(c._3), c._1))
        .map(c => (c._1, c._3.trim.split("\\s+").length.toLong))
      val cums = ordered.map(_._2).scanLeft(0L)(_ + _).tail
      val admitted = ordered.zip(cums).filter(_._2 <= budget).map(_._1)
      val (nT, aD, aT) = (ordered.map(_._2).sum,
        admitted.size.toLong, admitted.map(_._2).sum)
      assert(out(src) == ((cs.size.toLong, nT, aD, aT,
        aT * 1000000L / budget, admitted.map(_._1).sum)), s"source $src")
      // the scenario must actually exercise the prefix contract for a:
      // a doc AFTER the boundary fits the residual budget but stays out
      if (src == "a") {
        val residual = budget - aT
        assert(ordered.zip(cums).exists { case ((_, t), cum) =>
          cum > budget && t <= residual },
          "scenario must contain an excluded doc that would have fit")
      }
    }
    intercept[IllegalArgumentException](CorpusPipeline.tokenBudgetFill(df, 0L))
  }

  test("C99 semanticPack: cells route to nearest seed, packs replay an independent layout, never straddle cells") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def toks(n: Int, tag: String) = Seq.tabulate(n)(i => s"$tag$i").mkString(" ")
    // seeds: vec 0 → x-axis, vec 1 → y-axis; docs cluster on one axis
    val vecs = Seq(
      (0L, Seq(1000L, 0L)), (1L, Seq(0L, 1000L)),
      (2L, Seq(900L, 100L)), (3L, Seq(80L, 950L)),
      (4L, Seq(970L, 40L)), (5L, Seq(10L, 990L)))
    val docs = Seq(
      (0L, "en", toks(5, "a")), (1L, "fr", toks(6, "b")),
      (2L, "en", toks(9, "c")), (3L, "fr", toks(4, "d")),
      (4L, "de", toks(7, "e")), (5L, "fr", toks(3, "f")))
    val seqLen = 8; val eos = 1
    val out = CorpusPipeline.semanticPack(
        docs.toDF("doc_id", "lang", "text"), vecs.toDF("vec_id", "qv"),
        seqLen, nSeeds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    // independent replay
    val cents = vecs.filter(_._1 < 2).sortBy(_._1).map(_._2)
    def cellOf(v: Seq[Long]): Long =
      cents.zipWithIndex.map { case (c, i) =>
        (2L * v.zip(c).map(p => p._1 * p._2).sum - c.map(x => x * x).sum, i.toLong)
      }.maxBy { case (s, i) => (s, -i) }._2
    val rows = docs.map { case (id, lang, txt) =>
      val t = txt.trim.split("\\s+").length.toLong + eos
      (cellOf(vecs.find(_._1 == id).get._2), lang, t, md5Hex(txt), id)
    }
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (cell, rs) =>
      val ordered = rs.sortBy(r => (r._4, r._5))
      val cums = ordered.map(_._3).scanLeft(0L)(_ + _)
      ordered.zip(cums).flatMap { case ((_, lang, t, _, _), strt) =>
        val cum = strt + t
        (strt / seqLen to (cum - 1) / seqLen).map { p =>
          (cell, p, lang,
            math.min((p + 1) * seqLen, cum) - math.max(p * seqLen, strt))
        }
      }
    }.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> ((es.size.toLong, es.map(_._3).distinct.size.toLong,
        es.map(_._4).sum))
    }
    assert(out == expected, s"pack layout: got $out want $expected")
    // cells chunk independently: both cells have a pack 0
    assert(out.contains((0L, 0L)) && out.contains((1L, 0L)))
    // cross-boundary docs exist (total tokens per cell > seqLen)
    assert(out.keys.exists(_._2 >= 1L), "layout must span multiple packs")
    intercept[IllegalArgumentException](CorpusPipeline.semanticPack(
      docs.toDF("doc_id", "lang", "text"), vecs.toDF("vec_id", "qv"), 0))
  }

  test("C99b semanticPack sub-split: deterministic residues, per-(cell,subcell) layout, cap-1 degeneracy") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def toks(n: Int, tag: String) = Seq.tabulate(n)(i => s"$tag$i").mkString(" ")
    // one seed → ONE hot cell holding all 6 docs; maxCellDocs=2 →
    // s = ceil(6/2) = 3 sub-streams
    val vecs = Seq.tabulate(6)(i => (i.toLong, Seq(1000L, 0L)))
    val docs = Seq.tabulate(6)(i => (i.toLong, "en", toks(3 + i, "w" + i)))
    val out = CorpusPipeline.semanticPack(
        docs.toDF("doc_id", "lang", "text"), vecs.toDF("vec_id", "qv"),
        seqLen = 8, nSeeds = 1, maxCellDocs = 2L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.forall(_._1 == 0L))                     // one cell
    assert(out.map(_._2).forall(s => s >= 0L && s < 3L)) // subcell ∈ [0, 3)
    // replay: subcell = first-13-md5-hex-digits(md5(text)) % 3,
    // prefix sums within (cell, subcell) over (md5, id) order
    val rows = docs.map { case (id, _, txt) =>
      val hk = md5Hex(txt)
      (java.lang.Long.parseLong(hk.take(13), 16) % 3L, hk, id,
        txt.split(" ").length.toLong + 1L)
    }
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (sub, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3))
      val cums = ordered.map(_._4).scanLeft(0L)(_ + _)
      ordered.zip(cums).flatMap { case ((_, _, _, t), strt) =>
        val cum = strt + t
        (strt / 8 to (cum - 1) / 8).map(p => (sub, p,
          math.min((p + 1) * 8, cum) - math.max(p * 8, strt)))
      }
    }.groupBy(e => (e._1, e._2)).map { case ((sub, p), es) =>
      (0L, sub, p, es.size.toLong, 1L, es.map(_._3).sum)
    }.toSet
    assert(out.toSet == expected, s"got ${out.toSet} want $expected")
    // a cap at/above the cell size degenerates to ONE sub-stream whose
    // layout equals the un-split packing
    val one = CorpusPipeline.semanticPack(
        docs.toDF("doc_id", "lang", "text"), vecs.toDF("vec_id", "qv"),
        seqLen = 8, nSeeds = 1, maxCellDocs = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val unsplit = CorpusPipeline.semanticPack(
        docs.toDF("doc_id", "lang", "text"), vecs.toDF("vec_id", "qv"),
        seqLen = 8, nSeeds = 1)
      .collect().map(r => (r.getLong(0), 0L, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(one == unsplit)
  }

  test("C92 ipfMixture: exact replay of the integer IPF recursion; column marginal lands on target") {
    // (src, lang, tokens) — skewed enough that the two marginals fight
    val spec = Seq(
      ("a", "en", 900), ("a", "fr", 100),
      ("b", "en", 100), ("b", "fr", 400),
      ("c", "en", 250), ("c", "fr", 250))
    val docs = spec.zipWithIndex.map { case ((s, l, n), i) =>
      (i.toLong, s, l, Seq.fill(n)("x").mkString(" "))
    }.toDF("doc_id", "source", "lang", "text")
    val rounds = 4
    val out = CorpusPipeline.ipfMixture(docs, rounds)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8)))).toMap

    // independent plain-Scala replay of the exact integer recursion
    def isqrt(n: Long): Long = {
      val s0 = math.sqrt(n.toDouble).toLong
      if ((s0 + 1) * (s0 + 1) <= n) s0 + 1 else if (s0 * s0 > n) s0 - 1 else s0
    }
    val cells = spec.map { case (s, l, n) => ((s, l), n.toLong) }.toMap
    val srcs = spec.map(_._1).distinct.sorted
    val langs = spec.map(_._2).distinct.sorted
    val tot = cells.values.sum
    def marg(keys: Seq[String], of: ((String, String)) => String): Map[String, Long] = {
      val m = keys.map(k => k -> cells.collect { case (c, n) if of(c) == k => n }.sum).toMap
      val ws = m.view.mapValues(isqrt).toMap
      val s = math.max(ws.values.sum, 1L)
      ws.view.mapValues(w => w * 1000000L / s).toMap
    }
    val tSrc = marg(srcs, _._1)
    val tLang = marg(langs, _._2)
    var w = cells.view.mapValues(n => n * 1000000L / tot).toMap
    for (_ <- 1 to rounds) {
      val rs = srcs.map(s => s -> w.collect { case (c, v) if c._1 == s => v }.sum).toMap
      w = w.map { case (c, v) => c -> v * tSrc(c._1) / math.max(rs(c._1), 1L) }
      val cs = langs.map(l => l -> w.collect { case (c, v) if c._2 == l => v }.sum).toMap
      w = w.map { case (c, v) => c -> v * tLang(c._2) / math.max(cs(c._2), 1L) }
    }
    spec.foreach { case (s, l, n) =>
      val (nT, w0, wF, ts, tl, _, lsum) = out((s, l))
      assert(nT == n.toLong)
      assert(w0 == n * 1000000L / tot, s"w0 seed for ($s,$l)")
      assert(ts == tSrc(s) && tl == tLang(l), s"targets for ($s,$l)")
      assert(wF == w((s, l)), s"raked weight for ($s,$l): got $wF want ${w((s, l))}")
      // the loop ends on a column step: each lang marginal sits within
      // per-cell truncation (< 1 ppm per cell) of its target
      assert(lsum <= tLang(l) && tLang(l) - lsum <= srcs.length,
        s"lang marginal $lsum vs target ${tLang(l)}")
    }
    intercept[IllegalArgumentException](CorpusPipeline.ipfMixture(docs, rounds = 0))
    intercept[IllegalArgumentException](CorpusPipeline.ipfMixture(docs, rounds = 9))
    // a NULL-keyed cell is a real cell (its own marginal group), not a
    // dropped row — the oracle mirrors this with IS NOT DISTINCT FROM
    // joins (round-12 review finding)
    val withNull = spec.map { case (s, l, n) =>
      (s, if (l == "fr") null else l, n)
    }.zipWithIndex.map { case ((s, l, n), i) =>
      (i.toLong, s, l, Seq.fill(n)("x").mkString(" "))
    }.toDF("doc_id", "source", "lang", "text")
    val nullRows = CorpusPipeline.ipfMixture(withNull, rounds)
      .collect().filter(_.isNullAt(1))
    assert(nullRows.length == 3, "one NULL-lang cell per source survives")
    assert(nullRows.forall(r => r.getLong(4) > 0L), "raked weights stay positive")
  }

  test("C94 zipfSlope: exact integer least squares; steep Zipf is negative; 1-bucket source is NULL") {
    // s1: classic Zipf-ish — token t_i appears ceil(64/2^i) times
    val s1Tokens = (0 until 7).flatMap(i => Seq.fill(64 >> i)(s"t$i"))
    // s2: exactly one distinct token — a single rank bucket, no fit
    val docs = Seq(
      (1L, "s1", s1Tokens.mkString(" ")),
      (2L, "s2", Seq.fill(10)("only").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = CorpusPipeline.zipfSlope(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap

    // independent plain-Scala replay for s1
    def log2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val freqs = s1Tokens.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, f) => (-f, t) }
    val pts = freqs.zipWithIndex
      .map { case ((_, f), i) => (log2(i + 1L), log2(f)) }
      .groupBy(_._1).toSeq
      .map { case (x, ys) => (x, ys.map(_._2).sum * 1000L / ys.size) }
    val nb = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (nb * sxy - sx * sy) / (nb * sxx - sx * sx)
    val icept = (sy - slope * sx) / nb
    val (v1, t1, b1, sl1, ic1) = out("s1")
    assert(v1 == 7L && t1 == s1Tokens.size.toLong)
    assert(b1 == nb)
    assert(sl1.contains(slope) && ic1.contains(icept),
      s"s1 fit: got ($sl1, $ic1) want ($slope, $icept)")
    assert(slope < 0L, "halving frequencies must fit a negative slope")
    val (v2, t2, b2, sl2, ic2) = out("s2")
    assert(v2 == 1L && t2 == 10L && b2 == 1L)
    assert(sl2.isEmpty && ic2.isEmpty, "single bucket has no defined fit")
  }

  test("C106: perplexity terciles rank by KN mean-p, no-bigram docs sink to the tail") {
    // train doc 0: "a b a b" -> KN means: id0 750000, id1 "a b" 812500,
    // id2 "b a" 625000, id3 "a x" 0, id5 "x y" 0 (id tiebreak), id4 "z"
    // has no bigram -> p = -1 -> tail; exact terciles of 2 over 6 docs
    val docs = Seq(
      (0L, "s1", "a b a b"), (1L, "s1", "a b"), (2L, "s1", "b a"),
      (3L, "s1", "a x"), (4L, "s1", "z"), (5L, "s1", "x y"))
      .toDF("doc_id", "source", "text")
    val out = CorpusPipeline
      .perplexityTercileFilter(docs, col("doc_id") === 0)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // (bucket, docs, tokens, max_p, min_p, admitted)
    assert(out == Seq(
      (0L, 2L, 6L, 812500L, 750000L, 1L),
      (1L, 2L, 4L, 625000L, 0L, 1L),
      (2L, 2L, 3L, 0L, -1L, 0L)))
    spark.catalog.clearCache()
  }

  test("C107: UniMax water-fills ascending, caps bind small languages exactly") {
    // tokens: a=10, b=100, c=7; budget 50, maxEpochs 2 ->
    // c: fair 16 > cap 14 -> 14; a: fair 18 < cap 20 -> 18; b: 18
    val docs = Seq(
      (0L, "a", "t t t t t"), (1L, "a", "t t t t t"),
      (2L, "b", (1 to 100).map(_ => "w").mkString(" ")),
      (3L, "c", "u u u u u u u"))
      .toDF("doc_id", "lang", "text")
    val out = CorpusPipeline.unimaxMixture(docs, budgetTokens = 50L, maxEpochs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      ("a", 10L, 18L, 1800L), ("b", 100L, 18L, 180L), ("c", 7L, 14L, 2000L)))
    // budget >= all caps admits exactly maxEpochs everywhere
    val full = CorpusPipeline.unimaxMixture(docs, budgetTokens = 1000L, maxEpochs = 3)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(full.values.toSet == Set(3000L))
    spark.catalog.clearCache()
  }
}
