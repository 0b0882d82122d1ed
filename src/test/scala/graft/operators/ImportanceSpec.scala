package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** C59 importance scoring + C60 diversity stats: planted-target
 * ranking, feature-count arithmetic, hand-computed diversity rows. */
class ImportanceSpec extends SparkSpec {

  import spark.implicits._

  test("C59: docs sharing the target's n-grams outrank disjoint docs") {
    // targets speak "alpha beta gamma"; candidate 100 shares that
    // language, candidate 200 speaks disjoint "delta epsilon zeta".
    val docs = (
      (1L to 10L).map(i => (i, "alpha beta gamma alpha beta", 1)) ++
        Seq((100L, "alpha beta gamma", 0), (200L, "delta epsilon zeta", 0))
      ).toDF("doc_id", "text", "is_target")
    val scores = CorpusPipeline.importanceScore(docs, "doc_id", "text", "is_target")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scores(100L) > scores(200L))
    // and the targets themselves score at least as high as the mimic
    assert(scores(1L) >= scores(100L))
  }

  test("C59: feature count = tokens + bigrams (2k-1); single-token doc has 1") {
    val docs = Seq(
      (1L, "a b c d", 0), // 4 unigrams + 3 bigrams
      (2L, "solo", 0) // 1 unigram, no degenerate shingle
    ).toDF("doc_id", "text", "is_target")
    val n = CorpusPipeline.importanceScore(docs, "doc_id", "text", "is_target")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n == Map(1L -> 7L, 2L -> 1L))
  }

  test("C59: matches a driver-side brute replay on a random corpus") {
    val B = 64
    val rnd = new scala.util.Random(11)
    val rows = (1L to 60L).map { i =>
      val toks = Seq.fill(2 + rnd.nextInt(6))(s"w${rnd.nextInt(12)}")
      (i, toks.mkString(" "), (i % 3 == 0).compare(false))
    }
    def bucket(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16) % B
    }
    val feats = rows.flatMap { case (id, text, tgt) =>
      val l = text.split("\\s+").toSeq
      val grams = l ++ (if (l.size >= 2) l.sliding(2).map(_.mkString(" ")).toSeq else Nil)
      grams.map(g => (id, tgt.toLong, bucket(g)))
    }
    val wt = feats.groupBy(_._3).map { case (f, fs) =>
      f -> (fs.map(_._2).sum + 1L) * 1000000L / (fs.size + 2L)
    }
    val expected = feats.groupBy(_._1).map { case (id, fs) =>
      val s = fs.map(x => wt(x._3)).sum
      id -> (fs.size.toLong, s / fs.size)
    }
    val got = CorpusPipeline
      .importanceScore(rows.toDF("doc_id", "text", "is_target"), buckets = B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("C59: weight table never exceeds the bucket count") {
    val docs = (1L to 50L)
      .map(i => (i, s"w$i x$i y$i z$i", (i % 2).toInt)).toDF("doc_id", "text", "is_target")
    // 50 docs × 7 features > 16 buckets → hashing must collapse cells
    val out = CorpusPipeline.importanceScore(docs, "doc_id", "text", "is_target",
      buckets = 16)
    assert(out.count() == 50L)
  }

  test("C60: hand-computed diversity row (repetitive vs diverse source)") {
    val docs = Seq(
      ("rep", "a a a a"), // N=4, types=1, hapax=0, simpson=12/12
      ("div", "a b c d") // N=4, types=4, hapax=4, simpson=0
      ).toDF("source", "text")
    val m = CorpusPipeline.diversityStats(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(m("rep") == ((4L, 1L, 0L, 250000L, 1000000L)))
    assert(m("div") == ((4L, 4L, 4L, 1000000L, 0L)))
  }

  test("C61: hand-computed overlap — one shared 3-gram, zero pairs omitted") {
    val docs = Seq(
      ("A", "x y z w"), // grams: "x y z", "y z w"
      ("B", "x y z q"), // grams: "x y z", "y z q"
      ("C", "a b c") // disjoint
      ).toDF("source", "text")
    val rows = CorpusPipeline.sourceOverlap(docs, n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // only (A,B) share; jaccard = 1/(2+2-1)
    assert(rows.toSeq == Seq(("A", "B", 1L, 333333L)))
  }

  test("C61: short docs degrade to the whole-doc shingle (WordShingles contract)") {
    val docs = Seq(("A", "hi there"), ("B", "hi there"), ("C", "hi")).toDF("source", "text")
    val rows = CorpusPipeline.sourceOverlap(docs, n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("A", "B", 1L)))
  }

  test("C61: general path caps per-gram source sets (200-source universal gram)") {
    // 200 sources (> the 62-label bitmask limit → general path). Every
    // source carries one UNIVERSAL boilerplate 3-gram; uncapped, that
    // single gram alone would explode 200·199/2 = 19900 pairs. Sources
    // s0/s1 additionally share one genuine gram.
    val docs = ((0 until 200).map(i => (s"s$i", "univ boiler plate")) ++
      Seq(("s0", "real shared gram"), ("s1", "real shared gram"))).toDF("source", "text")
    val capped = CorpusPipeline.sourceOverlapGeneral(
      docs, 3, "source", "text", maxSourcesPerGram = 64)
    val rows = capped
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the universal gram is dropped (|set|=200 > 64) → the ONLY pair is
    // (s0,s1); their union still counts the universal gram (2+2-1=3).
    assert(rows.toSeq == Seq(("s0", "s1", 1L, 333333L)))
    // the recall trade is observable: the CollectMetrics node reports
    // exactly one dropped gram set, with no extra scan
    val metric = capped.queryExecution.observedMetrics("source_overlap_cap")
    assert(metric.getLong(0) == 1L)
    // and with the cap raised above the label count, the universal gram
    // contributes: every pair shares it.
    val uncapped = CorpusPipeline.sourceOverlapGeneral(
      docs, 3, "source", "text", maxSourcesPerGram = 200)
    assert(uncapped.count() == 19900L)
  }

  test("C61: bitmask and general paths return identical matrices") {
    val docs = (1L to 120L)
      .map(i => (s"s${i % 9}", s"w${i % 4} w${i % 7} w${i % 5} w${i % 3} w${i % 11}"))
      .toDF("source", "text")
    val fast = CorpusPipeline.sourceOverlap(docs, n = 3)
      .orderBy("src_a", "src_b").collect().toSeq
    val gen = CorpusPipeline.sourceOverlapGeneral(docs, 3, "source", "text")
      .orderBy("src_a", "src_b").collect().toSeq
    assert(fast == gen)
  }

  test("C60: hashed and raw term keys produce identical stats") {
    val rows = (1L to 30L)
      .map(i => (s"s${i % 3}", s"tok${i % 7} tok${i % 5} tok${i % 7} filler$i"))
    // brute force over the raw term strings
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val c = ds.flatMap(_._2.trim.split("\\s+")).groupBy(identity)
        .map(_._2.size.toLong)
      val n = c.sum
      (src, n, c.size.toLong, c.count(_ == 1L).toLong,
        c.size * 1000000L / n,
        if (n > 1) c.map(x => x * (x - 1)).sum * 1000000L / (n * (n - 1)) else 0L)
    }
    val got = CorpusPipeline.diversityStats(rows.toDF("source", "text"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
  }
}
