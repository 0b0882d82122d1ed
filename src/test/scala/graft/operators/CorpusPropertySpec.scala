package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property tests for the round-6 corpus operators: on ARBITRARY small
 * corpora (tiny vocab to force collisions, blank/short docs, repeated
 * runs) each distributed operator must agree with a brute-force
 * in-memory reference computed with plain Scala. Fixed seeds so
 * failures reproduce.
 */
class CorpusPropertySpec extends SparkSpec {

  import spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // word streams over a 5-word vocab: duplicates everywhere
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
  private def doc(seed: Long, minTok: Int = 0, maxTok: Int = 15): String = {
    val g = for {
      n <- Gen.choose(minTok, maxTok)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    g.apply(Gen.Parameters.default, Seed(seed)).get
  }

  test("property: dedupAcrossDocs == brute-force global first-occurrence scrub") {
    // sentence-shaped docs: 0-4 sentences of 1-3 words joined with ". "
    def sentDoc(seed: Long): String = {
      val g = for {
        n <- Gen.choose(0, 4)
        ss <- Gen.listOfN(n, for {
          k <- Gen.choose(1, 3)
          ws <- Gen.listOfN(k, Gen.oneOf(vocab))
        } yield ws.mkString(" "))
      } yield ss.mkString(". ")
      g.apply(Gen.Parameters.default, Seed(seed)).get
    }
    val docs = (0L until 120L).map(i => (i, sentDoc(40000 + i)))
    // brute force
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.flatMap { case (id, text) =>
      val sents = text.trim.split("\\.\\s+").filter(_.nonEmpty)
      if (sents.isEmpty) None
      else {
        val kept = sents.filter { s =>
          if (seen.contains(s)) false else { seen.add(s); true }
        }
        Some((id, kept.length.toLong, (sents.length - kept.length).toLong,
          kept.mkString(". ")))
      }
    }
    val out = CorpusPipeline.dedupAcrossDocs(docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(out == expected)
  }

  test("property: capPerKey == brute-force md5-ordered top-N per key, any salt count") {
    val rows = (0L until 300L).map(i => (i, s"k${i % 7}"))
    val expected = rows.groupBy(_._2).flatMap { case (k, g) =>
      g.map(_._1).sortBy(id => (md5Hex(s"cap:$id"), id)).take(6)
        .zipWithIndex.map { case (id, r) => (k, id, r + 1) }
    }.toSeq.sorted
    for (salts <- Seq(1, 5, 64)) {
      val out = CorpusPipeline.capPerKey(rows.toDF("id", "key"), "key", "id", 6, salts)
        .select("key", "id", "cap_rank")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq.sorted
      assert(out == expected, s"salts=$salts")
    }
  }

  test("property: duplicatedSpans == brute-force gram count + span merge") {
    val n = 3
    val docs = (0L until 150L).map(i => (i, doc(70000 + i)))
    val grams = docs.flatMap { case (id, text) =>
      val t = text.trim.split("\\s+").filter(_.nonEmpty)
      if (t.length >= n) t.sliding(n).zipWithIndex.map { case (g, p) => (id, p, g.mkString(" ")) }
      else Iterator.empty
    }
    val counts = grams.groupBy(_._3).map { case (g, xs) => (g, xs.size) }
    val expected = grams.filter(g => counts(g._3) > 1)
      .groupBy(_._1).map { case (id, xs) =>
        val pos = xs.map(_._2).sorted
        val spans = pos.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), p) if h.nonEmpty && p == h.head + 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }
        val lens = spans.map(_.length.toLong)
        (id, lens.length.toLong, lens.sum, lens.max + (n - 1))
      }.toSeq.sorted
    val out = CorpusPipeline.duplicatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(out == expected)
  }

  test("property: gramNovelty == brute-force min-doc gram attribution") {
    val n = 3
    val docs = (0L until 150L).map(i => (i, doc(130000 + i)))
    val grams = docs.flatMap { case (id, text) =>
      val t = text.trim.split("\\s+").filter(_.nonEmpty)
      if (t.length >= n) t.sliding(n).map(g => (id, g.mkString(" "))) else Iterator.empty
    }
    val firstDoc = grams.groupBy(_._2).map { case (g, xs) => (g, xs.map(_._1).min) }
    val expected = grams.groupBy(_._1).map { case (id, xs) =>
      val novel = xs.count(g => firstDoc(g._2) == id).toLong
      (id, xs.size.toLong, novel, novel * 100 / xs.size)
    }.toSeq.sorted
    val out = CorpusPipeline.gramNovelty(docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(out == expected)
  }

  test("property: lmBigramSurprisal == brute-force bigram LM") {
    val docs = (0L until 150L).map(i => (i, doc(90000 + i)))
    val bigrams = docs.flatMap { case (id, text) =>
      val t = text.trim.split("\\s+").filter(_.nonEmpty)
      if (t.length >= 2) t.sliding(2).map(p => (id, p.head, p.mkString(" "))) else Iterator.empty
    }
    val bc = bigrams.groupBy(_._3).map { case (b, xs) => (b, xs.size.toLong) }
    val ctx = bigrams.groupBy(_._2).map { case (w, xs) => (w, xs.size.toLong) }
    val expected = bigrams.groupBy(_._1).map { case (id, xs) =>
      val surs = xs.map { case (_, w1, b) => ctx(w1) / bc(b) }
      (id, xs.size.toLong, surs.sum, surs.sum / xs.size)
    }.toSeq.sorted
    val out = CorpusPipeline.lmBigramSurprisal(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(out == expected)
  }

  test("property: scoreLinearHashed == brute-force hashed weights on arbitrary text") {
    def w(tok: String): Long = java.lang.Long.parseLong(md5Hex(tok).take(4), 16) % 19 - 9
    val textGen = Gen.oneOf(
      Gen.listOf(Gen.oneOf(vocab)).map(_.mkString(" ")),
      Gen.alphaNumStr.map(_.take(20)),
      Gen.const(""), Gen.const("   "))
    val docs = (0L until 200L).map(i =>
      (i, textGen.apply(Gen.Parameters.default, Seed(110000 + i)).get))
    val expected = docs.map { case (id, text) =>
      val toks = text.trim.split("\\s+") // "" yields [""], matching split(trim(),..)
      val sum = toks.map(w).sum
      (id, sum, toks.length.toLong, if (sum > 0) 1 else 0)
    }.sorted
    val out = CorpusPipeline.scoreLinearHashed(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq.sorted
    assert(out == expected)
  }

  test("property: winnowing guarantee — any planted shared run of w+k-1 tokens yields a shared fingerprint") {
    // the Schleimer et al. §2 guarantee, checked on arbitrary docs: a
    // run of w+k−1 tokens shared verbatim between two docs always
    // contributes at least one common fingerprint (k=4, w=4 → run 7)
    val k = 4; val w = 4
    val rnd = new scala.util.Random(77)
    // brute-force winnowing of one text: md5₅₂ k-gram hashes, the min of
    // every full window of w, as a set
    def fps(t: String): Set[Long] = t.split(" ").toSeq.sliding(k)
      .map(g => java.lang.Long.parseLong(md5Hex(g.mkString(" ")).take(13), 16))
      .toSeq.sliding(w).map(_.min).toSet
    (0 until 10).foreach { trial =>
      // distinct vocabularies per side so ONLY the planted run matches
      val run = (0 until (w + k - 1)).map(j => s"r${trial}_$j").mkString(" ")
      def side(tag: String, pre: Int, post: Int): String =
        ((0 until pre).map(j => s"${tag}a${trial}_$j") ++ Seq(run) ++
          (0 until post).map(j => s"${tag}b${trial}_$j")).mkString(" ")
      val a = side("x", rnd.nextInt(20), rnd.nextInt(20))
      val b = side("y", rnd.nextInt(20), rnd.nextInt(20))
      // doc 1 has a second row: rows sharing an id are one document,
      // whose fingerprints are the union of its rows' fingerprints
      val c = (0 until 8 + rnd.nextInt(20)).map(j => s"z${trial}_$j").mkString(" ")
      val out = CorpusPipeline.winnowFingerprints(
        Seq((1L, a), (2L, b), (1L, c)).toDF("doc_id", "text"), "doc_id", "text",
        k = k, w = w, minShared = 1)
        .collect()
      val (f1, f2) = (fps(a) ++ fps(c), fps(b))
      assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toSeq == Seq((1L, 2L, (f1 & f2).size.toLong, f1.size.toLong, f2.size.toLong)),
        s"trial $trial: planted $run run\nA=$a\nB=$b\nC=$c")
    }
  }

  test("property: edit-distance pairs == brute-force blocked Levenshtein") {
    // arbitrary docs over a tiny vocab; brute-force replays the block
    // key, length prefilter, full DP distance and the oversized-block
    // star against the block's min id
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def norm(t: String): String =
      t.toLowerCase.replaceAll("[^\\p{L}\\p{N}\\s]", "")
        .replaceAll("\\s+", " ").trim.take(60)
    // a planted block outside the vocab: edited members of varied
    // length, so the star's length filter (502, 507) and distance
    // bound (503, 506) both cut pairs against the rep 500
    val planted = Seq(
      500L -> "Zulu yankee alpha beta gamma",
      501L -> "zulu yankee alpha beta gamma x",
      502L -> "zulu yankee alpha beta gamma delta eps",
      503L -> "zulu yankex alphx bety gamnz",
      504L -> "zulu yankee, alpha beta gamma!",
      505L -> "zulu yankee alpha bet gamma",
      506L -> "zulu yankee omega beta gamma",
      507L -> "zulu yankee alpha beta gamma eps",
      508L -> "zulu yankee alpha beta gam")
    // 505 appears twice with one text: it pairs with every other
    // member, never with itself (id_a < id_b), whether its block pairs
    // in full or stars
    val docs = (0L until 120L).map(i => (i, doc(99000 + i, 2, 6))) ++ planted :+ planted(5)
    val maxDist = 3
    val byKey = docs.map { case (id, t) => (id, norm(t)) }
      .groupBy { case (_, c) => c.take(8) }
    def expected(cap: Int): Set[(Long, Long, Long)] = byKey.values.flatMap { grp =>
      val pairs =
        if (grp.size <= cap) for ((ia, ca) <- grp; (ib, cb) <- grp if ia < ib) yield (ia, ca, ib, cb)
        else {
          val (ir, cr) = grp.minBy(_._1)
          for ((ib, cb) <- grp if ib != ir) yield (ir, cr, ib, cb)
        }
      for {
        (ia, ca, ib, cb) <- pairs
        if math.abs(ca.length - cb.length) <= maxDist
        d = lev(ca, cb) if d <= maxDist
      } yield (ia, ib, d.toLong)
    }.toSet
    // the cap equals a smaller block's size: that block still pairs
    // in full (the <= boundary) while the planted block stars
    val cap = byKey.values.map(_.size).filter(_ < planted.size).max
    assert(expected(cap).filter(_._1 == 500L).map(_._2) == Set(501L, 504L, 505L, 508L))
    for (c <- Seq(1000, cap)) {
      val out = Dedup.editDistancePairs(docs.toDF("doc_id", "text"), "doc_id", "text",
          maxDist = maxDist, prefixLen = 8, compareLen = 60, maxBucketSize = c)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == expected(c), s"cap $c: missing=${expected(c) -- out} extra=${out -- expected(c)}")
    }
  }

  test("property: jaccardJoinExact == brute-force all-pairs Jaccard (complete AND sound)") {
    // tiny vocab forces heavy set overlap (the prefix filter's worst
    // case) and short docs exercise the whole-doc-shingle branch;
    // threshold 0.5 keeps the expected pair set non-trivial
    def md5h(g: String): Long =
      java.lang.Long.parseLong(md5Hex(g).substring(0, 13), 16)
    def shingleSet(text: String): Set[Long] = {
      val toks = text.trim.split("\\s+").toVector
      val gs = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toVector
               else Vector(toks.mkString(" "))
      gs.map(md5h).toSet
    }
    for (round <- 0 until 3) {
      // id 7 has a second row: rows sharing an id are one document,
      // whose set is the union of its rows' shingle sets
      val docs = (0L until 40L).map(i => (i, doc(88000 + 1000 * round + i, 1, 12))) :+
        (7L, doc(88000 + 1000 * round + 99, 1, 12))
      val sets = docs.groupBy(_._1).map { case (id, rows) => id -> rows.flatMap(r => shingleSet(r._2)).toSet }
      val ids = sets.keys.toSeq
      val expected = (for {
        a <- ids; b <- ids if a < b
        ia = sets(a); ib = sets(b)
        inter = (ia & ib).size.toLong
        uni = (ia | ib).size.toLong
        if inter * 1000000L >= 500000L * uni
      } yield (a, b, ia.size.toLong, ib.size.toLong, inter, uni,
        inter * 1000000L / uni)).toSet
      val got = Dedup.jaccardJoinExact(
          docs.toDF("doc_id", "text"), thresholdPpm = 500000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      assert(got == expected,
        s"round $round: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
      spark.catalog.clearCache()
    }
  }
}
