package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** C114 exact-substring dedup with removal: owner rule, interval-union
 * coverage, and the ScrubSpans kernel's edge cases. */
class ExactSubstrSpec extends SparkSpec {

  import spark.implicits._

  private def run(rows: Seq[(Long, String)], n: Int) =
    CorpusPipeline
      .exactSubstrScrub(rows.toDF("id", "text"), "id", "text", n = n)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
      .toSeq

  test("cross-doc duplicate: lowest id keeps the run, later doc loses it") {
    val out = run(Seq(
      1L -> "a b c d e f",
      2L -> "x a b c d y"), n = 3)
    // grams "a b c"/"b c d" occur in both docs; owner = doc 1 → doc 1
    // untouched, doc 2 loses tokens 1..4 (union of [1,3] and [2,4]).
    assert(out == Seq(
      (1L, "a b c d e f", 6, 0, 0),
      (2L, "x y", 2, 4, 1)))
  }

  test("intra-doc repeat keeps only the first occurrence") {
    val out = run(Seq(3L -> "p q r s p q r t"), n = 3)
    // "p q r" at pos 0 (owner) and pos 4 → tokens 4..6 scrubbed.
    assert(out == Seq((3L, "p q r s t", 5, 3, 1)))
  }

  test("fully duplicated doc scrubs to empty text; owner doc intact") {
    val out = run(Seq(4L -> "m n o", 5L -> "m n o"), n = 3)
    assert(out == Seq(
      (4L, "m n o", 3, 0, 0),
      (5L, "", 0, 3, 1)))
  }

  test("docs shorter than n never scrub (no whole-doc shingle leak)") {
    // WordShingles would emit ONE whole-doc shingle for short docs —
    // the operator must gate them out, so two identical 2-token docs
    // survive an n=3 scrub untouched.
    val out = run(Seq(6L -> "u v", 7L -> "u v"), n = 3)
    assert(out == Seq((6L, "u v", 2, 0, 0), (7L, "u v", 2, 0, 0)))
  }

  test("two disjoint shared runs merge into two spans, not one") {
    val out = run(Seq(
      10L -> "a b c z1 d e f",
      11L -> "a b c q w r t y d e f"), n = 3)
    // doc 10 owns both runs; doc 11 loses [0,2] and [8,10] → 2 spans.
    assert(out == Seq(
      (10L, "a b c z1 d e f", 7, 0, 0),
      (11L, "q w r t y", 5, 6, 2)))
  }

  test("owner rule is lexicographic (id, pos): ties inside the owner doc") {
    // the shared gram appears twice in doc 1 — owner is (1, pos=0);
    // BOTH the second occurrence in doc 1 and doc 2's copy scrub.
    val out = run(Seq(
      1L -> "k l m z2 k l m",
      2L -> "k l m"), n = 3)
    assert(out == Seq(
      (1L, "k l m z2", 4, 3, 1),
      (2L, "", 0, 3, 1)))
  }

  test("carryCols ride through without a second join") {
    val df = Seq((1L, "s1", "m n o"), (2L, "s2", "m n o"))
      .toDF("id", "src", "text")
    val out = CorpusPipeline
      .exactSubstrScrub(df, "id", "text", n = 3, carryCols = Seq("src"))
      .orderBy("id").select("id", "src", "kept_text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq((1L, "s1", "m n o"), (2L, "s2", "")))
  }

  test("property: exactSubstrScrub == brute-force owner/coverage reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("a", "b", "c", "d") // tiny vocab: duplicates everywhere
    def doc(seed: Long): String = {
      val g = for {
        n <- Gen.choose(0, 18)
        ws <- Gen.listOfN(n, Gen.oneOf(vocab))
      } yield ws.mkString(" ")
      g.apply(Gen.Parameters.default, Seed(seed)).get
    }
    val n = 3
    val docs = (0L until 80L).map(i => (i, doc(77000 + i)))
    // brute force: gram occurrences -> lexicographic-min owner ->
    // interval-union coverage -> rejoin
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq }.toMap
    val occs = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(Long, Int)]]
    for ((id, ts) <- docs.map(d => d._1 -> toks(d._1)); if ts.length >= n;
         p <- 0 to ts.length - n) {
      val g = ts.slice(p, p + n).mkString(" ")
      occs(g) = occs.getOrElse(g, Vector()) :+ (id -> p)
    }
    val starts = scala.collection.mutable.Map.empty[Long, Vector[Int]]
    for ((_, os) <- occs; if os.size > 1) {
      val owner = os.min
      for (o <- os if o != owner)
        starts(o._1) = starts.getOrElse(o._1, Vector()) :+ o._2
    }
    val expected = docs.map { case (id, _) =>
      val ts = toks(id)
      val covered = Array.fill(ts.length)(false)
      for (s0 <- starts.getOrElse(id, Vector());
           i <- s0 until math.min(s0 + n, ts.length)) covered(i) = true
      val kept = ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      val spans = covered.indices
        .count(i => covered(i) && (i == 0 || !covered(i - 1)))
      (id, kept.mkString(" "), ts.length - covered.count(identity),
        covered.count(identity), spans)
    }
    assert(run(docs, n) == expected)
  }

  test("packing contract: ids outside [0, 2^31) fail loudly, not corrupt owners") {
    val bad = Seq((1L << 31, "a b c d e f g h i"), (7L, "a b c d e f g h i"))
      .toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      CorpusPipeline.exactSubstrScrub(bad, "doc_id", "text")
    }
    assert(err.getMessage.contains("2^31"))
    val neg = Seq((-1L, "a b c d e f g h i")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      CorpusPipeline.exactSubstrScrub(neg, "doc_id", "text")
    }
  }

  test("ScrubSpans kernel: overlapping + out-of-range starts, all/none") {
    import graft.functions.ScrubSpans
    val df = Seq((Seq("a", "b", "c", "d", "e"), Seq(1, 2, 4)))
      .toDF("t", "s")
      .select(ScrubSpans(col("t"), col("s"), 2).as("r"))
      .select("r.kept_text", "r.kept_tokens", "r.removed_tokens", "r.n_spans")
      .collect().head
    // starts 1,2 cover [1,3]; start 4 covers [4,5] (5 past end —
    // harmless) and ADJOINS it, so 1..4 is ONE maximal run
    assert((df.getString(0), df.getInt(1), df.getInt(2), df.getInt(3)) ==
      ("a", 1, 4, 1))
  }
}
