package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** C101/C110/C115: interpolated Kneser–Ney scoring at orders 2, 3 and 5
 * (CorpusPipeline.kneserNeyNgramSurprisal), integer-ppm with D = 3/4. */
class KneserNeySpec extends SparkSpec {

  import spark.implicits._

  // Train doc 0: "a b a b c" → bigrams (a b)×2, (b a), (b c).
  // tb: c12("a b")=2, c12("b a")=1, c12("b c")=1; T = 3 types.
  // tc1: a → (c1=2, n1fw=1); b → (c1=2, n1fw=2).
  // tbw: a → 1, b → 1, c → 1.
  private val train = (0L, "a b a b c")

  test("ppm probabilities are exact and the seen-context row sums to one million") {
    // Doc 0 scores itself:
    //  (a b) c12=2: term1 = (4·2−3)·250000 // 2 = 625000,
    //               term2 = ((3·1·250000) // 2)·1 // 3 = 125000 → 750000.
    //  (b a) c12=1: term1 = 250000 // 2 = 125000,
    //               term2 = ((3·2·250000) // 2)·1 // 3 = 250000 → 375000.
    //  (b c) c12=1: same → 375000.
    // Σ_w2 p(w2|a) = 750000 + 125000 + 125000 = 1000000 exactly
    // (the unseen continuations a, c each get term2 = 125000).
    // Doc 1 "a c x b": (a c) seen-ctx continuation 125000 lvl2;
    //  (c x) both unseen → 0 lvl4; (x b) unseen ctx, seen w2 →
    //  1000000 // 3 = 333333 lvl3.
    // Doc 2 "b c b c": (b c)×2 hit 375000; (c b) unseen ctx → 333333.
    // Doc 3 "a z": seen ctx a, OOV z → lvl4 (order 2 needs a seen final
    //  token for lvl2), p = 0 + ((3·1·250000) // 2)·0 // 3 = 0.
    val docs = Seq(train, (1L, "a c x b"), (2L, "b c b c"), (3L, "a z"))
      .toDF("doc_id", "text")
    val out = CorpusPipeline
      .kneserNeyNgramSurprisal(docs, col("doc_id") === 0, order = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_ngrams", "n_hit", "n_cont", "n_unig", "n_oov",
        "p_sum_ppm", "mean_p_ppm")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSeq
    assert(out == Seq(
      (0L, 4L, 4L, 0L, 0L, 0L, 2250000L, 562500L),
      (1L, 3L, 0L, 1L, 1L, 1L, 458333L, 152777L),
      (2L, 3L, 2L, 0L, 1L, 0L, 1083333L, 361111L),
      (3L, 1L, 0L, 0L, 0L, 1L, 0L, 0L)))
    spark.catalog.clearCache() // dtf/tt persist inside the operator
  }

  test("empty train slice degrades to all-OOV with p 0, not null") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = CorpusPipeline
      .kneserNeyNgramSurprisal(docs, lit(false), order = 2)
      .collect().head
    assert(r.getAs[Long]("n_oov") == 2L && r.getAs[Long]("p_sum_ppm") == 0L)
    spark.catalog.clearCache()
  }

  // ---- C110: trigram interpolated KN ----
  // Train doc 0: "a b c a b c a b d" → trigram types
  //   "a b c"×2, "b c a"×2, "c a b"×2, "a b d"×1 (4 types).
  // tctx: "a b"→(c12 3, n1fw12 2), "b c"→(2, 1), "c a"→(2, 1).
  // tbi (w2,w3 types, nbi = distinct w1): "b c"/"c a"/"a b"/"b d" → 1
  //   each; T = 4.
  // tmid: b→(nmid 2, n1fw2 2), c→(1, 1), a→(1, 1).
  // tbw: a/b/c/d → 1 each.
  private val train3 = (0L, "a b c a b c a b d")

  private type KnRow = (Long, Long, Long, Long, Long, Long, Long, Long, Long)

  private def knTrigramRows(df: org.apache.spark.sql.DataFrame): Seq[KnRow] =
    df.orderBy("doc_id")
      .select("doc_id", "n_ngrams", "n_hit", "n_cont", "n_bo2", "n_unig",
        "n_oov", "p_sum_ppm", "mean_p_ppm")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toSeq

  /** Brute-force C110 reference over exact token strings (Scala
   * collections, the operator scaladoc's formula): trigram types and
   * counts from the train docs, continuation tables from the types,
   * then each instance's level and three-term ppm probability. */
  private def bruteKnTrigram(docs: Seq[(Long, String)],
      isTrain: Long => Boolean): Seq[KnRow] = {
    val grams = docs
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      .filter(_._2.length >= 3)
      .map { case (id, ts) => id -> ts.sliding(3).toSeq }
      .sortBy(_._1)
    val tt: Map[Seq[String], Long] = grams.filter(g => isTrain(g._1))
      .flatMap(_._2).groupBy(identity).map { case (g, v) => g -> v.size.toLong }
    val tctx = tt.toSeq.groupBy(_._1.take(2))
      .map { case (c, v) => c -> ((v.map(_._2).sum, v.size.toLong)) }
    val tbi = tt.keys.toSeq.groupBy(_.drop(1))
      .map { case (b, v) => b -> v.size.toLong }
    val tmid = tbi.toSeq.groupBy(_._1.head)
      .map { case (w, v) => w -> ((v.map(_._2).sum, v.size.toLong)) }
    val tbw = tbi.keys.toSeq.groupBy(_.last)
      .map { case (w, v) => w -> v.size.toLong }
    val bigT = math.max(tbi.size.toLong, 1L)
    grams.map { case (id, gs) =>
      val scored = gs.map { g =>
        val nbi = tbi.getOrElse(g.drop(1), 0L)
        val n1bw = tbw.getOrElse(g(2), 0L)
        (tt.get(g), tctx.get(g.take(2)), tmid.get(g(1))) match {
          case (c123, Some((c12, n1fw12)), Some((nmid, n1fw2))) =>
            val w = 3 * n1fw12 * 250000 / c12
            (if (c123.isDefined) 1 else 2,
              math.max(4 * c123.getOrElse(0L) - 3, 0L) * 250000 / c12 +
                w * math.max(4 * nbi - 3, 0L) / (4 * nmid) +
                w * (3 * n1fw2) / (4 * nmid) * n1bw / bigT)
          case (_, None, Some((nmid, n1fw2))) =>
            (3, math.max(4 * nbi - 3, 0L) * 250000 / nmid +
              3 * n1fw2 * 250000 / nmid * n1bw / bigT)
          case _ => (if (n1bw > 0) 4 else 5, n1bw * 1000000 / bigT)
        }
      }
      def lvl(l: Int) = scored.count(_._1 == l).toLong
      val pSum = scored.map(_._2).sum
      (id, gs.size.toLong, lvl(1), lvl(2), lvl(3), lvl(4), lvl(5), pSum,
        pSum / gs.size)
    }
  }

  test("C110: the five-level ladder, every level hand-computed") {
    // "a b c" lvl1: 1250000//3 + (1500000//3)·1//8 + ((500000·6)//8)·1//4
    //   = 416666 + 62500 + 93750 = 572916
    // "b c a" lvl1: 1250000//2 + (750000//2)·1//4 + ((375000·3)//4)·1//4
    //   = 625000 + 93750 + 70312 = 789062 ("c a b" identical by symmetry)
    // "a b d" lvl1: 250000//3 + 62500 + 93750 = 83333+156250 = 239583
    // "a b a" lvl2 (seen ctx, unseen (b,a)): 0 + 0 + 93750
    // "e b c" lvl3 (unseen ctx, seen mid b): 250000//2 + (1500000//2)·1//4
    //   = 125000 + 187500 = 312500
    // "e e c" lvl4 (unseen mid, seen w3): 1000000//4 = 250000
    // "e e e" lvl5: 0
    // Interpolation sanity: Σ_w3 p(w3|"a b") = 572916 + 239583
    //   + 93750(a) + 93750(b) = 999999 ≈ 1e6 (rounding loss 1).
    val docs = Seq(train3, (1L, "a b c"), (2L, "a b a"), (3L, "e b c"),
      (4L, "e e c"), (5L, "e e e"), (6L, "x y")).toDF("doc_id", "text")
    val out = knTrigramRows(
      CorpusPipeline.kneserNeyNgramSurprisal(docs, col("doc_id") === 0, order = 3))
    assert(out == Seq(
      (0L, 7L, 7L, 0L, 0L, 0L, 0L, 4541663L, 648809L),
      (1L, 1L, 1L, 0L, 0L, 0L, 0L, 572916L, 572916L),
      (2L, 1L, 0L, 1L, 0L, 0L, 0L, 93750L, 93750L),
      (3L, 1L, 0L, 0L, 1L, 0L, 0L, 312500L, 312500L),
      (4L, 1L, 0L, 0L, 0L, 1L, 0L, 250000L, 250000L),
      (5L, 1L, 0L, 0L, 0L, 0L, 1L, 0L, 0L)))
    // doc 6 has < 3 tokens: no trigram, no row
    assert(!out.exists(_._1 == 6L))
    spark.catalog.clearCache()
  }

  test("C110: empty train degrades to all-OOV p 0; hashed and string keys agree") {
    val solo = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val r = CorpusPipeline
      .kneserNeyNgramSurprisal(solo, lit(false), order = 3)
      .collect().head
    assert(r.getAs[Long]("n_oov") == 2L && r.getAs[Long]("p_sum_ppm") == 0L)
    spark.catalog.clearCache()
    // the hashed-key operator against the string-keyed brute force, on
    // the ladder's train doc plus a seeded tiny-vocab corpus (train =
    // every third doc) that reaches all five levels
    val rnd = new scala.util.Random(110)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val extra = (10L until 40L).map(i =>
      i -> Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val rows = Seq(train3, (1L, "a b c"), (2L, "e b c"), (3L, "q w e r t")) ++ extra
    val isTrain = (id: Long) => id == 0L || (id >= 10L && id % 3 == 0)
    val expected = bruteKnTrigram(rows, isTrain)
    val got = knTrigramRows(CorpusPipeline.kneserNeyNgramSurprisal(
      rows.toDF("doc_id", "text"),
      col("doc_id") === 0 || (col("doc_id") >= 10 && col("doc_id") % 3 === 0),
      order = 3))
    spark.catalog.clearCache()
    assert(got == expected)
    (1 to 5).foreach(l => assert(expected.exists(_.productElement(1 + l) != 0L),
      s"level $l never reached"))
  }

  test("C115: 5-gram ladder, every backoff rung hand-computed") {
    // Train doc 0: "a b c d e a b c d e" → 6 positioned 5-grams,
    // tt: "a b c d e"(cn 2) + 4 rotations (cn 1); every suffix-chain
    // table has 5 singleton types; T = |t2| = 5.
    val docs = Seq(
      (0L, "a b c d e a b c d e"),
      (1L, "a b c d e"),  // lvl 1 hit
      (3L, "z b c d e"),  // top ctx unseen, c4 "b c d" seen → lvl 3
      (4L, "q r s t u"),  // all unseen → lvl 7 OOV, p = 0
      (5L, "q r s t e"))  // only unigram continuation of "e" → lvl 6
      .toDF("doc_id", "text")
    val out = CorpusPipeline
      .kneserNeyNgramSurprisal(docs, col("doc_id") === 0, order = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_ngrams", "n_hit", "n_cont", "n_bo4", "n_bo3",
        "n_bo2", "n_unig", "n_oov", "p_sum_ppm")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))
      .toSeq
    spark.catalog.clearCache()
    // doc 1 "a b c d e": cn=2, cden=2, cn1=1; every chain count = 1:
    //  t1 = 625000; W = 375000
    //  t2 = 375000//4 = 93750;   W = 1125000//4 = 281250
    //  t3 = 281250//4 = 70312;   W = 843750//4  = 210937
    //  t4 = 210937//4 = 52734;   W = 632811//4  = 158202
    //  t5 = 158202//5 = 31640  → p = 873436
    // doc 3 "z b c d e": start at order 4 (d4 of "b c d" = 1):
    //  250000 + 187500 + 140625 + 84375 = 662500
    // doc 5: unigram rung: 1000000//5 = 200000
    assert(out.tail == Seq(
      (1L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 873436L),
      (3L, 1L, 0L, 0L, 1L, 0L, 0L, 0L, 0L, 662500L),
      (4L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 1L, 0L),
      (5L, 1L, 0L, 0L, 0L, 0L, 0L, 1L, 0L, 200000L)))
    // train doc scores itself: all 6 grams are hits and p > 0
    assert(out.head._1 == 0L && out.head._3 == 6L && out.head._10 > 0L)
  }

  test("C115: interpolated 5-gram mass sums to one million over the vocab") {
    // The defining property of INTERPOLATED KN (vs backoff): for a
    // seen context, Σ_w p(w|ctx) = 1 over the closed vocab — every
    // arm of the ladder participates (hit for e, pure unigram-
    // continuation mass for a/b/c/d whose deeper suffixes are
    // unseen). Train as in the ladder test; score "a b c d w" for
    // every vocab w. Hand-derived: p(e)=873436, p(other)=31640 each →
    // 999996 exactly (4 ppm lost to the four floor-divisions).
    val vocab = Seq("a", "b", "c", "d", "e")
    val docs = Seq((0L, "a b c d e a b c d e")) ++
      vocab.zipWithIndex.map { case (w, i) => (10L + i, s"a b c d $w") }
    val out = CorpusPipeline
      .kneserNeyNgramSurprisal(docs.toDF("doc_id", "text"),
        col("doc_id") === 0, order = 5)
      .filter(col("doc_id") >= 10)
      .select("p_sum_ppm").collect().map(_.getLong(0))
    spark.catalog.clearCache()
    assert(out.length == 5)
    assert(out.sum == 999996L, s"mass ${out.sum} != 999996 (${out.toSeq})")
  }
}
