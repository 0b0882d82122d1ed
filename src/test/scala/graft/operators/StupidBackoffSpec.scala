package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** C84: Stupid-Backoff trigram LM scoring (CorpusPipeline.stupidBackoffSurprisal). */
class StupidBackoffSpec extends SparkSpec {

  import spark.implicits._

  // Train doc 0: "a b c a b c" → trigrams: "a b c"×2? no — positions:
  // (a b c), (b c a), (c a b), (a b c) → c3: "a b c"=2, "b c a"=1,
  // "c a b"=1, N(train trigram instances)=4.
  // ctx2 counts: "a b"=2, "b c"=1, "c a"=1.
  // bo (final bigram of each instance): "b c"=2, "c a"=1, "a b"=1;
  // w2 marginals: b→2, c→1, a→1.
  // unigram (w3 of each instance): c=2, a=1, b=1; N=4.
  private val train = (0L, "a b c a b c")

  test("held-out doc backs off through all four levels with exact integer surprisal") {
    // Held-out doc 1: "a b c x" → trigrams (a b c), (b c x).
    //  (a b c): level 1, sur = c2("a b")//c3 = 2//2 = 1.
    //  (b c x): tri unseen; bo "c x" unseen; w3 "x" unseen → OOV,
    //           sur = (4*25)//4 = 25.
    // Held-out doc 2: "x b c a" → (x b c): tri unseen, bo "b c" seen
    //           (cb=2, c1(b)=2) → level 2, sur = (2*5)//(2*2) = 2;
    //           (b c a): tri seen, sur = c2("b c")//1 = 1//1 = 1.
    // Held-out doc 3: "x y c z c" → (x y c): bo "y c" unseen, w3 "c"
    //           seen (cu=2) → level 3, sur = (4*25)//(2*4) = 12;
    //           (y c z): w3 "z" unseen → OOV 25; (c z c): w3 "c" →
    //           level 3, 12.
    val docs = Seq(train, (1L, "a b c x"), (2L, "x b c a"), (3L, "x y c z c"))
      .toDF("doc_id", "text")
    val out = CorpusPipeline
      .stupidBackoffSurprisal(docs, col("doc_id") === 0)
      .orderBy("doc_id")
      .select("doc_id", "n_trigrams", "n_hit", "n_bo", "n_uni", "n_oov",
        "surprisal_sum", "rarity")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSeq
    // Train doc scores itself: (a b c)×2 sur 1 each, (b c a) sur
    // c2("b c")//1 = 1, (c a b) sur c2("c a")//1 = 1 → sum 4.
    assert(out == Seq(
      (0L, 4L, 4L, 0L, 0L, 0L, 4L, 1L),
      (1L, 2L, 1L, 0L, 0L, 1L, 26L, 13L),
      (2L, 2L, 1L, 1L, 0L, 0L, 3L, 1L),
      (3L, 3L, 0L, 0L, 2L, 1L, 49L, 16L)))
    spark.catalog.clearCache() // dtf persists inside the operator
  }

  test("empty train slice degrades to all-OOV with surprisal 0, not null") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val out = CorpusPipeline
      .stupidBackoffSurprisal(docs, lit(false))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_oov") == 2L && r.getAs[Long]("surprisal_sum") == 0L)
    spark.catalog.clearCache()
  }
}
