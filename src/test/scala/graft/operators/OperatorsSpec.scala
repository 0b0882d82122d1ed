package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.functions._

/** C-tier operator specs: dedup family, ANN, multimodal, text analysis. */
class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "unrelated text with words nobody else uses")
  ).toDF("doc_id", "text")

  test("C1 exact dedup keeps min-id row per duplicate text") {
    val out = Dedup.exact(docs, "text", "doc_id")
    assert(out.count() == 4)
    assert(out.filter($"text".contains("lazy dog")).select("doc_id").first().getLong(0) == 1L)
  }

  test("C2 minhash-LSH finds near-dup and exact-dup pairs, no cartesian") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 64, bands = 16)
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // unrelated doc stays out
    // plan has no CartesianProduct — pairs come from the band-hash join
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
  }

  test("C2 oversized buckets star-pair instead of going quadratic or dropping") {
    // boilerplate-degenerate corpus: every doc shares a 12-word block,
    // so ALL minhash signatures collapse into the same band buckets
    val common = "the quick brown fox jumps over the lazy dog near spark engines"
    val degen = (0 until 500).map(i => (i.toLong, s"$common uniq$i")).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(degen, "doc_id", "text", numHashes = 64,
      bands = 16, maxBucketSize = 50)
    val n = cands.count()
    // stars + residual small-bucket pairs stay near-linear, far from
    // the 500*499/2 = 124750 the unguarded all-pairs join would emit
    assert(n < 5000, s"expected near-linear pair list, got $n")
    assert(cands.filter(col("id_a") === 0L).count() >= 400) // star rep is doc 0
    // the one-call dedup still collapses the family to its representative
    val kept = Dedup.dropNearDuplicates(degen, "doc_id", "text", threshold = 0.8,
      numHashes = 64, bands = 16, maxBucketSize = 50)
    assert(kept.count() == 1 && kept.select("doc_id").first().getLong(0) == 0L)
  }

  test("C2 capped candidates equal a Scala reference over the same banded buckets") {
    import graft.functions.MinHashSig
    val (numHashes, bands) = (128, 16)
    val rows = numHashes / bands
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus =
      // a boilerplate family above caps 3 and 50 in most bands; the
      // one varying word splits off a few of its band buckets
      (100 until 180).map(i => (i.toLong, s"$body tail$i")) ++
      // a family of exactly 50 identical docs: buckets of exactly cap 50
      (200 until 250).map(i => (i.toLong, "fifty copies of one identical page")) ++
      // planted near-duplicates: an exact triplet (buckets of exactly
      // cap 3) and a pair that differs by an appended word
      (10 until 13).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog")) ++
      Seq(20L -> "spark shuffles rows between stages by key hash partition",
        21L -> "spark shuffles rows between stages by key hash partition now") ++
      // id 2 appears twice with the same text: (2, 2) must never appear
      Seq(1L -> "a duplicated id carries this text", 2L -> "a duplicated id carries this text",
        2L -> "a duplicated id carries this text", 3L -> "a duplicated id carries this text") ++
      (300 until 320).map(i => (i.toLong, s"singleton $i text about topic$i alone"))
    val docs = corpus.toDF("doc_id", "text")
    val sigs = docs
      .select($"doc_id", MinHashSig(TF.tokens($"text"), 3, numHashes).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    // buckets keyed by the exact band slice (the operator keys by its
    // xxhash64, which merges two buckets only on a 64-bit collision)
    val buckets = sigs
      .flatMap { case (id, sig) =>
        (0 until bands).map(b => (b, sig.slice(b * rows, (b + 1) * rows)) -> id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted.toSeq)
    def reference(cap: Int): Set[(Long, Long)] = buckets.flatMap { ids =>
      if (ids.size <= cap)
        for (i <- ids.indices; j <- i + 1 until ids.size if ids(i) < ids(j))
          yield (ids(i), ids(j))
      else ids.filter(_ != ids.head).map(id => (ids.head, id))
    }.toSet
    assert(buckets.exists(_.size > 50) && buckets.exists(_.size == 50) &&
      buckets.exists(_.size == 3), "corpus must hit both sides of caps 3 and 50")
    for (cap <- Seq(3, 50, 10000)) {
      val got = Dedup.minhashCandidates(docs, "doc_id", "text", numHashes, bands,
          maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.distinct.length, s"cap $cap: duplicate pairs")
      assert(got.toSet == reference(cap), s"cap $cap")
    }
  }

  test("C62 incrementalNearDup returns one row per new document, even for a duplicated id") {
    // new id 5 arrives as two rows: rows sharing an id are one document
    val nu = Seq(
      (2L, "the quick brown fox jumps over the lazy cat"),
      (5L, "unrelated text with words nobody else uses"),
      (5L, "a second row of the same document"),
      (7L, "nothing here matches the old corpus at all")).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(docs, nu, "doc_id", "text", threshold = 0.5)
      .select("new_id", "matched_old_id").as[(Long, Option[Long])].collect()
    assert(got.map(_._1).sorted.toSeq == Seq(2L, 5L, 7L), got.toSeq)
    assert(got.toMap.apply(2L).contains(1L)) // the smallest matching old id
    assert(got.toMap.apply(7L).isEmpty)
  }

  test("C70 edit-distance pairs: planted suffix typo found at its exact distance") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog zq"), // dist 3
      (3L, "completely different content about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog zq wq xq vq uq")) // dist 12
    .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(d, "doc_id", "text", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 3L)) // doc 4 exceeds maxDist, doc 3 other block
  }

  test("C70 edit-distance pairs: edits inside the blocking prefix are missed (documented)") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "Xhe quick brown fox jumps over the lazy dog")) // 1 edit, char 1
    .toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(d, "doc_id", "text", maxDist = 4).count() == 0L)
  }

  test("C70 oversized blocks star against the representative, staying linear") {
    val d = (0 until 80).map(i => (i.toLong, "the common boilerplate page body"))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(d, "doc_id", "text",
      maxDist = 4, maxBucketSize = 64).collect()
    assert(out.length == 79 && out.forall(r => r.getLong(0) == 0L && r.getLong(2) == 0L))
  }

  test("C3 simhash: identical text → hamming 0; near text within 3 bits") {
    val sig = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(4L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(2L)) <= 16) // one word changed
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("C4 jaccard verification of candidates") {
    val cands = Seq((1L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val verified = Dedup.verifyJaccard(cands, docs, "doc_id", "text", 0.8)
    val rows = verified.collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).getLong(1) == 4L)
    assert(rows(0).getDouble(2) == 1.0)
  }

  private lazy val vecs = {
    val base = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }
    base.toDF("vec_id", "embedding")
  }

  test("C6 brute-force ANN returns k ranked neighbors per query") {
    val out = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" < 2), "vec_id", "embedding", k = 3)
    val rows = out.collect()
    assert(rows.length == 6) // 2 queries × 3
    val ranks = rows.filter(_.getLong(0) == 0L).map(_.getInt(3)).sorted
    assert(ranks.toSeq == Seq(1, 2, 3))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1))) // self excluded
  }

  test("C7 LSH ANN: bucketed candidates are a subset ranked like brute force") {
    val brute = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" < 2), "vec_id", "embedding", 3)
    val lsh = Similarity.lshTopK(vecs, vecs.filter($"vec_id" < 2), "vec_id", "embedding", 3, bits = 2)
    assert(lsh.count() > 0)
    // every LSH result's cosine ≤ the brute-force best for that query
    val bestBrute = brute.filter($"rank" === 1).select("query_id", "cosine").as[(Long, Double)]
      .collect().toMap
    lsh.select("query_id", "cosine").as[(Long, Double)].collect().foreach { case (q, c) =>
      assert(c <= bestBrute(q) + 1e-9)
    }
  }

  test("C7 IVF ANN: kmeans cells prune candidates, results rank like brute force") {
    val brute = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" < 2), "vec_id", "embedding", 3)
    val ivf = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 2), "vec_id", "embedding",
      k = 3, nCells = 4, probes = 2, trainSample = 20)
    assert(ivf.count() > 0)
    val bestBrute = brute.filter($"rank" === 1).select("query_id", "cosine").as[(Long, Double)]
      .collect().toMap
    ivf.select("query_id", "cosine").as[(Long, Double)].collect().foreach { case (q, c) =>
      assert(c <= bestBrute(q) + 1e-9)
    }
  }

  test("C7 seeded IVF: one-cell and probe-all variants are exactly exhaustive") {
    val q = vecs.select($"vec_id", VF.quantize($"embedding").as("qv"))
    val queries = q.filter($"vec_id" < 2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .collect().map(_.toSeq).toSet
    // nSeeds=1/probes=1 puts every vector in the single cell; probing all
    // of 4 cells prunes nothing either — both must agree exactly
    val oneCell = Similarity.ivfTopKSeeded(q, queries, "vec_id", "qv", k = 3, nSeeds = 1, probes = 1)
    val allProbed = Similarity.ivfTopKSeeded(q, queries, "vec_id", "qv", k = 3, nSeeds = 4, probes = 4)
    assert(oneCell.count() == 6) // 2 queries × 3
    assert(canon(oneCell) == canon(allProbed))
    // a genuinely pruned probe never finds a better neighbor than exhaustive
    val bestExact = oneCell.filter($"rank" === 1).select("query_id", "cosine")
      .as[(Long, Double)].collect().toMap
    Similarity.ivfTopKSeeded(q, queries, "vec_id", "qv", k = 3, nSeeds = 4, probes = 1)
      .select("query_id", "cosine").as[(Long, Double)].collect().foreach { case (qid, c) =>
        assert(c <= bestExact(qid) + 1e-9)
      }
  }

  test("C7d published IVF index: pinned probes are bit-identical across rebuilds and equal the seeded path") {
    val q = vecs.select($"vec_id", VF.quantize($"embedding").as("qv"))
    val queries = q.filter($"vec_id" < 2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .collect().map(_.toSeq).toSet
    val base = java.nio.file.Files.createTempDirectory("graft_ivfidx")
      .toString + "/idx"
    val v = Similarity.publishIvfIndex(q, "vec_id", "qv", base, nSeeds = 4)
    // the manifest data card carries per-cell member counts (the C81
    // balance audit from pure metadata)
    assert(graft.sources.Snapshots.manifest(spark, base, v)
      .contains("\"cell\""))
    val idx = graft.sources.Snapshots.read(spark, base, v)
    val run1 = canon(Similarity.ivfTopKIndexed(idx, queries, "vec_id", "qv",
      k = 3, probes = 2))
    // a rebuild (over a GROWN corpus) publishes v+1; probes against the
    // pinned v are unaffected and bit-identical
    val grown = q.unionByName(q.filter($"vec_id" >= 2)
      .withColumn("vec_id", $"vec_id" + 1000L))
    val v2 = Similarity.publishIvfIndex(grown, "vec_id", "qv", base,
      nSeeds = 4)
    assert(v2 == v + 1)
    val run2 = canon(Similarity.ivfTopKIndexed(
      graft.sources.Snapshots.read(spark, base, v), queries, "vec_id", "qv",
      k = 3, probes = 2))
    assert(run1 == run2)
    // the published-index path reproduces the seeded path exactly
    assert(run1 == canon(Similarity.ivfTopKSeeded(q, queries, "vec_id",
      "qv", k = 3, nSeeds = 4, probes = 2)))
    // and the new version serves the grown corpus
    assert(Similarity.ivfTopKIndexed(
      graft.sources.Snapshots.read(spark, base, v2), queries, "vec_id",
      "qv", k = 3, probes = 2).count() == 6)
  }

  test("C7e PQ probe of the published index equals the seeded PQ path") {
    val q = vecs.select($"vec_id", VF.quantize($"embedding").as("qv"))
    val queries = q.filter($"vec_id" < 2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .collect().map(_.toSeq).toSet
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpqidx")
      .toString + "/idx"
    val v = Similarity.publishIvfIndex(q, "vec_id", "qv", base, nSeeds = 4)
    val idx = graft.sources.Snapshots.read(spark, base, v)
    val indexed = Similarity.ivfPqTopKIndexed(idx, queries, "vec_id", "qv",
      k = 3, probes = 2, m = 2, ks = 4, rerankDepth = 8)
    val seeded = Similarity.ivfPqTopKSeeded(q, queries, "vec_id", "qv",
      k = 3, nSeeds = 4, probes = 2, m = 2, ks = 4, rerankDepth = 8)
    assert(canon(indexed) == canon(seeded),
      "published-index PQ probe must reproduce the seeded PQ path")
    // an index with too few seeds for the codebook fails loudly, not
    // with silently different codebooks
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(idx, queries, "vec_id", "qv",
        k = 3, probes = 2, m = 2, ks = 8, rerankDepth = 8).collect()
    }
    assert(err.getMessage.contains("nSeeds >= ks"))
  }

  test("C72 hard negatives: same-label candidates are excluded, rest rank by cosine") {
    val rows = Seq(
      (0L, 0, Seq(1000L, 0L, 0L)),     // query, label 0
      (1L, 0, Seq(999L, 10L, 0L)),     // nearest of all — but same label
      (2L, 1, Seq(950L, 300L, 0L)),    // best hard negative
      (3L, 1, Seq(0L, 1000L, 0L)),     // far negative
      (4L, 2, Seq(900L, 430L, 0L)))    // second-best negative
    val df = rows.toDF("vec_id", "label", "qv")
    val out = Similarity.hardNegatives(df, df.filter($"vec_id" === 0L),
        "vec_id", "qv", "label", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(!out.exists(_._1 == 1L), "same-label candidate must be excluded")
    assert(out.toSeq == Seq((2L, 1), (4L, 2), (3L, 3)))
  }

  test("C81 ivfAudit: hand-computed counts, imbalance, hot flag and two-extremes split") {
    val rows = Seq(
      (0L, Seq(1000L, 0L)),    // seed 0 / cell-0 anchor
      (1L, Seq(0L, 1000L)),    // seed 1, its cell's only member
      (2L, Seq(900L, 100L)),   // cell 0, d2 = 20000
      (3L, Seq(800L, 0L)),     // cell 0, d2 = 40000 (ties 4 → lower id loses? no: farthest picks MAX d2)
      (4L, Seq(1200L, 0L)),    // cell 0, d2 = 40000
      (5L, Seq(500L, 0L)))     // cell 0, d2 = 250000 → the far split seed
      .toDF("vec_id", "qv")
    val out = Similarity.ivfAudit(rows, "vec_id", "qv", nSeeds = 2, hotFactor = 1)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    // cell 0: 5 of 6 members → imbalance 5·2·10⁶ div 6, hot (5·2 > 1·6),
    // split = (anchor 0, farthest 5); cell 1: single member, no proposal
    assert(out(0) == ((5L, 1666666L, 1, 0L, 5L)))
    assert(out(1) == ((1L, 333333L, 0, -1L, -1L)))
  }

  test("C72b IVF-fronted hard negatives: one-cell variant is exactly the exhaustive miner") {
    val rows = Seq(
      (0L, 0, Seq(1000L, 0L, 0L)),
      (1L, 0, Seq(999L, 10L, 0L)),
      (2L, 1, Seq(950L, 300L, 0L)),
      (3L, 1, Seq(0L, 1000L, 0L)),
      (4L, 2, Seq(900L, 430L, 0L)))
    val df = rows.toDF("vec_id", "label", "qv")
    val queries = df.filter($"vec_id" === 0L)
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .collect().map(_.toSeq).toSet
    // nSeeds=1/probes=1: every vector lands in the single cell, so the
    // IVF front prunes nothing — must match hardNegatives bit-for-bit
    val exact = Similarity.hardNegatives(df, queries, "vec_id", "qv", "label", k = 3)
    val ivf = Similarity.hardNegativesIvf(df, queries, "vec_id", "qv", "label",
      k = 3, nSeeds = 1, probes = 1)
    assert(canon(ivf) == canon(exact))
    assert(!ivf.collect().map(_.getLong(1)).contains(1L),
      "same-label candidate must be excluded")
    // genuinely pruned probes: never a better negative than exhaustive,
    // and still never a same-label one
    val pruned = Similarity.hardNegativesIvf(df, queries, "vec_id", "qv", "label",
      k = 3, nSeeds = 3, probes = 1)
    val bestExact = exact.filter($"rank" === 1).select("query_id", "cosine")
      .as[(Long, Double)].collect().toMap
    pruned.select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().foreach { case (qid, nid, c) =>
        assert(nid != 1L)
        assert(c <= bestExact(qid) + 1e-9)
      }
  }

  test("C73 margin mining: a single-row side degrades the 2-NN mean instead of nulling margins") {
    val xs = Seq((0L, Seq(1000L, 0L)), (1L, Seq(0L, 1000L))).toDF("vec_id", "qv")
    val ys = Seq((100L, Seq(990L, 100L))).toDF("vec_id", "qv") // ONE row: no 2-NN anywhere
    val out = Similarity.marginPairs(xs, ys, "vec_id", "qv", topPairs = 10).collect()
    assert(out.length == 2)
    out.foreach(r => assert(!r.isNullAt(3), "margin must not be null"))
    // x=0 is the aligned side: cos≈0.995, its own 1-NN list is just y,
    // so margin = cos − cos/2 − (m1+m2)/4 with m1=m2 = y's best x
    assert(out.map(_.getLong(0)).toSet == Set(0L, 1L))
  }

  test("C73 margin mining: planted alignments beat a hub that wins on raw cosine closeness") {
    // correlated x's (shared 1000-dim-0 mass), y_i = x_i strengthened on
    // its own axis, plus a hub equally close to EVERY x: the hub's own
    // neighborhood mean ≈ its cosines, so its margin goes negative while
    // each planted pair stands above both neighborhoods
    def vec(at: Int, v: Long): Seq[Long] =
      Seq(1000L) ++ Seq.tabulate(4)(j => if (j == at) v else 0L)
    val xs = (0 until 4).map(i => (i.toLong, vec(i, 100L))).toDF("vec_id", "qv")
    val ys = ((0 until 4).map(i => (100L + i, vec(i, 120L))) :+
      (999L, Seq(1000L, 0L, 0L, 0L, 0L))).toDF("vec_id", "qv")
    val out = Similarity.marginPairs(xs, ys, "vec_id", "qv", topPairs = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.length == 4)
    out.foreach { case (x, y, margin) =>
      assert(y == 100L + x, s"x=$x best pair was $y, not its planted alignment")
      assert(margin > 0, s"planted pair ($x,$y) margin $margin not positive")
    }
  }

  test("C76 semanticDecontaminate drops cosine-near-benchmark vectors, keeps the rest") {
    val bench = Array(Array(1000L, 0L, 0L))
    val corpus = Seq(
      (1L, Seq(1000L, 0L, 0L)),   // exact benchmark member → dropped
      (2L, Seq(990L, 20L, 5L)),   // paraphrase-grade copy → dropped
      (3L, Seq(0L, 1000L, 0L)),   // orthogonal → kept
      (4L, Seq(-1000L, 0L, 0L)))  // anti-parallel → kept
      .toDF("vec_id", "qv")
    val kept = Similarity.semanticDecontaminate(corpus, bench, "qv", tau = 0.98)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
  }

  test("C76/C72 zero-norm vectors: no NaN poisoning") {
    // a blank eval row (zero vector) must not NaN every cosine and
    // silently drop the whole corpus; a zero-norm CANDIDATE must not
    // surface as the rank-1 hard negative (NaN sorts above all doubles)
    val corpus = Seq((1L, Seq(1000L, 0L)), (2L, Seq(0L, 1000L)))
      .toDF("vec_id", "qv")
    val keptAllZero = Similarity.semanticDecontaminate(
      corpus, Array(Array(0L, 0L)), "qv", tau = 0.9)
    assert(keptAllZero.count() == 2L)
    val keptMixed = Similarity.semanticDecontaminate(
      corpus, Array(Array(0L, 0L), Array(1000L, 0L)), "qv", tau = 0.9)
    assert(keptMixed.collect().map(_.getLong(0)).toSet == Set(2L))
    val cands = Seq((1L, 0, Seq(1000L, 0L)), (2L, 1, Seq(0L, 0L)),
      (3L, 1, Seq(900L, 100L))).toDF("vec_id", "label", "qv")
    val hn = Similarity.hardNegatives(cands,
        cands.filter($"vec_id" === 1L), "vec_id", "qv", "label", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(hn.toSeq == Seq((3L, 1), (2L, 2)), s"got ${hn.toSeq}")
  }

  test("C76 semanticDecontaminate is stateless: identical on a streamed frame") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Array(Array(1000L, 0L, 0L, 0L))
    val rnd = new scala.util.Random(41)
    val rows = (0 until 80).map(i =>
      (i.toLong, Seq.fill(4)((rnd.nextInt(2001) - 1000).toLong)))
    val batchKept = Similarity.semanticDecontaminate(
        rows.toDF("vec_id", "qv"), bench, "qv", tau = 0.6)
      .collect().map(_.getLong(0)).toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Long])]
    val name = s"c76_${System.nanoTime()}"
    val q = Similarity.semanticDecontaminate(
        mem.toDF().toDF("vec_id", "qv"), bench, "qv", tau = 0.6)
      .select("vec_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      rows.grouped(30).foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
      val streamKept = spark.table(name).collect().map(_.getLong(0)).toSet
      assert(streamKept == batchKept)
    } finally q.stop()
  }

  test("C5 cosinePairs finds planted identical vectors") {
    val dup = vecs.filter($"vec_id" === 0).select(($"vec_id" + 100).as("vec_id"), $"embedding")
    val out = Similarity.cosinePairs(vecs.union(dup), "vec_id", "embedding", threshold = 0.999)
    assert(out.collect().exists(r => r.getLong(0) == 0L && r.getLong(1) == 100L))
  }

  test("C8 multimodal feature extraction over binary columns") {
    val df = docs.select($"doc_id", encode($"text", "UTF-8").as("media"))
    val out = Multimodal.extractFeatures(df, "doc_id", "media", partitions = 2)
    val r = out.filter($"doc_id" === 1).first()
    val text = "the quick brown fox jumps over the lazy dog"
    assert(r.getAs[Long]("media_len") == text.length.toLong)
    assert(r.getAs[Int]("head_byte") == 't'.toInt)
    assert(r.getAs[Long]("byte_sum") == text.getBytes.map(_ & 0xff).sum.toLong)
  }

  test("C8 real image decode: generated PNG/BMP yield dims + luma, text yields NULLs") {
    // a 4x3 image: left half pure white, right half pure black →
    // luma mean = 255 * (2/4) = 127 (integer division truncates .5)
    def imageBytes(format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(4, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 3; x <- 0 until 4)
        img.setRGB(x, y, if (x < 2) 0xffffff else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
      bos.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes("png")),
      (2L, imageBytes("bmp")),
      (3L, "not an image at all, just text bytes".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "media")
    val out = Multimodal.extractFeatures(df, "doc_id", "media", partitions = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 2L)) {
      assert(out(id).getAs[Int]("img_width") == 4, s"id=$id")
      assert(out(id).getAs[Int]("img_height") == 3, s"id=$id")
      assert(out(id).getAs[Int]("img_luma_mean") == 127, s"id=$id")
    }
    assert(out(3L).isNullAt(out(3L).fieldIndex("img_width")))
    assert(out(3L).isNullAt(out(3L).fieldIndex("img_luma_mean")))
    // byte-level features still present for every payload (the q_c8 contract)
    assert(out(1L).getAs[Long]("media_len") == rows.head._2.length.toLong)
    assert(out(3L).getAs[Int]("head_byte") == 'n'.toInt)
  }

  test("C8 real WAV decode: duration/rate/channels/RMS; non-audio yields NULLs") {
    // 800 samples @8kHz mono 16-bit, alternating ±500 → 100 ms, RMS 500
    val rows = Seq(
      (1L, Multimodal.wavBytes(samples = 800, rate = 8000, amplitude = 500)),
      (2L, Multimodal.wavBytes(samples = 0, rate = 44100, amplitude = 0)),
      (3L, "definitely not a wav payload".getBytes("UTF-8")))
    val out = Multimodal.extractFeatures(rows.toDF("doc_id", "media"), "doc_id", "media",
      partitions = 2).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("audio_ms") == 100)
    assert(out(1L).getAs[Int]("audio_rate") == 8000)
    assert(out(1L).getAs[Int]("audio_channels") == 1)
    assert(out(1L).getAs[Int]("audio_rms") == 500)
    assert(out(2L).getAs[Int]("audio_ms") == 0)
    assert(out(2L).getAs[Int]("audio_rms") == 0)
    assert(out(3L).isNullAt(out(3L).fieldIndex("audio_ms")))
    assert(out(3L).isNullAt(out(3L).fieldIndex("audio_rms")))
    // image fields are NULL for audio payloads; byte features still real
    assert(out(1L).isNullAt(out(1L).fieldIndex("img_width")))
    assert(out(1L).getAs[Long]("media_len") == (44 + 800 * 2).toLong)
    assert(out(1L).getAs[Int]("head_byte") == 'R'.toInt)
  }

  test("C8 prefixed extraction chains two binary columns in one pass") {
    val df = Seq((1L, "text payload".getBytes("UTF-8"))).toDF("doc_id", "media")
    val both = Multimodal.extractFeatures(
      Multimodal.extractFeatures(Multimodal.withSyntheticWav(df, "doc_id"), "doc_id", "media"),
      "doc_id", "wav", prefix = "wav_")
    val r = both.first()
    assert(r.getAs[Long]("media_len") == 12L)
    assert(r.isNullAt(r.fieldIndex("audio_ms")))              // text: no audio
    assert(r.getAs[Int]("wav_audio_ms") == 100 + 1 % 80)      // wav col decoded
    assert(r.getAs[Int]("wav_audio_rms") == 100 + (1 % 50) * 10)
    assert(r.getAs[Long]("wav_media_len") == 44L + 16 * (100 + 1 % 80))
  }

  test("C8 image pixel cap: header-declared dims above the cap skip decode") {
    val img = new java.awt.image.BufferedImage(4, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val df = Seq((1L, bos.toByteArray)).toDF("doc_id", "media")
    // 12 pixels > cap of 10 → guarded out, NULL image fields
    val guarded = Multimodal.extractFeatures(df, "doc_id", "media", maxImagePixels = 10).first()
    assert(guarded.isNullAt(guarded.fieldIndex("img_width")))
    // default cap decodes it fine
    val open = Multimodal.extractFeatures(df, "doc_id", "media").first()
    assert(open.getAs[Int]("img_width") == 4 && open.getAs[Int]("img_height") == 3)
  }

  test("C8 real MJPEG-AVI demux: sampled frames are decodable JPEGs") {
    def jpeg(shade: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, shade * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    val srcFrames = Seq(0, 50, 100, 150, 200, 250).map(jpeg)
    val avi = Multimodal.aviBytes(srcFrames, width = 8, height = 6)
    // demuxer recovers the exact frame bytes in order
    val chunks = Multimodal.aviVideoChunks(avi).get
    assert(chunks.length == 6)
    assert(chunks.zip(srcFrames).forall { case ((off, len), f) =>
      java.util.Arrays.equals(java.util.Arrays.copyOfRange(avi, off, off + len), f)
    })
    val df = Seq((1L, avi)).toDF("doc_id", "media")
    val out = Multimodal.sampleFrames(df, "doc_id", "media", frames = 4)
      .orderBy("frame_idx").collect()
    assert(out.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
    // evenly spaced: source frames 0, 1, 3, 4 of the 6
    assert(out.zip(Seq(0, 1, 3, 4)).forall { case (r, srcIdx) =>
      java.util.Arrays.equals(r.getAs[Array[Byte]]("frame"), srcFrames(srcIdx))
    })
    // each sampled frame decodes as a real image downstream
    val frameFeats = Multimodal.extractFeatures(
      Multimodal.sampleFrames(df, "doc_id", "media", 4).select($"frame_idx", $"frame"),
      "frame_idx", "frame").collect()
    assert(frameFeats.forall(r => r.getAs[Int]("img_width") == 8 &&
      r.getAs[Int]("img_height") == 6))
    // a 3-frame video satisfies a 5-frame request with 3 real frames
    assert(Multimodal.sampleFrames(
      Seq((1L, Multimodal.aviBytes(srcFrames.take(3), 8, 6))).toDF("doc_id", "media"),
      "doc_id", "media", frames = 5).count() == 3)
    // truncated payload degrades, never throws: drop the last 40 bytes
    val cut = java.util.Arrays.copyOfRange(avi, 0, avi.length - 40)
    Multimodal.sampleFrames(Seq((1L, cut)).toDF("doc_id", "media"),
      "doc_id", "media", frames = 4).collect()
  }

  test("C8 resizeImage: exact area-average, PNG round trip, bomb guard, non-image NULL") {
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos)); bos.toByteArray
    }
    // 2x1 black|white → 1x1: per-channel floor(255/2) = 127 gray
    val bw = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    bw.setRGB(0, 0, 0x000000); bw.setRGB(1, 0, 0xffffff)
    // 4x4 quadrants (red, green / blue, white) → 2x2 keeps each exactly
    val quad = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4)
      quad.setRGB(x, y, (x < 2, y < 2) match {
        case (true, true) => 0xff0000; case (false, true) => 0x00ff00
        case (true, false) => 0x0000ff; case (false, false) => 0xffffff
      })
    val rows = Seq(
      (1L, png(bw)), (2L, png(quad)),
      (3L, "not an image".getBytes("UTF-8")))
    val out = Multimodal.resizeImage(rows.toDF("doc_id", "media"), "media",
      targetW = 1, targetH = 1).collect().map(r => r.getLong(0) -> r).toMap
    def pixels(b: Array[Byte]): Seq[Int] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield img.getRGB(x, y) & 0xffffff
    }
    assert(pixels(out(1L).getAs[Array[Byte]]("resized")) == Seq(0x7f7f7f))
    // whole-quad 1x1: each channel sums 4 full + 4 white quarters:
    // r = (4*255 + 4*255)/16 = 127 ... compute directly instead:
    val q1 = pixels(out(2L).getAs[Array[Byte]]("resized")).head
    assert(q1 == (((255 * 8 / 16) << 16) | ((255 * 8 / 16) << 8) | (255 * 8 / 16)))
    assert(out(3L).isNullAt(out(3L).fieldIndex("resized")))
    // 2x2 target keeps the quadrant colours exactly (boxes align)
    val out2 = Multimodal.resizeImage(Seq((2L, png(quad))).toDF("doc_id", "media"),
      "media", targetW = 2, targetH = 2).first().getAs[Array[Byte]]("resized")
    assert(pixels(out2) == Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff))
    // upscale 1x1 red → 3x2 stays solid red
    val red = new java.awt.image.BufferedImage(1, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    red.setRGB(0, 0, 0xff0000)
    val up = Multimodal.resizeImage(Seq((4L, png(red))).toDF("doc_id", "media"),
      "media", targetW = 3, targetH = 2).first().getAs[Array[Byte]]("resized")
    assert(pixels(up) == Seq.fill(6)(0xff0000))
    // bomb guard ON THE RESIZE PATH: dims above the cap → NULL, no decode
    val guarded = Multimodal.resizeImage(Seq((5L, png(quad))).toDF("doc_id", "media"),
      "media", targetW = 2, targetH = 2, maxImagePixels = 10)
      .first()
    assert(guarded.isNullAt(guarded.fieldIndex("resized")))
    // withSyntheticPng closed form: dims and solid colour as documented
    val sp = Multimodal.withSyntheticPng(Seq(Tuple1(7L)).toDF("doc_id"), "doc_id")
      .first().getAs[Array[Byte]]("img")
    val spImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(sp))
    assert(spImg.getWidth == (4 + 7 % 5) && spImg.getHeight == (3 + 7 % 4))
    assert((spImg.getRGB(0, 0) & 0xffffff) ==
      ((7 % 251) << 16 | ((7 * 7) % 251) << 8 | (7 * 13) % 251))
  }

  test("C8 resize bounds payloads to targetBytes; frame sampling covers the payload") {
    val df = docs.select($"doc_id", encode($"text", "UTF-8").as("media"))
    val resized = Multimodal.resize(df, "media", targetBytes = 16)
    resized.collect().foreach { r =>
      val out = r.getAs[Array[Byte]]("resized")
      assert(out.length <= 16)
    }
    // deterministic: same input → same resized bytes
    val a = resized.filter($"doc_id" === 1).first().getAs[Array[Byte]]("resized")
    val b = Multimodal.resize(df, "media", 16).filter($"doc_id" === 1)
      .first().getAs[Array[Byte]]("resized")
    assert(java.util.Arrays.equals(a, b))

    val frames = Multimodal.sampleFrames(df, "doc_id", "media", frames = 4)
    assert(frames.count() == docs.count() * 4)
    val f1 = frames.filter($"doc_id" === 1).orderBy("frame_idx").collect()
    assert(f1.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
    // spans tile the payload exactly
    val total = f1.map(_.getAs[Array[Byte]]("frame").length).sum
    assert(total == "the quick brown fox jumps over the lazy dog".getBytes.length)
  }

  test("text functions: tokens, langId, quality, fingerprints") {
    val df = Seq(
      ("the cat and the dog", "en-ish"),
      ("der hund und die katze", "de-ish")
    ).toDF("text", "tag")
    val out = df.select(
      TF.tokenCount($"text").as("n"),
      TF.langId($"text").as("lang"),
      TF.punctCount($"text").as("punct"),
      TF.stopwordCount($"text").as("stops"),
      TF.fingerprintMd5($"text").as("fp")).collect()
    assert(out(0).getAs[Int]("n") == 5)
    assert(out(0).getAs[String]("lang") == "en")
    assert(out(1).getAs[String]("lang") == "de")
    assert(out(0).getAs[Int]("stops") == 3) // the, and, the
    assert(out(0).getAs[String]("fp").length == 32)
  }

  test("dropNearDuplicates: one-call dedup keeps first of each near-dup cluster") {
    val out = Dedup.dropNearDuplicates(docs, "doc_id", "text", threshold = 0.8,
      numHashes = 64, bands = 16)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.contains(1L) && !ids.contains(4L)) // exact dup of 1 dropped
    assert(ids.contains(3L) && ids.contains(5L))  // unrelated docs kept
  }

  test("CorpusPipeline: annotate → gate → dedup → split composes end to end") {
    val corpus = docs.union(
      Seq((6L, "x"), (7L, "!!! ??? ... ;;; ,,,  a b c d e f")).toDF("doc_id", "text"))
    val out = CorpusPipeline.run(corpus, nearDupThreshold = 0.9)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(6L)) // too short: fails min-token gate
    assert(!ids.contains(7L)) // punctuation soup: fails punct-ratio gate
    assert(!ids.contains(4L)) // exact dup of doc 1 removed
    assert(ids.contains(1L) && ids.contains(3L) && ids.contains(5L))
    assert(out.columns.contains("split") && out.columns.contains("lang_pred"))
    assert(out.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
  }

  test("CorpusPipeline: blocklist and benchmark decontamination stages drop matches") {
    import graft.functions.{BloomFunctions => BF}
    // blocklist built from doc 3's fingerprint drops doc 3
    val blk = BF.build(
      docs.filter($"doc_id" === 3).select(xxhash64(TF.fingerprintMd5($"text")).as("h")),
      col("h"), 100L, 4000L)
    // benchmark shares doc 5's text → doc 5 contaminated
    val bench = Seq((100L, "unrelated text with words nobody else uses")).toDF("doc_id", "text")
    val out = CorpusPipeline.run(docs, nearDupThreshold = 0.9,
      blocklist = Some(blk), benchmark = Some(bench))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L) && !ids.contains(5L))
    assert(ids.contains(1L))
  }

  test("shingles: sliding word windows") {
    val out = Seq(Tuple1("a b c d")).toDF("text")
      .select(TF.shingles($"text", 3).as("sh")).first().getSeq[String](0)
    assert(out == Seq("a b c", "b c d"))
  }

  test("C91 containmentPairs: planted excerpt hits 10^6 containment") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")    // 36 distinct 5-shingles
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ") // prefix: 6 shingles, all in long
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val tiny = "a b c"                                     // < 5 tokens: gated out
    val dd = Seq((1L, long), (2L, excerpt), (3L, other), (4L, tiny))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(dd).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getLong(2) == 6L && r.getLong(3) == 36L && r.getLong(4) == 6L)
    assert(r.getLong(5) == 6L * 1000000L / 36L, "containment is asymmetric")
    assert(r.getLong(6) == 1000000L, "excerpt fully contained")
  }

  test("C91 containmentPairs: df-capped boilerplate shingles only lower intersections") {
    // one boilerplate 5-gram shared by three docs; dfCap=2 drops it
    val boiler = "the same footer appears here"
    val dd = Seq(
      (1L, s"alpha beta gamma delta epsilon $boiler"),
      (2L, s"$boiler zeta eta theta iota kappa"),
      (3L, s"$boiler lambda mu nu xi omicron")).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(dd, dfCap = 2, minContainPpm = 1L).collect()
    // the only shared shingles are boiler-spanning; with the pure
    // boiler 5-gram dropped, cross-doc windows (unique per doc pair
    // boundary) still overlap only where text genuinely runs through
    // the boilerplate — intersections can only shrink vs uncapped
    val uncapped = Dedup.containmentPairs(dd, dfCap = 50, minContainPpm = 1L).collect()
    val cMap = capped.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    uncapped.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(cMap.getOrElse(k, 0L) <= r.getLong(2), s"cap must not raise inter for $k")
    }
    assert(uncapped.nonEmpty)
  }

  test("C91 containmentPairs equal a Scala reference: pairs, inter, sizes and ppm") {
    val n = 5
    val rng = new scala.util.Random(91)
    val vocab = Seq("ka", "lo", "mi", "nu", "pe", "ro")
    def words(k: Int): String = Seq.fill(k)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    def prefix(t: String, k: Int): String = t.split(" ").take(k).mkString(" ")
    val footer = (1 to 12).map(i => s"foot$i").mkString(" ")
    val banner = (1 to 9).map(i => s"banner$i").mkString(" ")
    val base = (0 until 70).map(i => i.toLong -> words(6 + rng.nextInt(14)))
    val corpus =
      // a footer in 60 docs: its shingles exceed both dfCaps
      base.take(60).map { case (id, t) => id -> s"$t $footer" } ++ base.drop(60) ++
      // a banner in 20 docs: kept at dfCap 50, dropped at dfCap 2
      (100 until 120).map(i => i.toLong -> s"$banner ${words(4)}") ++
      // excerpts: a doc's 8-token prefix (every shingle shared by 2)
      (0 until 10).map(i => (200L + i) -> prefix(base(i)._2, 8)) ++
      // fewer than n tokens: gated out
      Seq(300L -> "ka lo mi", 301L -> "") :+
      // a second row for excerpt 200, overlapping its first row and doc
      // 0: rows sharing an id are one document, never paired with itself
      (200L -> s"${prefix(base(0)._2, 10)} tail1 tail2")
    val sets = corpus.groupBy(_._1).map { case (id, rows) =>
      id -> rows.flatMap { case (_, t) =>
        val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
        if (toks.size < n) Nil else toks.sliding(n).map(_.mkString(" "))
      }.toSet
    }.filter(_._2.nonEmpty)
    val df = sets.flatMap(_._2).groupBy(identity).map { case (g, v) => g -> v.size }
    def reference(dfCap: Int, minPpm: Long): Set[(Long, Long, Long, Long, Long, Long, Long)] =
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).count(g => df(g) <= dfCap).toLong if inter > 0
        ca = inter * 1000000L / sa.size; cb = inter * 1000000L / sb.size
        if math.max(ca, cb) >= minPpm
      } yield (a, b, inter, sa.size.toLong, sb.size.toLong, ca, cb)).toSet
    assert(df.values.exists(_ > 50) && df.values.exists(d => d > 2 && d <= 50) &&
      df.values.exists(_ == 2), "corpus must hit both sides of dfCaps 2 and 50")
    val dd = corpus.toDF("doc_id", "text")
    for ((dfCap, minPpm) <- Seq((2, 1L), (50, 1L), (2, 500000L), (50, 500000L))) {
      val got = Dedup.containmentPairs(dd, dfCap = dfCap, minContainPpm = minPpm)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      assert(got.length == got.distinct.length, s"dfCap $dfCap: duplicate pairs")
      val want = reference(dfCap, minPpm)
      assert(want.nonEmpty)
      assert(got.toSet == want,
        s"dfCap $dfCap, minPpm $minPpm: missing=${want -- got} extra=${got.toSet -- want}")
    }
  }

  test("C95 lshRecallAudit: per-decile recall equals an independent md5 replay; exact dups always caught") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h52(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(13), 16)
    def sh3(s: String): Set[Long] = {
      val t = s.trim.split("\\s+").toSeq
      (if (t.length < 3) Seq(t.mkString(" "))
       else t.sliding(3).map(_.mkString(" ")).toSeq).map(h52).toSet
    }
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),   // exact dup of 1 → J=1, decile 10
      (3L, "a b c d e f g h i j k"), // appended token → J=8/9, decile 8
      (4L, "a b c d e"),             // excerpt → J=3/8, decile 3
      (5L, "totally different words nobody shares at all"),
      // two rows of one id are one document: its set is the union, its
      // signature the slot-wise min of both rows' signatures
      (6L, "a b c d e f g h i j k"),
      (6L, "different words nobody shares at all"))
    val sigs = 16; val bands = 8
    val out = Dedup.lshRecallAudit(corpus.toDF("doc_id", "text"),
        sigs = sigs, bands = bands, dfCap = 50, minJaccardPpm = 100000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

    // independent replay: exact Jaccard pairs + the md5 sig chain
    val hsets = corpus.groupBy(_._1).map { case (id, rows) => id -> rows.flatMap(r => sh3(r._2)).toSet }
    def sig(id: Long): Seq[Long] =
      (0 until sigs).map(j => hsets(id).map(h => h52(s"${h}_$j")).min)
    val ids = corpus.map(_._1).distinct
    val truePairs = for {
      a <- ids; b <- ids if a < b
      inter = (hsets(a) & hsets(b)).size.toLong if inter > 0
      jppm = inter * 1000000L / (hsets(a).size + hsets(b).size - inter)
      if jppm >= 100000L
    } yield {
      val (sa, sb) = (sig(a), sig(b))
      val caught = (0 until bands).exists(bd =>
        sa(2 * bd) == sb(2 * bd) && sa(2 * bd + 1) == sb(2 * bd + 1))
      (jppm / 100000L, if (caught) 1L else 0L)
    }
    val expected = truePairs.groupBy(_._1).map { case (d, ps) =>
      d -> ((ps.size.toLong, ps.map(_._2).sum,
        ps.map(_._2).sum * 1000000L / ps.size))
    }
    assert(out == expected, s"audit table: got $out want $expected")
    assert(out.contains(10L) && out(10L)._3 == 1000000L,
      "identical docs have identical signatures — decile 10 recall is always 1e6")
    intercept[IllegalArgumentException](
      Dedup.lshRecallAudit(corpus.toDF("doc_id", "text"), sigs = 10, bands = 4))
    // the samplePpm audit equals the audit on the equivalently
    // pre-filtered corpus (the C17 reprocessing-stable device)
    val p = 600000L
    val manual = corpus.toDF("doc_id", "text").filter(
      graft.functions.TextFunctions.md5Bucket(
        col("doc_id").cast("string"), 1000000) < p)
    val sampled = Dedup.lshRecallAudit(corpus.toDF("doc_id", "text"),
        samplePpm = p).collect().map(_.toSeq).toSet
    val prefiltered = Dedup.lshRecallAudit(manual).collect().map(_.toSeq).toSet
    assert(sampled == prefiltered, "samplePpm ≡ pre-filtered corpus")
    intercept[IllegalArgumentException](
      Dedup.lshRecallAudit(corpus.toDF("doc_id", "text"), samplePpm = 0L))
  }

  test("C93 attritionFunnel: each plant drops at its rung, verified by an independent md5 replay") {
    val funnelDocs = Seq(
      (1L, "A", "alpha beta gamma delta epsilon zeta"),
      (2L, "A", "alpha beta gamma delta epsilon zeta"),   // exact dup of 1
      (3L, "A", "  ALPHA beta GAMMA delta epsilon zeta!!"), // normalized dup of 1
      (4L, "A", "alpha beta gamma delta epsilon zeta eta"), // near dup of 1
      (5L, "B", "totally different words nobody shares here"))
    val out = Dedup.attritionFunnel(
        funnelDocs.toDF("doc_id", "source", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap

    // independent plain-Scala replay of the whole ladder
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h52(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(13), 16)
    def norm(s: String): String =
      s.toLowerCase.replaceAll("[^\\p{L}\\p{N}\\s]", "")
        .replaceAll("\\s+", " ").trim
    def shingles(s: String): Seq[String] = {
      val t = s.trim.split("\\s+").toSeq
      if (t.length < 3) Seq(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSeq
    }
    val byId = funnelDocs.map { case (id, src, txt) => id -> (src, txt) }.toMap
    val ids = funnelDocs.map(_._1)
    def minBy[K](keyOf: Long => K, among: Set[Long]): Map[K, Long] =
      among.groupBy(keyOf).view.mapValues(_.min).toMap
    val own1 = minBy(id => byId(id)._2, ids.toSet)
    val keep1 = ids.filter(id => own1(byId(id)._2) == id).toSet
    val own2 = minBy(id => norm(byId(id)._2), keep1)
    val keep2 = keep1.filter(id => own2(norm(byId(id)._2)) == id)
    def sig(id: Long): Seq[Long] = {
      val hs = shingles(byId(id)._2).map(h52).distinct
      (0 until 8).map(j => hs.map(h => h52(s"${h}_$j")).min)
    }
    val bandKeys: Map[Long, Seq[(Int, Long, Long)]] = keep2.toSeq.map { id =>
      val s = sig(id)
      id -> (0 until 4).map(b => (b, s(2 * b), s(2 * b + 1)))
    }.toMap
    val owners = bandKeys.toSeq.flatMap { case (id, bks) => bks.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val keep3 = keep2.filter(id => bandKeys(id).map(owners).min == id)

    assert(keep1 == Set(1L, 3L, 4L, 5L), "exact rung drops only the exact copy")
    assert(keep2 == Set(1L, 4L, 5L), "normalized rung drops the case/punct variant")
    assert(keep3.contains(1L) && keep3.contains(5L), "min-id and unrelated docs survive")
    // the expected funnel rows, from the replay
    def expect(rung: Long, name: String, keep: Set[Long]): Unit =
      Seq("A", "B").foreach { src =>
        val members = ids.filter(id => byId(id)._1 == src && keep(id))
        val toks = members.map(id => byId(id)._2.trim.split("\\s+").length.toLong).sum
        assert(out((rung, name, src)) == ((members.size.toLong, toks)),
          s"rung $name src $src")
      }
    expect(0L, "raw", ids.toSet)
    expect(1L, "exact", keep1)
    expect(2L, "normalized", keep2)
    expect(3L, "minhash", keep3)
  }

  test("C93 attritionFunnel: plan is window-free (family owners ride aggregates, r15 hardening)") {
    // a window partition = one duplicate family: no map-side combine,
    // no AQE skew split, so a 100k-copy boilerplate family funneled
    // its rows through one sort task
    import spark.implicits._
    val df = Seq((1L, "A", "a b c"), (2L, "A", "a b c")).toDF("doc_id", "source", "text")
    val plan = Dedup.attritionFunnel(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"attritionFunnel must not window:\n$plan")
  }

  test("C93 attritionFunnel: null/empty-text docs stay in the raw rung (r12 verdict #2)") {
    // ids 10/11: null texts (no shingles — never reach the minhash
    // path); id 12: empty text; ids 1/2: an exact-dup pair that keeps
    // the ladder honest. The old INNER join on the signature table
    // silently dropped 10/11/12 from EVERY rung including "raw".
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "A", "alpha beta gamma delta"),
        org.apache.spark.sql.Row(2L, "A", "alpha beta gamma delta"),
        org.apache.spark.sql.Row(10L, "A", null),
        org.apache.spark.sql.Row(11L, "A", null),
        org.apache.spark.sql.Row(12L, "B", "")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val out = Dedup.attritionFunnel(df).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getLong(3)).toMap
    // raw counts EVERY input doc
    assert(out((0L, "A")) == 4L && out((0L, "B")) == 1L, s"raw rung: $out")
    // exact: the dup pair collapses to 1; both null texts share
    // md5(NULL)=NULL so they collapse too — A keeps {1, min-null-id}
    assert(out((1L, "A")) == 2L && out((1L, "B")) == 1L, s"exact rung: $out")
    // normalized/minhash: no further drops; shingle-less docs inherit
    // their normalized fate instead of vanishing
    assert(out((2L, "A")) == 2L && out((3L, "A")) == 2L, s"later rungs: $out")
    assert(out((2L, "B")) == 1L && out((3L, "B")) == 1L, s"later rungs B: $out")
    // raw > exact proves the null docs were counted then deduped
    assert(out((0L, "A")) > out((1L, "A")))
  }
}
