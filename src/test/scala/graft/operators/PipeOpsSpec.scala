package graft.operators

import graft.SparkSpec
import graft.functions.{BloomFunctions => BF, TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.functions._

/** Round-3 pipeline operator specs: PII redaction, hash splits,
 * sentence segmentation, arithmetic-LSH ANN, bloom membership. */
class PipeOpsSpec extends SparkSpec {

  import spark.implicits._

  test("C13 redactPii replaces emails, IPs and phones with placeholders") {
    val out = Seq("mail bob.smith+x@corp.example.org from 192.168.0.1 tel 555-123-4567 ok")
      .toDF("t").select(TF.redactPii($"t")).first().getString(0)
    assert(out == "mail <EMAIL> from <IP> tel <PHONE> ok")
  }

  test("C13 PII counts are per-class and don't double-count email digits") {
    val df = Seq("a@b.co and c@d.org at 10.0.0.1").toDF("t")
    val r = df.select(
      TF.emailCount($"t"), TF.ipv4Count($"t"), TF.phoneCount($"t")).first()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((2, 1, 0)))
  }

  test("C11 bpeTokenCount segments contractions, words, digits, punctuation") {
    val n = Seq("I'm sure: it's 42 tokens, right?  yes").toDF("t")
      .select(TF.bpeTokenCount($"t")).first().getInt(0)
    // I|'m| sure|:| it|'s| 42| tokens|,| right|?|␣|␣yes → 13
    assert(n == 13)
  }

  test("C14 md5Bucket is deterministic, in range, and split fractions are sane") {
    val df = (0 until 2000).map(i => s"document number $i").toDF("t")
    val buckets = df.select(TF.md5Bucket($"t", 100).as("b"))
    assert(buckets.filter($"b" < 0 || $"b" >= 100).count() == 0)
    val splits = df.select(TF.hashSplit($"t").as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits("train") > 1600 && splits("test") < 200) // ~90/5/5
    // determinism: same input → same assignment
    val again = df.select(TF.hashSplit($"t").as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits == again)
  }

  test("C15 sentences splits on periods and drops empties") {
    val out = Seq("one fish. two fish.  red fish. ").toDF("t")
      .select(TF.sentences($"t").as("s")).first().getSeq[String](0)
    assert(out == Seq("one fish", "two fish", "red fish."))
  }

  test("C7 arithmetic LSH bucket equals the reference LCG computation") {
    val v = Array(3L, -1L, 4L, -1L, 5L)
    def weight(p: Int, d1: Int): Long = {
      val w = (1103515245L * (p * 1000003L + d1) + 12345L) % 2147483647L
      if (w % 2 == 0) 1L else -1L
    }
    val expected = (0 until 4).map { p =>
      val s = v.zipWithIndex.map { case (x, d) => weight(p, d + 1) * x }.sum
      if (s >= 0) 1 << p else 0
    }.sum
    val got = Seq(Tuple1(v)).toDF("v")
      .select(VF.arithLshBucket($"v", 4, v.length).as("b")).first().getInt(0)
    assert(got == expected)
  }

  test("C7 lshTopKArith reranks bucket-mates by exact cosine") {
    val vecs = Seq(
      (0L, Array(10L, 10L, 0L, 0L)),
      (1L, Array(9L, 11L, 0L, 0L)),   // closest to 0
      (2L, Array(10L, 9L, 1L, 0L)),
      (3L, Array(-10L, -10L, 0L, 0L)) // opposite hemisphere
    ).toDF("vec_id", "qv")
    val out = Similarity.lshTopKArith(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "qv", k = 2, bits = 2, dim = 4).collect()
    assert(out.forall(_.getLong(0) == 0L))
    assert(out.map(_.getLong(1)).toSet.subsetOf(Set(1L, 2L, 3L)))
    // ranks are contiguous from 1 and cosines non-increasing
    val ranked = out.sortBy(_.getInt(3))
    assert(ranked.map(_.getInt(3)).toSeq == (1 to ranked.length).toSeq)
    assert(ranked.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("MinHashSig expression matches the SQL min(xxhash64(shingle,i)) formulation bit-for-bit") {
    import graft.functions.MinHashSig
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "tiny"), // fewer tokens than shingle size → whole-text shingle
      (3L, "a b c d e f g h i j k l m n o p")
    ).toDF("doc_id", "text")
    val n = 16
    val sqlSig = d
      .select($"doc_id", explode(TF.shingles($"text", 3)).as("sh"))
      .groupBy("doc_id")
      .agg(array((0 until n).map(i => min(xxhash64($"sh", lit(i)))): _*).as("sig"))
    val exprSig = d.select($"doc_id", MinHashSig(TF.tokens($"text"), 3, n).as("sig"))
    val joined = sqlSig.alias("a").join(exprSig.alias("b"), "doc_id")
      .select($"a.sig".as("sa"), $"b.sig".as("sb")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("WordShingles expression matches the HOF transform/slice/concat_ws formulation") {
    import graft.functions.WordShingles
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "tiny"),                 // fewer tokens than n → whole-text shingle
      (3L, ""),                     // empty text → single empty shingle
      (4L, "  padded   with \t mixed   whitespace  "),
      (5L, "a b c"),                // exactly n tokens → one shingle
      (6L, "\tlead tab first"),     // leading tab → leading "" token; the
                                    // empty token keeps its joining space
      (7L, "x\ny tail\t")           // newline separator + trailing tab token
    ).toDF("doc_id", "text")
    val n = 3
    val t = TF.tokens($"text")
    val hof = when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n), i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
    val both = d.select(hof.as("a"), TF.shingles($"text", n).as("b")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // and stopwordCount regex form equals the token-equality form
    val sw = d.select(
      TF.stopwordCount($"text").as("re"),
      size(filter(TF.tokens(lower($"text")),
        tk => tk.isin("the", "a", "and", "is", "of", "to", "in"))).as("tok")).collect()
    sw.foreach(r => assert(r.getInt(0) == r.getInt(1), s"stopword mismatch: $r"))
    // adjacent stopwords must not fight over a shared delimiter space
    val adj = Seq((1L, "a and is of to in the"), (2L, "the the the")).toDF("doc_id", "text")
      .select(TF.stopwordCount($"text").as("c")).collect().map(_.getInt(0)).toSeq
    assert(adj == Seq(7, 3))
  }

  test("C22 dupGramStats: hashed gram keys produce the same stats as exact strings") {
    val docs = Seq(
      ("s0", "a b c d e f g h i j"),
      ("s1", "a b c d e f g h i j"),          // full duplicate of s0's doc
      ("s1", "z y x w v u t s r q"),
      ("s2", "one two three four five six seven eight nine ten")
    )
    // brute force over the gram strings: instances, instances minus the
    // source's corpus-unique grams, distinct grams
    val grams = docs.map { case (src, t) => src -> t.split(" ").toSeq.sliding(8)
      .map(_.mkString(" ")).toSeq }
    val corpusCount = grams.flatMap(_._2).groupBy(identity).map { case (g, v) => g -> v.size }
    val expected = grams.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val gs = ds.flatMap(_._2)
      (src, gs.size.toLong, gs.count(corpusCount(_) > 1).toLong, gs.distinct.size.toLong)
    }
    val got = CorpusPipeline.dupGramStats(docs.toDF("source", "text"), n = 8)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the duplicated doc's grams count as dup mass in both sources
    assert(got.map(r => r._1 -> r._3).toMap == Map("s0" -> 3L, "s1" -> 3L, "s2" -> 0L))
  }

  test("C22 dupGramStats: >62 sources routes to the general fallback with identical output") {
    // 70 sources force the non-bitmask path; sources 0 and 1 share a
    // duplicated doc, everything else is unique
    val rows = (0 until 70).map(i => (s"src$i", s"w$i x$i y$i z$i a$i b$i c$i d$i e$i")) ++
      Seq(("src0", "dup dup2 dup3 dup4 dup5 dup6 dup7 dup8"),
          ("src1", "dup dup2 dup3 dup4 dup5 dup6 dup7 dup8"))
    val docs = rows.toDF("source", "text")
    try {
      val out = CorpusPipeline.dupGramStats(docs, n = 8)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(out.size == 70)
      // src0: unique doc has 2 grams (9 tokens, n=8), dup doc has 1 gram
      assert(out("src0") == ((3L, 1L, 3L)), out("src0").toString)
      assert(out("src1") == ((3L, 1L, 3L)))
      assert(out("src5") == ((2L, 0L, 2L)))
      // the bitmask path on the SAME ≤62-source subset agrees with the
      // fallback's numbers (cross-implementation consistency)
      val small = rows.filter { case (s, _) => s.stripPrefix("src").toInt < 10 }
      val a = CorpusPipeline.dupGramStats(small.toDF("source", "text"), n = 8)
        .orderBy("source").collect().map(_.toSeq).toSeq
      assert(a.find(_.head == "src0").get == Seq("src0", 3L, 1L, 3L))
    } finally spark.catalog.clearCache() // the fallback persists its count table
  }

  test("C26 connectedComponents closes chains, triangles, and isolated pairs") {
    // chain 1-2-3-4-5 (diameter 4, needs >1 propagation round),
    // triangle 10-11-12, isolated pair 20-21
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L), comp.toString)
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 10)
  }

  test("C35 lmSurprisal: integer-exact mean inverse-frequency per doc") {
    // tokens: a×2, b×2, c×1; total 5 → surprisal a=2, b=2, c=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val m = CorpusPipeline.lmSurprisal(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(1L) == ((3L, 6L, 2L)), m.toString)   // 2+2+2=6, 6 div 3 = 2
    assert(m(2L) == ((2L, 7L, 3L)))               // 2+5=7, 7 div 2 = 3
  }

  test("C35 lmSurprisal: hashed token keys give the same scores as strings") {
    val rows = (1L to 80L).map(i =>
      (i, s"word$i the of ${"common " * (i % 5).toInt}tail${i % 7}"))
    // brute force over the token strings: total div count(w) per token
    val toks = rows.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val c = toks.flatMap(_._2).groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val tot = c.values.sum
    val expected = toks.map { case (id, ts) =>
      val s = ts.map(tot / c(_)).sum
      (id, ts.size.toLong, s, s / ts.size)
    }
    val got = CorpusPipeline.lmSurprisal(rows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("C36 bm25TopK matches a brute-force integer BM25 and ranks tf/dl correctly") {
    val corpus = Seq(
      (1L, "vector stream merge"),             // all three terms, short doc
      (2L, "vector vector vector pad pad pad pad pad"), // high tf, long doc
      (3L, "merge only here with some extra padding words"),
      (4L, "nothing relevant at all"),
      (5L, "stream stream merge vector"))
    val got = CorpusPipeline.bm25TopK(corpus.toDF("doc_id", "text"),
        Seq("vector", "stream", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force the same milli-scaled integer formula
    val toks = corpus.map { case (id, t) => id -> t.toLowerCase.trim.split("\\s+").toSeq }
    val n = toks.size.toLong
    val adlM = toks.map(_._2.size.toLong).sum * 1000L / n
    val q = Seq("vector", "stream", "merge")
    val df = q.map(w => w -> toks.count(_._2.contains(w)).toLong).toMap
    val want = toks.flatMap { case (id, ws) =>
      val dl = ws.size.toLong
      val contribs = q.flatMap { w =>
        val tf = ws.count(_ == w).toLong
        if (tf == 0) None
        else Some((n * 1000L / df(w)) *
          (tf * 2200L * 1000L /
            (tf * 1000L + 1200L * (250L + 750L * dl * 1000L / adlM) / 1000L)))
      }
      if (contribs.isEmpty) None else Some((id, contribs.sum, contribs.size.toLong))
    }.sortBy(t => (-t._2, t._1))
    assert(got.toSeq == want, s"got=${got.toSeq} want=$want")
    assert(!got.exists(_._1 == 4L)) // no query term -> not returned
  }

  test("C26 connectedComponentsStar matches min-propagation on a mixed graph") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (30L, 30L)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.view.filterKeys(_ != 30L).toMap ==
      prop.view.filterKeys(_ != 30L).toMap, star.toString)
    // self-loop-only node keeps itself as its component
    assert(star(30L) == 30L)
  }

  test("C26 star contraction closes a deep chain in logarithmic rounds") {
    // path 1-2-...-128: diameter 127 — min-propagation needs ~127
    // rounds, the star rounds must close it in O(log n)
    val n = 128L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.starComponentsWithRounds(chain)
    val comp = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == n && comp.values.forall(_ == 1L), s"rounds=$rounds")
    assert(rounds <= 10, s"expected O(log n) rounds, took $rounds")
  }

  test("clusterNearDuplicates labels the near-dup family, omits singletons") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different content about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "unrelated text with words nobody else uses")
    ).toDF("doc_id", "text")
    // 2-row bands: the 0.75-shingle-Jaccard near-dup pair must collide
    // (miss odds (1-0.5625)^32 ≈ 3e-12, and the hash seeds are fixed)
    val fam = Dedup.clusterNearDuplicates(docs, "doc_id", "text", threshold = 0.7,
        numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // {1,2,4}: word-set Jaccard(1,2)=7/9≈0.78, (1,4)=1.0 → one family of 3
    assert(fam.toSet == Set((1L, 1L, 3L), (2L, 1L, 3L), (4L, 1L, 3L)), fam.mkString(","))
  }

  test("C24 packShards balances token mass and is deterministic") {
    val docs = (1 to 200).map(i => (i.toLong, ("w " * (i % 37 + 3)).trim)).toDF("doc_id", "text")
    val a = CorpusPipeline.packShards(docs, 4)
      .groupBy("shard").agg(sum($"n_tok").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.keySet == Set(0L, 1L, 2L, 3L))
    // size-rank round-robin: shard token totals within a few percent
    assert(a.values.max - a.values.min <= a.values.max / 10)
    val b = CorpusPipeline.packShards(docs, 4)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val c = CorpusPipeline.packShards(docs, 4)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b == c)
    // Scala reference: rank by (tokens desc, id), deal round-robin
    val ref = (1 to 200).map(i => (i.toLong, i % 37 + 3))
      .sortBy { case (id, n) => (-n, id) }
      .zipWithIndex.map { case ((id, _), r) => id -> (r % 4).toLong }.toMap
    assert(b == ref)
  }

  test("C28 shuffleOrder is a balanced permutation, stable across partitionings") {
    val docs = (1 to 200).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val out = CorpusPipeline.shuffleOrder(docs, 8)
      .select("doc_id", "pos", "shard").collect()
    // positions are exactly 0..N-1 and shards round-robin from them
    assert(out.map(_.getLong(1)).sorted.toSeq == (0L until 200L))
    assert(out.forall(r => r.getLong(2) == r.getLong(1) % 8))
    // seed change permutes; same seed under a different partitioning doesn't
    val again = CorpusPipeline.shuffleOrder(docs.repartition(7), 8)
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == again)
    val reseeded = CorpusPipeline.shuffleOrder(docs, 8, seed = "other")
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reseeded != again)
  }

  test("SimHash64 expression matches the higher-order-function simhash bit-for-bit") {
    import graft.functions.SimHash64
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val both = d.select(
      Dedup.simhash($"text").as("hof"),
      SimHash64(TF.tokens($"text")).as("expr")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("C19 sampleBySource applies per-source rates deterministically") {
    val docs = (0 until 4000).map(i => (i.toLong, s"s${i % 4}", s"body of document $i"))
      .toDF("doc_id", "source", "text")
    val out = CorpusPipeline.sampleBySource(docs,
      Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0), defaultRate = 0.25)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("s0") == 1000L)          // rate 1.0 keeps everything
    assert(!kept.contains("s2"))         // rate 0.0 keeps nothing
    assert(kept("s1") > 350 && kept("s1") < 650)   // ~50%
    assert(kept("s3") > 150 && kept("s3") < 350)   // default ~25%
    // deterministic across evaluations
    val again = CorpusPipeline.sampleBySource(docs,
      Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0), defaultRate = 0.25)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == again)
  }

  test("C18 bloom membership has no false negatives") {
    val d = (0 until 500).map(i => (i.toLong, s"doc body $i")).toDF("id", "t")
      .select($"id", xxhash64($"t").as("h"))
    val members = d.filter($"id" % 5 === 0)
    val bloom = BF.build(members, $"h", 1000L, 20000L)
    val recovered = d.filter($"id" % 5 === 0)
      .filter(BF.mightContain(bloom, $"h")).count()
    assert(recovered == members.count()) // never a false negative
  }

  test("C77 curriculumOrder matches a driver-side replay of the full schedule") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(53)
    val vocab = Vector("the", "a", "rare1", "rare2", "mid", "of", "odd3", "uniq4")
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val got = CorpusPipeline.curriculumOrder(rows.toDF("doc_id", "text"),
        "doc_id", "text", phases = 3, seed = "curr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // replay: rarity = (Σ tot div c) div ntok, rank cut, md5 order
    val toks = rows.map { case (id, t) => (id, t.split("\\s+").toSeq) }
    val cnt = toks.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val tot = toks.map(_._2.size.toLong).sum
    val rarity = toks.map { case (id, ts) =>
      id -> ts.map(w => tot / cnt(w)).sum / ts.size }.toMap
    val ranked = rows.map(_._1).sortBy(id => (rarity(id), id)).zipWithIndex
    val phase = ranked.map { case (id, r) => id -> r.toLong * 3 / rows.size }.toMap
    val ordered = rows.map(_._1)
      .sortBy(id => (phase(id), md5Hex("curr" + id), id)).zipWithIndex
    val want = ordered.groupBy { case (id, _) => phase(id) }.toSeq.sortBy(_._1)
      .map { case (p, members) =>
        val ids = members.map(_._1)
        (p, ids.size.toLong,
          ids.map(rarity).min, ids.map(rarity).max,
          members.minBy(_._2)._1,
          members.map { case (id, pos) => pos.toLong * (id % 97) }.sum)
      }
    assert(got.toSeq == want)
  }

  test("C78 packingEfficiency: hand-computed pad waste for both policies") {
    val docs = Seq(
      (1L, (1 to 5).map(i => s"w$i").mkString(" ")),    // 5 + eos = 6
      (2L, (1 to 128).map(i => s"x$i").mkString(" ")),  // 129
      (3L, (1 to 130).map(i => s"y$i").mkString(" ")))  // 131
      .toDF("doc_id", "text")
    val r = CorpusPipeline.packingEfficiency(docs, "doc_id", "text", seqLen = 128)
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      (266L, 5L, 374L, 415625L, 3L, 118L, 692708L))
  }

  test("C82 contaminationAttribution: hand-computed matrix, repeats collapse to distinct") {
    // bench doc 1 = "a b c d e f" → 5-shingles {"a b c d e", "b c d e f"}
    // srcX doc 10 contains BOTH shingles (and one of them twice);
    // srcX doc 11 contains one; srcY doc 12 shares nothing;
    // bench doc 2 is untouched → no row for it.
    val bench = Seq((1L, "a b c d e f"), (2L, "q r s t u v")).toDF("bench_id", "text")
    val docs = Seq(
      (10L, "srcX", "a b c d e f x a b c d e"),
      (11L, "srcX", "z b c d e f"),
      (12L, "srcY", "totally clean words here five")).toDF("doc_id", "source", "text")
    val rows = CorpusPipeline.contaminationAttribution(docs, bench)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, "srcX", 2L, 2L)))
  }
}
