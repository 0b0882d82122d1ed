package graft.functions

import graft.SparkSpec
import graft.functions.{TextFunctions => TF}
import graft.operators.CorpusPipeline
import org.apache.spark.sql.functions._

/** C53 specs: the CdcChunks expression against an independent SQL
 * formulation of the same cut rule, the shift-robustness property the
 * operator exists for, and edge-case parity (the md5₅₂ hash itself is
 * pinned by Md5HexSliceParitySpec). */
class CdcSpec extends SparkSpec {

  import spark.implicits._

  test("C53: chunks match an independent SQL replay of the cut rule") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TF.tokens(col("text")).as("t"))
    // independent formulation: cut flags via HOFs, chunk_id per token,
    // chunks re-joined — the interpreted shape CdcChunks replaces
    val sql = docs.select(col("doc_id"),
        expr("""
          transform(t, (tk, p) ->
            CASE WHEN p >= 4 AND
              conv(substring(md5(concat_ws(' ', slice(t, p - 3, 4))), 1, 13), 16, 10) % 8 = 0
            THEN 1 ELSE 0 END)
        """).as("cut"), col("t"))
      .select(col("doc_id"), expr(
        "transform(t, (tk, p) -> named_struct('cid', aggregate(slice(cut, 1, p + 1), 0, (a, x) -> a + x), 'tk', tk))")
        .as("z"))
      .select(col("doc_id"), posexplode(col("z")).as(Seq("p", "s")))
      .groupBy(col("doc_id"), col("s.cid"))
      // order-proof reassembly: collect (pos, tok), sort, then join
      .agg(array_join(expr("transform(array_sort(collect_list(struct(p, s.tk))), x -> x.tk)"),
        " ").as("chunk"))
      .groupBy("doc_id").agg(sort_array(collect_list("chunk")).as("chunks"))
    val fast = docs
      .select(col("doc_id"), explode(CdcChunks(col("t"), 4, 8)).as("chunk"))
      .groupBy("doc_id").agg(sort_array(collect_list("chunk")).as("chunks"))
    assert(sql.except(fast).isEmpty && fast.except(sql).isEmpty)
  }

  test("C53: short docs yield one whole-doc chunk; boundaries re-align after a prefix") {
    val short = Seq(Tuple1("a b c")).toDF("text")
      .select(CdcChunks(TF.tokens(col("text")), 4, 8).as("c"))
      .head.getSeq[String](0)
    assert(short == Seq("a b c"))

    // shift robustness: a prefixed copy of a long doc must share every
    // chunk after the first content-defined boundary
    val words = (1 to 400).map(i => s"tok${i % 37}x$i").mkString(" ")
    val chunks = Seq(words, "injected boilerplate prefix " + words).toDF("text")
      .select(CdcChunks(TF.tokens(col("text")), 4, 8).as("c"))
      .collect().map(_.getSeq[String](0))
    val shared = chunks(0).toSet.intersect(chunks(1).toSet)
    assert(shared.nonEmpty, "CDC must re-align after the prefix")
    // everything but the head chunk(s) before the first boundary is shared
    assert(chunks(0).drop(1).forall(shared.contains))
  }

  test("C53: chunks reassemble losslessly for random docs at varied params") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map { i =>
      val n = rnd.nextInt(50)
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(20)}").mkString(" "))
    }
    for ((w, m) <- Seq((2, 4), (4, 8), (7, 3), (1, 2))) {
      val out = docs.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          array_join(CdcChunks(TF.tokens(col("text")), w, m), " ").as("re"))
        .collect()
      out.foreach { r =>
        // chunk concatenation IS the token stream (join semantics match
        // because every chunk is space-joined from the same tokens)
        val toks = r.getString(1).trim.split("\\s+", -1).mkString(" ")
        assert(r.getString(2) == toks, s"w=$w m=$m doc=${r.getLong(0)}")
      }
    }
  }

  test("C51 property: AUC matches brute force across random datasets") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(80 + rnd.nextInt(120))(
        (rnd.nextInt(1 + rnd.nextInt(30)).toLong - 10, rnd.nextInt(2).toLong))
      val pos = rows.filter(_._2 == 1L).map(_._1)
      val neg = rows.filter(_._2 == 0L).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        val num2 = (for (p <- pos; n <- neg)
          yield if (p > n) 2L else if (p == n) 1L else 0L).sum
        val want = (BigInt(num2) * 1000000 / (BigInt(2) * pos.size * neg.size)).toLong
        val got = graft.operators.Evaluation
          .exactAuc(rows.toDF("sc", "y"), "sc", "y").head.getLong(3)
        assert(got == want, s"seed $seed")
      }
    }
  }

  test("C53: cdcDedupStats marks shifted duplicates, matches brute force") {
    val base = (0 until 40).map { i =>
      (i.toLong, (1 to 120).map(j => s"w${(i * 31 + j * 7) % 53}n$j").mkString(" "))
    }
    val shifted = base.filter(_._1 % 4 == 0)
      .map { case (id, t) => (id + 1000L, "shift pre amble " + t) }
    val docs = (base ++ shifted).toDF("doc_id", "text")
    val stats = CorpusPipeline.cdcDedupStats(docs)
    // brute force: the same CdcChunks cut, chunk strings counted in Scala
    val chunks = docs.select(col("doc_id"), CdcChunks(TF.tokens(col("text")), 4, 8))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toSeq
    val corpusCount = chunks.flatMap(_._2).groupBy(identity).map { case (c, v) => c -> v.size }
    val expected = chunks.filter(_._2.nonEmpty).map { case (id, cs) =>
      val dup = cs.filter(corpusCount(_) > 1)
      (id, cs.size.toLong, dup.size.toLong, dup.map(_.split(" ", -1).length.toLong).sum)
    }.toSet
    val got = stats.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    val planted = stats.filter(col("doc_id") >= 1000L).collect()
    assert(planted.nonEmpty)
    planted.foreach { r =>
      assert(r.getLong(3) > 0, s"shifted copy ${r.getLong(0)} shares no tokens") }
    // unshifted unique docs share nothing
    val unique = stats.filter(col("doc_id") < 1000L && col("doc_id") % 4 =!= 0)
    assert(unique.filter(col("dup_tokens") > 0).count() == 0)
  }
}
