package graft.operators

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Action-scoped caching for operators whose returned DataFrame still
 * references a persisted intermediate (semDedup, semDedupHierarchical,
 * invertedIndex, lmBigramSurprisal, docTopTerms, sourceDivergence,
 * importanceScore, sourceOverlapGeneral, Graph.pageRank,
 * ExactQuantiles.byGroup, CorpusPipeline.run). Those operators
 * persist because the intermediate feeds several differently-keyed
 * shuffles — correct for one-shot use, but a long-lived session
 * looping over corpora accumulates cached blocks until LRU eviction.
 *
 * [[withCached]] builds the plan, materializes it through `action`,
 * then unpersists every intermediate the build registered — nothing
 * stays cached:
 *
 * {{{
 * val kept = Scoped.withCached(Dedup.semDedup(docs, "id", "qv", 256, 0.95)) {
 *   _.filter(col("keep")).write.parquet(out)
 * }
 * }}}
 *
 * Plan construction is driver-side and synchronous, so a ThreadLocal
 * collector is sufficient; scopes nest (inner scopes release only
 * their own intermediates). [[pinned]] is [[persistTracked]] plus an
 * eager count, for frames that several branches of one action read.
 * Outside any scope, both degrade to a plain persist — the documented
 * "`spark.catalog.clearCache()` between corpora" contract still
 * applies to bare operator calls.
 *
 * [[withConf]] is the same scope for session confs an operator or
 * stream driver narrows (shuffle partitions, no-data micro-batches).
 */
object Scoped {
  private val collector = new ThreadLocal[ListBuffer[DataFrame]]

  /** Persist `df` (MEMORY_AND_DISK) and, when inside [[withCached]],
   * register it for release when the scope's action completes. */
  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val buf = collector.get()
    if (buf != null) buf += p
    p
  }

  /** [[persistTracked]] plus an eager `count()`: the cache is populated
   * before `df` is returned. A persisted frame that several branches
   * of ONE later action read gets recomputed per branch when the
   * branches' broadcast threads race the cold cache; the pin makes
   * them all read the cache (sourceDivergence: 33 → 23 s wall, ~4×
   * less CPU at 1M docs). Sequential consumers populate a plain
   * persist themselves and need no pin. */
  private[graft] def pinned(df: DataFrame): DataFrame = {
    val p = persistTracked(df)
    p.count()
    p
  }

  /** Set each session conf in `kv`, run `body`, then restore every
   * prior value (unsetting keys that had none) — also when `body`
   * throws. An empty `kv` leaves the session untouched. */
  private[graft] def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Build a DataFrame, run `action` on it (the materialization —
   * write/collect/count), then unpersist every intermediate the build
   * persisted. The DataFrame must not escape `action`: its cached
   * subplans are gone afterwards (lineage still recomputes correctly,
   * just without the cache). */
  def withCached[T](build: => DataFrame)(action: DataFrame => T): T = {
    val outer = collector.get()
    val buf = new ListBuffer[DataFrame]
    collector.set(buf)
    try {
      val df =
        try build
        finally { if (outer == null) collector.remove() else collector.set(outer) }
      action(df)
    } finally {
      // restore first (idempotent), then release; running in the outer
      // finally means a build that throws MID-WAY (some persistTracked
      // calls done, pin count() failed) still unpersists what it
      // registered — the leak this scope exists to prevent
      if (outer == null) collector.remove() else collector.set(outer)
      buf.foreach(_.unpersist(blocking = false))
    }
  }
}
