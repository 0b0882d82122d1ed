package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/**
 * Distributed exact quantiles by global-sort rank selection.
 *
 * Spark's built-in exact `percentile` aggregate merges a value→count
 * map into ONE final buffer — fine when the value domain is small, but
 * with high-cardinality doubles (latencies, prices) the map is O(rows)
 * on a single reducer: the classic 100 TB cliff. This operator instead
 * range-partitions and sorts the column (fully parallel TeraSort
 * shape), takes per-partition counts (a few longs to the driver),
 * turns each requested fraction into a global rank, and fetches only
 * the two neighboring ranks per fraction from the partitions that own
 * them — O(rows log rows) work, O(partitions) driver state, no
 * single-machine value map.
 *
 * Interpolation matches SQL `percentile_cont` / Spark `percentile` /
 * DuckDB `quantile_cont`: rank r = (n−1)·f, result = lo + (hi−lo)·(r−⌊r⌋).
 */
object ExactQuantiles {

  /** Exact interpolated quantiles of `valueCol` at `fractions`.
   * Returns fractions zipped with values. Runs two jobs (count-per-
   * partition, targeted fetch) over one shuffle of the sorted column. */
  def of(df: DataFrame, valueCol: String, fractions: Seq[Double]): Seq[(Double, Double)] = {
    require(fractions.forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val spark = df.sparkSession
    import spark.implicits._

    val sorted = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("v"))
      .sortWithinPartitions("v")
      .as[Double]
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = sorted.mapPartitionsWithIndex { (i, it) =>
        // Long accumulator: Iterator.size returns Int and would overflow
        // on a >2^31-row partition (reachable under value skew, since
        // range partitioning co-locates all duplicates of one value)
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator((i, n))
      }.collect().sortBy(_._1).map(_._2)
      val n = counts.sum
      if (n == 0) return fractions.map(f => (f, Double.NaN))
      val offsets = counts.scanLeft(0L)(_ + _) // partition start ranks

      // global ranks needed: floor and ceil of (n-1)*f per fraction
      val wanted: Map[Long, Seq[Double]] = fractions
        .flatMap { f => val r = (n - 1) * f; Seq(math.floor(r).toLong, math.ceil(r).toLong) }
        .distinct.sorted
        .map(rank => rank -> Seq.empty[Double]).toMap
      val wantedRanks = wanted.keys.toArray.sorted

      // fetch each wanted rank from the partition that owns it
      val fetched: Map[Long, Double] = sorted.mapPartitionsWithIndex { (i, it) =>
        val start = offsets(i)
        val end = start + counts(i)
        val local = wantedRanks.filter(r => r >= start && r < end)
        if (local.isEmpty) Iterator.empty
        else {
          // Long-indexed scan (zipWithIndex is Int and overflows >2^31)
          val localSet = local.map(_ - start).toSet
          var idx = -1L
          it.flatMap { v =>
            idx += 1
            if (localSet(idx)) Iterator((start + idx, v)) else Iterator.empty
          }
        }
      }.collect().toMap

      fractions.map { f =>
        val r = (n - 1) * f
        val lo = fetched(math.floor(r).toLong)
        val hi = fetched(math.ceil(r).toLong)
        (f, lo + (hi - lo) * (r - math.floor(r)))
      }
    } finally sorted.unpersist(blocking = false)
  }

  /**
   * C45: exact PER-GROUP discrete (type-1) quantiles — the value AT
   * rank ⌊(cnt−1)·f⌋ within each group, so every output is a real data
   * element and any engine reproduces it bit-for-bit (continuous
   * interpolation differs across engines in the last ulp; for global
   * interpolated quantiles use [[of]]).
   *
   * The naive formulation — `Window.partitionBy(group).orderBy(v)` —
   * sorts each group in ONE task: a group holding 30% of a 100 TB
   * corpus is the same cliff [[of]] avoids globally. Here the sort is
   * a fully parallel range sort on (group, v) — a huge group simply
   * spans partitions — global positions come from `zipWithIndex`
   * (O(partitions) driver state), per-group offsets from one combining
   * aggregate, and rank = position − group offset. Target ranks join
   * back broadcast (groups × fractions rows). Output: groupCol,
   * fraction, value.
   *
   * Caching: the positioned table persists+pins (it feeds the offsets
   * aggregate and the rank join) and lives until session eviction —
   * loop callers should wrap the call in [[Scoped.withCached]] or
   * `spark.catalog.clearCache()` between corpora (the
   * `sourceDivergence` contract; unlike [[of]], the returned
   * DataFrame still references it, so it cannot unpersist eagerly).
   */
  def byGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      fractions: Seq[Double]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0,1]")
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val sorted = df
      .select(col(groupCol).cast(StringType).as("g"), col(valueCol).cast(DoubleType).as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("g"), col("v"))
      .sortWithinPartitions("g", "v")
    // feeds the offsets aggregate AND the rank join
    val positioned = withPosition(sorted, "pos").transform(Scoped.pinned)
    val stats = positioned.groupBy("g")
      .agg(min(col("pos")).as("p0"), count(lit(1)).as("cnt"))
    val fracs = spark.createDataFrame(fractions.map(Tuple1(_))).toDF("fraction")
    val targets = stats.crossJoin(broadcast(fracs))
      .withColumn("tpos",
        col("p0") + floor((col("cnt") - 1) * col("fraction")).cast(LongType))
      .select(col("g"), col("fraction"), col("tpos"))
    // targets descends from positioned → alias both sides of the
    // self-join and qualify every column
    val ranked = positioned.as("p")
      .join(broadcast(targets.as("t")), col("p.pos") === col("t.tpos"))
      .select(col("p.g").as("__gs"), col("t.fraction").as("fraction"),
        col("p.v").as("value"))
    // the sort key is the STRING form of the group (range partitioning
    // + the RDD position scan need one concrete type); join the
    // original-typed key back so an integer group key doesn't silently
    // come back stringly-typed and break downstream joins
    val keyMap = df.select(col(groupCol)).filter(col(groupCol).isNotNull)
      .distinct()
      .select(col(groupCol), col(groupCol).cast(StringType).as("__gs"))
    ranked.join(broadcast(keyMap), Seq("__gs"))
      .select(col(groupCol), col("fraction"), col("value"))
  }

  /** `sorted` with each row's global 0-based position in sort order
   * appended as the long column `posCol` — one partition-count job plus
   * a map over the sorted RDD, O(partitions) driver state, never a
   * single-partition window. The position step of [[byGroup]] and of
   * the CorpusPipeline orderings (packShards, shuffleOrder,
   * curriculumOrder). */
  private[operators] def withPosition(sorted: DataFrame, posCol: String): DataFrame =
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      sorted.schema.add(posCol, org.apache.spark.sql.types.LongType))

  /** DataFrame wrapper: one row of quantile columns (q_<pct>). */
  def ofAsRow(df: DataFrame, valueCol: String, fractions: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    val vals = of(df, valueCol, fractions)
    val schema = org.apache.spark.sql.types.StructType(vals.map { case (f, _) =>
      org.apache.spark.sql.types.StructField(
        "q_" + math.round(f * 100), org.apache.spark.sql.types.DoubleType)
    })
    spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(vals.map(_._2))), schema)
  }
}
