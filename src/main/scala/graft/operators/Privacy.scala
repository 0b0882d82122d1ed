package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * C85: privacy auditing for training corpora — cascading k-anonymity
 * generalization (the Sweeney 2002 model, cascaded like Mondrian-style
 * local recoding: rows whose quasi-identifier group is smaller than k
 * at the finest level re-group AMONG THEMSELVES at the next coarser
 * level, because already-published finer groups can't bulk up coarser
 * ones) plus the l-diversity read (distinct sensitive values per
 * published group) the caller derives from the output.
 *
 * Scale shape: group sizes depend only on the QI tuple, so the row
 * frame is aggregated ONCE into a per-distinct-QI-tuple count frame
 * (map-side combining, output bounded by distinct tuples — never by
 * rows), the level cascade runs as groupBy+join entirely on that
 * bounded frame, and the result joins back to the row frame once
 * (AQE broadcasts it when small). No window functions: the earlier
 * `count(...) OVER (PARTITION BY key_i)` shape funneled the FULL row
 * frame through as few tasks as the level key has distinct values —
 * and the coarsest ladder level is structurally low-cardinality, so
 * at 100x the whole table sorted through single-digit window tasks
 * (r15 verdict). Deterministic: counts and string keys only.
 */
object Privacy {

  /** Separator for the published generalization key (printable '|' —
   * callers pick QI columns whose rendered values can't contain it,
   * nor equal [[NullToken]]). */
  private val Sep = "|"

  /** Rendering for a NULL QI value. concat_ws SKIPS nulls without a
   * separator, so (\"NY\", NULL) and (NULL, \"NY\") would otherwise
   * collapse into one key and overcount group sizes — a k-anonymity
   * audit must treat NULL as a distinct value at its position, never
   * merge distinct quasi-identifier tuples (r12 review finding). */
  private val NullToken = "<null>"

  /**
   * Assign each row the FIRST generalization level whose
   * quasi-identifier group (among rows that failed every finer level)
   * reaches size `k`; rows failing the whole ladder get level
   * `ladder.length` (suppressed) and a NULL key. Appends:
   * `anon_level` (int), `anon_key` (the published generalized QI
   * rendering, NULL when suppressed), `anon_k` (the assigned group's
   * size, NULL when suppressed).
   */
  def kAnonymityLevels(
      df: DataFrame,
      ladder: Seq[Seq[Column]],
      k: Long): DataFrame = {
    require(ladder.nonEmpty, "k-anonymity needs at least one generalization level")
    require(k >= 1, s"k must be >= 1, got $k")
    val keyed = ladder.zipWithIndex.foldLeft(df) { case (acc, (cols, i)) =>
      acc.withColumn(s"__key$i", concat_ws(Sep,
        cols.map(c => coalesce(c.cast("string"), lit(NullToken))): _*))
    }
    val keyCols = ladder.indices.map(i => s"__key$i")
    // One pass over the rows; every level's aggregate and the join
    // back consume this frame, and the cascade's self-joins would
    // otherwise replay the big aggregate per level (the dupGramStats
    // plan-replication class) — pinned, and tracked so Bench's
    // per-query Scoped.withCached releases it.
    val tupleCounts = keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .transform(Scoped.pinned)
    // Cascade finest -> coarsest on the bounded tuple frame: level i
    // counts only rows that failed every finer level, so published
    // finer groups never bulk up coarser ones.
    val levelled = ladder.indices.foldLeft(tupleCounts) { case (acc, i) =>
      val failedFiner = (0 until i)
        .map(j => col(s"__k$j") < k)
        .reduceOption(_ && _)
        .getOrElse(lit(true))
      val perKey = acc.groupBy(col(s"__key$i"))
        .agg(sum(when(failedFiner, col("__c"))).as(s"__ka$i"))
      acc.join(perKey, Seq(s"__key$i"), "left")
        .withColumn(s"__k$i", coalesce(col(s"__ka$i"), lit(0L)))
        .drop(s"__ka$i")
    }
    val counted = keyed.join(levelled.drop("__c"), keyCols)
    val level = ladder.indices.foldRight(lit(ladder.length): Column) { case (i, other) =>
      when(col(s"__k$i") >= k, i).otherwise(other)
    }
    val key = ladder.indices.foldRight(lit(null).cast("string")) { case (i, other) =>
      when(col(s"__k$i") >= k, col(s"__key$i")).otherwise(other)
    }
    val kk = ladder.indices.foldRight(lit(null).cast("long")) { case (i, other) =>
      when(col(s"__k$i") >= k, col(s"__k$i")).otherwise(other)
    }
    counted
      .withColumn("anon_level", level)
      .withColumn("anon_key", key)
      .withColumn("anon_k", kk)
      .drop(ladder.indices.flatMap(i => Seq(s"__key$i", s"__k$i")): _*)
  }
}
