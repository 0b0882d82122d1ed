package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Guards against DRIVER TESTDATA drift, which the synthetic-data specs
  * cannot see: in round 9 the driver's `events.ts` silently moved from
  * parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and the force-applied
  * nanos workaround in `Tables.events` broke 30/97 queries while
  * `sbt test` stayed green. These specs read the REAL sf0.001 parquet
  * (skipped when /root/testdata is absent, e.g. on a bare checkout) and
  * assert the loader adapts to whatever schema is actually on disk.
  */
class TestdataDriftSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private def available: Boolean = Files.exists(Paths.get(sfDir))

  test("Tables.events adapts to the on-disk ts physical type") {
    assume(available, s"$sfDir not present")
    val ev = graft.queries.Tables.events(spark, sfDir)
    val tsType = ev.schema("ts").dataType
    assert(tsType == TimestampType || tsType == TimestampNTZType,
      s"ts must surface as a timestamp, got $tsType")
    // Analysis + execution must both succeed on the real file: the r9
    // break was an AnalysisException (TIMESTAMP_NTZ div BIGINT).
    val n = ev.count()
    assert(n > 0, "events must be non-empty")
    // Values must land in the generator's plausible epoch range — a
    // wrong unit (nanos read as micros, or a double div-1000) lands
    // centuries away.
    val yr = ev.agg(min(year(col("ts"))), max(year(col("ts"))))
      .collect()(0)
    assert(yr.getInt(0) >= 1990 && yr.getInt(1) <= 2100,
      s"ts years out of range: $yr — unit mismatch in Tables.events?")
  }

  test("every SparkEntry query analyzes against real sf0.001 schemas") {
    assume(available, s"$sfDir not present")
    // Catch analysis-time schema drift for ALL tables in one cheap pass:
    // build every registered query's plan against the real testdata and
    // force analysis (no execution of batch queries). The D tier's
    // builders run their streams to completion eagerly, so every one of
    // its 36 stream drivers executes here too — and must leave the
    // session's conf as it found it and no stream running.
    val shuffle = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val confBefore = (spark.conf.get(shuffle), spark.conf.get(noData))
    val failures =
      try SparkEntry.queries.toSeq.sortBy(_._1)
        .flatMap { case (name, fn) =>
          try { fn(spark, sfDir).queryExecution.analyzed; None }
          catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
        }
      finally {
        // Some queries persist+pin caches as a side effect of BUILDING
        // the DataFrame (sourceDivergence et al.); suites share one
        // forked JVM, so leaked cache entries would rewrite the plan
        // shapes PlanAuditSpec counts. Drop them all.
        spark.catalog.clearCache()
      }
    assert(failures.isEmpty,
      s"${failures.size} queries failed analysis on real testdata:\n" +
        failures.mkString("\n"))
    assert((spark.conf.get(shuffle), spark.conf.get(noData)) == confBefore,
      "a query builder leaked a session conf change")
    assert(spark.streams.active.isEmpty,
      s"streams still running: ${spark.streams.active.map(_.name).mkString(", ")}")
  }
}
