package graft.queries

import graft.SparkSpec
import graft.operators.{Dedup, Scoped}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/**
 * Failure path of the D-tier stream driver and of the conf scope it
 * runs in: a feed that throws part-way must surface its exception,
 * leave no stream running and leave every session conf it touched
 * reading what it read before — the next query in the same session
 * must not inherit a narrow partition count or disabled no-data
 * batches.
 */
class StreamDriverSpec extends SparkSpec {

  import spark.implicits._

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Run `body` with the session's shuffle partitions at 7 (distinct
   * from both the spec default and the driver's narrow 4). */
  private def atSeven(body: => Unit): Unit = {
    val prev = spark.conf.get(Shuffle)
    spark.conf.set(Shuffle, "7")
    try body finally spark.conf.set(Shuffle, prev)
  }

  test("a feed that throws mid-run propagates, stops the stream and restores conf") {
    atSeven {
      val noDataBefore = spark.conf.get(NoData)
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Long]
      var seenInside = Option.empty[(String, String)]
      val e = intercept[IllegalStateException] {
        DQueries.toMemory(spark, "spec", mem.toDS(), "append", DQueries.fed { q =>
          mem.addData(1L, 2L)
          q.processAllAvailable()
          seenInside = Some((spark.conf.get(Shuffle), spark.conf.get(NoData)))
          throw new IllegalStateException("feed failed after one batch")
        }, DQueries.Narrow ++ DQueries.NoDataOff)
      }
      assert(e.getMessage == "feed failed after one batch")
      assert(seenInside.contains(("4", "false")), "the feed must run inside the conf scope")
      assert(spark.streams.active.isEmpty, "the driver must stop the query on failure")
      assert(spark.conf.get(Shuffle) == "7")
      assert(spark.conf.get(NoData) == noDataBefore)
    }
  }

  test("a chunked feed processes every chunk and restores conf") {
    atSeven {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Long]
      val out = DQueries.toMemory(spark, "spec", mem.toDS(), "append",
        DQueries.chunked(mem, Seq(Array(1L, 2L), Array(3L), Array(4L, 5L))),
        DQueries.Narrow)
      assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(Shuffle) == "7")
    }
  }

  test("withConf restores prior values and unsets keys that had none, on throw") {
    atSeven {
      val fresh = "spark.graft.spec.unsetKey"
      assert(spark.conf.getOption(fresh).isEmpty)
      intercept[ArithmeticException] {
        Scoped.withConf(spark, Shuffle -> "3", fresh -> "x") {
          assert(spark.conf.get(Shuffle) == "3" && spark.conf.get(fresh) == "x")
          1 / 0
        }
      }
      assert(spark.conf.get(Shuffle) == "7")
      assert(spark.conf.getOption(fresh).isEmpty)
    }
  }

  test("connectedComponents with loopPartitions restores the session value") {
    atSeven {
      val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      val comp = Dedup.connectedComponents(edges, loopPartitions = 4)
      assert(spark.conf.get(Shuffle) == "7")
      assert(comp.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
      Dedup.connectedComponentsStar(edges, loopPartitions = 4).collect()
      assert(spark.conf.get(Shuffle) == "7")
    }
  }
}
