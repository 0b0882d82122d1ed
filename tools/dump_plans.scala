// spark-shell -I script: dump the executed .explain("formatted") plan
// of selected queries.
//   /opt/spark/bin/spark-shell --master 'local[32]' --driver-memory 12g \
//     --driver-class-path target/scala-2.13/classes \
//     -I tools/dump_plans.scala
// Env:
//   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
//   SPARK_GRAFT_QUERIES  comma-separated query names (required)
//   SPARK_GRAFT_PLAN_OUT output dir (default plans/r19)
//   SPARK_GRAFT_PLAN_TAG file suffix, e.g. before/after (default before)
// Each query runs once first, every row discarded (a noop sink on the
// DataFrame's own QueryExecution), so under AQE the file holds the
// FINAL plan — reused exchanges, broadcast choices and coalesced
// stages as executed, the plan PlanAuditSpec walks — not the initial
// one. A `format("noop")` write would run a separate QueryExecution
// whose plan the DataFrame never sees.
// Streaming-harness queries (MemoryStream inside the builder) still
// produce a useful plan: the final returned DataFrame is batch.
{
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r19")
  val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
  val names = sys.env("SPARK_GRAFT_QUERIES").split(",").map(_.trim).filter(_.nonEmpty)
  new java.io.File(outDir).mkdirs()
  spark.conf.set("spark.sql.session.timeZone", "UTC")
  spark.conf.set("spark.sql.ansi.enabled", "false")
  spark.conf.set("spark.sql.streaming.stateStore.providerClass", "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  names.foreach { n =>
    try {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${n}_$tag.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"[plans] wrote $p (${plan.length} chars)")
    } catch { case e: Throwable => println(s"[plans] $n FAILED: ${e.getMessage}") }
    spark.catalog.clearCache()
  }
}
