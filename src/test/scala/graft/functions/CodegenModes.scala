package graft.functions

import graft.SparkSpec

/** The two evaluation paths a codegen'd expression must agree on:
 * whole-stage codegen with codegen failures fatal, and interpreted
 * (`NO_CODEGEN`) projections. Parity specs run every check under both. */
trait CodegenModes { this: SparkSpec =>

  protected val modes: Seq[(String, Map[String, String])] = Seq(
    "whole-stage codegen" -> Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "codegen off" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  protected def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
