package graft.streaming

import org.apache.spark.sql.SparkSession

/**
 * The state-store configuration the graft streaming operators are
 * designed for, owned by the LIBRARY instead of each harness (r20 —
 * the r19 verdict's "changelog checkpointing is harness-only" item):
 * a consumer that builds its own session gets the same production
 * shape by calling one of the helpers, and graft.Bench / graft.Verify
 * consume this object so the harness can never drift from the
 * library's contract.
 *
 *  - RocksDB provider (r11 default): keyed state lives native
 *    off-heap with incremental checkpoints — the right shape for
 *    100 TB/day keyed state; the HDFS-backed default writes
 *    per-partition-per-micro-batch files. Bit-parity with the HDFS
 *    provider is pinned in LogStreamSpec on the hard state shapes.
 *  - Changelog checkpointing (r19): per-batch changelog uploads
 *    instead of a full RocksDB snapshot per partition per
 *    micro-batch — snapshot cost decouples from state size. Format
 *    only; results bit-identical (incl. kill-and-resume, spec-pinned).
 *  - trackTotalNumberOfRows=false (r20): the row-count metric costs a
 *    point lookup per put/delete to classify it as insert vs update —
 *    pure METRICS overhead on the hot write path (results unaffected;
 *    numRowsTotal reports -1). Measured 5-10 % off the state-heavy
 *    sf0.1 rows (q_d31 5.95/5.15 → 5.15/4.33, q_d32 6.54/5.26 →
 *    5.46/4.89, one-JVM toggled A/B ×2) and the per-put lookup grows
 *    with state size at 100 TB/day.
 *  - LocalCheckpointFileManager: checkpoint files on a local path are
 *    written with java.nio, not Hadoop's local `FileContext`. Without
 *    native libhadoop that `FileContext` forks a `readlink` or `chmod`
 *    process per file: a 2 KB atomic create cost 29-37 ms against
 *    0.25 ms through java.nio, and the perfbench `stream` workload
 *    (4 vCPU) spent 313 of its 341 ms median trigger in the RocksDB
 *    state commit, nearly all of it changelog file writes (with this
 *    manager: commit ~12 ms, run_s 0.60 → 0.30 s, 10/10 pairs). Spark's
 *    `FileSystemBasedCheckpointFileManager` (a conf-only switch) still
 *    forks `chmod` per create and mkdirs and took 1.2-1.3x the nio time
 *    per file. Other schemes (HDFS, object stores) keep Spark's
 *    default manager; the file formats are unchanged, so a checkpoint
 *    resumes across either manager (spec-pinned both ways).
 */
object StateStoreConf {

  val recommended: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
      "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName)

  /** Fold the recommended confs into a session builder. */
  def applyTo(b: SparkSession.Builder): SparkSession.Builder =
    recommended.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Set the recommended confs on a live session (they are per-query
   * confs, read at stream start). */
  def applyTo(spark: SparkSession): Unit =
    recommended.foreach { case (k, v) => spark.conf.set(k, v) }
}
