// spark-shell -I script: time 2 KB atomic checkpoint writes through
// Spark's default CheckpointFileManager and through graft's
// LocalCheckpointFileManager, and count the child processes each one
// spawns while it writes.
//   $SPARK_HOME/bin/spark-shell --master 'local[1]' \
//     --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes \
//     -I tools/checkpoint_probe.scala
// Env:
//   GRAFT_PROBE_DIR  a local scratch dir (default: a new temp dir)
//   GRAFT_PROBE_N    timed writes per manager (default 200)
// Prints whether native libhadoop is loaded: without it, Hadoop's local
// FileContext forks `readlink`/`chmod` per file, which is the cost graft's
// manager removes. A host with libhadoop shows how much of the gain
// applies there. Child processes are counted by polling
// ProcessHandle.current().children() every ~0.2 ms from a second thread,
// so a short-lived fork can be missed: the count is a lower bound.
{
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
  val n = sys.env.getOrElse("GRAFT_PROBE_N", "200").toInt
  val dir = sys.env.get("GRAFT_PROBE_DIR").map(new java.io.File(_))
    .getOrElse(java.nio.file.Files.createTempDirectory("graft_ckpt_probe_").toFile)
  println(s"[probe] NativeCodeLoader.isNativeCodeLoaded=${org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded}")
  val payload = Array.tabulate[Byte](2048)(i => (i % 251).toByte)
  def probe(name: String, fm: CheckpointFileManager, root: Path): Unit = {
    fm.mkdirs(root)
    def write(i: Int): Unit = {
      val o = fm.createAtomic(new Path(root, s"$i"), true)
      o.write(payload); o.close()
    }
    (0 until 20).foreach(i => write(-1 - i)) // warm-up, not timed
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var on = true
    val poller = new Thread(() => while (on) {
      ProcessHandle.current().children().forEach(h => { seen.add(h.pid); () })
      Thread.sleep(0, 200000)
    })
    poller.setDaemon(true); poller.start()
    val t0 = System.nanoTime
    (0 until n).foreach(write)
    val ms = (System.nanoTime - t0) / 1e6 / n
    on = false; poller.join()
    println(f"[probe] $name%-26s $ms%8.3f ms per 2 KB createAtomic, ${seen.size}%5d child processes over $n writes (${fm.getClass.getSimpleName})")
  }
  val conf = new Configuration()
  val spark0 = new Path(dir.getAbsolutePath, "spark_default")
  probe("spark default", CheckpointFileManager.create(spark0, conf), spark0)
  val graft0 = new Path(dir.getAbsolutePath, "graft")
  probe("graft LocalCheckpoint", new graft.streaming.LocalCheckpointFileManager(graft0, conf), graft0)
  println(s"[probe] files under $dir")
}
sys.exit(0)
