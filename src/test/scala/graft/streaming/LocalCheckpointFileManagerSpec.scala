package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** Hadoop's raw local code under another scheme: local bytes, but not
 * the `file` scheme, so graft's manager must hand it to Spark's. */
class NonLocalTestFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftnl:///")
  override def getScheme: String = "graftnl"
}

/** The CheckpointFileManager contract for `LocalCheckpointFileManager`:
 * atomic create with and without overwrite, cancel, `.crc` hiding,
 * recursive delete, stale checksum sidecars, and delegation of
 * non-local schemes. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def tempDir(): File = {
    val d = Files.createTempDirectory("graft_ckpt_fm_").toFile
    d.deleteOnExit()
    d
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val o = fm.createAtomic(p, overwrite)
    o.write(s.getBytes(UTF_8))
    o.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(d: File): Set[String] = Option(d.list()).map(_.toSet).getOrElse(Set.empty)

  test("a local path is served by java.nio, not Spark's default manager") {
    val root = new Path(tempDir().getAbsolutePath)
    val fm = new LocalCheckpointFileManager(root, conf)
    assert(fm.isLocal)
    assert(fm.impl.getClass != CheckpointFileManager.create(root, conf).getClass)
  }

  test("createAtomic without overwrite onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val d = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(d.getAbsolutePath), conf)
    val x = new Path(d.getAbsolutePath, "x")
    write(fm, x, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, x, "second", overwrite = false))
    assert(read(fm, x) == "first")
    assert(names(d) == Set("x"), "the failed create left a temp file behind")
  }

  test("createAtomic with overwrite replaces the file, and creates missing parents") {
    val d = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(d.getAbsolutePath), conf)
    val x = new Path(d.getAbsolutePath, "a/b/x")
    write(fm, x, "first", overwrite = true)
    write(fm, x, "second, longer", overwrite = true)
    assert(read(fm, x) == "second, longer")
    assert(names(new File(d, "a/b")) == Set("x"))
  }

  test("cancel() then close() creates nothing") {
    val d = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(d.getAbsolutePath), conf)
    val x = new Path(d.getAbsolutePath, "x")
    val o = fm.createAtomic(x, overwriteIfPossible = true)
    o.write("partial".getBytes(UTF_8))
    o.cancel()
    o.close()
    assert(!fm.exists(x))
    assert(names(d).isEmpty, s"cancel left ${names(d)}")
  }

  test("list hides .crc sidecars and applies the filter") {
    val d = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(d.getAbsolutePath), conf)
    Seq("1", "2", ".1.crc", "keep.crc").foreach(n => Files.writeString(new File(d, n).toPath, n))
    val all = fm.list(new Path(d.getAbsolutePath)).map(_.getPath.getName).toSet
    assert(all == Set("1", "2", "keep.crc"))
    val ones = fm.list(new Path(d.getAbsolutePath), (p: Path) => p.getName.startsWith("1"))
    assert(ones.map(_.getPath.getName).toSeq == Seq("1"))
  }

  test("delete is recursive and idempotent") {
    val d = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(d.getAbsolutePath), conf)
    val tree = new Path(d.getAbsolutePath, "t")
    write(fm, new Path(tree, "a/b/x"), "x", overwrite = true)
    write(fm, new Path(tree, "y"), "y", overwrite = true)
    fm.delete(tree)
    assert(!fm.exists(tree))
    fm.delete(tree)
    fm.delete(new Path(d.getAbsolutePath, "never-existed"))
    assert(names(d).isEmpty)
  }

  test("overwriting or deleting a file written by Spark's default manager drops its stale .crc") {
    // Spark's default manager writes through Hadoop's checksummed local
    // filesystem, leaving `.x.crc`; a later read through that filesystem
    // verifies the bytes against it.
    val d = tempDir()
    val root = new Path(d.getAbsolutePath)
    val spark0 = CheckpointFileManager.create(root, conf)
    val fm = new LocalCheckpointFileManager(root, conf)
    val x = new Path(root, "x")
    val z = new Path(root, "z")
    write(spark0, x, "written by spark", overwrite = true)
    write(spark0, z, "also spark", overwrite = true)
    assert(names(d).contains(".x.crc"), s"expected a checksum sidecar: ${names(d)}")
    write(fm, x, "rewritten by graft with other bytes", overwrite = true)
    val local = FileSystem.getLocal(conf)
    val in = local.open(x)
    try assert(new String(in.readAllBytes(), UTF_8) == "rewritten by graft with other bytes")
    finally in.close()
    fm.delete(z)
    assert(names(d) == Set("x"))
  }

  test("a non-local scheme is served by Spark's default manager class") {
    val c = new Configuration()
    c.set("fs.graftnl.impl", classOf[NonLocalTestFs].getName)
    c.setBoolean("fs.graftnl.impl.disable.cache", true)
    val d = tempDir()
    val root = new Path(s"graftnl://${d.getAbsolutePath}")
    val fm = new LocalCheckpointFileManager(root, c)
    // no FileContext binding for the scheme, so Spark falls back to its
    // FileSystem-based manager, and so must graft
    assert(fm.impl.getClass == CheckpointFileManager.create(root, c).getClass)
    assert(fm.impl.getClass == classOf[FileSystemBasedCheckpointFileManager])
    val x = new Path(root, "x")
    write(fm, x, "via spark", overwrite = true)
    assert(read(fm, x) == "via spark")
    assert(new File(d, "x").isFile)
  }
}
