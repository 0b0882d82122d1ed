package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileVisitResult, Files, SimpleFileVisitor, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * A checkpoint file manager that writes local checkpoints with
 * java.nio instead of Hadoop's local `FileContext`, registered through
 * `StateStoreConf.recommended` as
 * `spark.sql.streaming.checkpointFileManagerClass`. Spark builds every
 * checkpoint writer from that key (offset, commit and source logs,
 * RocksDB changelogs and snapshots), on the driver and the executors.
 *
 * Why: on a JVM without native libhadoop, Hadoop's local filesystem
 * forks a `readlink` or `chmod` process for each create, mkdirs and
 * rename. A 2 KB atomic create through Spark's default
 * `FileContextBasedCheckpointFileManager` costs 29-37 ms that way;
 * java.nio write + rename costs 0.25 ms. `tools/checkpoint_probe.scala`
 * measures both on a given host.
 *
 *  - Paths of the `file` scheme on Hadoop's local filesystem (a
 *    `LocalFileSystem` or `RawLocalFileSystem`, Spark's own `isLocal`
 *    test) write a temp file `.<name>.<uuid>.tmp` beside the
 *    target and rename it on `close()`: an atomic replace with
 *    overwrite, otherwise a move that fails with Hadoop's
 *    `FileAlreadyExistsException` (`HDFSMetadataLog` detects
 *    concurrent writers by it). `cancel()` deletes the temp file.
 *    `open` and `list` go through `RawLocalFileSystem`; `list` hides
 *    `.crc` sidecars as `ChecksumFileSystem` does. Overwriting or
 *    deleting a file also deletes its stale `.<name>.crc`, so a
 *    checkpoint first written by Spark's default manager still reads
 *    through Hadoop's checksummed `LocalFileSystem`. No fsync: the
 *    same durability as Hadoop's local filesystem.
 *  - Every other scheme gets what Spark picks without the key:
 *    `FileContextBasedCheckpointFileManager`, or
 *    `FileSystemBasedCheckpointFileManager` when the scheme has no
 *    `FileContext` binding. HDFS and object stores are unchanged.
 */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager that serves `path`. */
  private[streaming] val impl: CheckpointFileManager =
    rawLocal(path.getFileSystem(hadoopConf)) match {
      case Some(raw) => new NioManager(path, raw)
      case None =>
        try new FileContextBasedCheckpointFileManager(path, hadoopConf)
        catch {
          case _: UnsupportedFileSystemException =>
            new FileSystemBasedCheckpointFileManager(path, hadoopConf)
        }
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** The raw filesystem behind `fs` when `fs` serves the `file` scheme
   * and is Hadoop's local filesystem, checksummed or raw (Spark's own
   * `isLocal` test; Hive's `ProxyLocalFileSystem` passes it). */
  private def rawLocal(fs: FileSystem): Option[RawLocalFileSystem] =
    if (fs.getUri.getScheme != "file") None
    else fs match {
      case l: LocalFileSystem => rawLocal(l.getRawFileSystem)
      case r: RawLocalFileSystem => Some(r)
      case _ => None
    }

  /** Atomically replace `dst` by `src` when `fs` is Hadoop's local
   * filesystem; `src`'s checksum sidecar, if any, becomes `dst`'s.
   * Every intermediate state reads back through `LocalFileSystem`: the
   * old sidecar goes first, the new one comes last. Returns false, and
   * touches nothing, on any other filesystem. */
  private[graft] def replaceLocal(fs: FileSystem, src: Path, dst: Path): Boolean =
    rawLocal(fs) match {
      case None => false
      case Some(raw) =>
        val (s, d) = (file(raw, src), file(raw, dst))
        move(s, d, overwrite = true)
        val sc = crcOf(s)
        if (Files.exists(sc)) Files.move(sc, crcOf(d), StandardCopyOption.ATOMIC_MOVE)
        true
    }

  private def file(raw: RawLocalFileSystem, p: Path): NioPath = raw.pathToFile(p).toPath

  private def crcOf(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  /** `ChecksumFileSystem.isChecksumFile`. */
  private def isChecksumFile(p: Path): Boolean = {
    val n = p.getName
    n.startsWith(".") && n.endsWith(".crc")
  }

  /** Rename `src` onto `dst`. With overwrite the rename replaces `dst`
   * atomically; without it an existing `dst` fails the move with
   * Hadoop's `FileAlreadyExistsException`. */
  private def move(src: NioPath, dst: NioPath, overwrite: Boolean): Unit =
    if (overwrite) {
      Files.deleteIfExists(crcOf(dst))
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    } else {
      try Files.move(src, dst)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          val h = new org.apache.hadoop.fs.FileAlreadyExistsException(s"$dst already exists")
          h.initCause(e)
          throw h
      }
      Files.deleteIfExists(crcOf(dst))
    }

  /** Delete a file or a whole tree, and the file's sidecar; a missing
   * path is not an error. */
  private def deleteTree(p: NioPath): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.walkFileTree(p, new SimpleFileVisitor[NioPath] {
        override def visitFile(f: NioPath, a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(d: NioPath, e: java.io.IOException): FileVisitResult = {
          if (e != null) throw e
          Files.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      })
    else Files.deleteIfExists(p)
    Files.deleteIfExists(crcOf(p))
  }

  private final class NioManager(root: Path, raw: RawLocalFileSystem)
      extends CheckpointFileManager {

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = file(raw, p)
      Files.createDirectories(dst.getParent)
      new NioRenameStream(
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"), dst, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p).filter(s => !isChecksumFile(s.getPath) && filter.accept(s.getPath))

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(raw, p))

    override def exists(p: Path): Boolean = Files.exists(file(raw, p))

    override def delete(p: Path): Unit = deleteTree(file(raw, p))

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val q = raw.makeQualified(root)
      mkdirs(q)
      q
    }
  }

  /** Writes `tmp`; `close()` renames it onto `dst`, `cancel()` deletes
   * it and leaves `dst` untouched (Spark's `RenameBasedFSDataOutputStream`
   * contract). */
  private final class NioRenameStream(tmp: NioPath, dst: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE),
        1 << 16)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          move(tmp, dst, overwrite)
        } catch {
          case e: Throwable =>
            try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
      }
    }
  }
}
