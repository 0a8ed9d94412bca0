package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Structured Streaming's checkpoint file manager, fork-free on local
  * paths (`file:`, or scheme-less under a local default filesystem).
  *
  * Every offset-log entry, commit-log entry, state-store delta and
  * snapshot, checksum side file and file-sink `_spark_metadata` entry
  * is one atomic create. Through Hadoop's local filesystem without its
  * native library, each such create starts a `chmod` process
  * (`RawLocalFileSystem.setPermission`) for the file and another for
  * its `.crc` sibling, and each FileContext rename starts a `readlink`
  * process for either side (`FileUtil.readLink`): on a 4-core host that
  * was about 160 ms of a 335 ms trigger (SCALING.md §Streaming). A
  * local path gets [[NioCheckpointFileManager]] instead.
  *
  * Any other scheme gets the manager Spark would pick itself
  * (FileContext-based, falling back to FileSystem-based), constructed
  * directly: `CheckpointFileManager.create` would read the setting that
  * selects this class and pick it again. [[Streams.start]] installs
  * this class. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new NioCheckpointFileManager(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

/** Spark's FileSystem-based manager over Hadoop's local filesystem,
  * with its write path moved to java.nio: the temp file is written in
  * the target directory and published by an atomic move, with no
  * process and no `.crc` sibling. Spark's `RenameBasedFSDataOutputStream`
  * (through the inherited `createAtomic`) keeps temp naming, `cancel()`
  * and close-then-publish its own; reads, listing, `exists` and
  * `delete` stay Spark's, and start no process either.
  *
  * Publishing without overwrite is a hard link, which fails atomically
  * when the target exists: HDFSMetadataLog relies on that
  * [[FileAlreadyExistsException]] to detect a second writer, and
  * `rename(2)` would replace the target silently. A published file
  * loses any stale `.crc` sibling, which Hadoop's checksummed reads
  * would otherwise check the new content against; so checkpoints stay
  * readable by Spark's own managers in both directions.
  *
  * Extending Spark's manager is how this class gets
  * `CheckpointFileManager.RenameHelperMethods`, a sealed trait. */
private[graft] final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  import NioCheckpointFileManager._

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = nio(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val (s, d) = (nio(src), nio(dst))
    if (overwriteIfPossible) {
      Files.deleteIfExists(crcOf(d))
      Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    } else {
      try Files.createLink(d, s)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(s)
          throw new FileAlreadyExistsException(s"$dst already exists")
      }
      Files.delete(s)
      Files.deleteIfExists(crcOf(d))
    }
  }

  /** Hadoop's local `mkdirs` with a permission starts a `chmod` process
    * for every directory it creates. */
  override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(path)
    mkdirs(qualified)
    qualified
  }
}

private object NioCheckpointFileManager {
  private def nio(p: Path): java.nio.file.Path = java.nio.file.Paths.get(p.toUri.getPath)

  /** Hadoop's checksum sibling of `f`: `.name.crc` in the same directory. */
  private def crcOf(f: java.nio.file.Path): java.nio.file.Path =
    f.resolveSibling(s".${f.getFileName}.crc")
}
