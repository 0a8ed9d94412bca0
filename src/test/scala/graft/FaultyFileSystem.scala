package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash-at-every-IO-boundary injection for the IndexGen/AnnIndex fuzz
  * specs: a `faulty://` filesystem that delegates to the local fs but
  * consults a global mutation budget before EVERY mutating call
  * (create / rename / delete / mkdirs). When the budget is exhausted
  * the mutation — and every one after it, until the harness re-arms —
  * throws, so the on-disk state a "crashed" operation leaves behind is
  * exactly a prefix of its mutation sequence: the faithful model of a
  * process killed at that IO boundary.
  *
  * Two injection modes, because the code under test catches different
  * things:
  *  - KILL ([[InjectedKill]], an Error): nothing in IndexGen/AnnIndex
  *    (or plain Scala/Hadoop library code) catches Error, so no
  *    recovery/rollback code runs — a true kill. Used by the protocol
  *    tier, which drives IndexGen directly.
  *  - ABORT ([[InjectedAbort]], an IOException): Spark task runners
  *    treat Errors as fatal (they can escalate past the test harness),
  *    so the tier that fuzzes through real parquet writes injects an
  *    IOException instead — the job aborts and cleanup best-effort
  *    runs, which models a failed-and-abandoned write rather than a
  *    kill. IndexGen's own kill windows are the protocol tier's job.
  */
object FaultInjector {
  final class InjectedKill extends Error("injected crash (kill)")
  final class InjectedAbort extends java.io.IOException("injected crash (abort)")

  @volatile private var armed = false
  @volatile private var killMode = true
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var crashAt = Int.MaxValue
  @volatile private var scope: Path => Boolean = _ => true

  /** Arm the injector: the `at`-th mutation from now (0-based) and all
    * later ones throw. `kill` picks the mode (see class doc); `only`
    * limits counting and failing to mutations of matching paths (a
    * rename matches when either side does). */
  def arm(at: Int, kill: Boolean, only: Path => Boolean = _ => true): Unit = {
    crashAt = at
    killMode = kill
    scope = only
    counter.set(0)
    armed = true
  }

  def disarm(): Unit = armed = false

  /** True when `t` (or anything in its cause chain / Spark wrapping)
    * is one of ours — the harness's "this failure was injected" test. */
  def isInjected(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 20) {
      if (c.isInstanceOf[InjectedKill] || c.isInstanceOf[InjectedAbort]) return true
      // Spark renders task failures into exception MESSAGES when it
      // re-throws on the driver — the chain alone is not enough
      if (c.getMessage != null && c.getMessage.contains("injected crash")) return true
      c = c.getCause
      depth += 1
    }
    false
  }

  private[graft] def gate(paths: Path*): Unit =
    if (armed && paths.exists(scope) && counter.getAndIncrement() >= crashAt) {
      if (killMode) throw new InjectedKill else throw new InjectedAbort
    }
}

class FaultyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")

  /** The local filesystem this one wraps, for permission lookups. */
  private lazy val local = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), getConf)
    fs
  }

  // RawLocalFileSystem's statuses load their permissions lazily from a
  // java.io.File built from the status's own URI, which throws for a
  // faulty:// one (`URI scheme is not "file"`) — e.g. when listFiles
  // wraps each status in a LocatedFileStatus. Statuses handed out here
  // carry the permissions of the wrapped local path instead.
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map { st =>
      val perm = local.getFileStatus(new Path(st.getPath.toUri.getPath))
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, perm.getPermission, perm.getOwner,
        perm.getGroup, st.getPath)
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    FaultInjector.gate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultInjector.gate(src, dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultInjector.gate(f)
    super.delete(f, recursive)
  }

  // RawLocalFileSystem overrides BOTH mkdirs arities directly (the
  // 1-arg one does not route through the 2-arg one) — gate both
  override def mkdirs(f: Path): Boolean = {
    FaultInjector.gate(f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultInjector.gate(f)
    super.mkdirs(f, permission)
  }
}
