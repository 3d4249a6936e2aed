package graft.sources

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataOutputStream,
  FileAlreadyExistsException, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault injection for crash sweeps: the local filesystem under its own
  * scheme, `faultfs:` (no other suite uses it), counting every `create`
  * and `rename` under an armed root and failing the Nth one.
  *
  * Registered for both Hadoop APIs by [[install]]: `fs.faultfs.impl` is
  * [[FaultFileSystem]] (a `FilterFileSystem`) and
  * `fs.AbstractFileSystem.faultfs.impl` is [[FaultAbstractFs]], so
  * `FileContext` renames are intercepted as well. `RawLocalFileSystem`
  * rejects foreign schemes, so the wrapped filesystem is a local one
  * that reports `faultfs:///` as its URI: a `faultfs:/x/y` path maps to
  * the local file `/x/y`, and every status it returns carries the
  * `faultfs:` path again.
  *
  * State is JVM-global (local-mode tasks run in this JVM), so arm one
  * operation at a time. */
object FaultFs {
  val Scheme = "faultfs"
  private val FsUri = URI.create(s"$Scheme:///")

  /** The local filesystem answering to `faultfs:` URIs. Its statuses
    * are plain copies: the local ones load their permissions lazily from
    * `new File(path.toUri)`, which only takes `file:` URIs. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = FsUri

    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

    private def plain(st: FileStatus): FileStatus =
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getPath)
  }

  /** The injected failure. */
  final class Injected(msg: String) extends java.io.IOException(msg)

  @volatile private var root: String = null
  @volatile private var failAt = 0
  @volatile private var quietRename = false
  private val events = new AtomicInteger()

  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[FaultAbstractFs].getName)
  }

  /** The `faultfs:` path of absolute local path `local`. */
  def path(local: String): String = s"$Scheme://$local"

  /** Run `op` counting the creates and renames under local dir `under`;
    * returns the count. */
  def count(under: String)(op: => Unit): Int = {
    arm(under, 0, quiet = false)
    try { op; events.get } finally disarm()
  }

  /** Run `op` with the `n`th create or rename under local dir `under`
    * failing: by throwing [[Injected]], or, with `quiet`, a rename by
    * returning false (the `FileSystem.rename` failure signal). Returns
    * what `op` threw, or None if it completed. */
  def failing(under: String, n: Int, quiet: Boolean = false)(
      op: => Unit): Option[Throwable] = {
    arm(under, n, quiet)
    try { op; None } catch { case t: Throwable => Some(t) } finally disarm()
  }

  /** Whether `t` or one of its causes is (or reports) an injected failure. */
  def isInjected(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(e =>
      e.isInstanceOf[Injected] || String.valueOf(e.getMessage).contains(InjectedTag))

  private val InjectedTag = "injected failure of"

  private def arm(under: String, n: Int, quiet: Boolean): Unit = {
    events.set(0); failAt = n; quietRename = quiet; root = under
  }

  private def disarm(): Unit = root = null

  /** Count one event on `p`; throws when it is the armed one, or returns
    * true for a quiet rename failure. */
  private[sources] def hit(op: String, p: Path): Boolean = {
    val r = root
    val local = p.toUri.getPath
    if (r == null || !(local == r || local.startsWith(r + "/"))) false
    else {
      val k = events.incrementAndGet()
      if (k != failAt) false
      else if (quietRename && op == "rename") true
      else throw new Injected(s"$InjectedTag $op #$k: $p")
    }
  }
}

/** `fs.faultfs.impl`: [[FaultFs.Local]] with every create and rename
  * counted (and failed when armed). */
class FaultFileSystem extends FilterFileSystem(new FaultFs.Local) {

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.hit("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def create(f: Path, permission: FsPermission,
                      flags: EnumSet[CreateFlag], bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable,
                      checksumOpt: ChecksumOpt): FSDataOutputStream = {
    FaultFs.hit("create", f)
    super.create(f, permission, flags, bufferSize, replication, blockSize,
      progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.hit("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean =
    !FaultFs.hit("rename", dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.faultfs.impl`, the `FileContext` side. A
  * rename is one counted event and, with OVERWRITE, one atomic replace
  * of the destination file (POSIX rename), as on HDFS. The default
  * `AbstractFileSystem` OVERWRITE deletes the destination first and
  * then renames: two steps, so a crash between them would leave no file
  * at all, which is not the commit this filesystem stands in for. */
class FaultAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultFileSystem, conf,
      FaultFs.Scheme, false) {

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    FaultFs.hit("rename", dst)
    val local = fsImpl.asInstanceOf[FilterFileSystem].getRawFileSystem
    if (!overwrite && local.exists(dst))
      throw new FileAlreadyExistsException(s"rename destination $dst exists")
    if (!local.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }
}
