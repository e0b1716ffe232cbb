package graft.streaming

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import scala.util.control.NonFatal

/** The local filesystem under its own `faulty` scheme, counting every
  * namespace mutation (create, rename, delete, mkdirs) and failing the
  * ones a test asks for. Every store and sink path reaches its
  * filesystem through `path.getFileSystem(conf)`, so pointing a store at
  * `faulty:///<local dir>` injects faults with no seam in `src/main`.
  *
  * A mutation is one outermost call: the `mkdirs` a `create` makes for
  * its parent is part of that `create`. Counters are JVM-wide, so Spark
  * tasks in local mode count and fail with the driver. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Root
  override def getScheme: String = FaultFs.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    FaultFs.mutate(f)(super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    FaultFs.mutate(f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    FaultFs.mutate(f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    FaultFs.mutate(f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    if (FaultFs.renameFails(dst)) false
    else FaultFs.mutate(src, renameFailure = Some(false))(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FaultFs.mutate(f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean =
    FaultFs.mutate(f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    FaultFs.mutate(f)(super.mkdirs(f, permission))
}

object FaultFs {
  val Scheme = "faulty"
  private val Root = URI.create(s"$Scheme:///")

  /** Register the scheme on `conf`, uncached so every lookup sees the
    * current fault plan. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `faulty` URI of an absolute local path. */
  def uri(localPath: String): String = s"$Scheme://$localPath"

  private val mutations = new AtomicInteger
  @volatile private var crashAtK = 0
  @volatile private var renameOnto: Option[String] = None
  private val nested = new ThreadLocal[Boolean] {
    override def initialValue() = false
  }

  private def mutate[A](p: Path, renameFailure: Option[A] = None)(op: => A): A =
    if (nested.get) op
    else {
      val n = mutations.incrementAndGet()
      val k = crashAtK
      if (k > 0 && n == k && renameFailure.isDefined) renameFailure.get
      else if (k > 0 && n >= k)
        throw new IOException(s"injected crash at mutation $k (call $n on $p)")
      else {
        nested.set(true)
        try op finally nested.set(false)
      }
    }

  private def renameFails(dst: Path): Boolean = renameOnto.contains(dst.getName)

  /** The number of mutations `f` makes. */
  def count(f: => Unit): Int = synchronized {
    mutations.set(0)
    f
    mutations.get
  }

  /** Run `f` as a process that crashes at its `k`-th mutation: that call
    * fails (a rename returns false, anything else throws) and every later
    * mutation throws, so nothing after the crash point reaches the disk.
    * Returns what `f` threw, if anything. */
  def crashAt(k: Int)(f: => Unit): Option[Throwable] = synchronized {
    mutations.set(0)
    crashAtK = k
    try { f; None }
    catch { case NonFatal(t) => Some(t) }
    finally crashAtK = 0
  }

  /** Run `f` with every rename onto a path named `name` returning false. */
  def failRenamesOnto[A](name: String)(f: => A): A = synchronized {
    renameOnto = Some(name)
    try f finally renameOnto = None
  }
}
