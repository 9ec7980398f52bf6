package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide counts of metadata calls on the `file:` scheme, fed by
  * [[CountingFs]] (the FileSystem API) and [[CountingAfs]] (the FileContext
  * API that streaming checkpoints use). Hadoop's own local-FS statistics
  * move only their byte counters on these calls, so they are counted here. */
object FsCounters {
  val list, create, rename, delete, mkdirs = new LongAdder

  /** Bytes written through any `file:` FileSystem, from Hadoop's own
    * statistics (every local write ends in a RawLocalFileSystem stream). */
  @annotation.nowarn("cat=deprecation")
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum

  def snapshot(): Map[String, Long] = Map(
    "list_calls" -> list.sum, "create_calls" -> create.sum,
    "rename_calls" -> rename.sum, "delete_calls" -> delete.sum,
    "mkdirs_calls" -> mkdirs.sum, "bytes_written" -> bytesWritten())

  def delta(from: Map[String, Long], to: Map[String, Long]): Map[String, Long] =
    to.map { case (k, v) => k -> (v - from.getOrElse(k, 0L)) }
}

/** `LocalFileSystem` that counts list/create/rename/delete/mkdirs calls;
  * installed with `spark.hadoop.fs.file.impl` in traced runs. */
class CountingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.list.increment(); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    FsCounters.list.increment(); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCounters.list.increment(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsCounters.create.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsCounters.create.increment()
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounters.create.increment()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounters.rename.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.delete.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { FsCounters.mkdirs.increment(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounters.mkdirs.increment(); super.mkdirs(f, permission)
  }
}

/** Raw local AbstractFileSystem under [[CountingAfs]] (the public twin of
  * Hadoop's package-private `RawLocalFs`). */
class CountingRawAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def isValidName(src: String): Boolean = true
}

/** Checksummed local AbstractFileSystem that counts the same calls as
  * [[CountingFs]]; installed with `spark.hadoop.fs.AbstractFileSystem.file.impl`. */
class CountingAfs(uri: URI, conf: Configuration)
    extends ChecksumFs(new CountingRawAfs(uri, conf)) {
  override def createInternal(f: Path, flag: EnumSet[CreateFlag],
      absolutePermission: FsPermission, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: Options.ChecksumOpt,
      createParent: Boolean): FSDataOutputStream = {
    FsCounters.create.increment()
    super.createInternal(f, flag, absolutePermission, bufferSize, replication,
      blockSize, progress, checksumOpt, createParent)
  }
  override def renameInternal(src: Path, dst: Path): Unit = {
    FsCounters.rename.increment(); super.renameInternal(src, dst)
  }
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    FsCounters.rename.increment(); super.renameInternal(src, dst, overwrite)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.delete.increment(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.list.increment(); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    FsCounters.list.increment(); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCounters.list.increment(); super.listLocatedStatus(f)
  }
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit = {
    FsCounters.mkdirs.increment(); super.mkdir(dir, permission, createParent)
  }
}
