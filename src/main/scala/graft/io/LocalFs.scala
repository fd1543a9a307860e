package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` without its process forks. Without
  * `libhadoop.so` Hadoop shells out to `chmod` on every file create and
  * mkdir, and to `readlink` on every `getFileLinkStatus` (each rename
  * check); a fork costs milliseconds, and a streaming trigger's state
  * store and WAL commit does dozens of creates and renames. Two methods
  * change; everything else is Hadoop's:
  *
  *  - `setPermission` goes through `java.nio`. A sticky-bit mode has no
  *    `PosixFilePermission` and still takes Hadoop's path.
  *  - `getFileLinkStatus` of a non-symlink is `getFileStatus`, which is
  *    what Hadoop returns there too: its `readlink` runs on the path's
  *    `file:` URI string, never a real file, and always yields "". A
  *    symlink still takes Hadoop's path. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` (the `FileContext`
  * view of the raw local filesystem) over [[NoForkRawLocalFileSystem]]. */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("Hadoop deprecates AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `org.apache.hadoop.fs.local.LocalFs`: the checksummed
  * `file:` filesystem of `FileContext`, so `.crc` files and checkpoint
  * layout are Hadoop's own, over the fork-free [[RawLocalFs]]. Like
  * Hadoop's, it ignores `uri` and serves `file:///`. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(conf))

object LocalFs {
  /** Hadoop key naming the `AbstractFileSystem` class of `file:` URIs. */
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** Route this session's `FileContext` I/O on `file:` paths through
    * [[LocalFs]]: set the session conf [[ImplKey]]. Spark's streaming
    * checkpoint (state store delta and checksum files, offset and
    * commit logs) reads its Hadoop conf from the session
    * (`SessionState.newHadoopConf()` copies session confs), and
    * `AbstractFileSystem` has no instance cache, so queries started after
    * this call use it. HDFS, S3 and every other scheme are untouched, as
    * is the `FileSystem` API (parquet writes, output committers).
    *
    * A user's value always wins: nothing is set when the session conf
    * already names an implementation, or when the SparkContext's Hadoop
    * conf got one from anywhere but Hadoop's `core-default.xml` (a
    * `spark.hadoop.` key, a site file). Idempotent; every public
    * streaming-EMF lowering calls it. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ImplKey).isEmpty &&
        !userConfigured(spark.sparkContext.hadoopConfiguration))
      spark.conf.set(ImplKey, classOf[LocalFs].getName)

  /** Whether `conf` sets [[ImplKey]] from a source other than Hadoop's
    * defaults. */
  private[io] def userConfigured(conf: Configuration): Boolean =
    Option(conf.getPropertySources(ImplKey)).exists(_.exists(_ != "core-default.xml"))
}
