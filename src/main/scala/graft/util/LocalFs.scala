package graft.util

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` file system the market sinks write through: Hadoop's
  * checksummed `LocalFileSystem` over a raw file system that sets
  * permissions in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process per call, and a write calls it for every file, `.crc` file and
  * directory it creates: 183 forks for `MarketPipeline.writeRaw` of one
  * 30-page market day, 2 per ledger commit. Here the same rwx bits are
  * set with `Files.setPosixFilePermissions`; a sticky bit, which NIO
  * cannot set, and a file system without POSIX attributes still go to
  * Hadoop's own call. Files, bytes and permissions are the same either
  * way.
  */
class LocalFs extends LocalFileSystem(new LocalFs.NioPermissions)

object LocalFs {

  private val ImplKey = "fs.file.impl"

  /** The Hadoop keys that route `file:` paths through [[LocalFs]]. The
    * cache must be off with them: Hadoop's `FileSystem` cache key is the
    * scheme, authority and user, not the impl, so the cached default
    * instance would be returned instead.
    */
  private val Keys: Map[String, String] = Map(
    ImplKey -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The routing keys, or none when `conf` names its own `file:` impl. */
  private def keys(conf: Configuration): Map[String, String] =
    if (Option(conf.getTrimmed(ImplKey)).exists(_.nonEmpty)) Map.empty else Keys

  /** The routing keys as `DataFrameWriter` options: Spark copies write
    * options into the write job's Hadoop conf, on the driver (committer,
    * staging directories) and in every task (file writers).
    */
  def writeOptions(spark: SparkSession): Map[String, String] =
    keys(spark.sessionState.newHadoopConf())

  /** `conf` routed through [[LocalFs]], for driver-side writes. */
  def route(conf: Configuration): Configuration = {
    keys(conf).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** `RawLocalFileSystem` with an in-process `setPermission`. */
  final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posixBits(permission.toShort))
    }
  }

  /** The rwx bits of `mode`: `PosixFilePermission` declares OWNER_READ
    * through OTHERS_EXECUTE in mode-bit order, 0400 down to 0001.
    */
  private def posixBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode >> (8 - i) & 1) != 0) bits.add(b)
    }
    bits
  }
}
