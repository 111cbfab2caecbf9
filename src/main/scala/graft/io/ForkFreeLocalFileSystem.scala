package graft.io

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem with permission changes made by a syscall.
  *
  * Spark's jars ship without `libhadoop`, so the stock `RawLocalFileSystem`
  * runs `setPermission` as a `chmod` child process: one fork for every
  * file, `.crc` sidecar and directory a write creates. This raw
  * filesystem sets the same mode bits through `java.nio` instead. Modes
  * the POSIX view cannot express go to Hadoop's own path: a sticky bit
  * asked for, a setuid/setgid bit already on the path (GNU `chmod`
  * keeps a directory's), or a file store without a POSIX view.
  * TableIOSpec compares the two on twin files and directories.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
      // the view sets the 0777 bits; 07000 are setuid, setgid and sticky
      if (view == null || mode > 0x1ff || (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
        super.setPermission(p, permission)
      else view.setPermissions(permissions(mode))
    }
  }

  /** The enum lists owner, group, others, each read, write, execute: the
    * bits 0400 down to 0001. */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((b, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0) set.add(b)
    set
  }

  /** The Hadoop options every `graft.io` table write under `dir` passes:
    * on the local filesystem they bind this one, on any other scheme they
    * are empty. Spark merges writer options into the write job's Hadoop
    * conf, so the driver's commit and every task's writer and committer
    * see them. Hadoop caches filesystems by scheme and user, not by conf,
    * so the cache is off for these writes. */
  def writeOptions(spark: SparkSession, dir: String): Map[String, String] = {
    val scheme = Option(new Path(dir).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    if (scheme != "file") Map.empty
    else Map("fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true")
  }
}
