package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FsConstants, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystem`-based checkpoint manager over a local file system
  * that sets permissions in-process. Without the native Hadoop library,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and the
  * checksummed local file system calls it for every file it creates and
  * for that file's `.crc` (plus every directory `mkdirs` makes). Here it
  * goes through `java.nio.file.Files.setPosixFilePermissions`: the same
  * mode bits, the same `.crc` files and the same write-to-temp-then-rename
  * commit, with no process started.
  *
  * A checkpoint path on any other file system keeps the one Hadoop
  * resolves for it. Spark instantiates the class by name from
  * `spark.sql.streaming.checkpointFileManagerClass`, with this
  * constructor. */
private[streaming] class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override protected val fs: FileSystem = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem =>
      val local = new LocalFileSystem(new LocalCheckpointFileManager.InProcessChmod)
      // configured before initialize, as FileSystem.get does: the file
      // system reads its buffer and checksum sizes from the conf
      local.setConf(hadoopConf)
      local.initialize(FsConstants.LOCAL_FS_URI, hadoopConf)
      local
    case other => other
  }
}

private[streaming] object LocalCheckpointFileManager {

  /** `PosixFilePermission.values` in mode-bit order, owner read (0400)
    * first. */
  private val ModeBits = PosixFilePermission.values.toSeq

  /** Hadoop's local file system with `setPermission` in-process. The
    * checkpoint manager's files and directories get the default modes
    * under the umask, which carry only the nine `rwx` bits. */
  private final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      ModeBits.zipWithIndex.foreach { case (bit, i) =>
        if ((mode >> (8 - i) & 1) == 1) bits.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }
}
