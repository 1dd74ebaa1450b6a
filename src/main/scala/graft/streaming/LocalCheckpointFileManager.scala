package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Streaming checkpoint file manager for `file:` paths that forks no
  * process.
  *
  * Without libhadoop, Hadoop's local file system sets the mode of every
  * file and directory it creates with a forked `chmod`
  * (`RawLocalFileSystem.setPermission`), and the `FileContext` rename of
  * Spark's default manager forks `readlink`s on top; each fork copies
  * the page tables of a multi-GB JVM, and a micro-batch writes a dozen
  * checkpoint files (offsets, commits, state deltas). This manager is
  * Spark's `FileSystem`-based one — `createAtomic` writes a hidden temp
  * file and `FileSystem.rename` (a local `rename(2)`, atomic) replaces
  * the target on `close`; `cancel` deletes the temp file — over a
  * checksummed `LocalFileSystem` whose raw layer sets modes with one
  * `java.nio` call. `list` runs through the checksummed layer, so `.crc`
  * sidecars stay hidden. On disk the result is what the default manager
  * writes: the same files, `.crc` sidecars and POSIX modes.
  *
  * Non-`file:` paths are rejected. Turned on per query by
  * [[graft.core.Tables.streaming]] through
  * `spark.sql.streaming.checkpointFileManagerClass`; Spark's
  * `ChecksumCheckpointFileManager` still wraps it for state-store files.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf), hadoopConf) {

  override protected val fs: FileSystem = {
    // FileSystem.get's construction sequence: setConf, then initialize
    val local = new LocalFileSystem(new LocalCheckpointFileManager.NioRawLocalFileSystem)
    local.setConf(hadoopConf)
    local.initialize(URI.create("file:///"), hadoopConf)
    local
  }
}

object LocalCheckpointFileManager {

  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"${classOf[LocalCheckpointFileManager].getName} handles only file: " +
        s"paths, got $path; run streams on other file systems outside " +
        "graft.core.Tables.streaming")
    path
  }

  /** `RawLocalFileSystem` whose `setPermission` is one `chmod(2)` through
    * `java.nio` instead of a forked `chmod`. `java.nio` cannot set the
    * sticky bit, so a mode carrying it keeps Hadoop's path. */
  final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // PosixFilePermission.values runs owner rwx, group rwx, others
        // rwx: the mode bits 0400 down to 0001
        val bits = permission.toShort
        val modes = PosixFilePermission.values.zipWithIndex
          .collect { case (m, i) if (bits & (0x100 >> i)) != 0 => m }
        Files.setPosixFilePermissions(pathToFile(p).toPath, modes.toSet.asJava)
      }
  }
}
