package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, FsConstants, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager [[Continuous]]'s bounded streams run under
  * (installed through `spark.sql.streaming.checkpointFileManagerClass` by
  * its scope helper).
  *
  * Without the native hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file and directory it creates, and FileContext's
  * rename forks `stat`/`ls` on top: one metadata-log write through Spark's
  * default manager launches about ten processes, and every commit writes
  * three logs (`sources/0/N`, `offsets/N`, `commits/N`).
  *
  * For `file:` paths this is Spark's `FileSystemBasedCheckpointFileManager`
  * over a checksummed `LocalFileSystem` whose raw layer applies the same
  * `FsPermission` through `java.nio` ([[NioRawLocalFileSystem]]): the
  * files, their `.crc` siblings, the modes and the no-overwrite rename
  * (`FileAlreadyExistsException`, which `HDFSMetadataLog` relies on to
  * detect a concurrent writer) are the default manager's, minus the
  * process launches. Any other scheme gets Spark's default
  * `FileContextBasedCheckpointFileManager`, unchanged. */
class ForkFreeCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file")
      new FileSystemBasedCheckpointFileManager(path, conf) {
        override protected val fs: FileSystem = {
          val local = new LocalFileSystem(new NioRawLocalFileSystem)
          local.setConf(conf)
          local.initialize(FsConstants.LOCAL_FS_URI, conf)
          local
        }
      }
    else new FileContextBasedCheckpointFileManager(path, conf)
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

/** `RawLocalFileSystem` that sets permissions with
  * `Files.setPosixFilePermissions` instead of forking `chmod` — the same
  * nine mode bits. A sticky-bit mode, which NIO cannot express, and a
  * filesystem without POSIX attributes keep Hadoop's own path. */
private[graft] class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort.toInt
      // values() runs OWNER_READ .. OTHERS_EXECUTE: mode bits 8 .. 0
      val bits = PosixFilePermission.values.zipWithIndex.collect {
        case (b, i) if (mode >> (8 - i) & 1) == 1 => b }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      catch { case _: UnsupportedOperationException =>
        super.setPermission(p, permission) }
      ()
    }
}
