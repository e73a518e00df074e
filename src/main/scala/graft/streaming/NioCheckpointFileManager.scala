package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing
  .CheckpointFileManager.CancellableFSDataOutputStream

/**
 * Checkpoint file manager of the streaming replays ([[Replay]]). On a
 * local (`file:`) checkpoint it creates files and directories through
 * `java.nio`: Hadoop's local filesystem, without its native library,
 * forks a `chmod` process for every file, checksum file and directory it
 * creates (`RawLocalFileSystem.setPermission`), several per micro-batch
 * trigger. A file is written to a temp file beside it and moved into
 * place atomically on close, or deleted on cancel — the rename contract
 * of Spark's own managers, without a checksum file. Everything else, and
 * every non-local path, goes through Spark's FileSystem-based manager.
 */
final class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val hadoop = new FileSystemBasedCheckpointFileManager(path, conf)
  private val fs = path.getFileSystem(conf)

  /** `p` as a local path, when the checkpoint is on the local disk. */
  private def local(p: Path): Option[java.nio.file.Path] =
    if (fs.getScheme != "file") None
    else Some(Paths.get(fs.makeQualified(p).toUri))

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = local(p) match {
    case None => hadoop.createAtomic(p, overwriteIfPossible)
    case Some(target) =>
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(Files.newOutputStream(temp)) {
        private var closed = false
        override def close(): Unit = synchronized {
          if (!closed) {
            closed = true
            try {
              super.close()
              if (!overwriteIfPossible && Files.exists(target))
                throw new FileAlreadyExistsException(
                  s"failed to rename $temp to $target: the destination exists")
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
            } finally Files.deleteIfExists(temp)
          }
        }
        override def cancel(): Unit = synchronized {
          if (!closed) {
            closed = true
            try super.close() finally Files.deleteIfExists(temp)
          }
        }
      }
  }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None    => hadoop.mkdirs(p)
  }

  override def createCheckpointDirectory(): Path = {
    val q = fs.makeQualified(path)
    mkdirs(q)
    q
  }

  override def open(p: Path): FSDataInputStream = hadoop.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    hadoop.list(p, filter)
  override def exists(p: Path): Boolean = hadoop.exists(p)
  override def delete(p: Path): Unit = hadoop.delete(p)
  override def isLocal: Boolean = hadoop.isLocal
  override def close(): Unit = hadoop.close()
}
