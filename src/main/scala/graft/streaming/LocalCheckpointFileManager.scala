package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption,
  FileAlreadyExistsException => NioFileAlreadyExistsException}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint and state-store file manager that forks no
  * process on the local file system. [[graft.GraftSession]] installs
  * it through `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Spark's default manager goes through Hadoop's `FileContext`, whose
  * local file system sets permissions by running `chmod` and resolves
  * renames through `readlink`, one process per checkpoint or state
  * file (about 2.4 ms each; 236 processes for one q187 lane at
  * sf0.01). For a `file:` path this manager writes with java.nio
  * instead: a temp file in the target's directory, then an atomic
  * rename on `close`. Without overwrite it publishes with a hard link,
  * so an existing target still raises `FileAlreadyExistsException`
  * and keeps its bytes (an atomic rename would replace it). It reads,
  * lists and deletes through Hadoop's raw local file system, which
  * forks nothing for those calls. Every other scheme goes to the
  * manager Spark itself would create. Spark's checkpoint checksum
  * wrapper, when enabled, wraps this manager as it wraps its own. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case fs: LocalFileSystem =>
      new NioCheckpointFiles(path, fs.getRawFileSystem.asInstanceOf[RawLocalFileSystem])
    case fs: RawLocalFileSystem => new NioCheckpointFiles(path, fs)
    case _ =>
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}

/** The `file:` half of [[LocalCheckpointFileManager]]. */
private class NioCheckpointFiles(root: Path, fs: RawLocalFileSystem)
    extends CheckpointFileManager {

  private def local(p: Path) = fs.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try {
            underlyingStream.close()
            if (overwriteIfPossible) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
            else try Files.createLink(target, temp) catch {
              case _: NioFileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists")
            }
          } finally Files.deleteIfExists(temp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close() finally Files.deleteIfExists(temp)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))
  override def exists(p: Path): Boolean = fs.exists(p)
  override def delete(p: Path): Unit = fs.delete(p, true)
  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(root)
    mkdirs(qualified)
    qualified
  }
}
