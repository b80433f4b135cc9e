package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every graft stream
  * (`spark.sql.streaming.checkpointFileManagerClass`, installed by
  * [[StreamRun.start]]).
  *
  * Spark's own choice for a `file:` checkpoint is Hadoop's `FileContext`
  * over the checksummed local filesystem. Without Hadoop's native library
  * that path starts a `chmod` process on every create and a `readlink`
  * process on every rename (about 7.5 ms each on a 4-vCPU VM), and a
  * micro-batch writes a dozen checkpoint files (offsets, commits, source
  * log, state-store deltas and their checksum sidecars). On `file:` paths
  * this manager writes with java.nio instead and starts no process:
  *
  *  - `createAtomic` writes a hidden `.<name>.<uuid>.tmp` beside the target
  *    and publishes it on `close` by a rename: atomic and replacing when
  *    `overwriteIfPossible`, else a plain move that throws Hadoop's
  *    `FileAlreadyExistsException` on an existing target (what
  *    `HDFSMetadataLog` expects); `cancel` deletes the temp file. A crash
  *    mid-write leaves only the hidden temp file, which Spark's listings
  *    skip. Like Spark's local managers it does not fsync;
  *  - `open`, `list`, `exists` and `delete` use Hadoop's raw local
  *    filesystem and `mkdirs` java.nio, neither of which forks;
  *  - no `.crc` sidecars are written, and a stale `.<name>.crc` left by
  *    Hadoop's checksummed filesystem is removed when its file is published
  *    again or deleted, so no checksummed reader trips over it.
  *
  * Every other scheme goes to the manager Spark picks by itself
  * (`FileContextBasedCheckpointFileManager`, falling back to
  * `FileSystemBasedCheckpointFileManager`). */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager =
    LocalCheckpointFiles.pick(path, hadoopConf)

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = impl.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  def mkdirs(p: Path): Unit = impl.mkdirs(p)
  def exists(p: Path): Boolean = impl.exists(p)
  def delete(p: Path): Unit = impl.delete(p)
  def isLocal: Boolean = impl.isLocal
  def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {
  /** Spark's conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** java.nio for `file:` paths (a path without a scheme takes the default
    * filesystem's); Spark's own manager for any other scheme. */
  private[graft] def pick(path: Path, conf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new NioFiles(path, conf)
    else {
      val sparkChoice = new Configuration(conf)
      sparkChoice.unset(ConfKey)
      CheckpointFileManager.create(path, sparkChoice)
    }
  }

  private final class NioFiles(path: Path, conf: Configuration)
      extends CheckpointFileManager {
    private val fs = FileSystem.getLocal(conf).getRaw.asInstanceOf[RawLocalFileSystem]

    private def local(p: Path): NioPath = fs.pathToFile(p).toPath

    def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new Publish(new BufferedOutputStream(Files.newOutputStream(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16),
        tmp, target, overwriteIfPossible)
    }

    def open(p: Path): FSDataInputStream = fs.open(p)
    def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    def mkdirs(p: Path): Unit = Files.createDirectories(local(p))
    def exists(p: Path): Boolean = fs.exists(p)

    def delete(p: Path): Unit = {
      fs.delete(p, true)
      Files.deleteIfExists(crcOf(local(p)))
    }

    def isLocal: Boolean = true

    def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(path)
      Files.createDirectories(local(q))
      q
    }
  }

  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Writes `tmp`; `close` publishes it as `target`, `cancel` drops it. */
  private final class Publish(stream: OutputStream, tmp: NioPath,
                              target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(stream) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else Files.move(tmp, target)
        } catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(tmp)
            throw new FileAlreadyExistsException(
              s"checkpoint file $target already exists: ${e.getMessage}")
          case e: Throwable =>
            Files.deleteIfExists(tmp)
            throw e
        }
        Files.deleteIfExists(crcOf(target))
      }
    }

    def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case NonFatal(_) => () }
        Files.deleteIfExists(tmp)
      }
    }
  }
}
