package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint I/O for `file:` paths through `java.nio`: the offset log,
  * the commit log and the state-store files of every stream.
  *
  * Spark's default manager goes through Hadoop's `FileContext` over
  * `RawLocalFileSystem`. Without Hadoop's native library, each atomic
  * write there forks a `readlink` process for every path the rename
  * resolves and a `chmod` for the file and its `.crc` sibling: about ten
  * processes and ~45 ms per log write, twice per micro-batch trigger.
  * This manager makes the same writes with plain file-system calls and
  * forks nothing.
  *
  * - `createAtomic` writes a hidden temp sibling `.<name>.<uuid>.tmp`.
  *   Without overwrite, `close` publishes it with a hard link (so the
  *   checkpoint's file system must support hard links), which fails if
  *   the target exists; the failure is Hadoop's
  *   `FileAlreadyExistsException`, the signal `HDFSMetadataLog` reads as
  *   "another writer won this batch". With overwrite, `close` removes a
  *   stale `.<name>.crc` first, then moves the temp over the target
  *   atomically. `cancel` deletes the temp file.
  * - `list` hides Hadoop's `.crc` siblings, as Hadoop's local file
  *   systems do, so a checkpoint begun under Spark's default manager
  *   resumes under this one, and the other way round.
  * - Durability is that of Hadoop's local path, which this replaces: no
  *   write is fsynced, so a machine crash can lose the latest files,
  *   while a process crash cannot.
  *
  * Any scheme other than `file:` goes to Spark's own default choice
  * (`FileContext`-based, falling back to `FileSystem`-based), so cluster
  * paths behave exactly as without this class.
  *
  * Spark builds the manager named by its checkpoint-manager setting
  * ([[NioCheckpointFileManager.Key]]); [[graft.GraftSession]] sets it,
  * and [[CdcPipeline]] sets it when the caller's session leaves it
  * unset.
  */
final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NioCheckpointFileManager.Local(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(NioCheckpointFileManager.Key)
      CheckpointFileManager.create(path, sparkDefault)
    }
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object NioCheckpointFileManager {

  /** Spark's setting that names the checkpoint manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"
  val ClassName: String = classOf[NioCheckpointFileManager].getName

  private def crcOf(f: java.nio.file.Path): java.nio.file.Path =
    f.resolveSibling(s".${f.getFileName}.crc")

  private def isCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private final class Local(root: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {

    // Hadoop's own path resolution (working directory, `file:` URIs) and
    // its read path, which opens a file without forking
    private val raw: RawLocalFileSystem =
      FileSystem.getLocal(hadoopConf).getRawFileSystem.asInstanceOf[RawLocalFileSystem]

    private def file(p: Path): java.nio.file.Path = raw.pathToFile(p).toPath

    override def createAtomic(p: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      val out = new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
      new CancellableFSDataOutputStream(out) {
        private var done = false

        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try {
              super.close()
              if (overwriteIfPossible) {
                Files.deleteIfExists(crcOf(target))
                Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
              } else {
                try Files.createLink(target, tmp)
                catch {
                  case _: java.nio.file.FileAlreadyExistsException =>
                    throw new FileAlreadyExistsException(s"$p already exists")
                }
              }
            } finally Files.deleteIfExists(tmp)
          }
        }

        override def cancel(): Unit = synchronized {
          if (!done) {
            done = true
            try underlyingStream.close() catch { case NonFatal(_) => }
            Files.deleteIfExists(tmp)
          }
        }
      }
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = raw.makeQualified(p)
      val entries =
        try Files.list(file(p))
        catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
      try entries.iterator().asScala
        .map(f => (f, new Path(dir, f.getFileName.toString)))
        .filter { case (_, hp) => !isCrc(hp.getName) && filter.accept(hp) }
        .map { case (f, hp) =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1,
            raw.getDefaultBlockSize(dir), a.lastModifiedTime.toMillis, hp)
        }
        .toArray
      finally entries.close()
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))

    override def exists(p: Path): Boolean = Files.exists(file(p))

    /** Recursive; a missing path is a no-op. A file's `.crc` sibling
      * goes with it, as under Hadoop's checksummed local file system. */
    override def delete(p: Path): Unit = {
      val f = file(p)
      if (Files.isDirectory(f)) {
        val all = Files.walk(f)
        try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally all.close()
      } else {
        Files.deleteIfExists(f)
        Files.deleteIfExists(crcOf(f))
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      raw.makeQualified(root)
    }
  }
}
