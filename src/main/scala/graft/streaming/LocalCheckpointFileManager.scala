package graft.streaming

import java.io.{BufferedOutputStream, File, FileNotFoundException}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption, StandardOpenOption,
  FileAlreadyExistsException => NioFileExists, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.{Comparator, UUID}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path,
  PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Structured Streaming's checkpoint file manager for local (`file:`)
  * checkpoints, installed as the default of Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` by this project's
  * `core-site.xml`; a session conf naming another class still wins.
  *
  * Why: without the native Hadoop library, Spark's default
  * (`FileContextBasedCheckpointFileManager`) forks `readlink` and
  * `chmod` processes for every atomic write and its `.crc` sidecar,
  * ~26 ms per offset-log or commit-log entry. Here `file:` paths
  * (and scheme-less ones when the default file system is local) go
  * through `java.nio` and fork nothing:
  *  - [[createAtomic]] writes a hidden temp file beside the target,
  *    `fsync`s it, publishes it and `fsync`s the directory, all before
  *    `close()` returns. Hadoop's local file system never `fsync`s, so
  *    the offset WAL is more durable here than under Spark's default.
  *  - A no-clobber publish is link(2) then unlink of the temp: an
  *    existing target is left untouched and Hadoop's
  *    `FileAlreadyExistsException` is thrown, which is how
  *    `HDFSMetadataLog` detects a concurrent writer. An overwriting
  *    publish is one atomic rename.
  *  - Files are written without Hadoop's `.<name>.crc` sidecar. A stale
  *    sidecar (left by a checkpoint begun under Spark's default) is
  *    removed on publish and delete, so Hadoop's checksummed readers
  *    never check new bytes against an old checksum; listings hide the
  *    sidecars as `ChecksumFs` does.
  *
  * Every other scheme (hdfs, s3a, …) goes to the manager Spark itself
  * would pick: FileContext, or FileSystem when FileContext does not
  * support the scheme.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val impl: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new NioCheckpointFiles
    else sparkDefault(path, hadoopConf)

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

  /** The `file:` implementation: NIO for every write, stat and listing;
    * Hadoop's raw local file system only to open streams and qualify
    * paths, neither of which forks. */
  private final class NioCheckpointFiles extends CheckpointFileManager {
    private val raw = FileSystem.getLocal(hadoopConf).getRaw

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(target, tmp, overwriteIfPossible,
        FileChannel.open(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val f = file(p)
      val names = f.toFile.list()
      if (names == null) throw new FileNotFoundException(s"$p is not a listable directory")
      val base = raw.makeQualified(p)
      names.filterNot(isChecksumFile).sorted
        .map(new Path(base, _)).filter(filter.accept)
        .flatMap(c => status(c, f.resolve(c.getName)))
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))

    override def exists(p: Path): Boolean = Files.exists(file(p))

    /** Recursive, and a missing path is not an error: the contract of
      * Spark's managers. */
    override def delete(p: Path): Unit = {
      val f = file(p)
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val tree = Files.walk(f)
        try tree.sorted(Comparator.reverseOrder[NioPath]()).forEach(x => Files.deleteIfExists(x))
        finally tree.close()
      } else Files.deleteIfExists(f)
      dropChecksum(f)
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val q = raw.makeQualified(path)
      Files.createDirectories(file(q))
      q
    }

    private def file(p: Path): NioPath = {
      val u = p.toUri
      require(u.getScheme == null || u.getScheme == "file", s"$p is not a local path")
      new File(u.getPath).getAbsoluteFile.toPath
    }

    /** `None` when the entry vanished between listing and stat. */
    private def status(p: Path, f: NioPath): Option[FileStatus] =
      try {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, raw.getDefaultBlockSize(p),
          a.lastModifiedTime.toMillis, p))
      } catch { case _: NoSuchFileException => None }
  }
}

object LocalCheckpointFileManager {

  /** `file:`, or no scheme under a local default file system. */
  def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The manager `CheckpointFileManager.create` picks when no class is
    * configured. Built directly: going through `create` with this class
    * configured would instantiate this class again. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, conf)
    catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    }

  /** Bytes go to `tmp`; `close()` makes them durable and visible at
    * `target`, `cancel()` (or any failure) removes `tmp`. */
  private final class AtomicOutput(target: NioPath, tmp: NioPath, overwrite: Boolean, ch: FileChannel)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Channels.newOutputStream(ch))) {
    private var finished = false

    override def close(): Unit = synchronized {
      if (!finished) {
        finished = true
        try {
          flush()
          ch.force(true)
          super.close()
          publish()
        } catch {
          case e: Throwable =>
            ch.close()
            Files.deleteIfExists(tmp)
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!finished) {
        finished = true
        try ch.close() finally Files.deleteIfExists(tmp)
      }
    }

    private def publish(): Unit = {
      if (overwrite) {
        dropChecksum(target)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(target, tmp)
        catch { case _: NioFileExists => throw new FileAlreadyExistsException(s"$target already exists") }
        Files.delete(tmp)
        dropChecksum(target)
      }
      val dir = FileChannel.open(target.getParent, StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    }
  }

  private def dropChecksum(f: NioPath): Unit =
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))

  /** Hadoop's `ChecksumFs` sidecar naming: `.<name>.crc`. */
  private def isChecksumFile(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")
}
