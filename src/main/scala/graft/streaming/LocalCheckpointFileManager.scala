package graft.streaming

import java.io.{BufferedOutputStream, File, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException, StandardOpenOption,
  Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, FilterFileSystem, Path, PathFilter,
  RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager [[ReplicationSession]] installs: the
  * offset log, the commit log and the state-store files of every query on
  * its session. Structured Streaming's checkpoint is this engine's
  * delivery contract, the reference's acked standby-status position.
  *
  * For `file:` paths every call is java.nio and starts no process.
  * Without the native Hadoop library, Spark's default `FileContext`
  * manager makes Hadoop's `Shell` fork a `chmod` on every create and
  * mkdir and a `readlink` on every rename: about 100 processes per
  * micro-batch of a stateful query. Any other scheme delegates to the
  * manager Spark would have picked, so HDFS and object stores behave as
  * before.
  *
  * Spark's contract, kept here:
  *  - `createAtomic` writes a scratch `.<name>.<uuid>.tmp` beside the
  *    target ([[Durable.scratchFor]]); `close` publishes it, `cancel`
  *    deletes it and publishes nothing;
  *  - a publish without overwrite fails with Hadoop's
  *    `FileAlreadyExistsException` when the target exists, and of two
  *    racing writers exactly one wins ([[Durable.publish]]);
  *    `HDFSMetadataLog` relies on that type to detect a second writer;
  *  - a replaced or deleted file loses its `.<name>.crc` sidecar, which a
  *    checksummed reader of an older checkpoint would otherwise check the
  *    new bytes against;
  *  - `list` hides scratch files and `.crc` sidecars, like Hadoop's
  *    checksummed local file system. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    // `file:` is Hadoop's checksummed wrapper around the raw local FS
    (path.getFileSystem(hadoopConf) match {
      case f: FilterFileSystem => f.getRawFileSystem
      case f => f
    }) match {
      case local: RawLocalFileSystem => new LocalCheckpointFileManager.Nio(local, path)
      // what Spark builds when no manager class is set
      case _ =>
        try new FileContextBasedCheckpointFileManager(path, hadoopConf)
        catch {
          case _: UnsupportedFileSystemException =>
            new FileSystemBasedCheckpointFileManager(path, hadoopConf)
        }
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
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

private[streaming] object LocalCheckpointFileManager {

  /** A sidecar the checkpoint's listers must not see: a scratch file of
    * an unfinished write, or Hadoop's checksum of a file. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".tmp") || name.endsWith(".crc"))

  /** The nio half, for the manager of checkpoint dir `root`. `raw` only
    * qualifies paths, opens files to read and sizes blocks: none of that
    * reads a permission, which is what makes Hadoop's local statuses
    * fork. */
  private final class Nio(raw: FileSystem, root: Path) extends CheckpointFileManager {

    private def qualify(p: Path): Path = raw.makeQualified(p)
    private def file(p: Path): NioPath = new File(qualify(p).toUri.getPath).toPath
    private def crc(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      val scratch = Durable.scratchFor(target)
      new CancellableFSDataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(scratch, StandardOpenOption.CREATE_NEW,
            StandardOpenOption.WRITE))) {
        private var done = false

        /** Closes the stream once; publishes only from `close`. No path
          * leaves the scratch behind. */
        private def finish(publish: Boolean): Unit = synchronized {
          if (!done) {
            done = true
            try {
              super.close()
              if (publish) {
                if (overwriteIfPossible) Files.deleteIfExists(crc(target))
                Durable.publish(scratch, target, overwriteIfPossible)
              }
            } catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists")
            } finally { Files.deleteIfExists(scratch); () }
          }
        }

        override def close(): Unit = finish(publish = true)
        override def cancel(): Unit = finish(publish = false)
      }
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    /** Like Hadoop's local listing: a missing path throws, a file lists
      * itself, and an entry deleted after the directory read is skipped. */
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = qualify(p)
      val f = file(dir)
      val all = Option(f.toFile.list()) match {
        case Some(names) => names.toSeq.filterNot(hidden)
          .flatMap(n => status(f.resolve(n), new Path(dir, n)))
        case None => status(f, dir).orElse(
          throw new FileNotFoundException(s"$dir does not exist")).toSeq
      }
      all.filter(s => filter.accept(s.getPath)).toArray
    }

    /** A status from one `stat`, or None if the path is gone. It carries
      * no owner, group or permission: nothing in a checkpoint reads them. */
    private def status(f: NioPath, p: Path): Option[FileStatus] =
      try {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1,
          raw.getDefaultBlockSize(p), a.lastModifiedTime.toMillis, p))
      } catch { case _: NoSuchFileException => None }

    override def mkdirs(p: Path): Unit = { Files.createDirectories(file(p)); () }

    override def exists(p: Path): Boolean = Files.exists(file(p))

    override def delete(p: Path): Unit = {
      val f = file(p)
      Durable.delTree(f.toFile)
      Files.deleteIfExists(crc(f))
      ()
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val q = qualify(root)
      mkdirs(q)
      q
    }
  }
}
