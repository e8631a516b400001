package graft.streaming

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.streaming.StreamingQuery

/** A streaming `CheckpointFileManager` whose atomic writes on local disk
  * cost a file write and one link, not a forked process.
  *
  * Spark's default manager (`FileContextBasedCheckpointFileManager`) goes
  * through Hadoop's `FileContext`. Over the local file system without
  * libhadoop, that forks `chmod` for every file it creates and `readlink`
  * for every rename: ~30 ms per atomic write on 4 vCPUs, and a trigger
  * writes three of them (the source log, the offsets WAL, the commit
  * log). Here, for a `file:` path, [[createAtomic]] writes a hidden temp
  * file with java.nio and publishes it in one step:
  *
  *  - no overwrite: one hard link onto the target, which fails when the
  *    target exists (Hadoop's `FileAlreadyExistsException`, the temp file
  *    removed). Where links are unsupported it falls back to an exists
  *    check plus `ATOMIC_MOVE`, the semantics of Spark's
  *    `FileSystemBasedCheckpointFileManager`;
  *  - overwrite: one `ATOMIC_MOVE` over the target, after removing a
  *    stale sibling `.crc` that would fail the checksummed read.
  *
  * Like the default manager it writes no `.crc`, so a checkpoint moves
  * between the two managers in either direction. Reads, lists, `exists`
  * and deletes go to Hadoop's local `FileSystem`, none of which forks;
  * `mkdirs` goes to java.nio, as Hadoop's forks `chmod`. Any other
  * scheme delegates every call to the manager Spark would have chosen,
  * so HDFS and object-store checkpoints are unchanged.
  *
  * Spark builds it by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass`; [[LocalCheckpointFiles
  * .startEach]] sets that on the stream's session.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager = {
    val fs = path.getFileSystem(conf)
    if (fs.getScheme == "file") new LocalCheckpointFiles.Local(fs, path)
    else LocalCheckpointFiles.sparkDefault(path, conf)
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

object LocalCheckpointFiles {

  /** The session key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start `stream` as a `foreachBatch` query running `body` per
    * micro-batch, checkpointed at `checkpointDir` (`None`: Spark's
    * temporary checkpoint). Before `start()` it sets [[ConfKey]] to this
    * class on the stream's session, but only when the caller has not set
    * a manager there: a caller's own manager is kept. The setting stays
    * on that session, so later streams started on it use the same
    * manager. */
  def startEach(stream: DataFrame, checkpointDir: Option[String],
      outputMode: String = "append")(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val conf = stream.sparkSession.conf
    if (conf.getOption(ConfKey).isEmpty)
      conf.set(ConfKey, classOf[LocalCheckpointFiles].getName)
    val w = stream.writeStream.outputMode(outputMode)
    checkpointDir.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(body)
      .start()
  }

  /** The manager Spark picks when no class is configured. */
  private def sparkDefault(path: Path, conf: Configuration)
      : CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ConfKey)
    CheckpointFileManager.create(path, c)
  }

  private final class Local(fs: FileSystem, root: Path)
      extends CheckpointFileManager {
    private def file(p: Path) =
      Paths.get(fs.makeQualified(p).toUri.getPath)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      val temp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      def create() = Files.newOutputStream(temp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      // a missing parent is created, as Hadoop's FileSystem.create does
      val out = try create() catch {
        case _: NoSuchFileException =>
          Files.createDirectories(temp.getParent); create()
      }
      new Publish(new BufferedOutputStream(out), temp, target,
        overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    // Hadoop's local mkdirs forks `chmod` for every directory it makes
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** The temp file's stream: `close` publishes it at `target`, `cancel`
    * removes it. */
  private final class Publish(out: OutputStream, temp: java.nio.file.Path,
      target: java.nio.file.Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          out.close()
          if (overwrite) {
            Files.deleteIfExists(target.resolveSibling(
              s".${target.getFileName}.crc"))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else publishNew()
        } finally Files.deleteIfExists(temp)
      }
    }

    private def publishNew(): Unit = {
      val linked =
        try { Files.createLink(target, temp); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => alreadyExists()
          case _: UnsupportedOperationException | _: IOException => false
        }
      if (!linked) {
        if (Files.exists(target)) alreadyExists()
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      }
    }

    private def alreadyExists(): Nothing =
      throw new FileAlreadyExistsException(s"$target already exists")

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try out.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
