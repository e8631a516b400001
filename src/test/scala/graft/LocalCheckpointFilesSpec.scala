package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.streaming.{DocStreams, LocalCheckpointFiles}

/** The checkpoint manager's atomic-write contract on local disk, its
  * delegation for other schemes, and the start helper's conf rule. */
class LocalCheckpointFilesSpec extends SparkSpec {

  private def dir(): File = Files.createTempDirectory("graft-lcf").toFile
  private def manager(d: File) =
    new LocalCheckpointFiles(new Path(d.toURI), new Configuration())
  private def write(m: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("no-overwrite onto an existing file throws and leaves no temp file") {
    val d = dir()
    val m = manager(d)
    val p = new Path(new File(d, "0").toURI)
    write(m, p, "first", overwrite = false)
    assert(read(m, p) === "first")
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(m, p) === "first")
    assert(d.list().toSet === Set("0"), "a temp file was left behind")
  }

  test("cancel leaves nothing behind") {
    val d = dir()
    val m = manager(d)
    val p = new Path(new File(d, "1").toURI)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // after cancel, close publishes nothing
    assert(d.list().isEmpty)
    assert(!m.exists(p))
  }

  test("overwrite replaces the file and drops a stale .crc") {
    val d = dir()
    val m = manager(d)
    val p = new Path(new File(d, "2").toURI)
    write(m, p, "old", overwrite = false)
    // a checksum left by a checksummed writer no longer matches
    Files.write(new File(d, ".2.crc").toPath, Array[Byte](1, 2, 3))
    write(m, p, "new contents", overwrite = true)
    assert(d.list().toSet === Set("2"))
    assert(read(m, p) === "new contents")
    assert(m.list(new Path(d.toURI)).map(_.getPath.getName).toSeq === Seq("2"))
    m.delete(p)
    assert(!m.exists(p) && d.list().isEmpty)
  }

  test("a missing parent directory is created, as Hadoop's create does") {
    val d = dir()
    val m = manager(d)
    val p = new Path(new File(d, "a/b/3").toURI)
    write(m, p, "x", overwrite = false)
    assert(read(m, p) === "x")
  }

  test("a non-file path gets Spark's default manager") {
    val conf = new Configuration()
    conf.set("fs.graftmock.impl", classOf[LocalCheckpointFilesSpec.MockFs].getName)
    conf.setBoolean("fs.graftmock.impl.disable.cache", true)
    val p = new Path(s"graftmock://${dir().getAbsolutePath}")
    val m = new LocalCheckpointFiles(p, conf)
    assert(m.impl.getClass === CheckpointFileManager.create(p, conf).getClass)
    assert(!m.impl.getClass.getName.contains("LocalCheckpointFiles"))
    // and a file: path gets the local one
    assert(manager(dir()).impl.getClass.getName
      .startsWith(classOf[LocalCheckpointFiles].getName))
  }

  test("the start helper sets the manager only when the caller has not") {
    val key = LocalCheckpointFiles.ConfKey
    val in = dir().getAbsolutePath
    spark.range(3).selectExpr("id AS doc_id", "'a b' AS text", "'en' AS lang",
        "'s' AS source", "3L AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(in)
    def run(s: org.apache.spark.sql.SparkSession): File = {
      val ckpt = dir()
      val q = LocalCheckpointFiles.startEach(DocStreams.readDocStream(s, in),
        Some(ckpt.getAbsolutePath)) { (b, _) => b.count(); () }
      try q.processAllAvailable() finally q.stop()
      ckpt
    }
    val fresh = spark.newSession()
    val ckpt = run(fresh)
    assert(fresh.conf.get(key) === classOf[LocalCheckpointFiles].getName)
    // the three logs were committed, and no temp file or checksum left
    Seq("offsets", "commits", "sources/0").foreach { sub =>
      val names = new File(ckpt, sub).list().toSeq
      assert(names.contains("0"), s"$sub: $names")
      assert(!names.exists(_.startsWith(".")), s"$sub: $names")
    }
    val own = spark.newSession()
    own.conf.set(key, classOf[FileSystemBasedCheckpointFileManager].getName)
    run(own)
    assert(own.conf.get(key) === classOf[FileSystemBasedCheckpointFileManager].getName)
  }
}

object LocalCheckpointFilesSpec {
  /** The local file system under another scheme: a stand-in for a
    * non-local store that needs no cluster. */
  class MockFs extends RawLocalFileSystem {
    override def getScheme: String = "graftmock"
    override def getUri: URI = URI.create("graftmock:///")
  }
}
