package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The `CheckpointFileManager` contract that Spark's offset log, commit
  * log and state stores rely on, held by [[NioCheckpointFileManager]]
  * on `file:` paths. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def fixture(): (JPath, NioCheckpointFileManager) = {
    val dir = Files.createTempDirectory("niock")
    (dir, new NioCheckpointFileManager(new Path(dir.toUri), new Configuration()))
  }

  private def hp(f: JPath): Path = new Path(f.toUri)

  private def write(m: NioCheckpointFileManager, f: JPath, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(hp(f), overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: JPath): Set[String] = {
    val all = Files.list(dir)
    try all.iterator().asScala.map(_.getFileName.toString).toSet finally all.close()
  }

  test("a no-overwrite create onto an existing file fails and keeps the old bytes") {
    val (dir, m) = fixture()
    val f = dir.resolve("0")
    write(m, f, "first", overwrite = false)
    val out = m.createAtomic(hp(f), overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(Files.readString(f) == "first")
    assert(names(dir) == Set("0"), "no temp file is left behind")
  }

  test("the target appears only at close, and cancel leaves nothing") {
    val (dir, m) = fixture()
    val f = dir.resolve("1")
    val out = m.createAtomic(hp(f), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.flush()
    assert(!m.exists(hp(f)), "no partial target before close")
    out.cancel()
    assert(!Files.exists(f))
    assert(names(dir).isEmpty, "neither target nor temp file after cancel")

    val out2 = m.createAtomic(hp(f), overwriteIfPossible = false)
    out2.write("whole".getBytes(UTF_8))
    assert(!m.exists(hp(f)))
    out2.close()
    assert(Files.readString(f) == "whole")
    out2.cancel() // after close: a no-op
    assert(Files.readString(f) == "whole")
  }

  test("overwrite replaces the file and drops its stale checksum") {
    val (dir, m) = fixture()
    val f = dir.resolve("1.delta")
    write(m, f, "old", overwrite = true)
    Files.writeString(dir.resolve(".1.delta.crc"), "stale")
    write(m, f, "new", overwrite = true)
    assert(Files.readString(f) == "new")
    assert(names(dir) == Set("1.delta"))
    val in = m.open(hp(f))
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
  }

  test("list honours its filter and hides checksum files") {
    val (dir, m) = fixture()
    Seq("0", "1", "2.tmp").foreach(n => write(m, dir.resolve(n), n, overwrite = false))
    Files.writeString(dir.resolve(".0.crc"), "c")
    m.mkdirs(hp(dir.resolve("sub")))
    val numeric: PathFilter = p => p.getName.forall(_.isDigit)
    val listed = m.list(hp(dir), numeric)
    assert(listed.map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
    assert(listed.forall(s => s.isFile && s.getLen == 1L))
    assert(listed.forall(_.getPath.toUri.getScheme == "file"))
    assert(m.list(hp(dir)).map(_.getPath.getName).sorted.toSeq ==
      Seq("0", "1", "2.tmp", "sub"))
    intercept[FileNotFoundException](m.list(hp(dir.resolve("missing"))))
  }

  test("delete is recursive, takes the checksum along, and a missing path is a no-op") {
    val (dir, m) = fixture()
    val f = dir.resolve("3")
    write(m, f, "x", overwrite = false)
    Files.writeString(dir.resolve(".3.crc"), "c")
    m.delete(hp(f))
    assert(names(dir).isEmpty)
    m.delete(hp(f))
    m.delete(hp(dir.resolve("never/there")))
    write(m, dir.resolve("state/0/1.delta"), "d", overwrite = true)
    m.delete(hp(dir.resolve("state")))
    assert(names(dir).isEmpty)
  }

  test("opening a missing path throws FileNotFoundException") {
    val (dir, m) = fixture()
    intercept[FileNotFoundException](m.open(hp(dir.resolve("absent"))))
  }

  test("createCheckpointDirectory makes the directory and returns it qualified") {
    val (dir, _) = fixture()
    val root = dir.resolve("a/b")
    val m = new NioCheckpointFileManager(new Path(root.toString), new Configuration())
    val q = m.createCheckpointDirectory()
    assert(Files.isDirectory(root))
    assert(q.toUri.getScheme == "file" && q.toUri.getPath == root.toString)
    assert(m.isLocal)
  }

  test("other schemes go to Spark's own default manager") {
    val conf = new Configuration()
    // a scheme with a FileSystem but no FileContext binding: Spark's
    // default choice falls back to its FileSystem-based manager
    conf.set("fs.nioother.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    conf.set(NioCheckpointFileManager.Key, NioCheckpointFileManager.ClassName)
    val m = new NioCheckpointFileManager(new Path("nioother:///tmp/ck"), conf)
    assert(m.impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }
}
