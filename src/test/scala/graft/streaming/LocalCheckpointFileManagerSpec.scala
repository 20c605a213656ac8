package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import graft.SparkTestBase

/** The java.nio checkpoint manager keeps the contract Spark's metadata
  * logs rely on: a file appears whole or not at all, a cancelled write
  * leaves nothing behind, a no-overwrite write never clobbers, and a
  * file it replaces stays readable through Hadoop's checksummed reads.
  */
class LocalCheckpointFileManagerSpec extends SparkTestBase {

  private def fixture(): (String, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft-ckfm").toString
    (dir, new LocalCheckpointFileManager(new Path(dir),
      spark.sessionState.newHadoopConf()))
  }

  private def write(out: java.io.OutputStream, s: String): Unit =
    out.write(s.getBytes(UTF_8))

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: String): Set[String] =
    new java.io.File(dir).list().toSet

  test("createAtomic: the file is invisible until close") {
    val (dir, fm) = fixture()
    val p = new Path(s"$dir/offsets/0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    write(out, "v1\n{}")
    assert(!fm.exists(p))
    out.close()
    assert(fm.exists(p))
    assert(read(fm, p) === "v1\n{}")
    // written through java.nio: no temp file and no checksum sidecar
    assert(names(s"$dir/offsets") === Set("0"))
  }

  test("cancel leaves no temp file") {
    val (dir, fm) = fixture()
    fm.mkdirs(new Path(s"$dir/commits"))
    val p = new Path(s"$dir/commits/3")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    write(out, "partial")
    out.cancel()
    assert(!fm.exists(p))
    assert(names(s"$dir/commits").isEmpty)
  }

  test("overwriteIfPossible = false on an existing file throws") {
    val (dir, fm) = fixture()
    val p = new Path(s"$dir/1")
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    write(first, "first")
    first.close()
    val second = fm.createAtomic(p, overwriteIfPossible = false)
    write(second, "second")
    intercept[FileAlreadyExistsException](second.close())
    assert(read(fm, p) === "first")
  }

  test("an overwrite drops the .crc Hadoop wrote for the replaced file") {
    val (dir, fm) = fixture()
    val p = new Path(s"$dir/metadata")
    // Spark's default manager: Hadoop's checksummed create and rename
    val hadoop = new FileContextBasedCheckpointFileManager(new Path(dir),
      spark.sessionState.newHadoopConf())
    val old = hadoop.createAtomic(p, overwriteIfPossible = false)
    write(old, "old content")
    old.close()
    assert(names(dir).contains(".metadata.crc"))
    val fresh = fm.createAtomic(p, overwriteIfPossible = true)
    write(fresh, "a longer replacement")
    fresh.close()
    // a stale sidecar would fail this checksummed read
    assert(read(fm, p) === "a longer replacement")
    assert(names(dir) === Set("metadata"))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/metadata")),
      UTF_8) === "a longer replacement")
  }
}
