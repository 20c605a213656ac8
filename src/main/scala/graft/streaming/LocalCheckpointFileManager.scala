package graft.streaming

import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Streaming checkpoint manager that writes local checkpoint files
  * through java.nio. Without native libhadoop, Hadoop's local
  * filesystem starts a `chmod` child process for every file and
  * directory it creates (twice per file with the `.crc` sidecar), which
  * dominated the fixed cost of a small micro-batch: the offset log, the
  * commit log and each file source's log write one file per batch.
  *
  * Only the write side changes: the temp file is written with java.nio
  * (no `.crc`), then moved into place with an atomic rename. Reads,
  * listings and deletes stay on Hadoop's checksummed filesystem, which
  * verifies a `.crc` where one exists and reads the file as is where
  * none does, so a checkpoint written by Spark's default manager
  * restarts under this one. Paths on any other filesystem (HDFS, S3)
  * take the inherited Hadoop path unchanged.
  *
  * `CrmlsStream.run` installs it through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file behind `p`, or None when `p` is not on the local
    * filesystem.
    */
  private def local(p: Path): Option[java.nio.file.Path] = {
    val scheme = p.toUri.getScheme
    if (isLocal && (scheme == null || scheme == "file"))
      Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri))
    else None
  }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) =>
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(f, StandardOpenOption.CREATE,
          StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)),
        null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path,
                              overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        if (!overwriteIfPossible && Files.exists(d))
          throw new FileAlreadyExistsException(
            s"Failed to rename $src to $dst as destination already exists")
        // a `.crc` Hadoop wrote for the file being replaced would fail
        // the next checksummed read; drop it first, so a crash between
        // the two steps leaves the old file readable without it
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}
