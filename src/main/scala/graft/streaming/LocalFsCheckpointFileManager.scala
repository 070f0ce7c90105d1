package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, Path => NioPath, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint manager with fork-free writes on `file:` paths.
  *
  * Without Hadoop's native library, the local file system shells out on
  * every checkpoint write: `FileContext.rename` resolves both ends with
  * `readlink`, and each file or directory it creates gets a `chmod`. A
  * streaming micro-batch writes offset, commit, source-log and state-store
  * files, so these forks are a fixed per-batch cost of about 110 processes.
  * For local paths this manager writes the temp file with a plain stream and
  * renames it with `java.nio`; directories are made the same way. Every
  * other scheme (HDFS, object stores) keeps the FileContext path unchanged.
  *
  * The contract of `CheckpointFileManager.createAtomic` holds: a
  * no-overwrite rename onto an existing file throws
  * `FileAlreadyExistsException` (and drops its temp file), and a cancelled
  * stream leaves no temp file. Files written through Hadoop's local file
  * system carry a `.<name>.crc` sidecar that reads verify; replacing such
  * a file deletes its sidecar first, so a checkpoint written by the default
  * manager resumes under this one.
  *
  * Registered for every graft session by `Core` through
  * `spark.sql.streaming.checkpointFileManagerClass`.
  */
class LocalFsCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file behind `p`, or None when `p` is on another scheme. */
  private def localFile(p: Path): Option[NioPath] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  override def createTempFile(p: Path): FSDataOutputStream = localFile(p) match {
    case Some(f) => new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (localFile(src), localFile(dst)) match {
      case (Some(s), Some(d)) =>
        if (overwriteIfPossible) {
          Files.deleteIfExists(crcOf(d))
          Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        } else {
          try Files.move(s, d) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
        }
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = localFile(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }

  override def createCheckpointDirectory(): Path = localFile(path) match {
    case Some(d) => Files.createDirectories(d); fc.makeQualified(path)
    case None => super.createCheckpointDirectory()
  }
}
