package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** A checkpoint file manager for `file:` checkpoints that starts no OS
  * process. Spark's default manager goes through Hadoop's FileContext,
  * whose rename resolves links by forking `readlink`, and Hadoop's local
  * file system sets permissions on every created file, `.crc` and
  * directory by forking `chmod` when native IO is absent: about 110
  * processes per drain. Reads, listings, deletes and non-overwriting
  * renames stay with Spark's FileSystem-based manager; files and
  * directories are created, and overwriting renames done, through
  * `java.nio`, with the process umask and no checksum file. A POSIX
  * rename within one directory is atomic, so `createAtomic` keeps its
  * contract. Any other file system is refused. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  require(fs.getScheme == "file",
    s"${getClass.getSimpleName} handles file: checkpoints only, not $path")

  private def local(p: Path) = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
  }

  /** An overwriting rename is one POSIX rename, which replaces `dst`
    * atomically. Hadoop's `FileSystem.rename` refuses an existing target,
    * and the parent then keeps the old file without a word. */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (overwriteIfPossible) Files.move(local(src), local(dst), StandardCopyOption.ATOMIC_MOVE): Unit
    else super.renameTempFile(src, dst, overwriteIfPossible)

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p)): Unit

  override def createCheckpointDirectory(): Path = {
    val q = fs.makeQualified(path)
    Files.createDirectories(local(q))
    q
  }
}
