package graft.streaming

import java.io.OutputStream
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystemBasedCheckpointFileManager` for a local (`file:`)
  * checkpoint, with files and directories that are created without a
  * `chmod` fork.
  *
  * Spark ships no native Hadoop library, so Hadoop's raw local filesystem
  * sets the mode of each file it creates by forking `chmod`: once for the
  * file and once for its `.crc`, on every offset, commit, source-log and
  * state-store file of every batch (about two dozen forks per input of the
  * gauge query, about 3 ms each), and once for each directory Spark's
  * manager makes with a permission. This manager writes its temp files
  * through a checksummed local filesystem whose raw layer opens a new file
  * as Hadoop's `append` does, without a permission, and makes directories
  * without one: they get the process umask's mode (0644 and 0755 under the
  * usual 022, the modes the `chmod` set) instead of Hadoop's
  * `fs.permissions.umask-mode`. Everything else (rename, list, open,
  * delete, and both checksum layers) is Spark's manager's, so a checkpoint
  * written under it restarts under Spark's default manager and the other
  * way round.
  * [[FirehoseStream.startGaugeQuery]] scopes it to the gauge query.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val noChmodFs: LocalFileSystem = {
    val local = new LocalFileSystem(new LocalCheckpointFileManager.NoChmodRawLocalFileSystem)
    local.initialize(URI.create("file:///"), hadoopConf)
    local
  }

  override def createTempFile(path: Path): FSDataOutputStream = noChmodFs.create(path, true)

  override def mkdirs(path: Path): Unit = noChmodFs.mkdirs(path)
}

object LocalCheckpointFileManager {

  /** Hadoop's raw local filesystem, creating a file the way its `append`
    * opens one (a plain `FileOutputStream`, no permission to set) and a
    * directory with a plain `mkdir`. A file that is there already is
    * deleted first, so `create` still truncates.
    */
  private class NoChmodRawLocalFileSystem extends RawLocalFileSystem {
    override protected def createOutputStreamWithMode(
        f: Path, append: Boolean, permission: FsPermission): OutputStream = {
      if (!append) Files.deleteIfExists(pathToFile(f).toPath)
      super.createOutputStreamWithMode(f, true, null)
    }

    override protected def mkOneDirWithMode(
        p: Path, p2f: java.io.File, permission: FsPermission): Boolean = p2f.mkdir()
  }
}
