package perfbench

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The file system the benchmark's streams read, write and checkpoint on
  * (`benchfs:/abs/path`): the local disk through Hadoop's
  * `RawLocalFileSystem`, with permissions set and read in-process.
  *
  * Why not `file://`: without Hadoop's native library, the stock local file
  * system forks a `chmod` process for every file and directory it creates
  * and an `ls` process for every file status it lists, and its checksum
  * layer adds a `.crc` side file to each. Those forks dominated every
  * per-object, per-listing and per-checkpoint-file cost and swung them run
  * to run, which an object store target (s3a) never pays. */
final class BenchFs extends RawLocalFileSystem {
  override def getUri: URI = BenchFs.Uri
  override def getScheme: String = BenchFs.Scheme

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileStatus(f: Path): FileStatus = withPermission(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(withPermission)

  private def withPermission(s: FileStatus): FileStatus = {
    val a = Files.readAttributes(pathToFile(s.getPath).toPath,
      classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      FsPermission.valueOf((if (s.isDirectory) "d" else "-") +
        PosixFilePermissions.toString(a.permissions)),
      a.owner.getName, a.group.getName, s.getPath)
  }
}

object BenchFs {
  val Scheme = "benchfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** Session confs that register the scheme with Hadoop. */
  val conf: Map[String, String] = Map(
    s"spark.hadoop.fs.$Scheme.impl" -> classOf[BenchFs].getName)

  def uri(absPath: String): String = s"$Scheme:$absPath"
}
