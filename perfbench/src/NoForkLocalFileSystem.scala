package graftbench

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, with file permissions read and set through
  * java.nio.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod` in a
  * child process for every file and directory it creates, and `ls` for every
  * file status whose permissions are read: about 265 processes per 100-page
  * MERGE here. On a shared host process creation is slow and erratic, so the
  * benchmark registers this class for `file://`, which does what the native
  * library would do, in-process.
  */
final class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val symbolic = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
      permission.getOtherAction.SYMBOL
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(symbolic))
  }

  private def status(p: Path, f: File): FileStatus = {
    val a =
      try Files.readAttributes(f.toPath, classOf[PosixFileAttributes])
      catch { case _: java.nio.file.NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(p), a.lastModifiedTime.toMillis,
      a.lastAccessTime.toMillis, FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
      a.owner.getName, a.group.getName, p.makeQualified(getUri, getWorkingDirectory))
  }

  override def getFileStatus(p: Path): FileStatus = status(p, pathToFile(p))

  override def getFileLinkStatus(p: Path): FileStatus = getFileStatus(p)

  override def listStatus(p: Path): Array[FileStatus] = {
    val f = pathToFile(p)
    if (!f.isDirectory) Array(getFileStatus(p))
    else {
      val names = Option(f.list()).getOrElse(throw new FileNotFoundException(s"File $p does not exist"))
      // an entry deleted between the listing and its stat is left out, as
      // RawLocalFileSystem does
      names.sorted.flatMap { n =>
        try Some(status(new Path(p, n), new File(f, n)))
        catch { case _: FileNotFoundException => None }
      }
    }
  }
}

/** The checksummed local file system (`.crc` side files) over
  * [[NoForkRawLocalFileSystem]]: what `file://` resolves to in the benchmark.
  */
final class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)
