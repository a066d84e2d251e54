package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, minus its child processes.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod` for
  * every `setPermission` (each created file, its `.crc` and each made
  * directory) and `readlink` for every `getFileLinkStatus` (FileContext
  * renames probe both ends and their `.crc` files). A streaming trigger
  * paid about 60 such forks for its offset, commit and state-store files.
  * Here both go through java.nio; what java.nio cannot say the same way
  * keeps Hadoop's path:
  *  - a mode with a bit above 0777 (the sticky bit) is set by `super`;
  *  - a path that is a symbolic link is probed by `super`.
  * Bytes, renames and checksums are Hadoop's own, so a store or checkpoint
  * written through this class reads the same through the stock one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner r,w,x … others r,w,x: mode bits 8 … 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode >> (8 - i) & 1) == 1) perms.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` scheme of the FileSystem API: checksummed, over
  * [[NioRawLocalFileSystem]] (`fs.file.impl`).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `file:` scheme of the FileContext API: checksummed, over
  * [[NioRawLocalFileSystem]] (`fs.AbstractFileSystem.file.impl`). Hadoop's
  * `LocalFs` over its own `RawLocalFs`, with the raw file system swapped,
  * and one difference: `open(Path)` verifies the `.crc`. `ChecksumFs`
  * overrides only `open(Path, int)`, so `FileContext.open(path)` — how
  * Spark reads its offset, commit and state files — fell through
  * `FilterFs` to the raw stream and read a corrupted file as is.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]: the same scheme, port and server defaults.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file",
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
