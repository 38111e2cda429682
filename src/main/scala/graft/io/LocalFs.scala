package graft.io

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with an in-process chmod. Without the
  * `libhadoop` native library, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process, and Hadoop calls it on every file create and on
  * every `mkdirs` with a permission: each parquet part file, `.crc`,
  * `_SUCCESS`, committer `_temporary` dir and IndexStore marker. Here it
  * is one `chmod(2)` through the JDK's `unix` attribute view, setting
  * the same 12 mode bits (sticky included). Everything else, `.crc`
  * checksums included, is the stock `LocalFileSystem`. */
class LocalFs extends LocalFileSystem(new RawLocalFs)

class RawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (RawLocalFs.unixView)
      Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort & 0xfff)) // the 07777 mode bits
    else super.setPermission(p, permission)
}

object RawLocalFs {
  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}
