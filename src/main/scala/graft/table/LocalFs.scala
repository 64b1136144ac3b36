package graft.table

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem the engine creates files and directories through:
  * Hadoop's checksummed `LocalFileSystem` (`.crc` files kept) whose
  * permission calls run in-process. Without the native `libhadoop`, the
  * stock raw filesystem sets the mode of every file and directory it
  * creates by starting a `chmod` child process (3–4 ms each on a 4-core
  * VM, eight per commit); here `java.nio` sets the same mode.
  * [[FileIO.fileSystem]] resolves it for local paths. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** A raw local filesystem whose `setPermission` is a `chmod(2)` through
    * `java.nio`. Three cases take the stock call: a mode with bits beyond
    * `rwx` (sticky, setuid, setgid), which `java.nio` cannot express; a
    * directory whose setuid or setgid bit is set, which the stock 4-digit
    * numeric `chmod` keeps (a group-shared tree relies on setgid) and
    * `java.nio` would clear; and a store without the POSIX attribute view. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      val view =
        if ((mode & ~0x1ff) != 0) null
        else Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
      if (view == null || setIdDirectory(file)) super.setPermission(p, permission)
      else view.setPermissions(posix(mode))
    }
  }

  /** Is `file` a directory (type bits 0040000) with setuid or setgid
    * (06000) set? The `unix` view is there wherever the POSIX one is. */
  private def setIdDirectory(file: java.nio.file.Path): Boolean = {
    val m = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (m & 0xf000) == 0x4000 && (m & 0xc00) != 0
  }

  /** OWNER_READ .. OTHERS_EXECUTE, the order of the mode bits 0400 .. 0001. */
  private val Bits = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(Bits(i)))
    set
  }
}
