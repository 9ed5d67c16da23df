package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system with file modes set in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod`, and every local `create` and `mkdirs` calls it (once
  * more for a file's `.crc`): 5.5-7.4 ms a fork on a 4-vCPU VM, against
  * 0.006-0.02 ms for `Files.setPosixFilePermissions`. Only the nine rwx
  * bits go through NIO: a sticky mode, or a path that already carries a
  * special bit (`chmod 0755` keeps a directory's setgid bit, NIO would
  * clear it), still goes to `chmod`. [[graft.GraftSession]] registers
  * it as `fs.file.impl`.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessLocalFileSystem.Raw) {
  // Without this class `file:` is Hive's ProxyLocalFileSystem (hive-exec
  // registers it), whose one change is kept: a rename never replaces a file.
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

object InProcessLocalFileSystem {
  private val Special = 0xe00 // 07000: setuid, setgid, sticky

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      try {
        if ((mode & Special) != 0 || (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & Special) != 0)
          super.setPermission(p, permission)
        else {
          val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          // PosixFilePermission runs OWNER_READ (0400) ... OTHERS_EXECUTE (0001)
          for ((b, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0) bits.add(b)
          Files.setPosixFilePermissions(file, bits)
        }
      } catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }
  }
}
