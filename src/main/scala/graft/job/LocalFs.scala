package graft.job

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system, setting permissions in the JVM.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and every local file create (`.crc` siblings
  * included) and every `mkdirs` calls it: about 550 child processes per
  * perfbench `ExtractJob.run` (NOTES.md, "The extraction job's write
  * path"). Here the nine rwx bits go through `Files.setPosixFilePermissions`;
  * a mode with the sticky, setuid or setgid bit, or a file store without
  * POSIX attributes, takes the stock path. Still a `LocalFileSystem`: the
  * `.crc` files and the read-side checksum check stay. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Writer options that send one write's `file:` paths to [[LocalFs]].
    * The cache switch is needed because the `FileSystem` cache returns
    * its existing `file:` instance whatever the conf names. The session's
    * Hadoop conf and the cache are left as they are. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `PosixFilePermission` lists owner, group and others as r, w, x:
    * ordinal i is mode bit 0400 >> i. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }

  private[job] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"$p: no such file or directory").initCause(e)
      }
    }
  }
}
