package graft.etl

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file://` file system: Hadoop's checksummed `LocalFileSystem`
  * over a raw layer that sets a file's mode with one chmod(2) call.
  *
  * Without the native Hadoop library (`NativeIO`), the stock
  * `RawLocalFileSystem.setPermission` runs a `chmod` process, and Hadoop
  * calls it for every file and directory it creates: each part file, its
  * `.crc` sidecar, each attempt and checkpoint directory, each marker.
  * Measured on a 4-core container (JDK 17, Hadoop 3.4.2): a checksummed
  * `create` 7.5–9.3 ms and a `mkdirs` 3.1–3.8 ms, of which the same mode
  * set through `java.nio` takes 0.07–0.12 ms; each spawn also writes the
  * JVM's environment (about 3.6 KB) into the spawn helper's pipe.
  *
  * Only the mode call changes. Data bytes, checksums, umask handling,
  * renames and every commit protocol are Hadoop's own; a mode `java.nio`
  * cannot express (the sticky bit) and a file store without POSIX
  * attributes keep Hadoop's path. [[graft.GraftSession.StorageConfs]]
  * makes this the `file://` implementation of every engine session. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` with a syscall `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val file = pathToFile(p)
        try Files.setPosixFilePermissions(file.toPath, posix(mode))
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
          case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
        }
      }
    }
  }

  /** The rwx bits of `mode` (0–0777) as `java.nio` permissions:
    * `PosixFilePermission` lists owner, group, others, each read, write,
    * execute, so value i is bit 8 - i. */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { v =>
      if ((mode & (1 << (8 - v.ordinal))) != 0) s.add(v)
    }
    s
  }
}
