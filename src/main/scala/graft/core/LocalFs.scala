package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, with permissions set through
  * NIO instead of a forked `chmod`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod`
  * for every file it creates (and again for the file's `.crc`) and every
  * dir it makes: about 10 ms each, most of a small partitioned write.
  * This one sets the same 9 rwx bits with `Files.setPosixFilePermissions`
  * (a fraction of a millisecond) and leaves any other bit (sticky,
  * setuid) to the stock path. The `.crc` files are written and checked
  * as before.
  *
  * Installed per write, never session-wide: pass [[LocalFs.options]] to
  * a batch `DataFrameWriter`, and Spark copies them into that job's
  * Hadoop conf only. A file stream sink builds its Hadoop conf from the
  * session alone, so they do not reach it.
  */
class LocalFs extends LocalFileSystem(new LocalFs.NioPermissions)

object LocalFs {

  /** Write options that put one write on [[LocalFs]]. Hadoop caches a
    * file system by scheme, authority and user, not by conf, so the
    * cache must be bypassed or the stock `file:` instance already cached
    * would serve the write.
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `OWNER_READ` .. `OTHERS_EXECUTE`: the bits of 0777 (0x1ff), from
    * bit 8 down to bit 0.
    */
  private val rwx = PosixFilePermission.values().toSeq

  class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        rwx.zipWithIndex.collect {
          case (bit, i) if (mode & (1 << (8 - i))) != 0 => bit
        }.toSet.asJava)
    }
  }
}
