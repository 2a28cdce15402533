package graft

import java.io.FileNotFoundException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: Hadoop's checksummed
  * [[LocalFileSystem]] over [[InProcessRawLocalFileSystem]]. Registered as
  * `fs.file.impl` in [[SparkEntry.sessionConfigs]].
  *
  * It replaces the filesystem Hadoop would pick for `file` from the jars,
  * which with Spark's bundled Hive jars is Hive's `ProxyLocalFileSystem`;
  * its one rule is kept: a rename onto an existing file returns false and
  * changes nothing (HDFS semantics), where plain `LocalFileSystem` would
  * overwrite.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** Stock [[RawLocalFileSystem]] whose `setPermission` runs in-process.
  * Without the Hadoop native library the stock method forks `chmod` once per
  * call, and every `create` and `mkdirs` with a permission goes through it.
  * A plain rwx mode is set with `Files.setPosixFilePermissions`, which
  * leaves the same mode bits; a sticky-bit mode, or a filesystem without
  * POSIX attributes, takes the stock path.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bit 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
