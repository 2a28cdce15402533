package graft

import java.net.URI
import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** [[InProcessLocalFileSystem]] behaves like the `file://` filesystem Hadoop
  * picks from the jars without it ("stock" below): the same POSIX
  * modes after `create`, `mkdirs` and `setPermission`, the same renames. And
  * the engine's sessions and replay clones are wired to the in-process paths.
  */
class InProcessLocalFileSystemSpec extends AnyFunSuite {
  private val Modes = Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x180 /* 0600 */,
    0x1c0 /* 0700 */, 0x1ff /* 0777 */, 0)
  private val Sticky = 0x3ff // 01777

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def pair(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val stock = ReflectionUtils.newInstance(FileSystem.getFileSystemClass("file", conf), conf)
    assert(!stock.isInstanceOf[InProcessLocalFileSystem])
    stock.initialize(new URI("file:///"), conf)
    val ours = new InProcessLocalFileSystem()
    ours.initialize(new URI("file:///"), conf)
    (stock, ours)
  }

  /** Runs `op` on sibling paths under each filesystem; returns both modes. */
  private def onSiblings(dir: Path, name: String, fss: (FileSystem, FileSystem))
                        (op: (FileSystem, Path) => Unit): (Int, Int) = {
    val (stock, ours) = fss
    val a = dir.resolve(s"stock_$name")
    val b = dir.resolve(s"ours_$name")
    op(stock, a)
    op(ours, b)
    (mode(a), mode(b))
  }

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_fsperm_")
    try body(dir) finally StageDir.deleteRecursively(dir)
  }

  for (umask <- Seq("022", "077")) test(s"create, mkdirs and setPermission match the stock modes (umask $umask)") {
    withTempDir { dir =>
      val fss = pair(umask)
      for (m <- Modes) {
        val perm = new FsPermission(m.toShort)
        val tag = Integer.toOctalString(m)
        val created = onSiblings(dir, s"create_$tag", fss) { (fs, p) =>
          val out = fs.create(new HPath(p.toUri), perm, true, 4096, 1.toShort, 1L << 20, null)
          try out.write(Array[Byte](1, 2, 3)) finally out.close()
        }
        assert(created._1 == created._2, s"create $tag: stock ${created._1.toOctalString} vs ${created._2.toOctalString}")
        // the checksum sidecar is created through the same raw path
        assert(mode(dir.resolve(s".stock_create_$tag.crc")) == mode(dir.resolve(s".ours_create_$tag.crc")),
          s"create $tag: .crc modes differ")
        val made = onSiblings(dir, s"mkdirs_$tag", fss) { (fs, p) =>
          assert(fs.mkdirs(new HPath(p.toUri), perm))
        }
        assert(made._1 == made._2, s"mkdirs $tag: stock ${made._1.toOctalString} vs ${made._2.toOctalString}")
        val set = onSiblings(dir, s"chmod_$tag", fss) { (fs, p) =>
          Files.createFile(p)
          fs.setPermission(new HPath(p.toUri), perm)
        }
        assert(set == ((m, m)), s"setPermission $tag: ${set._1.toOctalString} / ${set._2.toOctalString}")
      }
      // NIO cannot set the sticky bit: it being set shows the stock path ran
      val sticky = onSiblings(dir, "sticky", fss) { (fs, p) =>
        Files.createDirectory(p)
        fs.setPermission(new HPath(p.toUri), new FsPermission(Sticky.toShort))
      }
      assert(sticky == ((Sticky, Sticky)), s"sticky: ${sticky._1.toOctalString} / ${sticky._2.toOctalString}")
    }
  }

  test("rename matches stock: never onto an existing file, else moves") {
    withTempDir { dir =>
      val (stock, ours) = pair("022")
      for ((name, fs) <- Seq("stock" -> stock, "ours" -> ours)) {
        val src = dir.resolve(s"${name}_src")
        val dst = dir.resolve(s"${name}_dst")
        Files.writeString(src, "new")
        Files.writeString(dst, "old")
        assert(!fs.rename(new HPath(src.toUri), new HPath(dst.toUri)), name)
        assert(Files.readString(src) == "new" && Files.readString(dst) == "old", name)
        val fresh = dir.resolve(s"${name}_fresh")
        assert(fs.rename(new HPath(src.toUri), new HPath(fresh.toUri)), name)
        assert(!Files.exists(src) && Files.readString(fresh) == "new", name)
      }
    }
  }

  test("the test session's file:// filesystem is the in-process one") {
    val spark = TestSpark.spark
    val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[InProcessLocalFileSystem], fs.getClass.getName)
  }

  test("replay clones use the FileSystem checkpoint manager; the caller session does not") {
    val spark = TestSpark.spark
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val clone = EventStreams.replaySession(spark, noDataBatch = false, provider = None)
    assert(clone ne spark)
    assert(clone.conf.getOption(key).exists(_.endsWith(".FileSystemBasedCheckpointFileManager")))
    assert(clone.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(!spark.conf.getOption(key).exists(_.endsWith(".FileSystemBasedCheckpointFileManager")))
    // the narrow replay width is part of the clone's posture, whatever the
    // caller's width; the caller keeps its own
    val width = "spark.sql.shuffle.partitions"
    val callerWidth = spark.conf.get(width)
    spark.conf.set(width, "7")
    try {
      val clone7 = EventStreams.replaySession(spark, noDataBatch = false, provider = None)
      assert(clone7.conf.get(width) == "4")
      assert(spark.conf.get(width) == "7")
    } finally spark.conf.set(width, callerWidth)
  }
}
