package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** The engine's local file I/O forks no `chmod` or `readlink`: a JFR
  * recording of `jdk.ProcessStart` around a Parquet write, a `saveAsTable`
  * and a bounded replay checkpointed into a fresh temp dir. Only commands
  * naming that dir count, so other suites' spawns cannot interfere.
  */
class LocalFileSpawnSpec extends AnyFunSuite {

  test("Parquet writes, saveAsTable and a bounded replay fork no chmod or readlink") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft_spawn_").toRealPath()
    val ckptKey = "spark.graft.stream.checkpointBase"
    val priorCkpt = spark.conf.getOption(ckptKey)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      spark.range(1000).selectExpr("id", "id % 7 AS k")
        .write.parquet(tmp.resolve("parquet").toString)
      spark.range(100).write.option("path", tmp.resolve("table").toString)
        .saveAsTable("graft_spawn_spec_tbl")
      spark.conf.set(ckptKey, tmp.resolve("ckpt").toString)
      assert(EventStreams.tumblingCounts(spark, TestSpark.Sf0001).collect().nonEmpty)
      // control spawn: proves the recording sees process starts naming tmp
      new ProcessBuilder("echo", tmp.toString).start().waitFor()
    } finally {
      rec.stop()
      priorCkpt match {
        case Some(v) => spark.conf.set(ckptKey, v)
        case None => spark.conf.unset(ckptKey)
      }
      spark.sql("DROP TABLE IF EXISTS graft_spawn_spec_tbl")
    }
    val dump = Files.createTempFile("graft_spawn_", ".jfr")
    try {
      rec.dump(dump)
      rec.close()
      val commands = RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).filter(c => c != null && c.contains(tmp.toString))
      assert(commands.exists(_.startsWith("echo")), s"control spawn not recorded: $commands")
      val forked = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(forked.size == 0, s"chmod/readlink spawns, e.g. ${forked.take(3)}")
    } finally {
      Files.deleteIfExists(dump)
      StageDir.deleteRecursively(tmp)
    }
  }
}
