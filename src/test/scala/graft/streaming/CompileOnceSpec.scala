package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Generated classes compile once per JVM, stream replays included.
  *
  * Spark keys its codegen cache by the thread's context class loader as
  * well as the source. Structured Streaming runs every query on a clone of
  * its session, and with artifact isolation on the executors run each
  * clone's tasks under that clone's own artifact class loader. Every replay
  * then recompiled its generated classes. `SparkEntry.sessionConfigs`
  * turns the isolation off; this pins that a repeated replay compiles
  * nothing.
  *
  * `CodegenMetrics.METRIC_COMPILATION_TIME` counts every Janino compile in
  * the JVM, so the count covers the local executors too.
  */
class CompileOnceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated stream replay compiles no class") {
    def replay(): Seq[(Long, String, Long)] =
      EventStreams.tumblingCounts(spark, TestSpark.Sf0001)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val first = replay()
    val before = compiles
    val second = replay()
    val added = compiles - before
    assert(second == first)
    assert(added == 0L,
      s"the second identical replay compiled $added classes; the first run's " +
        "classes were not reused (a per-query artifact class loader?)")
  }
}
