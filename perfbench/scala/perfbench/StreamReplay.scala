package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The streaming part of `analyst_mix`: bounded replays of the generated
  * events through events-only `EventStreams` queries, in seeded blocks that
  * hold each replay kind once.
  */
final class StreamReplay(spark: SparkSession, inputs: Path, spec: JsonNode, seed: Long)
    extends Workload {
  private val cfg = spec.get("parts").get("stream")
  private val kinds = cfg.get("queries").asScala.map(_.asText).toIndexedSeq
  private val nEvents = cfg.get("events").asLong

  def kindCount: Int = kinds.size
  private val fresh = graft.SparkEntry.freshQueries

  private var dir: String = _
  private var block: List[String] = Nil
  private var blockNo = 0
  private val results = mutable.Map.empty[String, (Seq[Row], DataFrame, String)]

  private def replay(kind: String): String = {
    val df = Trace.span(s"EventStreams($kind)", "graft.streaming")(fresh(kind)(spark, dir))
    val rows = Trace.span("collect", "graft.streaming")(df.collect().toSeq)
    val d = Digest.of(rows)
    if (!results.contains(kind)) results(kind) = (rows, df, d)
    d
  }

  def setup(rep: Path): Unit = {
    val d = rep.resolve("events")
    Files.createDirectories(d)
    Files.createLink(d.resolve("events.parquet"), inputs.resolve("events.parquet"))
    dir = d.toString
    results.clear()
    block = Nil
    blockNo = 0
  }

  /** One replay of every kind (the first also stages the events). */
  def warmupTasks: Seq[() => Unit] = Seq(() => kinds.foreach(replay))

  override def afterWarmup(): Unit = results.clear()

  def next(): Op = {
    if (block.isEmpty) {
      block = new scala.util.Random(seed * 104729L + blockNo).shuffle(kinds).toList
      blockNo += 1
    }
    val kind = block.head
    block = block.tail
    Op(kind, 1, () => replay(kind))
  }

  def check(records: Seq[OpRecord], outDir: Path): Unit = {
    results.foreach { case (kind, (rows, df, _)) => Digest.save(spark, rows, df, outDir.resolve(kind)) }
    val oracles = new java.util.LinkedHashMap[String, String]()
    kinds.foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(oracles.put(q, _)))
    Files.writeString(outDir.resolve("oracles.json"), Main.mapper.writeValueAsString(oracles))
    val digests = new java.util.LinkedHashMap[String, String]()
    results.foreach { case (k, (_, _, d)) => digests.put(k, d) }
    Files.writeString(outDir.resolve("digests.json"), Main.mapper.writeValueAsString(digests))
  }

  override def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    val n = traced.size.max(1).toDouble
    def sum(k: String) = traced.map(_.deltas.getOrElse(k, 0L)).sum.toDouble
    Map(
      "stream.events_per_s" -> nEvents * traced.size / traced.map(_.wallS).sum.max(1e-9),
      "stream.trigger_s" -> sum("stream.trigger_ms") / 1e3 / n,
      "stream.add_batch_s" -> sum("stream.add_batch_ms") / 1e3 / n,
      "stream.query_planning_s" -> sum("stream.query_planning_ms") / 1e3 / n,
      "stream.wal_commit_s" -> sum("stream.wal_commit_ms") / 1e3 / n,
      "stream.latest_offset_s" -> sum("stream.latest_offset_ms") / 1e3 / n,
      "stream.machinery_s" -> Stats.median(traced.map(r =>
        r.wallS - r.deltas.getOrElse("stream.trigger_ms", 0L) / 1e3)),
      "stream.state_rows" -> sum("stream.state_rows") / n,
      "stream.state_bytes" -> sum("stream.state_bytes") / n,
      "stream.rows_dropped_by_watermark" -> sum("stream.rows_dropped_by_watermark") / n,
      "stream.batches_per_replay" -> sum("stream.batches") / n,
    )
  }
}
