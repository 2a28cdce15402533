package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** `analyst_mix`: one closed-loop client whose ops interleave three parts —
  * relational and catalog queries ([[SqlAnalyst]]), the document curation
  * chain and ANN search ([[CurationCorpus]]), and bounded stream replays
  * ([[StreamReplay]]). The interleave is fixed and even, so any prefix of
  * the op stream holds the parts in about the same proportions; each part orders
  * its own ops by the seed. Every part's op counts one item (work_per_s is
  * ops per second).
  */
final class AnalystMix(spark: SparkSession, inputs: Path, spec: JsonNode, seed: Long)
    extends Workload {
  private val sql = new SqlAnalyst(spark, inputs.resolve("star"), inputs.resolve("catalog"), spec,
    seed)
  private val curation = new CurationCorpus(spark, inputs.resolve("corpus"), spec, seed)
  private val stream = new StreamReplay(spark, inputs.resolve("events"), spec, seed)
  private val parts: Seq[(String, Workload, Int)] = Seq(
    ("sql", sql, sql.kindCount), ("curation", curation, curation.kindCount),
    ("stream", stream, stream.kindCount))

  /** Part index of each position in one cycle: part p with weight w_p takes
    * the positions where its share of the cycle is next due.
    */
  private val cycle: IndexedSeq[Int] = {
    val total = parts.map(_._3).sum
    val credit = Array.fill(parts.size)(0.0)
    (0 until total).map { _ =>
      parts.indices.foreach(i => credit(i) += parts(i)._3.toDouble / total)
      val p = credit.indices.maxBy(i => (credit(i), -i))
      credit(p) -= 1
      p
    }
  }
  private var pos = 0
  private val owner = scala.collection.mutable.ArrayBuffer.empty[Int]

  def setup(dir: Path): Unit = {
    parts.foreach { case (name, w, _) => w.setup(dir.resolve(name)) }
    pos = 0
    owner.clear()
  }

  def warmupTasks: Seq[() => Unit] = parts.flatMap(_._2.warmupTasks)

  /** The warm-up tasks of all parts run concurrently: the parts share no
    * state, and the engine runs batch queries beside a replay (which runs
    * on its own session).
    */
  override def warmup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmupTasks.size)
    val tasks = warmupTasks.map(t => (() => t()): java.util.concurrent.Callable[Unit])
    try tasks.map(pool.submit(_)).foreach(_.get())
    finally pool.shutdown()
    parts.foreach { case (_, w, _) => w.afterWarmup() }
  }

  /** Windows end on two whole cycles, so every run times the same op mix,
    * each op kind twice. Op times still fall from the first cycle after the
    * warm-up to the next, by an amount that varies with the host; the
    * medians of one cycle read that variance in full.
    */
  override def atGroupEnd: Boolean = pos % (2 * cycle.size) == 0

  def next(): Op = {
    val p = cycle(pos % cycle.size)
    pos += 1
    owner += p
    parts(p)._2.next()
  }

  private def own(records: Seq[OpRecord], p: Int): Seq[OpRecord] =
    records.filter(r => owner(r.index) == p)

  def check(records: Seq[OpRecord], outDir: Path): Unit =
    parts.zipWithIndex.foreach { case ((name, w, _), p) =>
      val d = outDir.resolve(name)
      Files.createDirectories(d)
      w.check(own(records, p), d)
    }

  override def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] =
    parts.zipWithIndex.flatMap { case ((_, w, _), p) => w.layerMetrics(own(traced, p)) }.toMap

  override def info: Map[String, Any] =
    parts.flatMap { case (name, w, _) => w.info.map { case (k, v) => s"$name.$k" -> v } }.toMap
}
