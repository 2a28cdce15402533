package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.odata.StatlineClient

/** One recorded span: a call from the benchmark into one layer's public
  * function. `parent` is the id of the enclosing span, 0 at the root.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracing for the traced run: spans around the benchmark's own
  * calls into each layer, plus named counters fed by a timing
  * [[StatlineClient]] decorator and Spark's public listeners. Nothing here
  * is active unless [[enabled]] is set, so the timed runs pay one volatile
  * read per span.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get().headOption.getOrElse(0)
      val id = synchronized { nextId += 1; nextId }
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, parent, name, layer, t0, t1) }
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Self time per layer: each span's duration minus the time its child
    * spans cover (children of one span never overlap: the client is a
    * single closed loop).
    */
  def selfTimeByLayer(ss: Seq[Span]): Map[String, Double] = {
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  // ------------------------------------------------------------- counters

  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def add(name: String, v: Long): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(v)

  /** Every counter, plus the JVM-wide cumulative ones: codegen compile
    * time and garbage collection.
    */
  def snapshot(): Map[String, Long] = {
    val (gcMs, gcN) = Main.gcTotals()
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap ++ Map(
      "sql.codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      "jvm.gc_ms" -> gcMs, "jvm.gc_n" -> gcN)
  }

  /** Distinct OData urls fetched while tracing (for the refetch ratio). */
  val distinctUrls: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
}

/** Timing decorator over the connector's wire boundary. It is serialized to
  * executors with the client it wraps; in local mode they share this JVM, so
  * the counters land in [[Trace]].
  */
final case class TimedClient(inner: StatlineClient) extends StatlineClient {
  override def get(url: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = inner.get(url)
    val dt = System.nanoTime() - t0
    Trace.add("odata.get_calls", 1)
    Trace.add("odata.get_ns", dt)
    if (r.isEmpty) Trace.add("odata.absent_calls", 1)
    r.foreach(b => Trace.add("odata.bytes_in", b.length.toLong))
    if (TimedClient.isDiscovery(url)) Trace.add("odata.discover_ns", dt)
    if (Trace.enabled) Trace.distinctUrls.add(url)
    r
  }
}

object TimedClient {
  /** Service documents, version probes and catalog metadata — every fetch
    * that is not a table page.
    */
  def isDiscovery(url: String): Boolean =
    url.contains("/ODataCatalog/") || url.endsWith("/Properties") ||
      url.endsWith("$metadata") || url.matches(".*/odata/[0-9A-Z]+\\?\\$format=json") ||
      url.matches(".*/CBS/[0-9A-Z]+")
}

/** Spark job/stage/task counters. */
final class SparkCounters extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.add("spark.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Trace.add("spark.stages", 1)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      Trace.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("spark.task_ns", m.executorRunTime * 1000000L)
      Trace.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("spark.input_rows", m.inputMetrics.recordsRead)
    }
  }
}

/** Eagerly executed commands (the catalog DDL of the ingest's catalog step). */
final class CommandCounters extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "command") {
      Trace.add("sql.commands", 1)
      Trace.add("sql.command_ns", durationNs)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Streaming progress: the engine's own `durationMs` breakdown and state
  * operator counts. Registered through `spark.sql.streaming.streamingQueryListeners`
  * so that it also reaches the cloned sessions replays run on.
  */
final class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    Trace.add("stream.batches", 1)
    Trace.add("stream.trigger_ms", ms("triggerExecution"))
    Trace.add("stream.add_batch_ms", ms("addBatch"))
    Trace.add("stream.query_planning_ms", ms("queryPlanning"))
    Trace.add("stream.wal_commit_ms", ms("walCommit") + ms("commitOffsets"))
    Trace.add("stream.latest_offset_ms", ms("latestOffset"))
    p.stateOperators.foreach { s =>
      Trace.add("stream.state_rows", s.numRowsTotal)
      Trace.add("stream.state_bytes", s.memoryUsedBytes)
      Trace.add("stream.rows_dropped_by_watermark", s.numRowsDroppedByWatermark)
    }
  }
}
