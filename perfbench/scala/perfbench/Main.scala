package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One timed operation: `run` returns the op's result digest (or "" when
  * the workload verifies it another way). `items` is the work it completes:
  * rows written for an ingest, 1 for every other op.
  */
final case class Op(kind: String, items: Long, run: () => String)

/** The record of one op in the timed window. `ok` is None until the output
  * check has decided it.
  */
final class OpRecord(val index: Int, val window: Int, val kind: String, val wallS: Double,
                     val items: Long, val digest: String, var ok: Option[Boolean],
                     val deltas: Map[String, Long]) {
  def traced: Boolean = window == 1
}

/** A workload: builds its state in `setup`, hands out ops in a closed loop,
  * and checks the outputs of the ops it handed out.
  */
trait Workload {
  /** Builds the workload's state under `dir` (fresh per repetition). */
  def setup(dir: Path): Unit

  /** Runs once after the last set-up: the warm-up ops, so that caches are
    * warm and lazy staging is done before timing starts.
    */
  def warmup(): Unit = { warmupTasks.foreach(_()); afterWarmup() }

  /** The warm-up as independent tasks (a caller may run them concurrently). */
  def warmupTasks: Seq[() => Unit]

  /** Forgets what the warm-up ops produced, so checks see timed ops only. */
  def afterWarmup(): Unit = ()

  def next(): Op

  /** Decides `ok` for every record it can; records left undecided are
    * checked by the Python side against the files written here.
    */
  def check(records: Seq[OpRecord], outDir: Path): Unit

  /** Layer metrics of the traced window (names from BENCHMARK.json). */
  def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = Map.empty

  /** Free-form facts for the run record. */
  def info: Map[String, Any] = Map.empty

  /** Whether the timed window may end after the ops handed out so far
    * (a workload whose ops come in balanced groups ends on a group).
    */
  def atGroupEnd: Boolean = true
}

object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val spec = mapper.readTree(Paths.get(a("spec")).toFile)
    val out = Paths.get(a("out")).toAbsolutePath

    Scratch.redirect(work.resolve("scratch"))
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.streamingQueryListeners", "perfbench.StreamProgress")
    val spark = graft.SparkEntry.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkCounters)
    spark.listenerManager.register(new CommandCounters)
    // Stream checkpoints go under the run's own directory.
    spark.conf.set("spark.graft.stream.checkpointBase", work.resolve("checkpoints").toString)

    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w: Workload = workload match {
      case "ingest_sync" => new IngestSync(spark, inputs, spec, seed)
      case "analyst_mix" => new AnalystMix(spark, inputs, spec, seed)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: the state is built several times, each in a fresh directory
    // (the last one is timed), then the warm-up ops run once.
    val reps = spec.get("setup").get("repetitions").asInt
    val setupS = (1 to reps).map(r => Main.timed(w.setup(work.resolve(s"rep$r")))._2)
    val warmupS = Main.timed(w.warmup())._2

    // Timed window. A traced run adds a traced window and then a second
    // untraced one: the tracing overhead compares the traced window with
    // the untraced ones on both sides of it, which cancels the warm-up
    // drift that still runs through the first window. Only the traced
    // window feeds the layer metrics, and only the first window the
    // end-to-end metrics.
    val records = ArrayBuffer.empty[OpRecord]
    val cpu0 = hostCpu()
    def loop(windowS: Double, window: Int): Unit = {
      val traced = window == 1
      Trace.enabled = traced
      val deadline = System.nanoTime() + (windowS * 1e9).toLong
      while (System.nanoTime() < deadline || !w.atGroupEnd) {
        val op = w.next()
        val before = if (traced) Trace.snapshot() else Map.empty[String, Long]
        val t0 = System.nanoTime()
        val (digest, ok) =
          try (Trace.span(s"op.${op.kind}", "bench")(op.run()), None)
          catch { case NonFatal(e) =>
            System.err.println(s"op ${op.kind} failed: $e")
            ("", Some(false))
          }
        val wall = (System.nanoTime() - t0) / 1e9
        // the engine's event bus catches up before the next op, in every
        // window, so that a traced op's counters are its own and traced and
        // untraced ops run under the same conditions
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val deltas =
          if (!traced) Map.empty[String, Long]
          else {
            val after = Trace.snapshot()
            after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
          }
        records += new OpRecord(records.size, window, op.kind, wall, op.items, digest, ok, deltas)
      }
      Trace.enabled = false
    }
    loop(seconds, window = 0)
    if (trace) { loop(seconds, window = 1); loop(seconds, window = 2) }
    val cpu1 = hostCpu()

    val checkDir = work.resolve("check")
    Files.createDirectories(checkDir)
    val checkS = Main.timed(w.check(records.toSeq, checkDir))._2

    val tracedRecs = records.filter(_.traced).toSeq
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val spans = Trace.allSpans
        writeSpans(spans, Paths.get(a("trace_file")))
        // per op kind: traced median over untraced median, then the median
        // of those ratios across kinds
        val untraced = records.filterNot(_.traced).toSeq.groupBy(_.kind)
        val ratios = tracedRecs.groupBy(_.kind).collect {
          case (k, rs) if untraced.contains(k) =>
            Stats.median(rs.map(_.wallS)) / Stats.median(untraced(k).map(_.wallS).toSeq)
        }.toSeq
        val overhead = if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1
        val n = math.max(tracedRecs.size, 1).toDouble
        def perOp(k: String) = tracedRecs.map(_.deltas.getOrElse(k, 0L)).sum / n
        Map(
          "trace.overhead_frac" -> overhead,
          "trace.spans" -> spans.size.toDouble,
          "jvm.gc_s" -> perOp("jvm.gc_ms") / 1000.0,
          "jvm.gc_count" -> perOp("jvm.gc_n"),
        ) ++ w.layerMetrics(tracedRecs) ++
          Trace.selfTimeByLayer(spans).map { case (l, s) => s"self_s.$l" -> s / n }
      }

    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("workload", workload)
    rec.put("seed", seed)
    rec.put("cores", cores)
    rec.put("setup_s", setupS.asJava)
    rec.put("warmup_s", warmupS)
    rec.put("phases_s", Map("jvm_and_session" -> sessionS, "check" -> checkS).asJava)
    rec.put("peak_rss_mb", peakRssMb())
    rec.put("ops", records.map { r =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("kind", r.kind); m.put("wall_s", r.wallS); m.put("items", r.items)
      m.put("digest", r.digest); m.put("window", r.window)
      m.put("ok", r.ok.map(Boolean.box).orNull)
      m
    }.asJava)
    rec.put("layers", layers.asJava)
    rec.put("info", w.info.asJava)
    // share of the host's CPU time taken by the hypervisor (steal) and by
    // every process (busy) during the timed window
    val dCpu = cpu1.zip(cpu0).map { case (a, b) => a - b }
    val total = dCpu.sum.max(1L).toDouble
    rec.put("host", Map("steal_frac" -> dCpu.lift(7).getOrElse(0L) / total,
      "busy_frac" -> (total - dCpu(3) - dCpu.lift(4).getOrElse(0L)) / total).asJava)
    Files.writeString(out, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rec))
    spark.stop()
  }

  /** Cumulative (collection ms, collection count) over every collector. */
  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum, beans.map(_.getCollectionCount.max(0L)).sum)
  }

  /** The host's cumulative CPU time counters (the `cpu` line of /proc/stat). */
  def hostCpu(): Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1)
      .map(_.toLong).toSeq
    catch { case NonFatal(_) => Seq.fill(8)(0L) }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
  }

  private def writeSpans(spans: Seq[Span], path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val arr = spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("layer", s.layer); m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      m
    }.asJava
    val doc = new java.util.LinkedHashMap[String, Any]()
    doc.put("spans", arr)
    doc.put("self_s_by_layer", Trace.selfTimeByLayer(spans).asJava)
    Files.writeString(path, mapper.writeValueAsString(doc))
  }

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  /** Runs `body` and returns (result, seconds). */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Points the engine's staging scratch root at a directory inside the run's
  * own work area. `graft.StageDir.scratchBase` is a lazy val that prefers
  * /dev/shm; setting it before its first use keeps every staged copy,
  * replay stage and checkpoint of a run inside the run's directory. A
  * redirect that does not take fails the run: staged copies outside the
  * run persist across runs, so a silent fallback would change what is
  * measured.
  */
object Scratch {
  def redirect(dir: Path): Unit = {
    Files.createDirectories(dir)
    val module = Class.forName("graft.StageDir$")
    val inst = module.getField("MODULE$").get(null)
    val f = module.getDeclaredField("scratchBase")
    f.setAccessible(true)
    f.set(inst, dir.toString)
    val bits = module.getDeclaredFields.filter(_.getName.startsWith("bitmap$"))
    bits.foreach { bf =>
      bf.setAccessible(true)
      bf.getType match {
        case java.lang.Boolean.TYPE => bf.setBoolean(inst, true)
        case java.lang.Byte.TYPE    => bf.setByte(inst, (bf.getByte(inst) | 1).toByte)
        case java.lang.Integer.TYPE => bf.setInt(inst, bf.getInt(inst) | 1)
        case java.lang.Long.TYPE    => bf.setLong(inst, bf.getLong(inst) | 1L)
        case _                      =>
      }
    }
    val used = module.getMethod("scratchBase").invoke(inst)
    require(used == dir.toString, s"staging scratch root is $used, not $dir")
  }
}
