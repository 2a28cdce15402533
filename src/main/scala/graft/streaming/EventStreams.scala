package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.Present._

/** Structured Streaming surface over the `events` table (SURVEY B31–B34).
  *
  * Streams are file-source replays of the fixture parquet: `readStream` →
  * event-time transforms → memory sink, driven to completion with
  * `Trigger.Once` (`Trigger.AvailableNow` for paced sources). The same
  * transformations run against a real unbounded source unchanged;
  * watermarks bound state at scale.
  *
  * Mode notes: bounded replays use `complete` output for windowed aggregates
  * — in `append` mode, windows at the tail of a bounded stream sit above the
  * final watermark and would never be emitted. Watermark + append + late-data
  * *drop* semantics are exercised in the ScalaTest specs with crafted inputs,
  * where the expected emissions are controlled.
  *
  * Event time: the fixture's nanosecond timestamps arrive as long nanos
  * (see [[graft.Tables.eventsUs]]); `ts_utc` is the derived micros timestamp
  * used for watermarks/windows, and bucket ids are emitted as epoch-based
  * integers so results are engine- and timezone-portable.
  */
object EventStreams {
  type Q = (SparkSession, String) => DataFrame

  private val runId = new AtomicLong(0)

  /** Memory-sink view names from prior replays, dropped on the next replay
    * of the SAME session (keyed by the session OBJECT so distinct sessions
    * can never collide; weak keys let a closed session's entry go with it).
    * Replays are driven sequentially per session — Verify, perfbench and
    * the specs all consume a replay's result before starting the next.
    */
  private val staleSinks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Buffer[String]]())

  /** Scratch root for replay staging + throwaway checkpoints (tmpfs when
    * available). A replay writes dozens of small files (offset/commit WAL,
    * state-store deltas); their measured cost was per-file metadata calls,
    * one forked `chmod`/`readlink` each before [[graft.InProcessLocalFileSystem]]
    * and [[ReplayPosture]], not the bytes. One definition for the whole
    * engine: [[graft.StageDir.scratchBase]].
    */
  private[graft] def scratchBase: String = graft.StageDir.scratchBase

  /** size:mtime signature of the events fixture — the identity key for
    * results published through [[graft.StageDir]] (verbatim-signature
    * discipline: a regenerated fixture gets a NEW published dir).
    */
  private def eventsSig(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "events.parquet")
    s"${java.nio.file.Files.size(p)}:${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
  }

  /** Scale-dir disambiguator for published-result base names, so sf0.001 and
    * sf0.01 snapshots coexist instead of superseding each other.
    */
  private def dirTag(dir: String): String = Integer.toHexString(dir.hashCode)

  /** Order-independent content signature of a freshly computed result:
    * `<row-count>.<exact decimal sum of per-row xxhash64 over all columns>`.
    *
    * Folded into the [[graft.StageDir.publish]] signature alongside the
    * fixture signature so the published copy's IDENTITY includes what the
    * engine just computed. This closes the stale-publish certification hole:
    * with a fixture-only signature, a logic change on an unchanged fixture
    * would find the pre-change published dir live and serve the STALE result
    * to Verify — a regression could silently pass the oracle compare. With
    * the content hash folded in, any change to the fresh output lands in a
    * NEW signature dir (the superseded copy is dropped after the new one is
    * live), so the certified bytes are always this run's computation.
    *
    * Distributed one-pass job over the (result-sized, not corpus-sized)
    * fresh output; only the two scalar aggregates reach the driver. Exact
    * decimal sum, not long sum (ANSI mode throws on overflow) and not
    * bit_xor (even-multiplicity duplicate rows would cancel).
    */
  private[graft] def contentSig(fresh: DataFrame): String = {
    val row = fresh.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(fresh.columns.map(col): _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h")).head()
    s"${row.getLong(0)}.${Option(row.get(1)).getOrElse(0L)}"
  }

  /** Streaming view of events with `ts_us` (BIGINT µs) + `ts_utc` timestamp. */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // cached table registry: the schema read costs a parquet footer only once
    val schema = graft.Tables(spark, dir).table("events").schema
    // The file stream source wants a directory of files (the unbounded-ingest
    // layout); the fixture is a single file, so stage it into a per-sf temp
    // directory once and replay from there. Staged as SEVERAL files, not a
    // byte copy: the microbatch scan parallelizes per file, and one ~5 MB
    // parquet is a single input split — a single-threaded scan at the head
    // of every replay. (Row order is irrelevant: every streaming query here
    // aggregates or dedups, and all checks sort.)
    val stageDir = ReplayStage.stage(spark, s"$dir/events.parquet",
      s"graft_events_stage_${Integer.toHexString(dir.hashCode)}", n = 8)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(stageDir)
    val tsUs = schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _        => unix_micros(col("ts").cast(TimestampType))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
      .drop("ts")
  }

  /** Fixed conf posture of the replay clone (see [[replaySession]]):
    * throwaway-checkpoint hygiene and a narrow shuffle width, constant for
    * every bounded replay.
    *  - retain a single batch (nothing resumes from these checkpoints) and
    *    skip per-row state format validation (the schema is fixed by the
    *    plan that just built it);
    *  - each replay registers fresh state-store providers (new checkpoint);
    *    they accumulate in the provider cache for the session's lifetime,
    *    and the default 60s maintenance sweep would iterate and snapshot
    *    ALL of them mid-bench. Replays never resume, so maintenance is pure
    *    overhead.
    *  - checkpoint files go through the FileSystem API, not Spark's default
    *    FileContext manager: FileContext's local filesystem builds its own
    *    stock raw filesystem (so the in-process permissions of
    *    [[graft.InProcessLocalFileSystem]] never reach it) and forks a
    *    `readlink` on every rename. A local rename is an atomic rename(2),
    *    so `createAtomic` keeps its guarantee. Durable checkpoints, and HDFS
    *    or object-store paths, keep Spark's default — only these throwaway
    *    clones carry the setting;
    *  - no checksum sidecars for the same never-resumed checkpoints;
    *  - four shuffle partitions: stateful operators allocate one state
    *    store per shuffle partition up front, and a bounded replay needs
    *    only a few (a cluster deployment sizes this to its executors).
    */
  private val ReplayPosture = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.minBatchesToRetain" -> "1",
    "spark.sql.streaming.stateStore.formatValidation.enabled" -> "false",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "1000",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** The session every bounded replay RUNS on: a memoized
    * [[graft.PostureSessions]] clone of the caller (r15 — the r14 verdict's
    * finding: the old set+restore-in-finally on the CALLER session meant a
    * concurrent query planned on that session mid-replay silently inherited
    * the replay posture; the same defect class q81/q85 already fixed).
    * The clone's key is [[ReplayPosture]] PLUS the per-replay knobs
    * (no-data microbatch, state-store provider) — r15 ADVICE: keying the
    * knobs means two concurrent replays with different values run on two
    * different clones instead of racing set-then-start on one. Nothing
    * else is copied from the caller: the clone's conf is the posture key.
    *
    * Single-writer contract: replays on one caller session serialize (as
    * Verify, perfbench and the specs always have); what the clone buys is that the
    * CALLER's concurrently-planned batch queries can never observe replay
    * posture — the contract is now about the replay machinery's own
    * internals only.
    */
  private[graft] def replaySession(caller: SparkSession,
                                   noDataBatch: Boolean,
                                   provider: Option[String]): SparkSession = {
    // The PER-REPLAY knobs (trailing no-data microbatch, state-store
    // provider) are part of the POSTURE KEY (r15 ADVICE): two concurrent
    // replays with different knob values get two different memoized clones
    // instead of racing set-then-start on one shared clone. The combination
    // space is tiny and fixed (2 noData values x the provider set in use),
    // so the PostureSessions per-caller bound still holds.
    //
    // The trailing no-data microbatch exists to close event-time windows
    // promptly on a LIVE stream; an AvailableNow replay terminates anyway,
    // so it only adds a full extra microbatch of latency.
    val resolvedProvider = provider.orElse(caller.conf.getOption(ProviderKey))
    val posture = ReplayPosture +
      ("spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString) ++
      resolvedProvider.map(ProviderKey -> _)
    graft.PostureSessions(caller, posture)
  }

  /** Runs a (bounded) streaming frame to completion into a memory sink and
    * returns the materialized result. The frame is BUILT and RUN on the
    * replay clone ([[replaySession]]) — a streaming DataFrame executes on
    * the session it was built against, so the builder takes the session as
    * an argument; the returned (batch) result is bound to the clone, which
    * shares the SparkContext, so callers compose/collect it as before.
    *
    * @param frame builds the streaming frame against the replay session
    * @param availableNow use Trigger.AvailableNow instead of Trigger.Once —
    *   required when the source paces batches (maxFilesPerTrigger) and
    *   Trigger.Once would collapse them into one.
    * @param noDataBatch keep the trailing no-data microbatch — required for
    *   APPEND-mode event-time queries, where windows closed by the LAST data
    *   batch's watermark only flush in one further batch.
    * @param stateStoreProvider force a state-store provider for this replay
    *   (e.g. RocksDB for transformWithState); None reads the caller's
    *   setting through, defaulting to the HDFS-backed store.
    */
  def runToMemory(caller: SparkSession, frame: SparkSession => DataFrame,
                  mode: String,
                  availableNow: Boolean = false,
                  noDataBatch: Boolean = false,
                  stateStoreProvider: Option[String] = None): DataFrame = {
    val spark = replaySession(caller, noDataBatch, stateStoreProvider)
    val df = frame(spark)
    require(df.sparkSession eq spark,
      "runToMemory: the frame must be built on the replay session it is given")
    // Replay sinks are consumed immediately by the caller; earlier replays'
    // memory tables would otherwise pin their rows for the session lifetime
    // (a bench/verify run does dozens of replays).
    val sessionSinks = staleSinks.computeIfAbsent(
      spark, _ => scala.collection.mutable.Buffer.empty[String])
    sessionSinks.synchronized {
      sessionSinks.foreach(spark.catalog.dropTempView(_))
      sessionSinks.clear()
    }
    val name = s"graft_stream_${runId.incrementAndGet()}_${System.nanoTime()}"
    sessionSinks.synchronized { sessionSinks += name }
    // A bounded replay fits one microbatch, and Trigger.Once pays one less
    // offset-planning round than AvailableNow (~0.1 s on the measured
    // floor). A LIVE deployment would use AvailableNow/processing-time
    // triggers.
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.Once(): @annotation.nowarn("cat=deprecation")
    // Scratch checkpoint root: the caller's `spark.graft.stream.checkpointBase`
    // (e.g. a tmpfs on hosts where the default tmp dir is slow disk), else
    // [[scratchBase]]. Replays are rebuildable by definition, so losing the
    // checkpoint on restart costs nothing — a durable deployment sets a real
    // checkpointLocation and never goes through runToMemory.
    val ckpt = java.nio.file.Paths.get(
      caller.conf.getOption("spark.graft.stream.checkpointBase").getOrElse(scratchBase),
      s"graft_ckpt_$name")
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(trigger)
      .option("checkpointLocation", ckpt.toString)
      .start()
    q.awaitTermination()
    locally { // best-effort scratch cleanup
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(ckpt)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
    // No conf restore: every knob above lives on the replay clone, which
    // the machinery owns — the caller session was never touched.
    spark.table(name)
  }

  /** B31: tumbling 1-hour window counts by event type. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = (s: SparkSession) => readEvents(s, dir)
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("event_type"), col("cnt"))
    runToMemory(spark, agg, "complete")
      .presented("bucket_us", "event_type")
  }

  /** B33: session windows (30-minute gap) per user → sessions per user. */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = (s: SparkSession) => readEvents(s, dir)
      .groupBy(session_window(col("ts_utc"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id")) // one row per session; the count itself stays in state
    runToMemory(spark, agg, "complete")
      .groupBy("user_id").agg(count(lit(1)).cast(LongType).as("n_sessions"))
      .presented("user_id")
  }

  /** B31: sliding 1-hour windows every 30 minutes — each event lands in two
    * overlapping buckets.
    */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = (s: SparkSession) => readEvents(s, dir)
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("event_type"), col("cnt"))
    runToMemory(spark, agg, "complete")
      .presented("bucket_us", "event_type")
  }

  /** Custom keyed state (the `mapGroupsWithState` surface): a per-user
    * running event counter held in explicit GroupState. The bounded replay
    * is one microbatch, so each user emits exactly one update; the batch-side
    * max() collapse keeps the result well-defined under any batching.
    */
  def statefulUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val updates = (s: SparkSession) => {
      import s.implicits._
      readEvents(s, dir)
        .select(col("user_id"), col("event_id"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long)],
           state: org.apache.spark.sql.streaming.GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (user, n)
        }
        .toDF("user_id", "n")
    }
    runToMemory(spark, updates, "update")
      .groupBy("user_id").agg(max("n").as("n"))
      .presented("user_id")
  }

  /** q125: custom session state machine — the `flatMapGroupsWithState` +
    * event-time-TIMEOUT surface (q64 exercises explicit state without
    * timeouts; `session_window` (q62) can't express custom
    * emission/eviction). Per-user 30-minute-gap sessions, emitted only once
    * CLOSED by the watermark: a session whose `last event + gap` the
    * watermark has strictly passed can never grow again, so its summary
    * row is final — exactly-once by construction, no batch-side collapse.
    *
    * Protocol (mirrored µs-exactly by the oracle):
    *  - watermark = `max(event ts in ms) − 10 min` (Spark tracks event-time
    *    stats in whole ms — the oracle replays the ms floor, then scales
    *    back to µs);
    *  - events join a session while `ts − prev ≤ gap`; a strictly larger
    *    step starts a new session;
    *  - a session is EMITTED when `end + gap < watermark` (strict — the
    *    same strictness as Spark's timeout firing `timeoutTs < watermark`,
    *    so firing and emission can't disagree at the boundary);
    *  - state holds only the events of sessions NOT yet closed — everything
    *    older has been emitted and dropped, so per-key state is bounded by
    *    the watermark lag + gap window, not by history (the q73/q80
    *    watermark-eviction discipline, here enforced by the operator's own
    *    code).
    *
    * The timeout timestamp is the earliest pending closure (floor-ms of
    * `end + gap`): floor aligns Spark's strict ms firing predicate with the
    * strict µs emission predicate, and the `wm + 1` clamp (Spark rejects
    * timeouts ≤ current watermark) can only defer a boundary-straddling
    * closure by <1 ms of watermark advance.
    */
  def gapSessions(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => gapSessionsFrom(readEvents(s, dir)), "append",
      availableNow = true, noDataBatch = true)
      .presented("user_id", "session_start_us")

  /** The q125 plan pre-sink — shared by the certified replay and the
    * multi-batch protocol spec (which drives it through a MemoryStream to
    * observe mid-stream closure and state eviction batch by batch).
    * Expects `user_id`/`ts_us`/`ts_utc` columns, watermark not yet applied.
    */
  private[graft] def gapSessionsFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 30L * 60 * 1000000
    events
      .withWatermark("ts_utc", "10 minutes")
      // the watermarked column must survive into the grouped Dataset (the
      // analyzer requires it for event-time timeouts); ts_us is its µs twin
      .select(col("user_id"), col("ts_us"), col("ts_utc"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[Array[Long]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, retained, earliestCloseUs) = sessionStep(
            state.getOption.getOrElse(Array.empty[Long]), rows.map(_._2), wmUs, gapUs)
          if (retained.isEmpty) state.remove()
          else {
            state.update(retained)
            state.setTimeoutTimestamp(
              math.max(earliestCloseUs / 1000L, state.getCurrentWatermarkMs() + 1))
          }
          closed.iterator.map(s => (user, s.head, s.last, s.length.toLong))
      }
      .toDF("user_id", "session_start_us", "session_end_us", "n_events")
  }

  /** One sessionizer transition, shared by the q125 (`GroupState`) and q130
    * (`StatefulProcessor`) surfaces so the two APIs certify the SAME
    * semantics: merge new event times into the buffer, split into gap
    * sessions, close the ones the watermark strictly passed.
    *
    * @return (closed sessions, retained buffer, earliest pending closure µs
    *   — the floor-ms of which is the next timer; 0 when nothing retained)
    */
  private[streaming] def sessionStep(buffered: Array[Long], incoming: Iterator[Long],
                                     wmUs: Long, gapUs: Long)
      : (Seq[Array[Long]], Array[Long], Long) = {
    val buf = (buffered ++ incoming).sorted
    val sessions = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var start = 0
    var i = 1
    while (i <= buf.length) {
      if (i == buf.length || buf(i) - buf(i - 1) > gapUs) {
        sessions += java.util.Arrays.copyOfRange(buf, start, i)
        start = i
      }
      i += 1
    }
    val (closed, open) = sessions.partition(s => s.last + gapUs < wmUs)
    (closed.toSeq, open.flatten.toArray,
      if (open.isEmpty) 0L else open.head.last + gapUs)
  }

  /** q133: the q128 quantile SKETCH built over a stream — the
    * batch-vs-stream identity the sketch's ADDITIVE counts buy. The build
    * phase ([[graft.operators.Sketches.logBucketCounts]]) runs as a plain
    * streaming groupBy-count in complete mode, whose keyed state is one row
    * per OCCUPIED (group, bucket) — the sketch's own volume-independent
    * bound is the streaming state bound, no watermark needed; quantile
    * extraction runs batch-side over the materialized sketch. GK/t-digest
    * could not make this claim: their merge is order-sensitive, so a
    * micro-batched build would legitimately differ from the batch build.
    * Certified against the same SQL construction as q128, on the event
    * stream's `value` by `event_type`.
    */
  def streamQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.Present._
    val counts = (s: SparkSession) => graft.operators.Sketches.logBucketCounts(
      readEvents(s, dir).select(col("event_type"), col("value")),
      "value", "event_type")
    val sketch = runToMemory(spark, counts, "complete")
    graft.operators.Sketches.quantilesFromCounts(sketch, "event_type",
      Seq(0.25, 0.5, 0.75, 0.95))
      .presented("event_type", "q")
  }

  /** q130: q125's session semantics through the NEW arbitrary-state API
    * (`transformWithState` / `StatefulProcessor`, Spark 4) — typed
    * `ValueState` + explicit event-time TIMERS instead of the single
    * implicit `GroupState` timeout. Both queries run [[sessionStep]] and
    * certify against the SAME oracle SQL, so the two state APIs are pinned
    * to identical semantics (the q113/q114 two-paths-one-golden
    * discipline). Requires the RocksDB state-store provider — the
    * changelog-checkpointed store TWS is built for; the replay sets it for
    * this query only.
    *
    * Timer discipline: one timer per key at the earliest pending closure
    * (floor-ms — strict-µs alignment as q125); a fired timer re-runs the
    * same transition, and a stale timer (the state has since advanced) is
    * harmless because closure is decided by the CURRENT watermark, never by
    * which timer fired.
    */
  def gapSessionsTws(spark: SparkSession, dir: String): DataFrame =
    // the RocksDB requirement rides the per-replay provider override — set
    // on the replay clone only, never on the caller session (r15)
    runToMemory(spark, s => gapSessionsTwsFrom(readEvents(s, dir)), "append",
      availableNow = true, noDataBatch = true,
      stateStoreProvider = Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .presented("user_id", "session_start_us")

  private[graft] def gapSessionsTwsFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts_utc", "10 minutes")
      .select(col("user_id"), col("ts_us"), col("ts_utc"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(
        new GapSessionProcessor(30L * 60 * 1000000,
          implicitly[org.apache.spark.sql.Encoder[Array[Long]]]),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start_us", "session_end_us", "n_events")
  }

  private class GapSessionProcessor(gapUs: Long,
                                    bufEnc: org.apache.spark.sql.Encoder[Array[Long]])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var buf: ValueState[Array[Long]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[Array[Long]]("buf", bufEnc, TTLConfig.NONE)

    private def step(user: Long, incoming: Iterator[Long],
                     timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val wmMs = timers.getCurrentWatermarkInMs()
      val (closed, retained, earliestCloseUs) = sessionStep(
        Option(buf.get()).getOrElse(Array.empty[Long]), incoming,
        wmMs * 1000L, gapUs)
      // ONE pending timer per key: registerTimer ACCUMULATES (unlike
      // GroupState's setTimeoutTimestamp, which replaces), so a key touched
      // in many batches would pile up stale timers forever — and a
      // superseded LATER timer would delay a closure that new events moved
      // earlier. Expired timers are engine-removed; pending ones we own.
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (retained.isEmpty) buf.clear()
      else {
        buf.update(retained)
        getHandle.registerTimer(math.max(earliestCloseUs / 1000L, wmMs + 1))
      }
      closed.iterator.map(s => (user, s.head, s.last, s.length.toLong))
    }

    override def handleInputRows(user: Long,
                                 rows: Iterator[(Long, Long, java.sql.Timestamp)],
                                 timers: TimerValues): Iterator[(Long, Long, Long, Long)] =
      step(user, rows.map(_._2), timers)

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] =
      step(user, Iterator.empty, timers)
  }

  /** B32 with a hard CORRECTNESS row: watermark late-data DROP over a
    * crafted THREE-batch replay whose batch split — and therefore the exact
    * drop set — is a deterministic function of the data, so a DuckDB oracle
    * can reconstruct it:
    *
    *  - batch 1 (file A): every event EXCEPT the "late set"
    *    (`event_id % 97 == 0`) and the 2-hour tail (`ts_us >= max - 2h`);
    *  - batch 2 (file B): the tail — fresh on-time rows that advance the
    *    watermark to its final value;
    *  - batch 3 (file C): the late set — genuinely late rows arriving well
    *    after their windows closed.
    *
    * Protocol (MEASURED on this Spark, pinned by the spec suite): in batch N
    * the late-input filter evaluates against the watermark that was current
    * during batch N-1, while end-of-batch EVICTION/emission uses the current
    * one — which is why the late file must arrive two batches after the
    * on-time bulk for its drop set to be `wmA = max(fileA) - 10min`. In
    * APPEND mode: batch-3 rows whose hour window closed at or below `wmA`
    * are DROPPED; windows closed by the final watermark
    * (`max(all) - 10min`) are emitted, counting late SURVIVORS where the
    * window was still open. (No watermark value lands exactly on an hour
    * boundary at any fixture SF, so the boundary comparator is not
    * load-bearing.) The oracle recomputes all of this in SQL.
    */
  /** The replay runs on the deterministic `user_id % 5 = 0` slice: the
    * late-drop PROTOCOL is what this query certifies, and the slice keeps
    * the drop set non-trivial at every SF while the crafted single-file
    * batches stay cheap to scan.
    */
  def lateDropCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = (s: SparkSession) => {
      val stageDir = stageLateReplay(s, dir)
      s.readStream
        .schema("ts_us BIGINT")
        .option("maxFilesPerTrigger", "1") // one staged file per microbatch
        .parquet(stageDir)
        .withColumn("ts_utc", timestamp_micros(col("ts_us")))
        .withWatermark("ts_utc", "10 minutes")
        .groupBy(window(col("ts_utc"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("window.start")).as("bucket_us"), col("cnt"))
    }
    runToMemory(spark, agg, "append", availableNow = true, noDataBatch = true)
      .presented("bucket_us")
  }

  /** Stages the three-file late-drop replay — batch-0 on-time / batch-1
    * tail / batch-2 late, order fixed by mtime (three batches because the
    * late filter uses the PREVIOUS batch's watermark; see the protocol
    * note on [[lateDropCounts]]); sig-suffixed dir, atomic publish — same
    * discipline as [[ReplayStage]].
    */
  private def stageLateReplay(spark: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val srcFile = Paths.get(s"$dir/events.parquet")
    require(Files.exists(srcFile), s"replay source missing: $srcFile")
    // "v3": the sig embeds the RECIPE version too — changing the batch
    // construction must invalidate previously staged layouts
    val sig = s"latedrop-v3:${Files.size(srcFile)}:${Files.getLastModifiedTime(srcFile).toMillis}"
    val baseName = s"graft_latedrop_${Integer.toHexString(dir.hashCode)}"
    graft.StageDir.publish(baseName, sig) { tmp =>
      val ev = graft.Tables(spark, dir).eventsUs
        .filter(col("user_id") % 5 === 0)
        .select(col("event_id"), col("ts_us"))
      // bounded: one scalar — but guard the empty slice (a regenerated or
      // tiny events fixture) so staging fails with a named cause, not an NPE
      val mxRow = ev.agg(max("ts_us")).head()
      require(!mxRow.isNullAt(0),
        s"late-drop staging: no events match user_id % 5 = 0 in $dir/events.parquet — " +
          "the replay slice is empty, cannot derive batch boundaries")
      val mx = mxRow.getLong(0)
      val isTail = col("ts_us") >= mx - 7200000000L
      val isLate = (col("event_id") % 97 === 0) && !isTail
      def writeOne(df: DataFrame, name: String, mtimeMs: Long): Unit = {
        val scratch = tmp.resolve(s"_write_$name")
        df.select("ts_us").coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = Files.list(scratch).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written under $scratch"))
        Files.move(part, tmp.resolve(name))
        graft.StageDir.deleteRecursively(scratch)
        Files.setLastModifiedTime(tmp.resolve(name),
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      val t0 = System.currentTimeMillis() - 180000
      writeOne(ev.filter(!isTail && !isLate), "batch-0.parquet", t0)
      writeOne(ev.filter(isTail), "batch-1.parquet", t0 + 60000)
      writeOne(ev.filter(isLate), "batch-2.parquet", t0 + 120000)
    }.toString
  }

  /** B34: stateful streaming dedup — inject a duplicate of every event into
    * the stream, dedup on event_id in the stream, then count survivors per
    * type batch-side. (Duplication happens in-stream via a generator rather
    * than a second file source: the dedup STATE does identical work either
    * way, without paying a second source's offset/scan machinery.)
    */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame = {
    // project BEFORE dropDuplicates: streaming dedup state keeps the whole
    // input row per key, so the projection decides the state size
    val deduped = (s: SparkSession) => readEvents(s, dir)
      .withColumn("_copy", explode(array(lit(1), lit(2))))
      .select("event_id", "event_type")
      .dropDuplicates("event_id")
    runToMemory(spark, deduped, "append")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .presented("event_type")
  }

  /** Stream-stream inner join with an event-time range condition (the ad
    * impression→click attribution shape): a click matches an impression on
    * the same key within `[imp_time, imp_time + windowSpec]`.
    *
    * Both sides carry watermarks, so the join STATE is bounded: Spark
    * evicts buffered left rows once the right watermark passes
    * `imp_time + window` (and vice versa) — without both watermarks a
    * stream-stream inner join would buffer forever. Columns: left must have
    * `(key, imp_time)`, right `(key, click_time)`.
    *
    * Scale shape: the join shuffles both streams by `key` into co-located
    * state stores — the same hash-partitioned layout a batch shuffle join
    * uses, with eviction replacing the batch build/probe lifetime.
    */
  def intervalJoin(impressions: DataFrame, clicks: DataFrame,
                   window: String = "10 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = impressions.withWatermark("imp_time", watermark)
    val r = clicks.withWatermark("click_time", watermark)
    l.join(r, expr(
      s"""l_key = r_key AND
          click_time >= imp_time AND
          click_time <= imp_time + INTERVAL $window"""))
  }

  /** q73: [[intervalJoin]] run END-TO-END over the events replay — the
    * view→click attribution relation, one row per (impression, click) pair
    * on the same user within 30 minutes. A stream-stream INNER join emits
    * matches as both sides arrive (the watermarks bound the join STATE and
    * outer-null emission, not inner matches), so the bounded replay emits
    * the complete relation and the batch join over the same table is the
    * exact oracle.
    */
  def attributionPairs(spark: SparkSession, dir: String): DataFrame =
    // SELF-join over ONE stream source (r20): the impression and click
    // sides are two filters of the same events stream, so two independent
    // file sources would pay a second per-batch offset resolution +
    // directory listing + WAL entry for identical data. One source feeds
    // both sides (Spark's documented stream self-join support); the join
    // result is byte-identical — oracle re-checked.
    runToMemory(spark, s => { val ev = readEvents(s, dir); attributionPairsFrom(ev, ev) },
      "append")
      .presented("imp_id", "click_id")

  /** The q73 join over caller-provided event streams (same `ts_utc` +
    * `event_type` shape as [[readEvents]]) — the certified plan decoupled
    * from the default staging, so a paced/multi-batch source (the restart
    * spec's) restarts THIS plan, not a re-implementation.
    */
  private[graft] def attributionPairsFrom(impEvents: DataFrame,
                                          clickEvents: DataFrame): DataFrame = {
    val imps = impEvents.filter(col("event_type") === "view")
      .select(col("user_id").as("l_key"), col("ts_utc").as("imp_time"),
        col("event_id").as("imp_id"))
    val clicks = clickEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("r_key"), col("ts_utc").as("click_time"),
        col("event_id").as("click_id"))
    intervalJoin(imps, clicks, "30 minutes", "1 hour")
      .select(col("l_key").as("user_id"), col("imp_id"), col("click_id"),
        unix_micros(col("imp_time")).as("imp_us"),
        unix_micros(col("click_time")).as("click_us"))
  }

  /** q80: the LEFT OUTER interval join — the watermark-gated null-emission
    * protocol, which the inner join (q73) never exercises. Inner matches
    * emit in the data batch; an UNMATCHED impression emits `(imp, null)`
    * only when the global watermark passes `imp_time + window` (no future
    * click can match it), which for this replay happens in the trailing
    * no-data batch under the final watermark
    * `min(max view ts, max click ts) − 1 h` (two watermarked inputs; the
    * default multipleWatermarkPolicy is `min`). Impressions whose match
    * window is NOT closed by that final watermark are still buffered when
    * the bounded replay ends and are never emitted — the oracle
    * reconstructs exactly that cutoff, the same protocol-reconstruction
    * pattern as q70.
    */
  def attributionOuter(spark: SparkSession, dir: String): DataFrame =
    // availableNow + noDataBatch: the outer-null flush NEEDS the trailing
    // no-data batch — eviction runs under the watermark advanced by the
    // last data batch. One shared stream source for both join sides (see
    // attributionPairs); the per-side watermarks still come from each
    // side's own filter, so the final `min` watermark (and therefore the
    // outer-null cutoff) is the same as with two sources.
    runToMemory(spark, s => { val ev = readEvents(s, dir); attributionOuterFrom(ev, ev) },
      "append", availableNow = true, noDataBatch = true)
      .presented("imp_id", "click_id")

  /** The q80 join over caller-provided event streams — see
    * [[attributionPairsFrom]] for why the plan is source-decoupled.
    */
  private[graft] def attributionOuterFrom(impEvents: DataFrame,
                                          clickEvents: DataFrame): DataFrame = {
    val imps = impEvents.filter(col("event_type") === "view")
      .select(col("user_id").as("l_key"), col("ts_utc").as("imp_time"),
        col("event_id").as("imp_id"))
      .withWatermark("imp_time", "1 hour")
    val clicks = clickEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("r_key"), col("ts_utc").as("click_time"),
        col("event_id").as("click_id"))
      .withWatermark("click_time", "1 hour")
    imps.join(clicks, expr(
      """l_key = r_key AND
         click_time >= imp_time AND
         click_time <= imp_time + INTERVAL 30 minutes"""), "left_outer")
      .select(col("l_key").as("user_id"), col("imp_id"), col("click_id"),
        unix_micros(col("imp_time")).as("imp_us"),
        unix_micros(col("click_time")).as("click_us"))
  }

  /** q83: the streaming FILE sink — append-mode watermarked window counts
    * written to parquet with a checkpoint + sink manifest (the
    * exactly-once mechanism real deployments use; every other replay here
    * certifies through the memory sink) and read BACK from the committed
    * files. Emitted set = windows CLOSED by the final watermark
    * (`max ts − 10 min`, window end inclusive — the q70 protocol); later
    * windows are still in state when the bounded replay ends and never
    * reach the sink.
    */
  def fileSinkCounts(spark: SparkSession, dir: String): DataFrame = {
    // The replay runs on the clone (r15 — same caller-isolation move as
    // runToMemory; append-mode event-time aggregation NEEDS the trailing
    // no-data batch: windows closed by the LAST data batch's watermark only
    // flush there). The frame is built on the clone; the published
    // read-back below returns a CALLER-bound frame.
    val s2 = replaySession(spark, noDataBatch = true, provider = None)
    val agg = readEvents(s2, dir)
      .withWatermark("ts_utc", "10 minutes")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("event_type"), col("cnt"))
    // Fresh output + checkpoint per run: the sink manifest is the
    // exactly-once ledger, so a REUSED dir would dedupe re-runs away. The
    // run dir is registered live BEFORE the sweep (a concurrent same-process
    // run must not reclaim it — StageDir.liveRuns) and released in the
    // finally, at which point this run's scratch is the next run's sweep
    // target; live other-process sessions are never touched.
    val base = graft.StageDir.acquireRunDir("graft_filesink_")
    val outDir = base.resolve("out")
    val ckpt = base.resolve("ckpt")
    val sinkSchema = "bucket_us BIGINT, event_type STRING, cnt BIGINT"
    try {
      graft.StageDir.sweepRunScratch(Seq("graft_filesink_"))
      agg.writeStream
        .format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      // The returned frame must not lazily read this run's scratch (the next
      // run sweeps it once released). The committed set — manifest-gated via
      // the _spark_metadata read above the sink dir — is republished through
      // StageDir (atomic rename, signature-pinned dir name, never in the
      // sweep namespace) and the caller gets a lazy read of the PUBLISHED
      // copy: no driver materialization, stable across later runs. The
      // signature folds the FRESH result's content hash in with the fixture
      // signature (see [[contentSig]]): an unchanged fixture + unchanged
      // logic skips the byte-identical republish, while a logic change that
      // alters the result republishes into a new dir instead of certifying
      // the stale copy.
      val fresh = spark.read.schema(sinkSchema).parquet(outDir.toString)
      val sig = s"${eventsSig(dir)}:c${contentSig(fresh)}"
      val published = graft.StageDir.publish(
        s"graft_filesink_snap_x${dirTag(dir)}", sig) { tmp =>
        fresh.write.mode("overwrite").parquet(tmp.toString)
      }
      spark.read.schema(sinkSchema).parquet(published.toString)
    } finally graft.StageDir.releaseRunDir(base)
  }

  /** q99: stream-STATIC join — each microbatch of the event stream joins a
    * bounded dimension (here `nation`, keyed by `user_id % 25`) that Spark
    * re-plans as a BATCH side per microbatch: no state, no second watermark,
    * the dim is broadcast into every batch. This is the enrichment shape
    * (fact stream × dimension) that complements the stream-stream interval
    * joins q73/q80.
    */
  def streamStaticCounts(spark: SparkSession, dir: String): DataFrame = {
    val joined = (s: SparkSession) => {
      val dim = graft.Tables(s, dir).table("nation")
        .select(col("n_nationkey"), col("n_name"))
      readEvents(s, dir)
        .join(broadcast(dim), pmod(col("user_id"), lit(25)) === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_events"))
    }
    runToMemory(spark, joined, "complete")
      .presented("n_name")
  }

  /** q98: streaming UPSERT via `foreachBatch` — each microbatch reduces to a
    * per-user latest-row delta, the delta becomes a changeset (op=U for keys
    * already in the snapshot, op=I for new keys, payload = the (ts,id)-max
    * winner of old vs new), and [[graft.operators.MergeUpsert.merge]]
    * publishes snapshot N+1 from snapshot N. The latest-wins changeset makes
    * the protocol ORDER-INDEPENDENT across batches (merge is associative on
    * event-time), so the final snapshot equals the batch latest-per-user —
    * which is exactly what the oracle computes. This is the classic
    * stream-maintained dimension / CDC-apply loop, and the snapshot files
    * are real (parquet per version under scratch), not driver state.
    *
    * The FINAL version is republished through [[graft.StageDir]] (atomic,
    * signature-pinned, outside the sweep namespace) and the caller gets a
    * lazy read of the published snapshot: no driver materialization, no
    * single-task write, and no later-run sweep hazard — intermediate
    * versions stay in this run's scratch, which the next run reclaims only
    * after [[graft.StageDir.releaseRunDir]].
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    // One run dir holds every snapshot version + the checkpoint. Registered
    // live BEFORE the sweep so a concurrent same-process run can't reclaim
    // it; prior (released) runs and exited JVMs' leftovers are swept. A
    // CONCURRENT live session's dirs are never touched.
    val snapBase = graft.StageDir.acquireRunDir("graft_upsert_")
    try {
    graft.StageDir.sweepRunScratch(Seq("graft_upsert_", "graft_ckpt_upsert_"))
    // three staged files per microbatch → three batches over the 8-file
    // stage (3+3+2): the bootstrap delta plus TWO merge applications — the
    // merge path, not just the bootstrap, is what this query certifies, and
    // two applications already pin associativity; each further microbatch
    // would re-pay the ~0.3s batch floor for no new protocol coverage.
    // Built and run on the replay clone (r15 caller-isolation); the final
    // published snapshot is read back on the CALLER below.
    val s2 = replaySession(spark, noDataBatch = false, provider = None)
    val src = readEvents(s2, dir, maxFilesPerTrigger = Some(3))
      .select("user_id", "ts_us", "event_id", "value")
    val finalSnap = streamUpsertRun(s2, src, snapBase)
    // Publish the FINAL version via StageDir: atomic rename into a
    // signature-pinned dir outside the sweep namespace, so the returned
    // LAZY read survives every later run (same fixture + same result →
    // same published dir; regenerated fixture OR logic change that alters
    // the snapshot → new dir, stale copy dropped — see [[contentSig]] for
    // why the content hash is part of the identity). No collect, no
    // coalesce(1): output partitions are sized to snapshot volume from the
    // parquet footer row count (metadata-only with aggregate pushdown).
    val snap = spark.read.parquet(finalSnap)
    val upSig = s"${eventsSig(dir)}:c${contentSig(snap)}"
    val published = graft.StageDir.publish(
      s"graft_upsert_snap_x${dirTag(dir)}", upSig) { tmp =>
      val rpp = spark.conf.getOption("spark.graft.upsert.rowsPerPartition")
        .map(_.toLong).getOrElse(4000000L)
      val parts = math.max(1L, (snap.count() + rpp - 1) / rpp).toInt
      snap.repartition(parts).write.mode("overwrite").parquet(tmp.toString)
    }
    spark.read.parquet(published.toString).presented("user_id")
    } finally graft.StageDir.releaseRunDir(snapBase)
  }

  /** The upsert micro-batch loop: foreachBatch merge chain writing one
    * snapshot version per batch under `snapBase`, checkpoint at
    * `snapBase/ckpt`. RESTART-SAFE: the version chain is recovered from the
    * highest existing `v<id>` snapshot on entry — a fresh run dir has none
    * (bootstrap); a KILLED run re-invoked with the same dir resumes the
    * merge from its last committed version while the checkpoint replays
    * only the unprocessed source files, so kill + restore converges to the
    * uninterrupted result (pinned by `StreamRestartSpec`).
    *
    * @return the final snapshot version's path
    */
  private[graft] def streamUpsertRun(spark: SparkSession, src: DataFrame,
                                     snapBase: java.nio.file.Path): String = {
    val recovered = Option(snapBase.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .sortBy(_.getName.drop(1).toLong).lastOption.map(_.getAbsolutePath)
    // written by the microbatch thread, read by the caller after
    // awaitTermination — an AtomicReference makes the cross-thread
    // publication explicit instead of leaning on the driver's internal
    // synchronization
    val current = new java.util.concurrent.atomic.AtomicReference[String](recovered.orNull)
    // `spark` here is the replay clone (callers go through replaySession),
    // which already carries the narrow stream width — no conf mutation, no
    // restore. The StreamRestartSpec drives this with its own session; its
    // width is whatever that session set, same as before.
    locally {
      val ckpt = snapBase.resolve("ckpt")
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val delta = batch.groupBy("user_id")
            .agg(max_by(struct(col("value"), col("ts_us"), col("event_id")),
              struct(col("ts_us"), col("event_id"))).as("_w"))
            .select(col("user_id"), col("_w.value").as("value"),
              col("_w.ts_us").as("ts_us"), col("_w.event_id").as("event_id"))
          // The changeset is evaluated TWICE downstream — merge's
          // broadcast-collect of the matched side and its insert-side
          // union each walk the subtree — and the subtree contains the
          // batch-sized groupBy, so without a cache the heavy aggregation
          // ran per evaluation and turned the probe's x600 scale point
          // super-linear (6.8 s at 6M events -> 287 s at 60M). Persist the
          // changeset: it is BOUNDED by distinct keys per batch (not batch
          // rows), so the cache is snapshot-sized and the aggregation runs
          // once; dropped after the version write materializes everything.
          val (merged, cached) = Option(current.get()) match {
            case None => (delta, None)
            case Some(path) =>
              val snap = spark.read.parquet(path)
              val prevR = snap.select(col("user_id"), col("value").as("_pv"),
                col("ts_us").as("_pt"), col("event_id").as("_id_prev"))
              val winNew = col("_pt").isNull ||
                struct(col("ts_us"), col("event_id")) > struct(col("_pt"), col("_id_prev"))
              // (r20: probed persist vs merge's internal lazy localCheckpoint
              // via StreamConfAB — med 2.395 vs 2.364 s, neutral; the
              // snapshot-keys-sized changeset is too small for the storage
              // form to matter. Persist kept — measured-no-win discipline.)
              val ch = delta.join(prevR, Seq("user_id"), "left_outer")
                .select(col("user_id"),
                  when(col("_pt").isNull, "I").otherwise("U").as("op"),
                  when(winNew, col("value")).otherwise(col("_pv")).as("value"),
                  when(winNew, col("ts_us")).otherwise(col("_pt")).as("ts_us"),
                  when(winNew, col("event_id")).otherwise(col("_id_prev")).as("event_id"))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              (graft.operators.MergeUpsert.merge(snap, ch, "user_id"), Some(ch))
          }
          val out = snapBase.resolve(s"v$id").toString
          // intermediate version writes inherit AQE's volume-sized shuffle
          // partitioning (tiny snapshot → one coalesced partition; at 100×
          // users, proportionally more) — no driver-chosen file count
          try merged.write.mode("overwrite").parquet(out)
          finally cached.foreach(_.unpersist(false))
          current.set(out)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Option(current.get()).getOrElse(
      sys.error("stream upsert produced no snapshot"))
  }

  /** q137: the q129 persisted-IVF APPEND contract through Structured
    * Streaming — the one §2.C deployment form that had no streaming twin
    * (r18 verdict Next-round #6). The corpus slice (vec_id %5≠0) builds
    * the persisted index once per call (the q129 certification-rebuild
    * convention); the increment slice (%5=0) then arrives as a bounded
    * multi-file stream and each microbatch APPENDS its cell assignments
    * as a batch-id-keyed index SEGMENT via `foreachBatch` (q98's
    * foreachBatch-maintenance loop composed with
    * [[graft.operators.Similarity.appendIvfSegment]] — overwrite by batch
    * id, so the at-least-once replay of a crashed batch is idempotent);
    * the final index (bucketed base + segments) is searched with the
    * held-out query slice (vec_id ≤ 5).
    *
    * Appends are blind inserts against FROZEN centroids — a vector's cell
    * depends only on the centroid table — so the final artifact is
    * independent of batch boundaries and arrival order: the streamed
    * index equals the batch-appended one, which is exactly what the
    * from-scratch SQL oracle computes (the q129 k-means replay with the
    * cells built over corpus ∪ increment).
    *
    * At 100 TB this is the ingestion path: embeddings arrive
    * continuously, each microbatch pays one broadcast-centroids join plus
    * an append of batch-sized bucketed files, and searches always probe
    * the current index — no corpus exchange anywhere, state lives in the
    * bucketed table, not the state store.
    */
  def streamIvfAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.Tables(spark, dir).embeddings
    val tag = s"st${Integer.toHexString(dir.hashCode)}"
    Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", tag)
    // bounded multi-file replay (the events convention): staged once per
    // fixture, 4 files at 2 per trigger → two append microbatches; the
    // %5=0 filter runs inside the stream, so batch membership is whatever
    // the staging produced — order-independence makes that irrelevant
    val stageDir = ReplayStage.stage(spark, s"$dir/embeddings.parquet",
      s"graft_emb_stage_${Integer.toHexString(dir.hashCode)}", n = 4)
    val ckptBase = graft.StageDir.acquireRunDir("graft_ivfappend_")
    try {
      graft.StageDir.sweepRunScratch(Seq("graft_ivfappend_"))
      val s2 = replaySession(spark, noDataBatch = false, provider = None)
      val schema = graft.Tables(s2, dir).table("embeddings").schema
      val src = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(stageDir)
        .filter(col("vec_id") % 5 === 0)
      src.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // batch-id-keyed segment with overwrite: foreachBatch is
          // at-least-once, and a replayed batch must not double its
          // vectors in the index — see Similarity.appendIvfSegment
          Similarity.appendIvfSegment(batch.sparkSession, batch,
            "vec_id", "embedding", tag, id)
        }
        .option("checkpointLocation", ckptBase.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally graft.StageDir.releaseRunDir(ckptBase)
    Similarity.searchIvfIndex(spark, emb.filter(col("vec_id") <= 5),
      "vec_id", "embedding", tag, k = 3, nprobe = 4)
      .presented("q_id", "rnk")
  }

  // ------------------------------------------------------- declared queries

  val queries: Map[String, Q] = Map(
    "q60_stream_tumbling" -> ((s, dir) => tumblingCounts(s, dir)),
    "q61_stream_dedup" -> ((s, dir) => dedupCounts(s, dir)),
    "q62_stream_session" -> ((s, dir) => sessionCounts(s, dir)),
    "q63_stream_sliding" -> ((s, dir) => slidingCounts(s, dir)),
    "q64_stream_stateful_count" -> ((s, dir) => statefulUserCounts(s, dir)),
    "q125_stream_sessionize" -> ((s, dir) => gapSessions(s, dir)),
    "q130_stream_sessionize_tws" -> ((s, dir) => gapSessionsTws(s, dir)),
    "q133_stream_sketch_quantiles" -> ((s, dir) => streamQuantiles(s, dir)),
    "q70_stream_late_drop" -> ((s, dir) => lateDropCounts(s, dir)),
    "q73_stream_interval_join" -> ((s, dir) => attributionPairs(s, dir)),
    "q80_stream_outer_join" -> ((s, dir) => attributionOuter(s, dir)),
    "q83_stream_file_sink" -> ((s, dir) => fileSinkCounts(s, dir).presented("bucket_us", "event_type")),
    "q98_stream_upsert" -> ((s, dir) => streamUpsert(s, dir)),
    "q99_stream_static_join" -> ((s, dir) => streamStaticCounts(s, dir)),
    "q137_stream_ivf_append" -> ((s, dir) => streamIvfAppend(s, dir)),
  )

  /** All three streaming results are deterministic aggregates of the bounded
    * replay, so batch-SQL oracles cross-check the streaming semantics —
    * including session windows against the gap-based batch identity.
    */
  val oracles: Map[String, String] = Map(
    // q98: the order-independent upsert protocol converges on the global
    // latest row per user — exactly the batch argmax
    "q98_stream_upsert" ->
      """SELECT user_id, value, epoch_us(ts) AS ts_us, event_id
         FROM (SELECT user_id, value, ts, event_id,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events) r
         WHERE rn = 1 ORDER BY user_id""",
    "q99_stream_static_join" ->
      """SELECT n.n_name, COUNT(*) AS n_events
         FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name""",
    "q60_stream_tumbling" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us, event_type, COUNT(*) AS cnt
         FROM events GROUP BY 1, 2 ORDER BY bucket_us, event_type""",
    // q83: append-mode file sink — only windows closed by the final
    // watermark (max ts - 10 min) reach the committed files
    "q83_stream_file_sink" ->
      """WITH t AS (SELECT epoch_us(ts) AS ts_us, event_type,
                           (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us
                    FROM events),
              wm AS (SELECT MAX(ts_us) - 600000000 AS v FROM t)
         SELECT bucket_us, event_type, COUNT(*) AS cnt
         FROM t
         WHERE bucket_us + 3600000000 <= (SELECT v FROM wm)
         GROUP BY bucket_us, event_type
         ORDER BY bucket_us, event_type""",
    "q61_stream_dedup" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    // B-interval-join: the stream-stream inner join over a bounded replay IS
    // the batch interval join — same relation, state-store build/probe
    // instead of a batch shuffle join
    "q73_stream_interval_join" ->
      """SELECT i.user_id, i.event_id AS imp_id, c.event_id AS click_id,
                epoch_us(i.ts) AS imp_us, epoch_us(c.ts) AS click_us
         FROM events i JOIN events c
           ON i.user_id = c.user_id
          AND i.event_type = 'view' AND c.event_type = 'click'
          AND epoch_us(c.ts) >= epoch_us(i.ts)
          AND epoch_us(c.ts) <= epoch_us(i.ts) + 1800000000
         ORDER BY imp_id, click_id""",
    // q80: inner matches + the watermark-gated outer nulls. The final
    // global watermark is min(max view ts, max click ts) - 1h (two
    // watermarked inputs, 'min' policy); an unmatched impression emits
    // nulls only if its 30-min match window closed strictly below it.
    "q80_stream_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
              imps AS (SELECT user_id, event_id AS imp_id, us AS imp_us FROM e WHERE event_type = 'view'),
              clicks AS (SELECT user_id, event_id AS click_id, us AS click_us FROM e WHERE event_type = 'click'),
              wm AS (SELECT least(MAX(CASE WHEN event_type = 'view' THEN us END),
                                  MAX(CASE WHEN event_type = 'click' THEN us END)) - 3600000000 AS wm_us
                     FROM e),
              matched AS (
                SELECT i.user_id, i.imp_id, c.click_id, i.imp_us, c.click_us
                FROM imps i JOIN clicks c ON i.user_id = c.user_id
                 AND c.click_us >= i.imp_us AND c.click_us <= i.imp_us + 1800000000),
              unmatched AS (
                SELECT i.user_id, i.imp_id, CAST(NULL AS BIGINT) AS click_id,
                       i.imp_us, CAST(NULL AS BIGINT) AS click_us
                FROM imps i CROSS JOIN wm
                WHERE i.imp_id NOT IN (SELECT imp_id FROM matched)
                  AND i.imp_us + 1800000000 < wm.wm_us)
         SELECT * FROM matched
         UNION ALL SELECT * FROM unmatched
         ORDER BY imp_id, click_id NULLS FIRST""",
    // sliding 1h/30min: every event belongs to exactly two window starts
    "q63_stream_sliding" ->
      """SELECT bucket_us, event_type, COUNT(*) AS cnt FROM (
           SELECT event_type, unnest([(epoch_us(ts) // 1800000000) * 1800000000,
                                      (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000]) AS bucket_us
           FROM events) b
         GROUP BY 1, 2 ORDER BY bucket_us, event_type""",
    "q64_stream_stateful_count" ->
      "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id",
    "q62_stream_session" ->
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions FROM (
           SELECT user_id, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, epoch_us(ts) AS ts_us,
                        LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
                 FROM events) g) h
         GROUP BY user_id ORDER BY user_id""",
    // B32: reconstructs the three-batch replay's exact watermark protocol —
    // batch split by (event_id % 97, 2h tail), wm1 = max(batch1) - 10min
    // drops batch-2 rows whose hour window closed below it, and only windows
    // closed by the final watermark (max(all) - 10min) are emitted.
    // q133: the q128 sketch construction over the event stream — additive
    // bucket counts make the streamed build equal the batch build exactly
    "q133_stream_sketch_quantiles" ->
      """WITH c AS (SELECT event_type,
                           CAST(CEIL(ln(value) / ln(1.02)) AS BIGINT) AS b,
                           COUNT(*) AS c
                    FROM events WHERE value > 0
                    GROUP BY 1, 2),
              m AS (SELECT event_type, b,
                           SUM(c) OVER (PARTITION BY event_type ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum,
                           SUM(c) OVER (PARTITION BY event_type) AS n
                    FROM c),
              qs AS (SELECT CAST(q AS DOUBLE) AS q
                     FROM (VALUES (0.25), (0.5), (0.75), (0.95)) t(q))
         SELECT event_type, q, MIN(b) AS bucket,
                ROUND(POWER(1.02, MIN(b)), 4) AS est
         FROM m CROSS JOIN qs
         WHERE CAST(cum AS DOUBLE) >= CEIL(q * CAST(n AS DOUBLE))
         GROUP BY event_type, q
         ORDER BY event_type, q""",
    // q130: the identical semantics through transformWithState — certified
    // against q125's SQL verbatim (two state APIs, one oracle)
    "q130_stream_sessionize_tws" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
              m AS (SELECT ((max(ts_us) // 1000) - 600000) * 1000 AS wm_us FROM t),
              g AS (SELECT user_id, ts_us,
                           CASE WHEN lag(ts_us) OVER w IS NULL
                                  OR ts_us - lag(ts_us) OVER w > 1800000000
                                THEN 1 ELSE 0 END AS brk
                    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
              s AS (SELECT user_id, ts_us,
                           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
                    FROM g),
              sess AS (SELECT user_id, sid, MIN(ts_us) AS session_start_us,
                              MAX(ts_us) AS session_end_us, COUNT(*) AS n_events
                       FROM s GROUP BY user_id, sid)
         SELECT user_id, session_start_us, session_end_us, n_events
         FROM sess
         WHERE session_end_us + 1800000000 < (SELECT wm_us FROM m)
         ORDER BY user_id, session_start_us""",
    // q125: gap sessionization + watermark closure, µs-exact. The watermark
    // replays Spark's ms-floored event-time stats ((max µs // 1000 − 10 min
    // in ms) × 1000); sessions join while the step is ≤ 30 min; only
    // sessions the watermark STRICTLY passed (end + gap < wm) are emitted —
    // the operator's own closure predicate.
    "q125_stream_sessionize" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
              m AS (SELECT ((max(ts_us) // 1000) - 600000) * 1000 AS wm_us FROM t),
              g AS (SELECT user_id, ts_us,
                           CASE WHEN lag(ts_us) OVER w IS NULL
                                  OR ts_us - lag(ts_us) OVER w > 1800000000
                                THEN 1 ELSE 0 END AS brk
                    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
              s AS (SELECT user_id, ts_us,
                           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
                    FROM g),
              sess AS (SELECT user_id, sid, MIN(ts_us) AS session_start_us,
                              MAX(ts_us) AS session_end_us, COUNT(*) AS n_events
                       FROM s GROUP BY user_id, sid)
         SELECT user_id, session_start_us, session_end_us, n_events
         FROM sess
         WHERE session_end_us + 1800000000 < (SELECT wm_us FROM m)
         ORDER BY user_id, session_start_us""",
    "q70_stream_late_drop" ->
      """WITH t AS (SELECT event_id, epoch_us(ts) AS ts_us,
                           (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us
                    FROM events WHERE user_id % 5 = 0),
              m AS (SELECT max(ts_us) AS mx FROM t),
              s AS (SELECT t.*, (event_id % 97 = 0 OR ts_us >= (SELECT mx - 7200000000 FROM m)) AS b2 FROM t),
              w1 AS (SELECT max(ts_us) - 600000000 AS v FROM s WHERE NOT b2),
              w2 AS (SELECT mx - 600000000 AS v FROM m)
         SELECT bucket_us, COUNT(*) AS cnt
         FROM s
         WHERE (NOT b2 OR bucket_us + 3600000000 > (SELECT v FROM w1))
           AND bucket_us + 3600000000 <= (SELECT v FROM w2)
         GROUP BY bucket_us ORDER BY bucket_us""",
    // q137: the streamed-append index must equal the batch construction —
    // the q129 k-means replay (centroids trained on the %5≠0 corpus slice,
    // two Lloyd iterations, round-6 at every step) with the CELLS built
    // over corpus ∪ increment (i.e. every vector, since appends against
    // frozen centroids are order-independent blind inserts), probed by the
    // held-out vec_id ≤ 5 query slice.
    "q137_stream_ivf_append" ->
      """WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
              c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cent_id, cvec FROM (
                       SELECT ROW_NUMBER() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS rn,
                              CAST(embedding AS DOUBLE[]) AS cvec
                       FROM corp) s
                     WHERE rn <= 16),
              a1 AS (SELECT vec_id, cent_id FROM (
                       SELECT e.vec_id, c.cent_id,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cent_id) AS rn
                       FROM corp e CROSS JOIN c0 c) x WHERE rn = 1),
              m1 AS (SELECT a1.cent_id, t.pos, ROUND(AVG(CAST(e.embedding[t.pos] AS DOUBLE)), 6) AS v
                     FROM a1 JOIN corp e USING (vec_id), LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS pos) t
                     GROUP BY a1.cent_id, t.pos),
              c1 AS (SELECT s.cent_id, COALESCE(r.cvec, s.cvec) AS cvec
                     FROM c0 s LEFT JOIN (SELECT cent_id, list(v ORDER BY pos) AS cvec FROM m1 GROUP BY cent_id) r USING (cent_id)),
              a2 AS (SELECT vec_id, cent_id FROM (
                       SELECT e.vec_id, c.cent_id,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cent_id) AS rn
                       FROM corp e CROSS JOIN c1 c) x WHERE rn = 1),
              m2 AS (SELECT a2.cent_id, t.pos, ROUND(AVG(CAST(e.embedding[t.pos] AS DOUBLE)), 6) AS v
                     FROM a2 JOIN corp e USING (vec_id), LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS pos) t
                     GROUP BY a2.cent_id, t.pos),
              c2 AS (SELECT s.cent_id, COALESCE(r.cvec, s.cvec) AS cvec
                     FROM c1 s LEFT JOIN (SELECT cent_id, list(v ORDER BY pos) AS cvec FROM m2 GROUP BY cent_id) r USING (cent_id)),
              ca AS (SELECT e.vec_id, c.cent_id,
                            ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS s
                     FROM embeddings e CROSS JOIN c2 c),
              cells AS (SELECT vec_id AS c_id, cent_id FROM
                          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM ca) x
                        WHERE rn = 1),
              caq AS (SELECT i.vec_id, c.cent_id,
                             ROUND(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]), c.cvec), 6) AS s
                      FROM embeddings i CROSS JOIN c2 c WHERE i.vec_id <= 5),
              probes AS (SELECT vec_id AS q_id, cent_id FROM
                           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM caq) y
                         WHERE rn <= 4),
              cand AS (SELECT q_id, c_id AS n_id FROM probes JOIN cells USING (cent_id) WHERE c_id <> q_id),
              scored AS (SELECT q_id, n_id,
                                ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
                         FROM cand JOIN embeddings a ON a.vec_id = q_id JOIN embeddings b ON b.vec_id = n_id)
         SELECT q_id, rnk, n_id, sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM scored) z
         WHERE rnk <= 3 ORDER BY q_id, rnk""",
  )
}
