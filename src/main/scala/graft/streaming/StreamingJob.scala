package graft.streaming

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{LocalPlan, Rows, StreamKernel, WriterModules}
import graft.operators.WriterModules.ModuleConfig
import graft.plans.NexusPlan
import graft.sinks.{LocalParquet, NexusSink}

/** Streaming execution of a nexus plan — the Spark analog of
  * `StreamController` + per-partition consumers + the single writer thread
  * (`src/StreamController.cpp:14-44`, `src/Stream/Partition.cpp:174-223`,
  * `src/Stream/MessageWriter.cpp:107-141`).
  *
  * One micro-batch pass decodes once and demuxes to every configured stream
  * (the reference's SrcToDst map, R1) inside `foreachBatch` — Spark won't
  * share scans across independent queries, so the decode-once structure is
  * ours to enforce. The demux is ONE pass per schema, not a loop over
  * streams: route to every configured `(topic, source_name)` pair at
  * once and compute each key's decisions together, so a steady trigger's
  * kernel costs at most one Spark job per schema whatever its stream count;
  * the driver then applies each stream's state from its key's scalars
  * ([[processSchema]]).
  *
  * Scale stance: batch rows stay distributed end-to-end; the only values
  * collected to the driver are per-key scalars (boundary timestamp, the
  * strict-finish cutoff offset, append counters) and the rows of the
  * single buffered pre-start message — the same per-stream state the
  * reference keeps in SourceFilter fields. The one exception is the
  * tiny-trigger band: a trigger after a tiny one brings its routed rows
  * to the driver, bounded in rows and bytes, runs the kernel there and
  * writes them from the driver (see [[processSchema]]). There each stream
  * evaluates its module's plans, built once per job and input schema
  * ([[KeptPlans]]), so a steady trigger builds no Dataset for its modules
  * and runs no analyzer or optimizer pass for them; the keyed pass builds
  * the module's frames per trigger ([[WriterModules.WriterModule.tables]]).
  *
  * Cross-batch state ([[StreamingJob.StreamState]]):
  *   - `lastTs` — consecutive-dedup across batch boundaries (F4;
  *     `SourceFilter.cpp:90-95`),
  *   - `buffered` — pre-start candidate MESSAGE (all its rows — da00's
  *     adapter explodes one message per variable), emitted on the first
  *     in-window write or at job end (F3; `SourceFilter.cpp:101-118`,
  *     dtor flush :53),
  *   - `finished` — strict stop: everything after the first beyond-stop
  *     message is dropped (F6),
  *   - `rowsWritten` / `eventsWritten` — append cursors continuing sink row
  *     numbering and the ev44 index shift (W2; `ev44_Writer.cpp:118-126`).
  */
class StreamingJob(
    spark: SparkSession,
    plan: NexusPlan.Plan,
    val outDir: String,
    startMs: Long,
    stopMs: Long
) {
  import StreamingJob._

  private val sink    = new NexusSink(outDir)
  private val startNs = startMs * 1000000L
  @volatile private var stopMsCur = stopMs
  private def stopNs  = stopMsCur * 1000000L

  /** `spark.graft.stream.localAppend.maxRows` (128): the gate of the
    * driver kernel and, times 4 per key, its row bound; 0 turns it off.
    * Clamped to 1<<18 so a huge conf value admits no unbounded driver-side
    * collect.
    */
  private def localAppendMaxRows: Long =
    math.min(math.max(spark.conf
      .get("spark.graft.stream.localAppend.maxRows", "128").toLong, 0L), 1L << 18)

  /** 6s4t dynamic stop-time update, propagated to every stream filter
    * before the next micro-batch (`Master::setStopTime`
    * `src/Master.cpp:113-124` → `SourceFilter::set_stop_time`). Rejected
    * once writing is past the new stop (the reference rejects while not
    * writing or when already stopped).
    */
  def setStopTime(newStopMs: Long): Boolean = synchronized {
    if (states.values.forall(_.finished) && states.nonEmpty) false
    else { stopMsCur = newStopMs; true }
  }

  def stopTimeMs: Long = stopMsCur

  // pause/resume parity (`src/Stream/Partition.cpp:179-181`: paused
  // streamers skip polling): a paused job blocks its foreachBatch callback
  // threads, which stalls the streaming triggers — upstream Kafka
  // consumption halts exactly like the reference's paused consumers.
  @volatile private var paused = false
  def pause(): Unit     = { paused = true }
  def resume(): Unit    = synchronized { paused = false; notifyAll() }

  // set by finish(): batches arriving after close are dropped (a parked
  // paused batch must not resume into a closed sink)
  @volatile private var closed = false
  def isClosed: Boolean = closed

  private val states         = mutable.Map.empty[String, StreamState]
  private val processedBatch = mutable.Map.empty[String, Long]
  private var autoBatchId    = -1L
  // wall ms of each schema's last processed batch (observability only:
  // transient, not in the checkpoint or the x5f2 `metrics` snapshot)
  private val lastBatchMs    = mutable.Map.empty[String, Long]
  // each stream's kept module plans (one entry: rebuilt when the input
  // schema or the module config changes), how often they were built and
  // how many triggers they wrote
  private val kept           = mutable.Map.empty[String, KeptPlans]
  private val keptBuilds     = mutable.Map.empty[String, Int]
  private val keptEvals      = mutable.Map.empty[String, Int]

  /** Per stream: times its module plans were built (once unless its input
    * schema changes) and triggers whose tables they evaluated
    * (observability of the driver path; Spark's evaluator writes the rest).
    */
  private[graft] def planUse: Map[String, (Int, Int)] = synchronized(
    keptBuilds.toMap.map { case (k, b) => k -> ((b, keptEvals.getOrElse(k, 0))) })

  sink.create(plan)
  loadState()

  private def streamKey(s: NexusPlan.Stream): String =
    if (s.synthesized) s"${s.path}/${s.module}" else s.path

  /** Configured stream keys from the plan — present from job acceptance,
    * before any batch creates runtime state (metrics registration needs
    * the names at start, `Registrar` pattern).
    */
  def streamKeys: Seq[String] = plan.streams.map(streamKey).distinct

  /** Cheap change signal for metric re-registration: the number of
    * streams with runtime state (no map snapshot).
    */
  def liveStreamCount: Int = synchronized(states.size)

  /** One counter value without materializing the full [[metrics]]
    * snapshot — the per-report read path of the push-metrics suppliers
    * (a carbon round reads streams × counters values; snapshotting the
    * whole map for each would be quadratic in the surface).
    */
  def counter(stream: String, name: String): Long = synchronized {
    if (name == "last_batch_ms")
      plan.streams.find(s => streamKey(s) == stream)
        .flatMap(s => lastBatchMs.get(s.module)).getOrElse(0L)
    else states.get(stream) match {
      case None => 0L
      case Some(st) => name match {
        case "events_written" => st.eventsWritten
        case "write_errors"   => st.writeErrors
        case "finished"       => if (st.finished) 1L else 0L
        case "appends_fused"  => st.appendsFused
        case "appends_spark"  => st.appendsSpark
        case other            => st.rowsWritten.getOrElse(other, 0L)
      }
    }
  }

  /** Every configured stream has seen its beyond-stop message — the
    * reference's `StreamController::isDoneWriting`
    * (`src/StreamController.cpp:68-84`).
    */
  def allStreamsFinished: Boolean = synchronized {
    plan.streams.forall(s => states.get(streamKey(s)).exists(_.finished))
  }

  /** Wall-clock stop check — `PartitionFilter` stops at EOF once past
    * stop + leeway (`src/Stream/PartitionFilter.cpp:57-62`, leeway
    * `src/StreamerOptions.h:24-25`).
    */
  def shouldStop(nowMs: Long, leewayMs: Long = 10000): Boolean =
    nowMs > stopMsCur + leewayMs

  /** A4 — approximate output size in bytes: sum of the part files under
    * the output tree, the parquet-mirror analog of the reference's
    * periodic file stat (`src/FileWriterTask.cpp:102-114`, cadence
    * `src/StreamController.cpp:75-82`). Driver-side directory walk — no
    * Spark job.
    */
  def approxFileSizeBytes: Long = {
    val root = java.nio.file.Paths.get(outDir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      // the tree is being appended to while status polls run — a
      // committer temp file can vanish between listing and stat; a
      // vanished file contributes 0 to an APPROXIMATE size, it must not
      // throw into the metrics reporter. Dot-prefixed top-level trees
      // (the streaming checkpoint's offset/commit logs live at
      // .checkpoints/ since attach() defaulted there) are NOT data — the
      // reference's A4 stats the written file, not bookkeeping, and the
      // checkpoint log grows with trigger count regardless of data size.
      try s.filter { p =>
          java.nio.file.Files.isRegularFile(p) &&
            !root.relativize(p).getName(0).toString.startsWith(".")
        }
        .mapToLong { p =>
          try java.nio.file.Files.size(p)
          catch { case _: java.io.IOException | _: java.io.UncheckedIOException => 0L }
        }.sum()
      catch { case _: java.io.UncheckedIOException => 0L } // dir vanished mid-walk
      finally s.close()
    }
  }

  /** Per-stream counters for the x5f2 status JSON (A3 analog:
    * writes-done per source, `src/Stream/MessageWriter.cpp:38-56`).
    */
  def metrics: Map[String, Map[String, Long]] = synchronized {
    states.toMap.map { case (k, st) =>
      k -> (st.rowsWritten.toMap ++ Map(
        "events_written" -> st.eventsWritten,
        "write_errors"   -> st.writeErrors,
        "finished"       -> (if (st.finished) 1L else 0L)))
    }
  }

  /** Process one micro-batch of decoded messages for one schema id. The
    * batch DF must carry the envelope (topic, source_name, offset, ts) plus
    * the schema's payload columns.
    *
    * Pass the foreachBatch `batchId` for replay idempotency: a batch id at
    * or below the checkpointed high-water mark is skipped entirely — the
    * standard effectively-once pattern, strictly better than the
    * reference's re-seek-and-dedup (SURVEY §2.9 exactly-once row).
    */
  def processBatch(schemaId: String, batch: DataFrame, batchId: Long = -1L): Unit =
    // one `attach` per schema ⇒ concurrent foreachBatch callback threads;
    // serialize them like the reference's single MessageWriter thread
    // (`src/Stream/MessageWriter.cpp:31-36`) — states/processedBatch are
    // plain mutable maps and saveState rewrites one shared file
    synchronized {
      while (paused && !closed) wait(100) // releases the monitor; resume() notifies
      // the wait releases the monitor, so finish() can run while a batch
      // is parked — a closed sink must not be appended to (the reference
      // stops its consumers before setToIdle); late batches are dropped
      if (closed) return
      val relevant = plan.streams.filter(_.module == schemaId)
      if (relevant.isEmpty) return
      val id = if (batchId >= 0) batchId else { autoBatchId += 1; autoBatchId }
      if (processedBatch.get(schemaId).exists(_ >= id)) return // replay → skip
      val t0 = System.nanoTime()
      withBatchConf {
        WriterModules.registry.get(schemaId).foreach(processSchema(relevant, _, batch))
      }
      crashHook("batch:appended") // appends committed, cursors not yet saved
      processedBatch(schemaId) = id
      saveState() // restart-safe cursor checkpoint
      lastBatchMs(schemaId) = (System.nanoTime() - t0) / 1000000L
    }

  /** Test-only crash-injection seam (RestartMatrixSpec): invoked at the
    * named commit boundaries of [[processBatch]] and [[finish]] so the
    * restart contract — replaying every batch after a kill at ANY of these
    * points reproduces the uninterrupted run's sink — is checkable at each
    * window, not just between triggers. A no-op in production.
    */
  private[graft] var crashHook: String => Unit = _ => ()

  /** Per-trigger queries are tiny and fixed-shape (scalar aggregates, one
    * module transform, one append per table); AQE re-plans each into
    * several stage-materialization sub-jobs (the `withThreadLocalCaptured`
    * CompletableFuture jobs) for no benefit at this scale — profiled at
    * 40+ jobs/trigger and ~2.5 s fixed cost per trigger at 1k-msg
    * triggers (stream_bench.jsonl, r11). Disabled for the micro-batch
    * window and restored after; `processBatch` holds the job monitor so
    * the window is exclusive within this job. The flip is session-visible,
    * which fits the reference's shape: its file-writer is a dedicated
    * process, not a session shared with interactive analytics.
    */
  private def withBatchConf[T](f: => T): T =
    StreamingJob.sessionConfLock.synchronized {
      // Shuffle width for the per-trigger jobs: the kernel's one wide
      // dependency keys on (topic, source_name) — ≤ a handful of live
      // keys per schema; the dedup window and the keyed aggregate share
      // that exchange and reduce to one row per key — so the session
      // width (sized for corpus analytics) buys nothing here and costs
      // ~2 ms of empty-task launch per partition per stage. The
      // numbering exchanges — the one per-trigger shuffle whose width
      // should track DATA size — size themselves from the batch hint
      // (Rows.indexed) and ignore this narrow default.
      //
      // The set/restore pair is guarded by a GLOBAL lock, not this job's
      // monitor: two StreamingJobs sharing one session would otherwise
      // interleave (B reads A's "false" as its prior and restores it),
      // leaving AQE off for the session after both batches finish.
      val priorAqe   = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val priorParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try f
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
        spark.conf.set("spark.sql.shuffle.partitions", priorParts)
      }
    }

  // ---- state checkpoint ----------------------------------------------
  // The reference re-seeks by timestamp on restart and tolerates
  // duplicates (SURVEY §2.9 exactly-once row); persisting the per-stream
  // cursors after each batch gives the same at-least-once contract with
  // much narrower replay.

  private def stateFile = java.nio.file.Paths.get(outDir, "state.bin")

  /** Write-temp-then-atomic-rename so a crash mid-write can never leave a
    * truncated `state.bin` (the checkpoint that exists to make restarts
    * safe must not itself be able to brick a restart).
    */
  private def saveState(): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(outDir), ".state", ".tmp")
    try {
      val out = new java.io.ObjectOutputStream(
        java.nio.file.Files.newOutputStream(tmp))
      try {
        out.writeLong(stopMsCur)
        out.writeLong(autoBatchId)
        out.writeObject(processedBatch.toMap)
        out.writeObject(states.toMap.map { case (k, s) =>
          k -> ((s.lastTs, s.buffered, s.finished, s.eventsWritten,
            s.rowsWritten.toMap, s.schema, s.writeErrors, s.lastCue))
        })
      } finally out.close()
      java.nio.file.Files.move(tmp, stateFile,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      // a failed write must not strand the temp file in outDir — retry
      // cycles would accumulate orphans (the rename was never reached, so
      // the real state.bin is intact either way)
      case e: Throwable =>
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Exception => () }
        throw e
    }
  }

  /** An unreadable state file is treated as absent (warn + start fresh, the
    * reference's re-seek-by-time posture) rather than failing construction.
    */
  private def loadState(): Unit =
    if (java.nio.file.Files.exists(stateFile)) {
      try {
        val in = new java.io.ObjectInputStream(
          java.nio.file.Files.newInputStream(stateFile))
        try {
          stopMsCur = in.readLong()
          autoBatchId = in.readLong()
          processedBatch ++= in.readObject().asInstanceOf[Map[String, Long]]
          val saved = in.readObject().asInstanceOf[Map[String,
            (Option[Long], Option[_], Boolean, Long, Map[String, Long],
              StructType, Long, Long)]]
          saved.foreach { case (k, (lt, buf0, fin, ev, rows, sch, errs, lc)) =>
            // buffered slot: current format stores the MESSAGE's rows; a
            // pre-message-grain state file stored one Row — migrate it
            // (erasure means the cast above can't tell them apart)
            val buf: Option[Seq[Row]] = buf0.map {
              case rs: Seq[_] => rs.asInstanceOf[Seq[Row]]
              case r: Row     => Seq(r)
            }
            states(k) = StreamState(lt, buf, fin, ev,
              mutable.Map(rows.toSeq: _*), sch, errs, lc)
          }
        } finally in.close()
      } catch {
        case e: Exception =>
          System.err.println(
            s"[graft] unreadable state file $stateFile (${e.getMessage}); starting fresh")
          states.clear(); processedBatch.clear(); autoBatchId = -1L
          stopMsCur = stopMs
      }
    }

  /** The kernel of every unfinished stream of a schema in one pass — R1,
    * the reference's GROUP-BY-key fan-out (one poll feeds one `SrcToDst`
    * map that hands each message to its writer modules,
    * `src/Stream/Partition.cpp:15-48`). The batch is routed to all the
    * configured `(topic, source_name)` pairs at once and each key's
    * [[KeyScalars]] are computed in one of two forms:
    *   - the driver kernel, when the previous trigger was tiny for some
    *     open stream (at most `localAppend.maxRows` in-window rows): the
    *     key rows come to the driver in one bounded, single-stage collect
    *     (no job at all when the batch is a local relation) and
    *     [[DriverKernel]] makes every decision there; each stream's
    *     module then evaluates its kept plans over those rows
    *     ([[KeptPlans]]). A burst latches the collect's bound and takes
    *     the keyed pass instead, so its rows never come to the driver
    *     ([[driverRows]]);
    *   - otherwise the keyed pass, the distributed form: the consecutive
    *     dedup window is partitioned by the key and the aggregate runs as
    *     `groupBy(topic, source_name)` on the same keys, so the plan has
    *     one exchange and the trigger runs one kernel job whatever its
    *     stream count ([[keyedPass]]).
    * A key's scalars depend on the batch alone, never on stream state, so
    * the driver then walks the streams in plan order and applies each
    * one's cross-batch state from its key's scalars ([[applyStream]]);
    * two streams on one key (one source under two paths) each take a copy,
    * and a key with no row is a stream with no message this trigger.
    */
  private def processSchema(
      streams: Seq[NexusPlan.Stream],
      module: WriterModules.WriterModule,
      batch: DataFrame
  ): Unit = {
    val open = streams.filterNot(s =>
      states.getOrElseUpdate(streamKey(s), StreamState()).finished)
    if (open.isEmpty) return
    val keys = open.map(s => (s.topic, s.source)).distinct
    def isKey(k: (String, String)): Column =
      col("topic") === k._1 && col("source_name") === k._2
    val routed = batch.filter(keys.map(isKey).reduce(_ || _))
    val maxRows = localAppendMaxRows
    val armed = maxRows > 0 && open.exists { s =>
      val last = states(streamKey(s)).lastMsgs
      last >= 0 && last <= maxRows
    }
    def applyAll(apply: (NexusPlan.Stream, StreamState, (String, String)) => Unit): Unit =
      streams.foreach { s =>
        val state = states(streamKey(s))
        if (!state.finished) apply(s, state, (s.topic, s.source))
        crashHook(s"batch:stream:${streamKey(s)}") // torn multi-stream batch
      }
    (if (armed) driverRows(module, routed, maxRows * 4 * keys.size) else None) match {
      case Some(byKey) =>
        lazy val toRow = CatalystTypeConverters.createToScalaConverter(routed.schema)
          .andThen(_.asInstanceOf[Row])
        val kernels = byKey.map { case (k, rows) =>
          k -> DriverKernel(rows, module.acceptRepeats, startNs, stopNs, toRow)
        }
        applyAll((s, state, k) => kernels.get(k).foreach(o =>
          applyStream(s, module, state, o.scalars, routed.schema, null, Some(o))))
      case None =>
        batch.persist() // decode once, demux to N streams
        try {
          val (deduped, byKey) = keyedPass(module, routed, isKey)
          applyAll((s, state, k) => byKey.get(k).foreach(sc =>
            applyStream(s, module, state, sc, deduped.schema, deduped.filter(isKey(k)), None)))
        } finally batch.unpersist()
    }
  }

  /** The driver kernel's input: the routed rows of each key (as rows of
    * `routed`'s schema), when there are at most `maxRows` of them in at
    * most `smallRenumberBytes` (serialized), else None. A local relation
    * is evaluated where it is (`LocalPlan`); any other batch is ONE job of
    * one stage, a `runJob` over the plan's rows whose task gives up at the
    * bound ([[DriverCollect]]), so a task returns at most the bound and a
    * burst returns nothing but the latch. A row with a null offset or
    * timestamp also takes the keyed pass, which defines what those mean.
    */
  private def driverRows(
      module: WriterModules.WriterModule,
      routed: DataFrame,
      maxRows: Long
  ): Option[Map[(String, String), Seq[DriverKernel.In[InternalRow]]]] = {
    val schema = routed.schema
    val frame = routed.select(col("*"),
      module.elementCountCol.getOrElse(lit(0L)).cast("long").as("__elems"))
    val fields = frame.schema
    val maxBytes = Rows.smallRenumberBytes(spark)
    val rows: Option[Seq[UnsafeRow]] =
      if (LocalPlan.onDriver(frame))
        LocalPlan.rows(frame, maxRows)
          .flatMap(l => bounded(l._2.iterator, fields, maxRows, maxBytes).map(_.toSeq))
      else {
        val rdd = frame.queryExecution.toRdd
        val parts = spark.sparkContext.runJob(rdd,
          DriverCollect.task(fields, maxRows, maxBytes), rdd.partitions.indices)
        if (parts.contains(null)) None else Some(parts.toSeq.flatten)
      }
    val (topic, source, offset, ts, elems) = (fields.fieldIndex("topic"),
      fields.fieldIndex("source_name"), fields.fieldIndex("offset"), fields.fieldIndex("ts"),
      fields.fieldIndex("__elems"))
    rows.filter(rs => rs.size <= maxRows && rs.iterator.map(_.getSizeInBytes.toLong).sum <= maxBytes &&
      rs.forall(r => !r.isNullAt(offset) && !r.isNullAt(ts))).map { rs =>
      val types = schema.fields.map(_.dataType)
      rs.groupBy(r => (r.getUTF8String(topic).toString, r.getUTF8String(source).toString))
        .map { case (k, krs) => k -> krs.map { r =>
          val row: InternalRow =
            new GenericInternalRow(Array.tabulate[Any](types.length)(i => r.get(i, types(i))))
          DriverKernel.In(r.getLong(offset), r.getLong(ts),
            if (r.isNullAt(elems)) 0L else r.getLong(elems), row)
        } }
    }
  }

  /** The distributed kernel: the consecutive dedup window and the scalar
    * aggregate on the `(topic, source_name)` key, collected once per
    * schema in steady state. The scalars come under the no-cutoff
    * assumption, which holds for every batch except the one that crosses
    * stop; that batch pays one extra pass with each key's cutoff
    * substituted as a literal. struct-max ordering = (ts, offset), so the
    * buffered candidate is max-ts with latest-arrival tie-break; nulls
    * (non-live or out-of-condition rows) are ignored by min/max. Returns
    * the deduplicated frame and each key's scalars.
    */
  private def keyedPass(
      module: WriterModules.WriterModule,
      routed: DataFrame,
      isKey: ((String, String)) => Column
  ): (DataFrame, Map[(String, String), KeyScalars]) = {
    val deduped = StreamKernel.dedupConsecutive(routed,
      Seq("topic", "source_name"), "offset", "ts", acceptRepeats = module.acceptRepeats)
    val payload = struct(deduped.columns.map(col): _*)
    val inWin   = col("ts") >= startNs && col("ts") <= stopNs
    def scalarAggs(liveCond: Column) = (if (module.emitBuffered) Seq(
      // buffered-candidate tracking only for modules that EMIT the buffer
      // (ev44 ignores buffered messages by contract, ev44_Writer.cpp:94-97
      // — carrying its full event arrays through a max-struct and into
      // state.bin forever would be pure waste)
      max(when(liveCond && col("ts") < startNs,
        struct(col("ts"), col("offset"), payload.as("p")))).as("buf_cand"))
      else Nil) ++ Seq(
      min(when(liveCond, struct(col("offset"), col("ts")))).as("head"),
      max(when(liveCond, struct(col("offset"), col("ts")))).as("tail"),
      count(when(liveCond && inWin, 1)).as("n_window"),
      // exploded-element total of the batch's written rows — the W2 event
      // cursor for ev44 (exact: ev44 never buffers and accepts repeats,
      // so live ∩ in-window IS the written set) and the numbering and
      // file-split size hint for every array module — folded here
      // instead of a separate per-batch job
      module.elementCountCol
        .map(c => coalesce(sum(when(liveCond && inWin, c)), lit(0L)))
        .getOrElse(lit(0L)).as("ev_window"))
    def byKey(aggs: Seq[Column]): Map[(String, String), Row] =
      deduped.groupBy("topic", "source_name").agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => (r.getAs[String]("topic"), r.getAs[String]("source_name")) -> r)
        .toMap
    val pre = byKey(Seq(
      min("offset").as("min_off"),
      min(when(col("ts") > stopNs, col("offset"))).as("cutoff")) ++
      scalarAggs(lit(true)))
    val cutoffs = pre.toSeq.flatMap { case (k, r) =>
      Option(r.getAs[java.lang.Long]("cutoff")).map(c => k -> c.toLong)
    }
    val post = cutoffs match {
      case Seq() => pre // no cutoff ⇒ the no-cutoff scalars are the truth
      case (k0, c0) +: rest =>
        // null for keys that did not cross stop: all their rows stay live
        val cutoffOf = rest.foldLeft(when(isKey(k0), c0)) {
          case (w, (k, c)) => w.when(isKey(k), c)
        }
        byKey(scalarAggs(cutoffOf.isNull || col("offset") < cutoffOf))
    }
    def ends(r: Row) = Option(r).map(e => (e.getAs[Long]("offset"), e.getAs[Long]("ts")))
    (deduped, pre.map { case (k, p) =>
      val a = post(k)
      k -> KeyScalars(
        cutoff = Option(p.getAs[java.lang.Long]("cutoff")).map(_.toLong),
        minOff = p.getAs[Long]("min_off"),
        head = ends(a.getAs[Row]("head")),
        tail = ends(a.getAs[Row]("tail")),
        nWindow = a.getAs[Long]("n_window"),
        evWindow = a.getAs[Long]("ev_window"),
        cand = (if (module.emitBuffered) Option(a.getAs[Row]("buf_cand")) else None)
          .map(c => (c.getAs[Long]("ts"), c.getAs[Long]("offset"), c.getAs[Row]("p"))))
    })
  }

  /** Applies one stream's cross-batch state from its key's scalars
    * ([[processSchema]]). `local` carries the key's rows from the driver
    * kernel; without it, `frame0` is the deduplicated batch of this
    * stream's key, of `schema`, analysed only if a path below reads it.
    */
  private def applyStream(
      s: NexusPlan.Stream,
      module: WriterModules.WriterModule,
      state: StreamState,
      k: KeyScalars,
      schema: StructType,
      frame0: => DataFrame,
      local: Option[DriverKernel.Out[InternalRow]]
  ): Unit = {
    val key = streamKey(s)
    // cross-batch consecutive dedup: drop the batch head if it repeats the
    // previous batch's tail timestamp
    val boundary = !module.acceptRepeats &&
      k.head.exists { case (off, ts) => state.lastTs.contains(ts) && off == k.minOff }
    k.tail.foreach(t => state.lastTs = Some(t._2))

    if (k.cutoff.isDefined) state.finished = true
    lazy val frame = frame0
    lazy val live = {
      val base = k.cutoff match {
        case Some(c) => frame.filter(col("offset") < c)
        case None    => frame
      }
      if (boundary) base.filter(col("offset") =!= k.minOff)
      else base
    }

    // pre-start buffering: the candidate row comes with the scalars. For
    // multi-row-per-message modules (da00's per-variable explode) the
    // buffered unit is the MESSAGE, so the candidate's remaining rows are
    // read (on the keyed pass, with one bounded job: all rows of one
    // offset — a message's variable count) only when a new candidate is
    // actually accepted, which can only happen while the stream is still
    // pre-start (rare, and never in steady state).
    k.cand.foreach { case (candTs, candOff, candRow) =>
      // the boundary-duplicate head row cannot be the candidate unless it's
      // also the only pre-start row — recheck against the dedup boundary
      val isBoundaryRow = boundary && candOff == k.minOff
      // compare the STORED row under ITS OWN schema: a restart or adapter
      // change can reorder columns relative to this batch's frame, and
      // this batch's ts index would then read the wrong field of the old
      // row (ClassCastException, or a silently wrong comparison)
      val storedTs = state.buffered.map { b =>
        b.head.getLong(
          (if (state.schema != null) state.schema else schema)
            .fieldIndex("ts"))
      }
      if (!isBoundaryRow && storedTs.forall(_ <= candTs)) {
        state.buffered = Some(
          if (!module.multiRowMessages) Seq(candRow)
          else local match {
            case Some(l) =>
              val toRow = CatalystTypeConverters.createToScalaConverter(schema)
              l.kept.filter(_.offset == candOff).map(r => toRow(r.row).asInstanceOf[Row])
            case None => frame.filter(col("offset") === candOff).collect().toSeq
          })
        state.schema = schema
      }
    }

    val nInWindow = k.nWindow
    state.lastMsgs = nInWindow // arms (or disarms) the NEXT trigger's driver kernel
    // the driver kernel's rows, in offset order, less the boundary
    // duplicate head exactly as the frame path drops it
    val localRows: Option[Seq[InternalRow]] = local.map(_.inWindow
      .filterNot(r => boundary && r.offset == k.minOff).map(_.row))
    lazy val inWindow = live.filter(col("ts") >= startNs && col("ts") <= stopNs)
    val emitBuffered = module.emitBuffered && state.buffered.nonEmpty &&
      (nInWindow > 0 || state.finished)
    val bufRows = if (emitBuffered) state.buffered.get.size.toLong else 0L
    val toWrite: Input =
      if (emitBuffered) {
        val b = state.buffered.get
        state.buffered = None
        // allowMissingColumns: drift can ADD or REMOVE columns, not just
        // reorder — strict unionByName would crash-loop the query on a
        // buffered message from the pre-drift schema; null-filling the
        // gap degrades that one sample instead
        localRows match {
          case Some(rows) if state.schema == schema =>
            val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
            Right((schema, b.map(toInternal(_).asInstanceOf[InternalRow]) ++ rows))
          // a drifted schema: the union's rows, of the union's schema,
          // evaluated on the driver when LocalPlan can
          case Some(rows) =>
            val union = bufferedDf(b, state.schema)
              .unionByName(localDf(schema, rows), allowMissingColumns = true)
            LocalPlan.rows(union).map(Right(_)).getOrElse(Left(union))
          case None => Left(bufferedDf(b, state.schema)
            .unionByName(inWindow, allowMissingColumns = true))
        }
      } else localRows match {
        case Some(rows) => Right((schema, rows))
        case None       => Left(inWindow)
      }
    if (nInWindow > 0 || emitBuffered) {
      val appended = write(key, module, s, toWrite, state,
        msgHint = nInWindow + bufRows,
        elemHint = if (module.elementCountCol.isDefined) k.evWindow else -1L)
      // advance the W2 event cursor from the kernel's count — ONLY when
      // the events table append itself succeeded: the cursor shifts the
      // NEXT batch's index rows by events actually in the table
      // (`ev44_Writer.cpp:118-126` advances EventsWritten after the
      // write), so advancing past a failed append would desynchronize
      // event_index from the events table forever
      if (module.id == "ev44" && appended.exists(_.contains("events")))
        state.eventsWritten += k.evWindow
    }
  }

  private def bufferedDf(rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The stream's kept module plans for input `schema`, built on first
    * use and again when the schema or the module config changes.
    */
  private def keptPlans(key: String, module: WriterModules.WriterModule, cfg: ModuleConfig,
      schema: StructType): KeptPlans =
    kept.get(key).filter(k => (k.module eq module) && k.cfg == cfg && k.schema == schema)
      .getOrElse {
        val k = new KeptPlans(spark, module, cfg, schema)
        kept(key) = k
        keptBuilds(key) = keptBuilds.getOrElse(key, 0) + 1
        k
      }

  private def localDf(schema: StructType, rows: Seq[InternalRow]): DataFrame =
    GraftBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Flush buffered messages at job end (the SourceFilter dtor flush), then
    * close the sink with metadata and final aggregates. Pass `emitHdf5` to
    * additionally write a native .h5 of the full tree (the reference's
    * final artifact).
    */
  def finish(emitHdf5: Option[String] = None): Unit = synchronized {
    closed = true // late/parked batches drop instead of appending past close
    notifyAll()   // wake any pause-parked batch so it sees `closed` and exits
    plan.streams.foreach { s =>
      WriterModules.registry.get(s.module).foreach { module =>
        val key = streamKey(s)
        states.get(key).foreach { state =>
          if (module.emitBuffered && state.buffered.nonEmpty) {
            val b = state.buffered.get
            state.buffered = None
            write(key, module, s, Left(bufferedDf(b, state.schema)), state)
          }
        }
      }
    }
    crashHook("finish:flushed-unsaved")
    // checkpoint the flush IMMEDIATELY: seeding, finals, close and the
    // optional HDF5 export below can take seconds — a crash anywhere in
    // them would otherwise restart with the pre-flush cursors and
    // re-append the buffered messages on a replayed finish() (the window
    // the final saveState alone left open; a crash between the flush
    // append and THIS save still replays, but the replay is byte-identical
    // at the same row ids — the documented at-least-once residue)
    saveState()
    crashHook("finish:flushed")
    // create-phase parity (`HDFOperations` init): every table a module
    // declares exists even when no message ever reached it — readers that
    // open datasets by name (as the reference's files always allow) must
    // not hit missing-dataset errors. Typed zero-row seeds are appended
    // for declared-but-never-written tables only. The probe's cursor says
    // "zero messages, zero elements", so no module runs a job to learn
    // that, and the seed is written on the driver.
    plan.streams.foreach { s =>
      WriterModules.registry.get(s.module).foreach { module =>
        val key = streamKey(s)
        val written = states.get(key).map(_.rowsWritten.keySet)
          .getOrElse(Set.empty[String])
        graft.sources.Fixtures.emptyInput(spark, module.id).foreach { empty =>
          val declared =
            try module.tables(empty, ModuleConfig(s.config),
              WriterModules.Cursor(sizeHint = 0L, elemHint = 0L))
            catch { case _: Exception => Map.empty[String, DataFrame] }
          declared.foreach { case (table, out) =>
            if (!written.contains(table))
              try {
                if (LocalParquet.supports(out.schema)) sink.appendLocal(key, table, out.schema, Nil)
                else sink.append(key, table, out, rows = 0)
              } catch {
                case e: Exception => System.err.println(
                  s"[graft] empty-seed append failed for $key/$table: ${e.getMessage}")
              }
          }
        }
      }
    }
    crashHook("finish:seeded")
    val units = plan.streams.flatMap { s =>
      WriterModules.registry.get(s.module).map(m =>
        streamKey(s) -> m.units(ModuleConfig(s.config)))
    }.toMap
    val attrs = plan.streams.flatMap { s =>
      WriterModules.registry.get(s.module).map(m =>
        streamKey(s) -> m.groupAttrs(ModuleConfig(s.config)))
    }.toMap
    // close-time final aggregates (f144 min/max/mean, ev44 event total —
    // the reference writer modules emit these at setToIdle) folded on the
    // driver over the sink's own written tables, AFTER seeding so even
    // untouched streams aggregate over their typed empty table. The
    // reader yields one row per row id: at-least-once replay (a crash
    // between an append and its cursor save) leaves byte-identical
    // duplicate rows at the SAME row ids, and a replayed min/max/MEAN
    // must count each logical row once
    val finals = plan.streams.flatMap { s =>
      WriterModules.registry.get(s.module).flatMap { m =>
        val key = streamKey(s)
        val f =
          try m.sinkFinals(t => LocalParquet.read(s"$outDir/data/$key/$t"),
            ModuleConfig(s.config))
          catch {
            case e: Exception =>
              System.err.println(
                s"[graft] close-time finals failed for $key: ${e.getMessage}")
              Map.empty[String, Row]
          }
        if (f.isEmpty) None else Some(key -> f)
      }
    }.toMap
    sink.close(plan, startMs, stopMsCur, units, finals, attrs)
    crashHook("finish:closed")
    emitHdf5.foreach(h5 => graft.sinks.Hdf5Export.export(spark, outDir, h5))
    // the buffer flushes and counter advances above must survive a crash
    // after close — a restart replaying finish() with the PRE-flush
    // cursors would re-append the buffered message onto its own row id
    saveState()
  }

  /** Returns the tables whose appends SUCCEEDED (skipped provably-empty
    * tables count as trivially successful), or None when the module
    * transform itself failed. Per-table append failures are counted and
    * surfaced but don't fail the batch; cross-table cursor consistency
    * under a partial failure is best-effort by nature (the parquet mirror
    * has no cross-directory transaction, just as the reference's HDF5
    * appends have none) — cursors that must stay in LOCKSTEP with a
    * specific table's content gate on that table's success (the ev44
    * event cursor, see applyStream).
    */
  private def write(
      key: String,
      module: WriterModules.WriterModule,
      s: NexusPlan.Stream,
      input: Input,
      state: StreamState,
      msgHint: Long = 1L,
      elemHint: Long = -1L
  ): Option[Set[String]] = {
    // per-(source,module) write-error accounting, non-fatal like the
    // reference's MessageWriter (`src/Stream/MessageWriter.cpp:77-105`):
    // a failed table append is counted and surfaced in status, the stream
    // keeps running
    val cfg = ModuleConfig(s.config)
    val cursor = WriterModules.Cursor(
      rowsWritten = state.rowsWritten.toMap,
      eventsWritten = state.eventsWritten,
      lastCue = state.lastCue,
      sizeHint = msgHint,
      elemHint = elemHint)
    type Local = Option[(StructType, Seq[InternalRow])]
    lazy val df = input.fold(identity, { case (schema, rows) => localDf(schema, rows) })
    // the module's tables, each as (name, schema, frame, driver rows), and
    // its check's counts: driver rows evaluate through the stream's kept
    // plans; a plan that does not evaluate there, and any distributed
    // input, take Spark's evaluator, whose tables are evaluated on the
    // driver below when their plan allows
    val (tables, checked) =
      try {
        val onDriver = input.toOption.flatMap { case (schema, rows) =>
          keptPlans(key, module, cfg, schema).eval(rows, cursor, Rows.SmallRenumberRows)
        }
        onDriver match {
          case Some((ts, names)) =>
            keptEvals(key) = keptEvals.getOrElse(key, 0) + 1
            (ts.toSeq.map { case (t, (schema, rs)) =>
              (t, schema, () => localDf(schema, rs), Some((schema, rs)): Local)
            }, () => names.groupMapReduce(identity)(_ => 1L)(_ + _))
          case None =>
            (module.tables(df, cfg, cursor).toSeq.map { case (t, out) =>
              (t, out.schema, () => out, None: Local)
            }, () => module.checks(df, cfg).fold(Map.empty[String, Long])(checkCounts))
        }
      } catch {
        case e: Exception =>
          state.writeErrors += 1
          System.err.println(s"[graft] transform failed for $key: ${e.getMessage}")
          return None
      }
    // Every table leaves the module with its final row ids, so the sink
    // appends it as emitted, in one of two ways:
    //   1. on the driver (see LocalParquet), when the table's rows are
    //      there: every table of a driver-kernel trigger (the kept plans),
    //      ev44's walked cue on any trigger, and any other table whose
    //      plan LocalPlan evaluates within the row bound — a Spark write
    //      job is ~160 ms of FIXED cost regardless of payload (round-12b);
    //   2. otherwise as ONE Spark write job per table.
    // A table with provably no rows is skipped: a cue grid that cursor
    // arithmetic proves fired zero times, or a driver evaluation that
    // yields nothing (ev44's cue hits on a trigger without a cue); zero
    // rows means zero counter movement, so skipping is observationally
    // identical except for the 0-row part file a write job leaves. The
    // surviving appends run CONCURRENTLY on a small daemon pool —
    // independent Spark jobs overlap their fixed cost (the
    // single-MessageWriter serialization the reference needs for HDF5
    // constrains streams, which stay serialized on the job monitor;
    // per-table parquet directories have no such coupling). Counter
    // updates stay deterministic: outcomes apply in table order AFTER
    // every append returns, under the processBatch monitor.
    final case class Outcome(table: String, n: Long, cueMax: Option[Long],
      err: Option[String], fused: Boolean = false)
    def appendLocal(table: String, schema: StructType,
        rs: Seq[org.apache.spark.sql.catalyst.InternalRow]): Option[Outcome] =
      try {
        val rowIdx = schema.fieldIndex("row")
        val sorted = rs.sortBy(_.getLong(rowIdx))
        // the Outcome is FULLY computed before the write commits:
        // appendLocal's rename is atomic, so a throw after it would
        // otherwise route these already-visible rows into the Spark
        // fallback path and append them a second time
        val mx =
          if (table == "cue" && sorted.nonEmpty) {
            val ci = schema.fieldIndex("cue_index")
            Some(sorted.iterator.map(_.getLong(ci)).max)
          } else None
        val outcome = Outcome(table, sorted.size.toLong, mx, None, fused = true)
        sink.appendLocal(key, table, schema, sorted)
        Some(outcome)
      } catch {
        // a failed local write left at most a dot-prefixed temp file no
        // reader sees — the Spark path is a safe, duplicate-free retry
        case e: Exception =>
          System.err.println(
            s"[graft] local append failed for $key/$table (${e.getMessage}); " +
              "falling back to the write-job path")
          None
      }
    def appendOne(table: String, out: => DataFrame, local: Local): Outcome =
      try local.flatMap { case (schema, rs) => appendLocal(table, schema, rs) }.getOrElse {
        // ONE write job per table, no cache churn: row count and
        // cue-chain max are observed DURING the append. Side effect of
        // observing instead of counting first: an append whose batch
        // slice is empty leaves one 0-row part file (readers and the
        // finish()-time empty seeding are unaffected; counters only move
        // when n > 0).
        val obs = org.apache.spark.sql.Observation()
        val observed =
          if (table == "cue")
            out.observe(obs, count(lit(1)).as("n"), max(col("cue_index")).as("mx"))
          else out.observe(obs, count(lit(1)).as("n"))
        // the file split's row bound: the batch's payload-element total
        // bounds an exploded table, its message count every other one;
        // it shapes files only, never counters
        sink.append(key, table, observed, rows = math.max(elemHint, msgHint))
        val n = obs.get("n").asInstanceOf[Long]
        val mx =
          if (table == "cue" && n > 0) Some(obs.get("mx").asInstanceOf[Long])
          else None
        Outcome(table, n, mx, None)
      } catch {
        case e: Exception => Outcome(table, 0L, None, Some(e.getMessage))
      }
    // each table is evaluated on the driver once, within the row bound:
    // the result serves both the emptiness skip and the driver append
    val evaluated = tables.map { case (t, schema, out, rows) =>
      val plannedEmpty = t == "cue" &&
        module.plannedCueCount(cfg, cursor, msgHint).contains(0L)
      val local: Local =
        if (plannedEmpty || !LocalParquet.supports(schema)) None
        else rows.orElse(LocalPlan.rows(out(), Rows.SmallRenumberRows))
      (t, out, local, plannedEmpty || local.exists(_._2.isEmpty))
    }
    val live = evaluated.collect { case (t, o, l, false) => (t, o, l) }
    val outcomes: Seq[Outcome] =
      if (live.sizeIs <= 1)
        live.map { case (t, o, l) => appendOne(t, o(), l) }
      else {
        import scala.concurrent.{Await, Promise}
        import scala.concurrent.duration.Duration
        val ps = live.map { case (t, o, l) =>
          val p = Promise[Outcome]()
          StreamingJob.appendPool.execute { () =>
            // Pool threads inherit the CREATING thread's Spark job group
            // (InheritableThreadLocal local properties) — in a
            // multi-schema job that is whichever MicroBatchExecution
            // first touched the pool, so stopping THAT query would
            // cancel OTHER streams' in-flight appends. Clear the group
            // per task; the appends are owned by this processBatch call,
            // not by any streaming query's cancellation scope.
            spark.sparkContext.clearJobGroup()
            // Complete the promise on EVERY outcome, fatal included: a
            // VirtualMachineError on a pool thread would otherwise leave
            // the Await below blocked forever while the caller holds the
            // job monitor and the global conf-window lock (a plain
            // Future completes on NonFatal only). The fatal rethrows
            // after completion so the JVM's handler still sees it.
            try p.trySuccess(appendOne(t, o(), l))
            catch {
              // appendOne handles Exception itself; only Errors land here
              case th: Throwable =>
                p.trySuccess(Outcome(t, 0L, None,
                  Some(s"${th.getClass.getSimpleName}: ${th.getMessage}")))
                if (!scala.util.control.NonFatal(th)) throw th
            }
          }
          p.future
        }
        ps.map(Await.result(_, Duration.Inf))
      }
    outcomes.foreach { oc =>
      if (oc.err.isEmpty) {
        if (oc.fused) state.appendsFused += 1 else state.appendsSpark += 1
      }
      oc.err match {
        case Some(msg) =>
          state.writeErrors += 1
          System.err.println(s"[graft] append failed for $key/${oc.table}: $msg")
        case None if oc.n > 0 =>
          // advance the greedy cue-chain anchor (modules emit GLOBAL
          // cue_index values from the cursor)
          oc.cueMax.foreach(mx => state.lastCue = module.nextLastCue(mx))
          state.rowsWritten(oc.table) =
            state.rowsWritten.getOrElse(oc.table, 0L) + oc.n
        case _ => ()
      }
    }
    // da00 constants-consistency warnings surface as write errors in the
    // x5f2 status (`da00_Writer.cpp:92-118` "Data for constant {} is not
    // consistent")
    val mism = checked()
    val total = mism.values.sum
    if (total > 0) {
      state.writeErrors += total
      mism.filter(_._2 > 0).foreach { case (n, c) =>
        System.err.println(s"[graft] data for constant $n is not consistent ($c msgs)")
      }
    }
    val skipped = tables.map(_._1).toSet -- live.map(_._1).toSet
    Some(skipped ++ outcomes.filter(_.err.isEmpty).map(_.table))
  }
}

object StreamingJob {

  /** What a stream writes in one trigger: a frame (the keyed pass, a
    * flush), or rows on the driver under their schema (a driver-kernel
    * trigger), which the stream's kept plans evaluate.
    */
  private[streaming] type Input = Either[DataFrame, (StructType, Seq[InternalRow])]

  /** Rows per `name` of a module's check plan: counted on the driver when
    * the plan evaluates there, else by one aggregate job.
    */
  private[graft] def checkCounts(check: DataFrame): Map[String, Long] =
    LocalPlan.rows(check) match {
      case Some((_, rs)) => rs.groupMapReduce(_.getUTF8String(0).toString)(_ => 1L)(_ + _)
      case None => check.groupBy("name").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** Serializes every job's per-trigger conf window (see
    * [[StreamingJob.withBatchConf]]) — session confs are process-global
    * state, so the guard must be too.
    */
  private[streaming] val sessionConfLock = new Object

  /** At most `maxRows` rows of at most `maxBytes` serialized bytes in
    * total, copied as `UnsafeRow`s of `schema`; None once `it` passes
    * either bound, and `it` is not read further — the driver kernel's
    * collect stops a burst at the bound, in each task.
    */
  private[streaming] def bounded(it: Iterator[InternalRow], schema: StructType,
      maxRows: Long, maxBytes: Long): Option[Array[UnsafeRow]] = {
    val proj  = UnsafeProjection.create(schema)
    val out   = mutable.ArrayBuffer.empty[UnsafeRow]
    var bytes = 0L
    while (it.hasNext) {
      val r = proj(it.next()).copy()
      bytes += r.getSizeInBytes
      if (out.size >= maxRows || bytes > maxBytes) return None
      out += r
    }
    Some(out.toArray)
  }

  /** Driver-side pool for concurrent per-table appends (see `write`):
    * one stream writes at most events+index+cue concurrently, so a small
    * fixed pool shared by every job suffices; daemon threads so an
    * embedded caller's JVM exit is never held up. Session confs are
    * process-global, so jobs launched from these threads still run under
    * the batch window's AQE/shuffle settings.
    */
  private[streaming] lazy val appendPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-append")
          t.setDaemon(true)
          t
        }))

  /** The driver kernel's per-partition collect: a partition's rows as
    * [[bounded]] copies them, or null past the bound. It lives in this
    * small object because Spark's `ClosureCleaner` reads and ASM-scans
    * the class that defines a closure each time it cleans one; the
    * `(TaskContext, Iterator)` form is cleaned once by `runJob`, where
    * `mapPartitions` + `collect` clean three closures defined in
    * `StreamingJob`, `RDD` and `SparkContext`.
    */
  private[streaming] object DriverCollect {
    def task(schema: StructType, maxRows: Long, maxBytes: Long)
        : (TaskContext, Iterator[InternalRow]) => Array[UnsafeRow] =
      (_, it) => bounded(it, schema, maxRows, maxBytes).orNull
  }

  /** Mutable per-stream state surviving micro-batch boundaries — the Spark
    * re-homing of SourceFilter/ev44_Writer member fields.
    */
  final case class StreamState(
      var lastTs: Option[Long] = None,
      /** all rows of the single buffered pre-start MESSAGE (one row per
        * variable for da00's exploded input, one row otherwise)
        */
      var buffered: Option[Seq[Row]] = None,
      var finished: Boolean = false,
      var eventsWritten: Long = 0L,
      rowsWritten: mutable.Map[String, Long] = mutable.Map.empty,
      var schema: StructType = null,
      var writeErrors: Long = 0L,
      var lastCue: Long = 0L
  ) {
    /** Cumulative append-path counters (observability: at production the
      * difference between the fused/local and distributed paths is the
      * difference between 1 and 5 Spark jobs per trigger, so the band
      * decision must be visible in x5f2): appends written on the driver
      * (zero jobs — a driver-kernel trigger's rows, or ev44's collected
      * cue hits) and appends by a Spark write job (the distributed path).
      */
    var appendsFused: Long = 0L
    var appendsSpark: Long = 0L
    /** Previous trigger's in-window message count, gating the driver
      * kernel. −1 = no history (restart ⇒ one distributed
      * trigger, then re-arm). Transient — deliberately NOT in the state
      * checkpoint (a heuristic hint, and keeping it out preserves the
      * on-disk state format).
      */
    var lastMsgs: Long = -1L
  }

  /** Kafka source for the real deployment: one streaming frame per data
    * topic, seeking by timestamp with the reference's 10 s leeway
    * (`startingTimestamp` ≙ offset-for-time seek on every partition,
    * `src/Kafka/MetaDataQuery.cpp:60-77`; leeway `src/StreamerOptions.h:24-25`;
    * big-payload fetch sizes `src/Kafka/BrokerSettings.h:33-35`).
    * Requires the spark-sql-kafka connector on the classpath.
    *
    * Arrival keys: everything downstream (F4 dedup, window cutoffs, row
    * numbering) orders one stream by its `offset` column and requires it
    * unique per source. Kafka offsets are unique only PER PARTITION, and
    * the reference's ordering guarantee is per-partition too (one
    * consumer+filter per partition, `src/Stream/Partition.cpp`) — a
    * source's messages live on one partition in the reference deployment
    * (the EPICS forwarder keys by source). An adapter wiring a source
    * that spans partitions must synthesize the unique key with
    * [[kafkaArrivalKey]] before handing the frame to the job.
    */
  def kafkaSource(
      spark: SparkSession,
      brokers: String,
      topics: Seq[String],
      startMs: Long,
      leewayMs: Long = 10000
  ): DataFrame =
    kafkaSourceOptions(brokers, topics, startMs, leewayMs)
      .foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()

  /** Globally-unique, per-partition-monotone arrival key for sources that
    * span Kafka partitions: partition id in the high bits, offset in the
    * low 44 (16 T offsets/partition, 512 k partitions — far beyond any
    * real topic). Cross-partition interleaving is arbitrary, exactly as
    * the reference's independent per-partition consumers make it; within
    * a partition, arrival order is preserved.
    */
  def kafkaArrivalKey(
      partition: org.apache.spark.sql.Column,
      offset: org.apache.spark.sql.Column
  ): org.apache.spark.sql.Column =
    partition.cast("long") * (1L << 44) + offset

  /** The option surface of [[kafkaSource]], separately visible so the
    * S1-S3 contract (timestamp seek with leeway, global timestamp form,
    * big-payload fetch sizes, bounded trigger) stays unit-testable in an
    * environment with no Kafka connector jars (this sandbox).
    */
  def kafkaSourceOptions(
      brokers: String,
      topics: Seq[String],
      startMs: Long,
      leewayMs: Long = 10000
  ): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topics.mkString(","),
      // global timestamp seek: `startingTimestamp` applies to EVERY
      // matched partition. (The earlier `startingOffsetsByTimestamp`
      // form used a "-1" partition wildcard, which that option does not
      // support — it requires enumerating real partition ids, unknowable
      // before connecting; the global option IS the all-partitions form.)
      "startingTimestamp" -> (startMs - leewayMs).toString,
      // a partition with NO record at/after the seek timestamp (empty or
      // idle topic when the writer starts before data flows — the normal
      // reference sequence) must start at its log end, not fail the whole
      // query: the connector's default strategy is "error"
      "startingOffsetsByTimestampStrategy" -> "latest",
      "kafka.fetch.max.bytes" -> (52428800L * 6).toString,
      "kafka.max.partition.fetch.bytes" -> (52428800L * 6).toString,
      "maxOffsetsPerTrigger" -> "10000000")

  /** Attach a decoded per-schema stream to the job: micro-batches flow
    * through `processBatch`; trigger cadence mirrors the reference's 10 s
    * `DataFlushInterval` (`src/StreamerOptions.h:20`).
    *
    * The checkpoint location defaults to a per-schema directory UNDER THE
    * JOB'S OUTPUT — this is load-bearing for the replay idempotency
    * contract: the job persists its processed-batch high-water mark in
    * `state.bin`, and foreachBatch batch ids are only continuous across
    * restarts when the query restarts from a stable checkpoint. With an
    * ephemeral checkpoint a restarted query would number batches from 0
    * again and the persisted mark would silently skip FRESH data as
    * "replays" until the ids caught up.
    */
  def attach(
      job: StreamingJob,
      schemaId: String,
      decoded: DataFrame,
      triggerMs: Long = 10000,
      checkpointDir: Option[String] = None
  ): StreamingQuery =
    decoded.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${job.outDir}/.checkpoints/$schemaId"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        job.processBatch(schemaId, batch, batchId)
      }
      .start()
}
