package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, GenericRowWithSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.functions.StableLong.{intDiv, stableLit}
import graft.sinks.LocalParquet

/** The per-stream transform operators — Spark re-expressions of the
  * reference's writer modules (`src/WriterModule/⋆`, SURVEY §2.5). Each turns
  * a decoded, filtered message DataFrame into named output tables whose
  * columns mirror the module's NeXus datasets; row order is carried by an
  * explicit `row` column (parquet has no intrinsic order), computed from the
  * Kafka arrival offset — the reference's append order.
  *
  * A module's tables are lazy plans ([[WriterModule.plans]]): building
  * them runs no Spark job, and every cursor value they read is a named
  * slot, so the streaming job builds each stream's plans once and
  * evaluates them on the driver trigger after trigger, the way the
  * reference sets a module up once per job (`JobCreator.cpp:170-275`) and
  * then pays only `writeImpl` per message. [[WriterModule.tables]] is the
  * other evaluator, Spark's: the same plans as frames, with ev44's cue
  * walked by jobs.
  */
object WriterModules {

  /** Typed view over a stream node's JSON config with alias support,
    * mirroring `JsonConfig::Field` (`src/JsonConfig/Field.h:109-215`).
    */
  final case class ModuleConfig(fields: Map[String, JValue]) {
    def str(keys: String*): Option[String] =
      keys.iterator.flatMap(k => fields.get(k)).collectFirst { case JString(s) => s }
    def long(keys: String*): Option[Long] =
      keys.iterator.flatMap(k => fields.get(k)).collectFirst {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong
      }
    def bool(keys: String*): Option[Boolean] =
      keys.iterator.flatMap(k => fields.get(k)).collectFirst { case JBool(b) => b }

    /** f144/se00 dtype with aliases (`f144_Writer.h:83`, map at
      * `f144_Writer.cpp:56-70`): lowercase, `type|dtype`.
      */
    def dtype(default: String): String = {
      val raw = str("type", "dtype").getOrElse(default).toLowerCase
      Map(
        "float" -> "float", "double" -> "double",
        "short" -> "smallint", "int" -> "int", "long" -> "bigint",
        "int8" -> "tinyint", "uint8" -> "smallint",
        "int16" -> "smallint", "uint16" -> "int",
        "int32" -> "int", "uint32" -> "bigint",
        "int64" -> "bigint", "uint64" -> "bigint",
        "float32" -> "float", "float64" -> "double",
        "string" -> "string", "c_string" -> "string"
      ).getOrElse(raw, "double")
    }
  }

  /** Cross-batch append cursor — the writer-module member fields the
    * reference carries between writeImpl calls, passed in per batch:
    * `rowsWritten` = rows already in each table ("NrOfWrites"; a module
    * numbers a table's new rows from its count, so every table leaves the
    * module with its final row ids), `eventsWritten` = ev44 cumulative
    * events (`ev44_Writer.cpp:118-126`), `lastCue` = the greedy cue-chain
    * anchor (`LastCueIndex` / `LastIndexAtWrite`, `ev44_Writer.cpp:127-134`,
    * `f144_Writer.cpp:259-263`).
    */
  final case class Cursor(
      rowsWritten: Map[String, Long] = Map.empty,
      eventsWritten: Long = 0L,
      lastCue: Long = 0L,
      /** message count of THIS batch (−1 unknown) — an exchange-shaping
        * hint only (small batches skip the range-sampling job in
        * [[Rows.indexed]]); never feeds row values.
        */
      sizeHint: Long = -1L,
      /** total payload elements of THIS batch (−1 unknown), from the
        * module's [[WriterModule.elementCountCol]] via the streaming
        * job's fused aggregate — lets the renumber bound its BYTES, not
        * just its row count (wide-array rows run ~16 KB; a rows-only
        * bound routed 160 MB triggers into one task). When known it is
        * exact, and ev44's cue chain takes the batch's event total from
        * it instead of an aggregate job.
        */
      elemHint: Long = -1L) {
    /** the next row id of `table` */
    def next(table: String): Long = rowsWritten.getOrElse(table, 0L)
    /** The value of the cursor slot `name`: `rows:<table>` = the table's
      * next row id, `eventsWritten`, `lastCue`.
      */
    def slot(name: String): Long = name match {
      case "eventsWritten"            => eventsWritten
      case "lastCue"                  => lastCue
      case t if t.startsWith("rows:") => next(t.stripPrefix("rows:"))
      case other => throw new IllegalArgumentException(s"unknown cursor slot $other")
    }
    /** Slot `name` as a plan constant: a [[graft.functions.StableLong]]
      * that a kept plan rebinds to the next trigger's cursor.
      */
    def slotLit(name: String): Column = stableLit(slot(name), name)
    /** crude batch payload bytes: 8 B/element + envelope per message. */
    def byteHint: Long =
      if (sizeHint < 0) -1L
      else math.max(elemHint, 0L) * 8 + sizeHint * 48
  }

  trait WriterModule {
    def id: String
    /** Only ev44 accepts repeated timestamps (`ev44_Writer.h:22`). */
    def acceptRepeats: Boolean = false
    /** ev44 ignores buffered pre-start messages (`ev44_Writer.cpp:94-97`). */
    def emitBuffered: Boolean = true
    def nxClass: String = "NXlog"
    /** dataset-name → units attribute (time is always ns). */
    def units(cfg: ModuleConfig): Map[String, String] = Map("time" -> "ns")
    /** computed group-level attributes (NX_class etc.). */
    def groupAttrs(cfg: ModuleConfig): Map[String, String] =
      Map("NX_class" -> nxClass)
    /** message DF (post route/dedup/window) → the module's output as lazy
      * plans ([[Plans]]). Building them runs no Spark job, and every cursor
      * value they read goes through [[Cursor.slotLit]] (or a `slots` name
      * of [[Rows.indexed]]), so plans built once over a placeholder input
      * evaluate any later trigger once its rows and slot values are bound.
      */
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans
    /** message DF → named output tables under Spark: the [[plans]] as
      * frames (ev44 adds the cue its chain walk derives).
      */
    def tables(df: DataFrame, cfg: ModuleConfig, cur: Cursor = Cursor()): Map[String, DataFrame] =
      plans(df, cfg, cur).tables
    /** The value of the plan slot `name` under `cur`: the cursor's own
      * slots, plus those a module derives from it (ev44's cue interval).
      */
    def slot(cfg: ModuleConfig, cur: Cursor, name: String): Long = cur.slot(name)
    /** Input rows that each count as one write error, as a lazy plan of one
      * `name` column (da00's inconsistent constants); None = no check.
      */
    def checks(df: DataFrame, cfg: ModuleConfig): Option[DataFrame] = None
    /** next cue-chain anchor after a cue at `maxCueIndex` (f144 family
      * stores the write COUNT, ev44 the event INDEX — `f144_Writer.cpp:260`
      * vs `ev44_Writer.cpp:133`).
      */
    def nextLastCue(maxCueIndex: Long): Long = maxCueIndex + 1
    /** Per-message payload-element count (modules with array payloads):
      * lets the streaming job fold the batch's exact element total into
      * its one fused scalar aggregate, so the numbering's byte hint, the
      * append's file split and the ev44 event cursor need no extra job.
      */
    def elementCountCol: Option[org.apache.spark.sql.Column] = None
    /** Exact driver-side cue-row count for this batch, when the module's
      * cue grid is pure cursor arithmetic (unit-increment chains over
      * one-data-row-per-message tables: f144/ad00). `rows` is the exact
      * data-row count of the batch (the streaming job's msgHint). `None`
      * means not predictable (ev44's candidate walk is data-dependent).
      * The streaming write path uses `Some(0)` to skip the cue append
      * outright — at production cue intervals (reference ev44 default is
      * 10⁸ events) most triggers fire no cue, and a provably-empty append
      * is a whole Spark write job for zero rows.
      */
    def plannedCueCount(cfg: ModuleConfig, cur: Cursor, rows: Long): Option[Long] = None
    /** True when ONE wire message reaches the module as SEVERAL input rows
      * (the da00 adapter explodes per VARIABLE). Message-grain semantics
      * (F4 dedup, the pre-start buffer) must then treat all rows sharing
      * an offset as one unit — the streaming job collects the WHOLE
      * message for the buffered candidate instead of the single row the
      * fused aggregate carries.
      */
    def multiRowMessages: Boolean = false
    /** Scalar datasets written at job close (running aggregates), folded
      * on the driver over the sink's own written tables: `read` opens one
      * by name with one row per row id, so the aggregates describe the
      * STORED (dtype-cast) values once each, replay duplicates included.
      * Each result is one row under its own schema. Default: none.
      */
    def sinkFinals(read: String => LocalParquet.Table, cfg: ModuleConfig): Map[String, Row] =
      Map.empty
  }

  /** A module's output for one input frame, every plan lazy: its tables by
    * name and, for a module whose cue chain is data-dependent (ev44), the
    * chain's input, from which a walk over its rows derives the `cue`
    * table.
    */
  final case class Plans(tables: Map[String, DataFrame], cueChain: Option[CueChain] = None)

  /** ev44's greedy cue chain over the batch's non-empty messages: `proj`
    * = `(row, ea, ea_prev, cue_ts)` (message ordinal, cumulative events
    * after and before it, cue timestamp) and `candidates` = its messages
    * whose count crosses a multiple of the interval past the anchor.
    */
  final case class CueChain(proj: DataFrame, candidates: DataFrame)

  /** Spark's ordering of one stored value type, as `min`/`max` apply it:
    * floating NaN sorts above everything and -0.0 equals 0.0
    * (`SQLOrderingUtil`), strings compare by their UTF-8 bytes.
    */
  private def sqlCompare(dt: DataType): (Any, Any) => Int = dt match {
    case DoubleType => (a, b) =>
      val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case FloatType => (a, b) =>
      val (x, y) = (a.asInstanceOf[Float], b.asInstanceOf[Float])
      if (x == y) 0 else java.lang.Float.compare(x, y)
    case _: StringType => (a, b) =>
      java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** A stored value as `avg` sums it: Spark's cast to double (a string
    * that is no number throws, as the cast does under ANSI).
    */
  private def sqlDouble(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case s: String           => s.toDouble
  }

  /** The one closed form behind every unit-increment cue grid (f144/ad00
    * [[WriterModule.plannedCueCount]] overrides): grid points lastCue +
    * k·n (k ≥ 1) with 1-based write count in (rowStart, rowStart + rows].
    * ONE definition on purpose — the streaming cue-skip is sound only
    * while this NEVER disagrees with the modules' cue filters
    * (`CueGridSpec` pins them equal), and a second copy could drift.
    */
  private def unitGridCueCount(lastCue: Long, rowStart: Long, rows: Long, n: Long): Long =
    math.max(0L, (rowStart + rows - lastCue) / n) -
      math.max(0L, (rowStart - lastCue) / n)

  /** Arrival-order GLOBAL row index within the stream, computed
    * distributed ([[Rows.indexed]] two-pass prefix sum — no
    * single-partition stage; the reference's single-writer discipline
    * (`src/Stream/MessageWriter.cpp:31-36`) constrains output order, not
    * the numbering computation). Starts at the data table's cursor, so
    * the ids are final: the sink appends the table as emitted.
    */
  private def withRow(df: DataFrame, cur: Cursor = Cursor()): DataFrame =
    Rows.indexed(df, "offset", start = cur.next("data"),
      sizeHint = cur.sizeHint, byteHint = cur.byteHint, slots = Seq("rows:data"))

  /** Rows an explode of `arr` emits: its length, null counting 0 (`size`
    * of null is null under ANSI and −1 without).
    */
  private def emitted(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(size(arr).cast("long"), lit(0L))

  /** Messages in arrival order, each with `first` = the id of its first
    * exploded row in `table`: the table's cursor plus the exclusive
    * prefix of `n` (the rows each message's explode emits). An exploded
    * row's final id is then `first + pos`, the reference's running count
    * (`ev44_Writer.cpp:118-126`), with no second numbering pass.
    */
  private def withFirst(df: DataFrame, cur: Cursor, table: String,
      n: org.apache.spark.sql.Column): DataFrame =
    Rows.indexed(df.withColumn("__n", n), "offset",
      weights = Seq(("__n", "first", cur.next(table))),
      sizeHint = cur.sizeHint, byteHint = cur.byteHint, slots = Seq("", s"rows:$table"))

  /** f144 scalar log: (time, value) + cue index + min/max/mean metadata
    * (`src/WriterModule/f144/f144_Writer.cpp:197-276`).
    */
  object F144 extends WriterModule {
    val id = "f144"
    override def units(cfg: ModuleConfig): Map[String, String] = {
      val u = cfg.str("value_units", "unit").getOrElse("")
      Map("time" -> "ns", "value" -> u, "minimum_value" -> u,
        "maximum_value" -> u, "average_value" -> u)
    }
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans = {
      val data = withRow(df, cur)
        .select(col("row"), col("ts").as("time"),
          col("value").cast(cfg.dtype("double")).as("value"))
      val cue = cfg.long("cue_interval") match {
        case Some(n) if n > 0 =>
          // greedy chain anchored at the cross-batch cursor: writes
          // increment by one, so cues land at lastCue + n, + 2n, …
          // exactly (`f144_Writer.cpp:259-263`); rows are global already
          val gw = col("row") + 1 // 1-based global write count
          Map("cue" -> data
            .filter(gw > cur.slotLit("lastCue") && (gw - cur.slotLit("lastCue")) % n === 0)
            .select(col("row"), (gw - 1).as("cue_index"),
              col("time").as("cue_timestamp_zero")))
        case _ => Map.empty[String, DataFrame] // default u32::max ⇒ off (f144_Writer.h:79-80)
      }
      Plans(Map("data" -> data) ++ cue)
    }
    override def plannedCueCount(cfg: ModuleConfig, cur: Cursor, rows: Long): Option[Long] =
      cfg.long("cue_interval").filter(_ > 0)
        .map(unitGridCueCount(cur.lastCue, cur.next("data"), rows, _))
    /** min/max/avg/count of the stored values with Spark's aggregate
      * rules: min and max in the stored dtype ([[sqlCompare]]; of equal
      * values the first in row order stays), avg a double sum over the
      * non-null values in row order (null when there are none),
      * `num_values` every row.
      */
    override def sinkFinals(read: String => LocalParquet.Table, cfg: ModuleConfig): Map[String, Row] =
      if (!cfg.bool("meta_data").getOrElse(true)) Map.empty
      else {
        val data = read("data")
        val vt   = data.schema("value").dataType
        val cmp  = sqlCompare(vt)
        var lo, hi: Any = null
        var sum  = 0.0
        var nums = 0L
        var n    = 0L
        data.foreach(Seq("value")) { r =>
          n += 1
          if (!r.isNullAt(0)) {
            val v = r.get(0)
            if (lo == null || cmp(v, lo) < 0) lo = v
            if (hi == null || cmp(v, hi) > 0) hi = v
            sum += sqlDouble(v)
            nums += 1
          }
        }
        val schema = StructType(Seq(
          StructField("minimum_value", vt), StructField("maximum_value", vt),
          StructField("average_value", DoubleType),
          StructField("num_values", LongType, nullable = false)))
        val avg = if (nums == 0) null else sum / nums
        Map("meta" -> new GenericRowWithSchema(Array(lo, hi, avg, n), schema))
      }
  }

  /** ep01 connection state: (connection_status_time, connection_status)
    * (`src/WriterModule/ep01/ep01_Writer.cpp:38-46`).
    */
  object Ep01 extends WriterModule {
    val id = "ep01"
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans =
      Plans(Map("data" -> withRow(df, cur).select(col("row"),
        col("ts").as("connection_status_time"),
        col("status").cast("short").as("connection_status"))))
  }

  /** al00 alarms: severity int16 + message with empty-string default
    * (`src/WriterModule/al00/al00_Writer.cpp:57-70`).
    */
  object Al00 extends WriterModule {
    val id = "al00"
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans =
      Plans(Map("data" -> withRow(df, cur).select(col("row"),
        col("ts").as("alarm_time"),
        col("severity").cast("short").as("alarm_severity"),
        when(length(col("message")) === 0, lit("NO ALARM MESSAGE"))
          .otherwise(col("message")).as("alarm_message"))))
  }

  /** ev44 events: exploded (event_time_offset, event_id) plus per-message
    * (event_time_zero, event_index) with the stateful cumulative shift
    * `event_index = reference_time_index + EventsWritten`
    * (`src/WriterModule/ev44/ev44_Writer.cpp:92-138`, shift at 118-126).
    */
  object Ev44 extends WriterModule {
    val id = "ev44"
    /** Observability of the last batch's cue resolution (test hook): how
      * many candidate rows the driver collected (bounded ≈
      * batchEvents/interval) and how many superset MISSES the
      * proof-of-first-crossing hit (0 in the common case). All misses
      * are resolved together by ONE batched walk job — the count keeps
      * its meaning but no longer prices a Spark job per link.
      */
    private[graft] var lastCueCandidates: Int = 0
    private[graft] var lastCueFallbacks: Int  = 0
    /** Scale guard on the cue chain's driver-side candidate collect: the
      * candidate superset is ≈ batchEvents/interval rows, so a pathological
      * config (`cue_interval=1` on a huge stream — the reference default is
      * 10⁸ events, `src/WriterModule/ev44/ev44_Writer.h:48`) would collect
      * O(rows) onto the driver. The EFFECTIVE interval is raised just enough
      * to bound candidates at [[MaxCueCandidates]] (~24 MB of collected
      * anchors); cues stay exact under the effective interval, only their
      * density is clamped. [[lastCueInterval]] records the value used so the
      * clamp is observable, never silent.
      */
    private[graft] var MaxCueCandidates: Long  = 1L << 20 // var: test hook only
    private[graft] var lastCueInterval: Long   = 0L
    /** Fallback-walk shape hooks: partitions the range-partitioned walk
      * used, and its executed plan — so specs can assert the sort is
      * per-partition (no single-task coalesce(1) funnel at scale).
      * [[WalkRowsPerPartition]] sizes the walk: messages-per-task target;
      * var so specs can force a multi-partition walk on small data.
      */
    private[graft] var WalkRowsPerPartition: Long = 1L << 18
    private[graft] var lastWalkPartitions: Int    = 0
    private[graft] var lastWalkPlan: String       = ""
    override def acceptRepeats = true
    override def emitBuffered  = false
    override def nxClass       = "NXevent_data"
    /** ev44 anchors the chain at the cue EVENT INDEX (`LastCueIndex =
      * EventsWritten - 1`, `ev44_Writer.cpp:133`), not the write count.
      */
    override def nextLastCue(maxCueIndex: Long): Long = maxCueIndex
    override def elementCountCol = Some(size(col("time_of_flight")))
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans = {
      // one numbering pass over the messages gives, per message, the
      // running event count (EventsWritten, ev44_Writer.cpp:118-126) and
      // the first id of its rows in each exploded table
      val events0 = arrays_zip(col("time_of_flight"), col("pixel_id"))
      val index0  = arrays_zip(col("reference_time"), col("reference_time_index"))
      // empty messages append no ref times (ev44_Writer.cpp:111)
      val hasEvents = size(col("time_of_flight")) > 0
      val cum = Rows.indexed(
        df.withColumn("__n_ev", size(col("time_of_flight")).cast("long"))
          .withColumn("__n_events", emitted(events0))
          .withColumn("__n_index", when(hasEvents, emitted(index0)).otherwise(0L)),
        "offset", weights = Seq(
          ("__n_ev", "events_written", cur.eventsWritten),
          ("__n_events", "events_first", cur.next("events")),
          ("__n_index", "index_first", cur.next("index"))),
        sizeHint = cur.sizeHint, byteHint = cur.byteHint,
        slots = Seq("", "eventsWritten", "rows:events", "rows:index"))
        .withColumn("events_after", col("events_written") + col("__n_ev"))
      // every reference_time element lands, each index shifted by
      // EventsWritten (ev44_Writer.cpp:115-125)
      val nonEmpty = cum.filter(hasEvents)
      val index = nonEmpty
        .select(col("index_first"), col("events_written"), posexplode(index0))
        .select(
          (col("index_first") + col("pos")).as("row"),
          col("col.reference_time").as("event_time_zero"),
          (col("col.reference_time_index").cast("long") + col("events_written"))
            .as("event_index"))
      val events = cum
        .select(col("events_first"), posexplode(events0))
        .select((col("events_first") + col("pos")).as("row"),
          col("col.time_of_flight").as("event_time_offset"),
          col("col.pixel_id").as("event_id"))
      val proj = nonEmpty.select(
        col("row"),
        col("events_after").as("ea"),
        col("events_written").as("ea_prev"),
        // try_element_at: a message with events may carry no reference
        // time (the envelope rejects one on the wire, a hand-built frame
        // need not), and ANSI element_at would throw for the whole
        // projection; such a message's cue is stamped from 0
        (coalesce(try_element_at(col("reference_time"), lit(-1)), lit(0L)) +
          try_element_at(col("time_of_flight"), lit(-1)).cast("long")).as("cue_ts"))
      Plans(Map("events" -> events, "index" -> index), Some(CueChain(proj,
        candidates(proj, cur, stableLit(cueInterval(cfg, cur), "cueInterval")))))
    }
    override def slot(cfg: ModuleConfig, cur: Cursor, name: String): Long =
      if (name == "cueInterval") cueInterval(cfg, cur) else cur.slot(name)

    /** The effective cue interval: the requested one, raised so the
      * candidate collect stays ≤ [[MaxCueCandidates]] rows for the
      * batch's events (the cursor's `elemHint`; see the guard's doc).
      */
    private def cueInterval(cfg: ModuleConfig, cur: Cursor): Long = {
      val requested   = cfg.long("cue_interval").getOrElse(100000000L).max(1L)
      val batchEvents = cur.elemHint.max(0L)
      val floor =
        if (batchEvents > 0) (batchEvents + Ev44.MaxCueCandidates - 1) / Ev44.MaxCueCandidates
        else 1L
      requested.max(floor)
    }

    /** The candidate messages of the chain: cue via the EXACT greedy chain
      * of ev44_Writer.cpp:127-134 — cue when cumulative events exceed
      * lastCue + interval, the new anchor being that message's last event
      * index. The anchor is data-dependent and inherently sequential, but
      * the walk never reads every message: only the CANDIDATES whose
      * cumulative count crosses a multiple of the interval (≈
      * batchEvents/interval rows — the fire-rate bound). Greedy anchors
      * drift off that grid, so the walk PROVES each candidate before
      * firing (see [[walk]]).
      */
    private def candidates(proj: DataFrame, cur: Cursor, interval: Column): DataFrame =
      proj.filter(
        intDiv(col("ea") - 1 - cur.slotLit("lastCue"), interval) >
          intDiv(col("ea_prev") - 1 - cur.slotLit("lastCue"), interval))

    /** One message of the chain: `(row, ea, ea_prev, cue_ts)` of `proj`. */
    private final case class Link(row: Long, ea: Long, eaPrev: Long, ts: Long)
    private def links(rs: Iterator[InternalRow]): Seq[Link] =
      rs.map(r => Link(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    private[graft] val cueSchema = StructType(Seq("row", "cue_index", "cue_timestamp_zero")
      .map(StructField(_, LongType, nullable = false)))

    /** The greedy walk over the candidates, from the cursor's anchor: a
      * candidate with ea_prev ≤ last+interval < ea is necessarily the first
      * crossing (its predecessor hadn't crossed and ea is monotone); when
      * that proof fails — the superset missed the true first crossing —
      * `rest(last)` resolves the WHOLE remaining chain from anchor `last`
      * (one definition, two evaluators: Scala over the driver's rows, or
      * the distributed walk). The cue rows, `(row, cue_index,
      * cue_timestamp_zero)`: sort key = the global event index itself,
      * monotone and unique across batches with no renumber pass.
      */
    private def walk(cand: Seq[Link], l0: Long, interval: Long, maxEa: Long,
        rest: Long => Seq[Link]): Seq[InternalRow] = {
      val sorted = cand.sortBy(_.row)
      Ev44.lastCueInterval    = interval
      Ev44.lastCueCandidates  = sorted.length
      Ev44.lastCueFallbacks   = 0
      Ev44.lastWalkPartitions = 0
      Ev44.lastWalkPlan       = ""
      val hits = scala.collection.mutable.ArrayBuffer.empty[Link]
      var last = l0
      var i    = 0
      var done = false
      while (!done) {
        while (i < sorted.length && sorted(i).ea <= last + interval) i += 1
        if (i < sorted.length && sorted(i).eaPrev <= last + interval) {
          hits += sorted(i)
          last = sorted(i).ea - 1
          i += 1
        } else if (maxEa > last + interval) {
          // the metric keeps its meaning — number of superset misses —
          // they just cost no job each: a TRUE crossing that IS a
          // candidate is always provable (its ea_prev ≤ last+interval by
          // firstness), so the misses are exactly the non-candidates
          val walked = rest(last)
          val candRows = sorted.iterator.map(_.row).toSet
          Ev44.lastCueFallbacks += walked.count(w => !candRows.contains(w.row))
          hits ++= walked
          done = true
        } else done = true
      }
      hits.toSeq.map(h => new GenericInternalRow(Array[Any](h.ea - 1, h.ea - 1, h.ts)))
    }

    /** The rest of the chain from anchor `l` over messages in row order:
      * only messages with ea > l+interval can ever fire (thresholds only
      * grow), each fired one re-anchors at its last event index.
      */
    private def sweep(ordered: Iterator[Link], l: Long, iv: Long): (Seq[Link], Long) = {
      var ll = l
      val hs = scala.collection.mutable.ArrayBuffer.empty[Link]
      ordered.foreach(r => if (r.ea > ll + iv) { ll = r.ea - 1; hs += r })
      (hs.toSeq, ll)
    }

    /** The driver evaluator of the cue chain: `rows` evaluates the
      * chain's plans (the streaming job's kept plans), and a superset miss
      * sweeps `proj`'s rows in Scala — no job, no persisted RDD. The
      * cursor must carry the batch's exact event total (`elemHint`, as the
      * streaming job's does); None when it does not or a plan does not
      * evaluate.
      */
    private[graft] def driverCueWalk(chain: CueChain, cfg: ModuleConfig, cur: Cursor,
        rows: DataFrame => Option[Seq[InternalRow]]): Option[Seq[InternalRow]] =
      if (cur.elemHint < 0) None
      else if (cur.elemHint == 0) Some(walk(Nil, cur.lastCue, cueInterval(cfg, cur), Long.MinValue, _ => Nil))
      else for {
        proj <- rows(chain.proj)
        cand <- rows(chain.candidates)
      } yield {
        val iv = cueInterval(cfg, cur)
        walk(links(cand.iterator), cur.lastCue, iv, cur.eventsWritten + cur.elemHint, l =>
          sweep(links(proj.iterator).filter(_.ea > l + iv).sortBy(_.row).iterator, l, iv)._1)
      }

    /** Spark's evaluator of the module: the plans' tables plus the cue its
      * chain walk derives with Spark jobs ([[distributedCueWalk]]).
      */
    override def tables(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Map[String, DataFrame] = {
      val p = plans(df, cfg, cur)
      p.tables + ("cue" -> distributedCueWalk(p.cueChain.get, cfg, cur))
    }

    /** The distributed cue walk — the one place this file runs a Spark
      * action. The batch's last cumulative event count and its message
      * bound come from the kernel's exact counts when the cursor carries
      * them (`elemHint` = the batch's events, 0 = nothing to cue), else
      * from one aggregate job; the candidates (bounded by the interval
      * clamp) are collected and sorted on the driver — a Spark orderBy
      * would add a range-sampling job and a shuffle stage to every
      * trigger. The cue comes back as a driver-side relation.
      */
    private def distributedCueWalk(chain0: CueChain, cfg: ModuleConfig, cur0: Cursor): DataFrame = {
      val session = chain0.proj.sparkSession
      def relation(schema: StructType, rows: Seq[InternalRow]) =
        GraftBridge.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
      // a batch on the driver is numbered there once, and the walk's
      // jobs read those rows: Spark would run the numbering window of a
      // local relation in one task. A batch without events reads nothing.
      lazy val chain = LocalPlan.rows(chain0.proj).fold(chain0) { case (schema, rows) =>
        chain0.copy(proj = relation(schema, rows))
      }
      val cur =
        if (cur0.elemHint >= 0) cur0
        else chain.proj.agg(max("ea"), count(lit(1))).collect().head match {
          case r if r.isNullAt(0) => cur0.copy(sizeHint = 0L, elemHint = 0L)
          case r => cur0.copy(sizeHint = r.getLong(1), elemHint = r.getLong(0) - cur0.eventsWritten)
        }
      val (maxEa, nMsgs) =
        if (cur.elemHint == 0) (Long.MinValue, 0L)
        else (cur.eventsWritten + cur.elemHint, cur.sizeHint)
      val interval = cueInterval(cfg, cur)
      val cand =
        if (maxEa == Long.MinValue) Nil
        else candidates(chain.proj, cur, stableLit(interval, "cueInterval")).collect().toSeq
          .map(r => Link(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val hits = walk(cand, cur.lastCue, interval, maxEa, { l0w =>
        // superset miss: finish the ENTIRE remaining chain distributed.
        // The greedy recurrence is sequential in the THRESHOLD, but ea is
        // the monotone cumulative event count, so after
        // range-partitioning the slim (row, ea, cue_ts) projection by row
        // the chain sweeps the partitions strictly left to right,
        // entering each at most once. The sort is therefore per-partition
        // (parallel — no coalesce(1) funnel), and the sequential part
        // shrinks to one driver Long threaded through at most one tiny
        // cached-RDD job per partition (sc.runJob on exactly that
        // partition). A partition whose max ea never exceeds the entering
        // threshold+interval is skipped without a job. Output is one slim
        // row per cue, bounded by batchEvents / interval ≤
        // MaxCueCandidates — the same clamp that bounds the candidate
        // collect.
        val iv = interval
        // P from the batch's message bound: small batches collapse to ONE
        // partition — fallback job count stays independent of the miss
        // count — while large batches get parallel local sorts with
        // ~WalkRowsPerPartition rows/task.
        val p = math.min(32L,
          (nMsgs + Ev44.WalkRowsPerPartition - 1) / Ev44.WalkRowsPerPartition)
          .toInt.max(1)
        val src = chain.proj
          .filter(col("ea") > l0w + iv)
          .select(col("row"), col("ea"), col("ea_prev"), col("cue_ts"))
        val sorted =
          (if (p == 1) src.coalesce(1)
           else src.repartitionByRange(p, col("row")))
            .sortWithinPartitions("row")
        Ev44.lastWalkPartitions = p
        Ev44.lastWalkPlan       = sorted.queryExecution.executedPlan.toString
        import session.implicits._
        val rdd = sorted.as[(Long, Long, Long, Long)].rdd
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val walked = scala.collection.mutable.ArrayBuffer.empty[Link]
        try {
          val sc = session.sparkContext
          // materializing pass: per-partition max ea (= last element —
          // the partition is row-sorted and ea is monotone in row)
          val partMaxEa: Array[Option[Long]] =
            sc.runJob(rdd, (it: Iterator[(Long, Long, Long, Long)]) => {
              var m = Option.empty[Long]
              it.foreach(r => m = Some(r._2))
              m
            })
          var l   = l0w
          var pid = 0
          while (pid < partMaxEa.length) {
            if (partMaxEa(pid).exists(_ > l + iv)) {
              val lIn = l
              val res = sc.runJob(rdd, (it: Iterator[(Long, Long, Long, Long)]) =>
                sweep(it.map(r => Link(r._1, r._2, r._3, r._4)), lIn, iv), Seq(pid))
              walked ++= res(0)._1
              l = res(0)._2
            }
            pid += 1
          }
        } finally rdd.unpersist(blocking = false)
        walked.toSeq
      })
      relation(cueSchema, hits)
    }
    /** total events = the exploded events table's row count */
    override def sinkFinals(read: String => LocalParquet.Table, cfg: ModuleConfig): Map[String, Row] = {
      var n = 0L
      read("events").foreach(Nil)(_ => n += 1)
      Map("meta" -> new GenericRowWithSchema(Array(n),
        StructType(Seq(StructField("events", LongType, nullable = false)))))
    }
  }

  /** ad00 n-D image: flattened element array + shape per message
    * (`src/WriterModule/ad00/ad00_Writer.cpp:142-204`).
    */
  object Ad00 extends WriterModule {
    val id = "ad00"
    override def elementCountCol = Some(size(col("data")))
    override def units(cfg: ModuleConfig): Map[String, String] =
      Map("time" -> "ns", "value" -> "")
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans = {
      val data = withRow(df, cur).select(col("row"), col("ts").as("time"),
        transform(col("data"), _.cast(cfg.dtype("double"))).as("value"),
        col("dimensions").as("shape"))
      // message-count cue chain (`ad00_Writer.cpp:198-202` CueCounter):
      // unit increments ⇒ anchored grid; rows are global across batches
      val n  = cfg.long("cue_interval").getOrElse(1000L)
      val gw = col("row") + 1
      // a slot, not lit: the cursor advances every cue, and an inlined
      // literal would regenerate the whole-stage code each trigger (the
      // Janino-recompile class StableLong exists to remove — NOTES_r12 §1)
      // and could not be rebound in a kept plan
      val cue = data
        .filter(gw > cur.slotLit("lastCue") && (gw - cur.slotLit("lastCue")) % n === 0)
        .select(col("row"), (gw - 1).as("cue_index"),
          col("time").as("cue_timestamp_zero"))
      Plans(Map("data" -> data, "cue" -> cue))
    }
    // same unit-increment grid as f144, with ad00's 1000-message default
    override def plannedCueCount(cfg: ModuleConfig, cur: Cursor, rows: Long): Option[Long] = {
      val n = cfg.long("cue_interval").getOrElse(1000L)
      if (n <= 0) None
      else Some(unitGridCueCount(cur.lastCue, cur.next("data"), rows, n))
    }
  }

  /** da00 multi-variable data arrays: one column per configured variable,
    * missing variables null-filled (`variable_append_missing`,
    * `src/WriterModule/da00/da00_Writer.cpp:333-387`).
    */
  object Da00 extends WriterModule {
    val id = "da00"
    /** input rows are per-variable (pre-pivot): summing each row's array
      * size totals the batch payload across variables.
      */
    override def elementCountCol = Some(size(col("data")))
    /** the adapter explodes one da00 message into per-variable rows */
    override def multiRowMessages = true
    override def nxClass = "NXdata"
    /** NXdata signal/axes attributes with `time` prepended to the axes —
      * computed at plan time (`da00_Writer.cpp:132-227`).
      */
    override def groupAttrs(cfg: ModuleConfig): Map[String, String] = {
      val vars = variableNames(cfg)
      val axes = cfg.fields.get("variables") match {
        case Some(JArray(vs)) =>
          vs.headOption.toSeq.flatMap(v => (v \ "axes") match {
            case JArray(as) => as.collect { case JString(a) => a }
            case _          => Nil
          })
        case _ => Nil
      }
      Map("NX_class" -> nxClass) ++
        vars.headOption.map("signal" -> _) +
        ("axes" -> ("time" +: axes).mkString(","))
    }
    /** Effective variable spec after first-message reconciliation. */
    final case class VariableSpec(
        name: String,
        dataType: Option[String],
        shape: Option[Seq[Long]],
        declared: Boolean,
        mismatch: Boolean)

    /** First-message schema reconciliation (`handle_first_message`,
      * `da00_Writer.cpp:65-130`): declared config is authoritative; missing
      * dtype/shape fill from the message, declared-but-mismatched specs are
      * kept and flagged (the reference logs a warning), and variables the
      * message carries but the config doesn't are appended as inferred.
      */
    def reconcile(
        cfg: ModuleConfig,
        firstMessage: Map[String, (String, Seq[Long])]
    ): Seq[VariableSpec] = {
      val declared = cfg.fields.get("variables") match {
        case Some(JArray(vs)) =>
          vs.flatMap { v =>
            (v \ "name") match {
              case JString(n) =>
                val dt = (v \ "data_type") match { case JString(s) => Some(s); case _ => None }
                val sh = (v \ "shape") match {
                  case JArray(xs) => Some(xs.collect {
                    case JInt(i) => i.toLong
                    case JLong(l) => l
                  })
                  case _ => None
                }
                Some((n, dt, sh))
              case _ => None
            }
          }
        case _ => Nil
      }
      val reconciled = declared.map { case (n, dt, sh) =>
        firstMessage.get(n) match {
          case Some((msgDt, msgSh)) =>
            val mismatch = dt.exists(_ != msgDt) || sh.exists(_ != msgSh)
            VariableSpec(n, dt.orElse(Some(msgDt)), sh.orElse(Some(msgSh)),
              declared = true, mismatch = mismatch)
          case None =>
            VariableSpec(n, dt, sh, declared = true, mismatch = false)
        }
      }
      val extra = (firstMessage.keySet -- declared.map(_._1)).toSeq.sorted.map { n =>
        val (dt, sh) = firstMessage(n)
        VariableSpec(n, Some(dt), Some(sh), declared = false, mismatch = false)
      }
      reconciled ++ extra
    }

    def variableNames(cfg: ModuleConfig): Seq[String] =
      cfg.fields.get("variables") match {
        case Some(JArray(vs)) =>
          vs.flatMap(v => (v \ "name") match { case JString(s) => Some(s); case _ => None })
        case _ => Nil
      }

    /** Runtime constants-consistency check (`da00_Writer.cpp:92-118`):
      * constants are written once at structure creation, but later
      * messages may still CARRY a variable of the same name — the
      * reference compares that payload against the declared data and
      * warns "Data for constant {} is not consistent". The lazy plan of
      * the input rows that carry a declared constant with other data, one
      * `name` per row (the streaming job counts them per constant into
      * the stream's write errors); a constant declared twice is checked
      * against its last declaration.
      */
    override def checks(df: DataFrame, cfg: ModuleConfig): Option[DataFrame] = {
      def nums(jv: JValue): Seq[Double] = graft.plans.NexusPlan.jsonDoubles(jv)
      val declared: Seq[(String, Seq[Double])] = cfg.fields.get("constants") match {
        case Some(JArray(cs)) =>
          cs.flatMap { c =>
            ((c \ "name"), (c \ "data")) match {
              case (JString(n), d @ JArray(_)) => Some(n -> nums(d))
              case _                           => None // declared without data: filled by first message
            }
          }
        case _ => Nil
      }
      if (declared.isEmpty) None
      else Some(df.filter(declared.reverse.distinctBy(_._1).map { case (n, xs) =>
        col("name") === n && !(col("data") <=> typedLit(xs))
      }.reduce(_ || _)).select(col("name")))
    }
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans = {
      val vars = {
        val declared = variableNames(cfg)
        if (declared.nonEmpty) declared else Seq("signal")
      }
      // one message may carry several variables ⇒ group rows by offset,
      // pivot declared variable names to columns (first-message schema
      // reconciliation is plan-time; here config is authoritative)
      val pivoted = df
        .groupBy(col("offset"), col("ts"))
        .pivot(col("name"), vars)
        .agg(first(col("data")))
      val cols = Seq(col("row"), col("ts").as("time")) ++ vars.map(col)
      Plans(Map("data" -> withRow(pivoted, cur).select(cols: _*)))
    }
  }

  /** se00 sample environment: per-element values with provided or generated
    * timestamps `t0 + i·Δ` (`src/WriterModule/se00/se00_Writer.cpp:135-224`,
    * generation 209-219).
    */
  object Se00 extends WriterModule {
    val id = "se00"
    override def elementCountCol = Some(size(col("values")))
    /** one row per element; zero-element messages rejected (F8,
      * `se00_Writer.cpp:202-204`).
      */
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans = {
      val ex = withFirst(df.filter(size(col("values")) > 0), cur, "data",
        emitted(col("values")))
        .select(col("first"), col("ts"), col("time_delta"), col("timestamps"),
          posexplode(col("values")).as(Seq("pos", "value")))
      val data = ex.select(
        (col("first") + col("pos")).as("row"),
        coalesce(
          element_at(col("timestamps"), col("pos") + 1),
          (col("ts") + col("pos") * col("time_delta")).cast("long")
        ).as("time"),
        col("value").cast(cfg.dtype("bigint")).as("value"))
      Plans(Map("data" -> data))
    }
  }

  /** tdct chopper timestamps: explode the u64[] into `time`
    * (`src/WriterModule/tdct/tdct_Writer.cpp:67-83`; empty messages
    * rejected at 72-76).
    */
  object Tdct extends WriterModule {
    val id = "tdct"
    override def elementCountCol = Some(size(col("timestamps")))
    def plans(df: DataFrame, cfg: ModuleConfig, cur: Cursor): Plans = {
      val ex = withFirst(df.filter(size(col("timestamps")) > 0), cur, "data",
        emitted(col("timestamps")))
        .select(col("first"), posexplode(col("timestamps")).as(Seq("pos", "t")))
      Plans(Map("data" -> ex.select((col("first") + col("pos")).as("row"), col("t").as("time"))))
    }
  }

  val registry: Map[String, WriterModule] =
    Seq(F144, Ep01, Al00, Ev44, Ad00, Da00, Se00, Tdct).map(m => m.id -> m).toMap
}
