package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-stream filter kernel of the engine — the Spark re-expression of
  * the reference's `SourceFilter` + `PartitionFilter` semantics
  * (`/root/reference/src/Stream/SourceFilter.cpp`,
  * `/root/reference/src/Stream/PartitionFilter.cpp`).
  *
  * A "stream" is the set of rows sharing the source-key columns (the
  * reference keys streams by `hash(schema_id + source_name)`,
  * `src/FlatbufferMessage.cpp:36-39`); arrival order is the offset column
  * (Kafka partition offset in the reference, `src/Msg.h`).
  *
  * Scale notes: every transform here is a single hash-shuffle on the
  * source key followed by a within-partition sort — the minimum possible
  * data movement for order-sensitive semantics. Nothing is collected to
  * the driver; all predicates are codegen-friendly `Column` expressions.
  */
object StreamKernel {

  private def streamWindow(sourceCols: Seq[String], offsetCol: String) =
    Window.partitionBy(sourceCols.map(col): _*).orderBy(col(offsetCol))

  /** F1 — source routing: keep only rows of one configured stream.
    * Reference drops messages whose srcHash doesn't match
    * (`src/Stream/SourceFilter.cpp:75-78`); with columnar decode the hash
    * is unnecessary — plain equality predicates push to the scan.
    */
  def routeSource(df: DataFrame, predicates: (String, Any)*): DataFrame =
    predicates.foldLeft(df) { case (d, (c, v)) => d.filter(col(c) === lit(v)) }

  /** F4 — consecutive repeated-timestamp dedup: drop a MESSAGE when its
    * timestamp equals the previous message's timestamp in arrival order,
    * unless the module accepts repeats (only ev44 does).
    * Reference: `src/Stream/SourceFilter.cpp:90-95` — the filter operates
    * on messages; a message is the set of rows sharing `offsetCol` (the
    * da00 adapter explodes one message into per-VARIABLE rows, so
    * row-grain `lag(ts, 1)` would see a same-message sibling with an
    * equal timestamp and silently drop every variable after the first —
    * the previous-message timestamp must come from a RANGE frame over
    * strictly lower offsets, which keeps all rows of a message together).
    * A null timestamp after a non-null one drops; a null key is a stream
    * of its own. The window funnels each source's trigger through one
    * task's sort; an anti-join form that distributed the payload lost to
    * it 1.2-1.4x in the only A/B (bench_results/stream_ab_r12b.json).
    */
  def dedupConsecutive(
      df: DataFrame,
      sourceCols: Seq[String],
      offsetCol: String,
      tsCol: String,
      acceptRepeats: Boolean = false
  ): DataFrame =
    if (acceptRepeats) df
    else {
      val prev = last(col(tsCol), ignoreNulls = false).over(
        streamWindow(sourceCols, offsetCol)
          .rangeBetween(Window.unboundedPreceding, -1))
      df.withColumn("__prev_ts", prev)
        .filter(col("__prev_ts").isNull || col("__prev_ts") =!= col(tsCol))
        .drop("__prev_ts")
    }

  /** F2 + F3 + F6 — time-window filter with last-value-before-start
    * buffering and strict finish.
    *
    * Exact `SourceFilter::filter_message` semantics
    * (`src/Stream/SourceFilter.cpp:74-120`):
    *   - the FIRST message (arrival order) with `ts > stop` finishes the
    *     stream: it and everything arriving after it is dropped, including
    *     in-window stragglers;
    *   - of the surviving rows, those with `start <= ts <= stop` pass
    *     (`is_buffered=false`);
    *   - the single max-timestamp row with `ts < start` (ties → latest
    *     arrival: a later message replaces the buffer unless strictly older)
    *     is emitted flagged `is_buffered=true` — the guarantee that a
    *     slow-updating value has ≥1 sample (buffer at 105-112, dtor flush
    *     at 53).
    * ev44 sets `emitBuffered=false` (it ignores buffered messages,
    * `src/WriterModule/ev44/ev44_Writer.cpp:94-97`).
    *
    * Every decision is MESSAGE-atomic (a message = the rows sharing
    * `offsetCol`): the cutoff compares offsets, the window predicate
    * compares the per-message timestamp, and the buffered pick keeps ALL
    * rows of the max-(ts, offset) message — `dense_rank` ties the rows of
    * one message into one rank, where a `row_number` pick would keep one
    * row of a multi-row message (da00's per-variable explode) and silently
    * drop its siblings, F4's round-12 bug class.
    */
  def windowWithBuffer(
      df: DataFrame,
      sourceCols: Seq[String],
      offsetCol: String,
      tsCol: String,
      startTs: Long,
      stopTs: Long,
      emitBuffered: Boolean = true
  ): DataFrame = {
    val part   = Window.partitionBy(sourceCols.map(col): _*)
    val cutoff = min(when(col(tsCol) > lit(stopTs), col(offsetCol))).over(part)
    val live = df
      .withColumn("__cut", cutoff)
      .filter(col("__cut").isNull || col(offsetCol) < col("__cut"))
      .drop("__cut")
    val inWindow = live
      .filter(col(tsCol) >= lit(startTs) && col(tsCol) <= lit(stopTs))
      .withColumn("is_buffered", lit(false))
    if (!emitBuffered) inWindow
    else {
      val byTsDesc = Window
        .partitionBy(sourceCols.map(col): _*)
        .orderBy(col(tsCol).desc, col(offsetCol).desc)
      val buffered = live
        .filter(col(tsCol) < lit(startTs))
        .withColumn("__rn", dense_rank().over(byTsDesc))
        .filter(col("__rn") === 1)
        .drop("__rn")
        .withColumn("is_buffered", lit(true))
      inWindow.unionByName(buffered)
    }
  }

  /** F5 + F7 — per-stream health metrics: out-of-order timestamps
    * (`src/Stream/SourceFilter.cpp:96-98`) and non-consecutive offsets
    * (`BadOffsets`, `src/Stream/Partition.cpp:226-230`). The reference
    * only counts these; rows still flow.
    */
  def streamHealth(
      df: DataFrame,
      sourceCols: Seq[String],
      offsetCol: String,
      tsCol: String
  ): DataFrame = {
    val w      = streamWindow(sourceCols, offsetCol)
    val prevTs = lag(col(tsCol), 1).over(w)
    val prevOf = lag(col(offsetCol), 1).over(w)
    df.withColumn("__ooo", when(prevTs.isNotNull && col(tsCol) < prevTs, 1L).otherwise(0L))
      .withColumn(
        "__gap",
        when(prevOf.isNotNull && col(offsetCol) - prevOf =!= 1L, 1L).otherwise(0L)
      )
      .groupBy(sourceCols.map(col): _*)
      .agg(
        sum(col("__ooo")).as("unordered_timestamps"),
        sum(col("__gap")).as("bad_offsets"),
        count(lit(1)).as("messages")
      )
  }

  /** F8 — per-error-type rejection counters over decoded envelopes
    * (`src/Stream/Partition.cpp:225-253`: BufferTooSmall /
    * UnknownFlatbufferID / NotValidFlatbuffer / ZeroTimestamp each count
    * separately; invalid messages are counted, never fatal). One keyed
    * aggregation; feed the result into status reporting.
    */
  def errorCounters(decodedEnvelopes: DataFrame): DataFrame =
    decodedEnvelopes
      .filter(!col("env.valid"))
      .groupBy(col("env.error").as("error"))
      .agg(count(lit(1)).as("n"))

  /** §2.7 — cue (sparse time→row) index: every `interval` rows per stream
    * emit `(row index, timestamp)` so a reader can binary-search time → row.
    * Reference: `src/WriterModule/f144/f144_Writer.cpp:259-263` et al.
    */
  def cueIndex(
      df: DataFrame,
      sourceCols: Seq[String],
      offsetCol: String,
      tsCol: String,
      interval: Int
  ): DataFrame = {
    val rn = row_number().over(streamWindow(sourceCols, offsetCol)).cast("long")
    df.withColumn("__rn", rn)
      .filter(col("__rn") % interval === 0)
      .select(
        sourceCols.map(col) ++ Seq(
          col("__rn").as("cue_index"),
          col(tsCol).as("cue_timestamp")
        ): _*
      )
  }
}
