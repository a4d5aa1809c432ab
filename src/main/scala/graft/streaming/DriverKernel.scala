package graft.streaming

import org.apache.spark.sql.Row

/** What the kernel decides for one `(topic, source_name)` key in one
  * trigger — the scalars the keyed pass aggregates and the driver kernel
  * computes, and all that [[StreamingJob]] applies to a stream's state.
  *
  * @param cutoff   offset of the first beyond-stop message (strict finish)
  * @param minOff   smallest offset that survives the consecutive dedup
  * @param head     `(offset, ts)` of the first live row
  * @param tail     `(offset, ts)` of the last live row
  * @param nWindow  live in-window rows
  * @param evWindow their payload-element total (the module's element count)
  * @param cand     `(ts, offset, row)` of the buffered pre-start candidate:
  *                 the live pre-start row of largest `(ts, offset)`
  */
private[streaming] final case class KeyScalars(
    cutoff: Option[Long],
    minOff: Long,
    head: Option[(Long, Long)],
    tail: Option[(Long, Long)],
    nWindow: Long,
    evWindow: Long,
    cand: Option[(Long, Long, Row)])

/** The kernel of one key on the driver — the reference's per-message
  * `SourceFilter::filter_message` loop (`src/Stream/SourceFilter.cpp:73-120`)
  * over a trigger's rows, in plain Scala. It makes the decisions of the
  * keyed pass ([[StreamingJob]]'s distributed form, which stays for
  * bursts and first triggers): the consecutive dedup with the range frame
  * on offset ([[graft.operators.StreamKernel.dedupConsecutive]]: a row
  * drops when it repeats the timestamp of the last row of a strictly
  * lower offset, so the rows of one message never dedup each other), the
  * strict-finish cutoff and every [[KeyScalars]] field.
  */
private[streaming] object DriverKernel {

  /** One row of the key: its offset, timestamp, payload-element count (a
    * null count is 0, as `sum` skips it) and the row itself (`R` = `Row`,
    * or the collect's `InternalRow` that the module plans evaluate).
    */
  final case class In[+R](offset: Long, ts: Long, elems: Long, row: R)

  /** The key's scalars, its live in-window rows in offset order (the rows
    * the stream writes, before the cross-trigger boundary dedup), and its
    * deduplicated rows (where a multi-row candidate message is read from).
    */
  final case class Out[R](scalars: KeyScalars, inWindow: Seq[In[R]], kept: Seq[In[R]])

  def apply(rows: Seq[In[Row]], acceptRepeats: Boolean, startNs: Long, stopNs: Long): Out[Row] =
    apply[Row](rows, acceptRepeats, startNs, stopNs, identity[Row] _)

  /** `rows` must be non-empty: a key without rows has no decisions.
    * `toRow` converts the buffered candidate to the `Row` the stream's
    * state keeps.
    */
  def apply[R](rows: Seq[In[R]], acceptRepeats: Boolean, startNs: Long, stopNs: Long,
      toRow: R => Row): Out[R] = {
    val sorted = rows.sortBy(_.offset) // stable: a message's rows keep their order
    val kept =
      if (acceptRepeats) sorted
      else {
        val out = Vector.newBuilder[In[R]]
        var prev = Option.empty[Long] // ts of the previous message's last row
        var i = 0
        while (i < sorted.length) {
          var j = i
          while (j < sorted.length && sorted(j).offset == sorted(i).offset) {
            if (!prev.contains(sorted(j).ts)) out += sorted(j)
            j += 1
          }
          prev = Some(sorted(j - 1).ts)
          i = j
        }
        out.result()
      }
    val cutoff = kept.iterator.filter(_.ts > stopNs).map(_.offset).minOption
    val live   = cutoff.fold(kept)(c => kept.filter(_.offset < c))
    val inWin  = live.filter(r => r.ts >= startNs && r.ts <= stopNs)
    val ends   = live.map(r => (r.offset, r.ts))
    val scalars = KeyScalars(
      cutoff = cutoff,
      minOff = kept.head.offset,
      head = ends.minOption,
      tail = ends.maxOption,
      nWindow = inWin.size.toLong,
      evWindow = inWin.iterator.map(_.elems).sum,
      cand = live.filter(_.ts < startNs).maxByOption(r => (r.ts, r.offset))
        .map(r => (r.ts, r.offset, toRow(r.row))))
    Out(scalars, inWin, kept)
  }
}
