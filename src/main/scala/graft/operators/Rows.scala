package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.functions.StableLong.stableLit

/** Distributed order-preserving row numbering — the scale-safe replacement
  * for `row_number().over(Window.orderBy(...))`, which Spark evaluates by
  * moving the whole frame to ONE partition.
  *
  * Strategy (classic two-pass prefix sum):
  *   1. range-partition + sort on the order column (one shuffle, all
  *      partitions in parallel);
  *   2. job 1: per-partition (count, weight-sum) — a few longs to the driver;
  *   3. job 2: each partition stamps `start + partitionPrefix + localIndex`.
  * Both jobs share one RDD lineage, so the range-exchange map outputs are
  * computed once and reused — the sampled range boundaries cannot drift
  * between passes.
  *
  * The reference's appends are single-writer by design
  * (`/root/reference/src/Stream/MessageWriter.cpp:31-36`) but that
  * constrains the OUTPUT order, not the numbering computation: row ids are
  * pure arithmetic over (partition prefix, local position) and need no
  * single-partition stage. `orderCol` must be unique per row (Kafka offsets
  * are) for deterministic assignment.
  */
object Rows {

  /** Below this size (when the caller knows it) the global sort runs as
    * `coalesce(1)` + in-partition sort instead of a range exchange — one
    * task, and crucially NO RangePartitioner boundary sampling, which is
    * a whole extra job over the input. Profiled on the streaming
    * per-trigger path: sampling + 32-partition stats cost ~400 ms/trigger
    * at 1k-msg triggers for sub-millisecond work. The real budget of the
    * single task is BYTES (wide-array rows run ~16 KB — a rows-only bound
    * routed 160 MB triggers into one task, −16% at 20k-msg triggers), so
    * a byte hint, when the caller has one, both relaxes the row bound for
    * tiny rows and vetoes the small path for wide ones. The byte bound is
    * overridable via spark.graft.rows.smallRenumberBytes. The same row
    * bound caps what the streaming write evaluates on the driver.
    */
  private[graft] val SmallRenumberRows = 65536L

  /** `spark.graft.rows.smallRenumberBytes` (32 MiB): the byte budget of
    * the one-task and driver numbering paths, and of the streaming driver
    * kernel's collect that feeds the driver path (its byte bound).
    */
  def smallRenumberBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.rows.smallRenumberBytes", (32L * 1024 * 1024).toString).toLong

  /** Returns `df` with `rowCol` = consecutive ids `start, start+1, …` in
    * ascending `orderCol` order; replaces `rowCol` if it already exists
    * (it may equal `orderCol`). Each of `weights` = `(weightCol, outCol,
    * wStart)` also adds `outCol` = `wStart` + exclusive running sum of
    * `weightCol` in the same order, a null weight counting 0: the ev44
    * `EventsWritten` shift (`ev44_Writer.cpp:118-126`) and the first id of
    * each message's exploded rows.
    *
    * `sizeHint` is the caller's row-count estimate (exact or upper bound)
    * and `byteHint` its byte estimate, used ONLY to shape the exchange —
    * small batches skip the range sampling entirely, large ones size their
    * partition count from the hint (~256k rows each) instead of inheriting
    * the session shuffle width. Ids are exact regardless of hint quality.
    *
    * `slots` names `start` and then each weight's start as [[StableLong]]
    * slots on the driver path, so a plan kept across triggers is rebound
    * to the next trigger's cursor ("" = unnamed).
    *
    * A frame that reads local relations only (the driver path) comes back
    * as a lazy plan with no job: `row_number` and exclusive running sums
    * over `orderCol` in one unpartitioned Window, which [[LocalPlan]]
    * evaluates on the driver. Any other frame runs the small stats job at
    * call time; the returned frame's final pass stays lazy and reuses the
    * shuffle output.
    */
  def indexed(
      df: DataFrame,
      orderCol: String,
      rowCol: String = "row",
      start: Long = 0L,
      weights: Seq[(String, String, Long)] = Nil,
      sizeHint: Long = -1L,
      byteHint: Long = -1L,
      slots: Seq[String] = Nil
  ): DataFrame = {
    val bytesMax = smallRenumberBytes(df.sparkSession)
    val wStarts  = weights.map(_._3).toArray
    def weightIdx(fields: Array[StructField]): Array[Int] = weights.map { case (w, _, _) =>
      val i = fields.indexWhere(_.name == w)
      require(i >= 0, s"weight column $w not found")
      i
    }.toArray
    // A frame the caller knows is empty (sizeHint 0: the close-time seed's
    // probe) numbers nothing: a relation of the output schema, no rows.
    if (sizeHint == 0) return GraftBridge.ofRows(df.sparkSession, LocalRelation(
      DataTypeUtils.toAttributes(stampSchema(df.schema.fields, rowCol, weights)._2)))
    // DRIVER path: a frame whose rows are already on the driver (a
    // buffered flush, a driver-kernel trigger's rows, and every Project or
    // Filter over them) numbers in a Window that LocalPlan evaluates, so
    // the module's explodes and transforms keep evaluating on the driver
    // all the way into the driver-side parquet append, and a plan built
    // once over a placeholder serves every later trigger. Gates, as on the
    // distributed small path: an integral order column; within the row
    // bound (a hint above it re-enters the distributed world here instead
    // of anchoring a driver-side pipeline); the wide-row byte veto.
    val oField = df.schema.fields.find(_.name == orderCol)
    if (!(sizeHint >= 0 && sizeHint > SmallRenumberRows) &&
      !(byteHint >= 0 && byteHint > bytesMax) &&
      oField.exists(f => f.dataType == LongType || f.dataType == IntegerType) &&
      LocalPlan.onDriver(df)) {
      weightIdx(df.schema.fields) // fail fast on a missing weight column
      def startLit(v: Long, k: Int) = stableLit(v, slots.lift(k).getOrElse(""))
      val order  = Window.orderBy(col(orderCol))
      val before = order.rowsBetween(Window.unboundedPreceding, -1)
      val row = (startLit(start, 0) + row_number().over(order).cast(LongType) - 1).as(rowCol)
      val sums = weights.zipWithIndex.map { case ((w, out, wStart), k) =>
        (startLit(wStart, k + 1) +
          coalesce(sum(col(w).cast(LongType)).over(before), lit(0L))).as(out)
      }
      val base = df.columns.toSeq.map(c => if (c == rowCol) row else col(c))
      return df.select((if (df.columns.contains(rowCol)) base else base :+ row) ++ sums: _*)
    }
    // with a byte hint the byte bound decides (rows only guard sort CPU);
    // without one, the conservative row bound stands alone
    val small =
      if (byteHint >= 0) sizeHint >= 0 && sizeHint <= (1L << 20) && byteHint <= bytesMax
      else sizeHint >= 0 && sizeHint <= SmallRenumberRows
    val sorted =
      if (small)
        df.coalesce(1).sortWithinPartitions(col(orderCol))
      else if (sizeHint >= 0) {
        val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
        val byRows  = (sizeHint + 262143) / 262144
        val byBytes = if (byteHint >= 0) (byteHint + (64L << 20) - 1) / (64L << 20) else 0L
        val parts = math.max(width, math.min(4096L, math.max(byRows, byBytes)).toInt)
        df.repartitionByRange(parts, col(orderCol)).sortWithinPartitions(col(orderCol))
      } else
        df.repartitionByRange(col(orderCol)).sortWithinPartitions(col(orderCol))
    val fields = sorted.schema.fields
    val wIdx   = weightIdx(fields)

    val rdd = sorted.rdd
    // job 1: per-partition counts and weight sums — O(numPartitions) longs.
    // A single-partition frame needs no prefix sums at all: partition 0
    // stamps from `start` and the weight starts directly, so the stats job
    // is skipped entirely (the streaming per-trigger path).
    val stats: Array[(Int, Long, Array[Long])] =
      if (small) Array((0, -1L, Array.empty[Long]))
      else rdd
        .mapPartitionsWithIndex { (pid, it) =>
          var n = 0L
          val w = new Array[Long](wIdx.length)
          it.foreach { r =>
            n += 1
            var k = 0
            while (k < wIdx.length) { w(k) += weightOf(r, wIdx(k)); k += 1 }
          }
          Iterator((pid, n, w))
        }
        .collect()
        .sortBy(_._1)
    val rowOffsets = new Array[Long](stats.length + 1)
    val wOffsets   = new Array[Array[Long]](stats.length + 1)
    rowOffsets(0) = start
    wOffsets(0) = wStarts
    stats.foreach { case (pid, n, w) =>
      rowOffsets(pid + 1) = rowOffsets(pid) + n
      wOffsets(pid + 1) = wOffsets(pid).zip(w).map { case (a, b) => a + b }
    }

    val (rowIdx, outSchema) = stampSchema(fields, rowCol, weights)

    // job 2: stamp ids; reuses the job-1 shuffle output
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      stampRows(it, rowIdx, wIdx, rowOffsets(pid), wOffsets(pid))
    }
    df.sparkSession.createDataFrame(stamped, outSchema)
  }

  /** Output schema of every path: `rowCol` becomes (or joins as) a
    * non-null long; each weight's output appends in order.
    * Returns the pre-existing index of `rowCol` (−1 = appended).
    */
  private def stampSchema(
      fields: Array[StructField],
      rowCol: String,
      weights: Seq[(String, String, Long)]
  ): (Int, StructType) = {
    val rowIdx = fields.indexWhere(_.name == rowCol)
    val baseFields =
      if (rowIdx >= 0) fields.updated(rowIdx, StructField(rowCol, LongType, nullable = false))
      else fields :+ StructField(rowCol, LongType, nullable = false)
    (rowIdx, StructType(baseFields ++
      weights.map { case (_, out, _) => StructField(out, LongType, nullable = false) }))
  }

  private def weightOf(r: Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue()

  /** One stamping pass over already-ordered rows: consecutive ids from
    * `rowStart`, each weight's exclusive prefix from its `wStarts` entry —
    * the distributed job-2 mapper.
    */
  private def stampRows(
      it: Iterator[Row],
      rowIdx: Int,
      wIdx: Array[Int],
      rowStart: Long,
      wStarts: Array[Long]
  ): Iterator[Row] = {
    var rowAcc = rowStart
    val wAcc   = wStarts.clone()
    it.map { r =>
      val base =
        if (rowIdx >= 0) r.toSeq.updated(rowIdx, rowAcc) else r.toSeq :+ rowAcc
      val ws = new Array[Any](wIdx.length)
      var k = 0
      while (k < wIdx.length) {
        ws(k) = wAcc(k)
        wAcc(k) += weightOf(r, wIdx(k))
        k += 1
      }
      rowAcc += 1
      Row.fromSeq(base ++ ws)
    }
  }
}
