package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-at-or-before) join: for every left row, the latest
  * right row with `right.ts <= left.ts` within the same key — the
  * time-series lookup the reference's cue index exists to serve
  * (timestamp→row binary search, SURVEY §2.7), expressed relationally.
  *
  * Implementation is the union + last-value-carry-forward pattern: tag both
  * sides, union, one shuffle on the key, one within-partition sort on
  * (ts, side), then `last(value, ignoreNulls)` over the preceding frame.
  * Cost: ONE shuffle of left+right — no range cross-product, no
  * per-row probe; at 1000 executors this is a plain repartition+sort.
  * Composing existing operators beats a custom SparkPlan here (preference
  * (a) of the custom-operator ladder).
  */
object AsofJoin {

  /** left (keyCols, tsCol, …) ⟕asof right (keyCols, tsCol, valueCols…).
    * Right-side columns arrive null when no right row precedes the left row.
    * Ties (equal ts) resolve to the right row (value visible at its own
    * timestamp), matching DuckDB/QuestDB ASOF semantics.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCols: Seq[String]
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__side", lit(1))
      .select(Seq(col(tsCol), col("__side")) ++
        keyCols.map(col) ++
        leftCols.filterNot(c => keyCols.contains(c) || c == tsCol).map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rTagged = right
      .withColumn("__side", lit(0))
      .select(Seq(col(tsCol), col("__side")) ++
        keyCols.map(col) ++
        leftCols.filterNot(c => keyCols.contains(c) || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(col): _*)
    // right rows sort before left rows at equal ts (side 0 < 1) so a value
    // is visible at its own timestamp
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__side")
  }

  /** Hot-key-safe as-of join: identical semantics to [[asofJoin]], built
    * for the regime where one key holds a macroscopic share of the stream.
    * [[asofJoin]]'s `Window.partitionBy(key)` puts EVERY row of a key into
    * one task's sort — window partitions (unlike join/agg skew) are never
    * subdivided by AQE, so a hot device on a 100 TB stream is a straggler
    * no configuration fixes. Here the tagged union is range-partitioned on
    * (key…, ts, side), so a hot key spans many contiguous chunks:
    *
    *  1. each chunk runs the last-value-carry-forward fill locally
    *     (bounded window: chunk ∩ key);
    *  2. a stitch frame — ONE row per (chunk, key), ≤ #partitions rows per
    *     key regardless of volume — computes each chunk's carry-out (its
    *     fill value at the chunk's max (ts, side)) and cascades carry-ins
    *     across chunks with the SAME carry-forward window, now over the
    *     tiny frame;
    *  3. carry-ins join back on (chunk, key) and fill the rows a chunk's
    *     own history could not. No broadcast hint: the stitch frame is one
    *     row per (chunk, key), so at high key cardinality a forced
    *     broadcast is a driver OOM — AQE picks broadcast when the frame
    *     measures small at runtime and a shuffle join otherwise.
    *
    * Within a key, partition id is monotone in (ts, side) — range
    * partitioning on the lexicographic key — so chunk adjacency is time
    * adjacency and the cascade is exact. Same chunk+stitch shape as the
    * skew-safe sessionize and the ev44 cue-chain walk.
    *
    * Precondition (shared with [[asofJoin]], where it is merely latent):
    * right-side (key…, ts) should be unique — at an equal-timestamp
    * right-row tie ANY as-of implementation picks an arbitrary row, and
    * here the arbitrary pick can additionally differ from the
    * single-window form's when the tie straddles a chunk boundary.
    * Callers wanting determinism pre-aggregate the right side (e.g.
    * max(value) per (key, ts) — see asof_latest_click).
    */
  def asofJoinChunked(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      chunks: Int
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__side", lit(1))
      .select(Seq(col(tsCol), col("__side")) ++
        keyCols.map(col) ++
        leftCols.filterNot(c => keyCols.contains(c) || c == tsCol).map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rTagged = right
      .withColumn("__side", lit(0))
      .select(Seq(col(tsCol), col("__side")) ++
        keyCols.map(col) ++
        leftCols.filterNot(c => keyCols.contains(c) || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(col): _*)
    // chunk numbering is strategy-pluggable (ChunkIds; default `auto` =
    // checkpoint on local masters, sampled on clusters): `checkpoint` pins
    // a range exchange's partition ids with a lineage cut — __pid is
    // read by TWO consumers (the local fill and the stitch frame joined
    // back on it), and without the pin an AQE re-plan of one consumer's
    // read renumbers its partitions, silently misaligning the stitch
    // (observed: nondeterministic null fills at sf0.1). `sampled` derives
    // __pid from sampled boundary literals — deterministic, recomputable,
    // no materialization: the cluster-scale strategy.
    val parted = ChunkIds.withChunkIds(
      lTagged.unionByName(rTagged),
      keyCols.map(col) ++ Seq(col(tsCol), col("__side")), chunks)
    val wLocal = Window
      .partitionBy((col("__pid") +: keyCols.map(col)): _*)
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localFilled = valueCols.foldLeft(parted) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(wLocal))
    }
    // Carry-out per (chunk, key) — per value column, the chunk's last
    // right-row non-null value (identical to the fill value at the
    // chunk's last (ts, side): only right rows carry values, each column
    // fills ignoreNulls independently). Derived from the PRE-FILL union
    // as a plain aggregate, NOT from the windowed frame: under the
    // recomputable `sampled` numbering the carry branch re-executes its
    // subtree (column pruning + join-constraint inference make it
    // non-canonical with the output branch, so exchange reuse can never
    // fire across the two consumers — r11 verdict item 3); as an
    // aggregate it map-side combines to ~one row per (chunk, key) per
    // task, where the old windowed derivation re-shuffled and re-sorted
    // EVERY union row a second time (the measured +13-19% sampled-mode
    // shuffle).
    val outAggs = valueCols.map(c =>
      max(when(col("__side") === 0 && col(c).isNotNull,
        struct(col(tsCol), col(c).as("__v")))).getField("__v").as(s"__out_$c"))
    val carryOut = parted
      .groupBy((col("__pid") +: keyCols.map(col)): _*)
      .agg(outAggs.head, outAggs.tail: _*)
    // cascade: what each chunk inherits from ALL previous chunks of its key
    val wCarry = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = valueCols.foldLeft(carryOut) { (df, c) =>
      df.withColumn(s"__in_$c",
        last(col(s"__out_$c"), ignoreNulls = true).over(wCarry))
    }.select(Seq(col("__pid").as("__cpid")) ++
      keyCols.map(k => col(k).as(s"__ck_$k")) ++
      valueCols.map(c => col(s"__in_$c")): _*)
    // NULL-SAFE key equality: a null key forms its own as-of partition in
    // the single-window form (Window.partitionBy groups nulls), so the
    // chunked stitch must carry across chunks of the null key too — a
    // plain equi-join silently dropped that carry (nulls never matched)
    val joinCond = keyCols.foldLeft(col("__pid") === col("__cpid")) {
      (acc, k) => acc && (col(k) <=> col(s"__ck_$k"))
    }
    val stitched = valueCols.foldLeft(
      localFilled.join(carryIn, joinCond, "left")) { (df, c) =>
      df.withColumn(c, coalesce(col(c), col(s"__in_$c")))
    }
    stitched.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ valueCols.map(col): _*)
  }
}
