package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time operators over decoded telemetry streams — capabilities
  * beyond the reference's single job-level window (SURVEY §2.9).
  * Watermark ≙ the reference's straggler leeway
  * (`src/StreamerOptions.h:24-25`).
  */
object StreamAggregates {

  /** Stream-stream interval join: pair each left event with the right
    * events of the same key whose event time falls in
    * `[left − before, left + after]`. BOTH sides are watermarked, so the
    * join state each side buffers is bounded by watermark + interval (the
    * range condition is what lets Spark derive the state cleanup bound —
    * an unconstrained stream-stream join would buffer forever). This is
    * the streaming form of the batch as-of/range join
    * ([[graft.operators.RangeJoin]]): attribution-style pairing
    * (click↔view, event↔incident-window) computed continuously.
    *
    * Key equality plus the time-range predicate; append output. Works on
    * batch frames too (plain inner join with the same predicate).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      before: String,
      after: String,
      watermarkDelay: String = "10 seconds"
  ): DataFrame = {
    def mark(df: DataFrame, side: String): DataFrame = {
      // integer ns→µs: double division rounds at epoch-ns magnitudes
      // (ulp 256 ns) and can flip matches exactly on the ±interval edge
      val withTime = df
        .withColumn(s"${side}_time", timestamp_micros(expr(s"`$tsCol` div 1000")))
      val m =
        if (df.isStreaming) withTime.withWatermark(s"${side}_time", watermarkDelay)
        else withTime
      // prefix every column so the join needs no ambiguous references
      df.columns.foldLeft(m)((acc, c) => acc.withColumnRenamed(c, s"${side}_$c"))
    }
    val l = mark(left, "l")
    val r = mark(right, "r")
    val keyEq = keyCols
      .map(k => col(s"l_$k") === col(s"r_$k"))
      .reduceOption(_ && _)
      .getOrElse(lit(true))
    l.join(
      r,
      keyEq &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $before") &&
        col("r_time") <= col("l_time") + expr(s"INTERVAL $after"))
  }
}
