package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

import graft.operators.LocalPlan
import graft.operators.WriterModules.{Cursor, Ev44, ModuleConfig, WriterModule}

/** One stream's module plans, built once and evaluated on the driver for
  * every driver-kernel trigger — the reference's once-per-job module
  * set-up (`JobCreator.cpp:170-275`) followed by one `writeImpl` per
  * message (`MessageWriter.cpp:107-141`).
  *
  * The module builds its tables ([[WriterModule.plans]]) and checks once
  * over a placeholder: an empty `LocalRelation` of the input schema. Each
  * plan is kept as analysed, with its runtime-replaceable expressions
  * replaced (the one optimizer step the driver evaluator needs; the other
  * optimizer rules would fold the placeholder's empty data into the plan).
  * A trigger binds its rows as the placeholder's data and its cursor as
  * the plans' named slots, and [[LocalPlan.eval]] evaluates them: no
  * Dataset is built and no analyzer or optimizer pass runs.
  */
private[streaming] final class KeptPlans(
    spark: SparkSession,
    val module: WriterModule,
    val cfg: ModuleConfig,
    val schema: StructType) {

  private val input = LocalRelation(DataTypeUtils.toAttributes(schema))

  private val (tables, cueChain, check) = {
    val frame = GraftBridge.ofRows(spark, input)
    val p = module.plans(frame, cfg, Cursor())
    (p.tables, p.cueChain, module.checks(frame, cfg))
  }

  private val kept: Map[DataFrame, LogicalPlan] =
    (tables.values ++ cueChain.toSeq.flatMap(c => Seq(c.proj, c.candidates)) ++ check)
      .map(df => df -> ReplaceExpressions(df.queryExecution.analyzed)).toMap

  /** Each table's `(schema, rows)` (ev44's walked cue included) and the
    * names of the rows the module's check counts, for the input `rows`
    * under `cur`; None when a plan does not evaluate on the driver within
    * `maxRows` rows (the caller then takes Spark's evaluator).
    */
  def eval(rows: Seq[InternalRow], cur: Cursor, maxRows: Long)
      : Option[(Map[String, (StructType, Seq[InternalRow])], Seq[String])] = {
    val env = new LocalPlan.Env(Map(input.output.map(_.exprId) -> rows),
      Some(name => module.slot(cfg, cur, name)))
    def run(df: DataFrame) = LocalPlan.eval(kept(df), env, maxRows)
    val evaluated = tables.toSeq.map { case (t, df) => run(df).map(rs => t -> (df.schema, rs)) }
    val cue = cueChain.map(c => Ev44.driverCueWalk(c, cfg, cur, run)
      .map(rs => "cue" -> (Ev44.cueSchema, rs)))
    val names = check.map(run(_).map(_.map(_.getUTF8String(0).toString)))
    if (evaluated.contains(None) || cue.contains(None) || names.contains(None)) None
    else Some(((evaluated ++ cue).flatten.toMap, names.flatten.getOrElse(Nil)))
  }
}
