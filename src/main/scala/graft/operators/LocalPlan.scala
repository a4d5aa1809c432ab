package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, First, Last, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LocalRelation, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, MapType, StructType}

import graft.functions.StableLong

/** Driver evaluation of a frame whose rows are already in driver memory.
  *
  * Spark's `ConvertToLocalRelation` folds Project, Filter and Limit over a
  * `LocalRelation`, but not `Generate`, `Aggregate` or `Window`:
  * `posexplode(arrays_zip(…))` over a `createDataFrame` frame stays
  * `Generate ← LocalRelation` and costs a Spark job to run, as do da00's
  * per-message pivot and the numbering window of [[Rows.indexed]]. This
  * evaluates a plan itself when it is a chain of Project, Filter,
  * Generate, grouped `first`/`last` Aggregates, unpartitioned
  * `row_number`/running-`sum` Windows and Unions over `LocalRelation`s, with
  * interpreted expressions — the same per-row semantics as
  * `ProjectExec`/`FilterExec`/`GenerateExec` (a `Generate` keeps only its
  * `requiredChildOutput`, and an `outer` one emits one null-padded row for
  * an input that generates nothing), an Aggregate's groups in first-seen
  * order, each `first`/`last` taken in input order as one task takes them,
  * and a Window's rows in its order, as one sorted task emits them.
  *
  * Two callers: [[rows]] evaluates a frame's optimized plan; [[eval]]
  * evaluates a plan kept across evaluations (the streaming job's module
  * plans, built once per stream) under an [[Env]] that supplies the rows
  * of its placeholder relations and the values of its named
  * [[StableLong]] slots, so the plan is neither re-analysed nor
  * re-optimized.
  *
  * Not a session optimizer rule on purpose: it is asked for by the
  * streaming write path only, and every other plan of the session (the
  * analytics queries) is left exactly as Spark plans it.
  */
object LocalPlan {

  /** What one evaluation reads besides the plan: the rows of each
    * placeholder relation, keyed by the relation's output expression ids
    * (a relation not listed yields its own rows), and the value of every
    * named [[StableLong]] slot (`None` keeps the values the plan carries).
    * Plan nodes shared by several plans evaluated under one `Env` are
    * evaluated once.
    */
  final class Env(
      val data: Map[Seq[ExprId], Seq[InternalRow]],
      val slots: Option[String => Long]) {
    private[LocalPlan] val memo =
      new java.util.IdentityHashMap[LogicalPlan, Option[Seq[InternalRow]]]
  }

  /** `(df.schema, rows)` when the plan evaluates on the driver and yields
    * at most `maxRows` rows at every step; `None` for any other plan, for
    * nondeterministic or unevaluable expressions, and when an expression
    * throws (Spark then runs the plan and reports the error itself).
    */
  def rows(df: DataFrame, maxRows: Long = Long.MaxValue): Option[(StructType, Seq[InternalRow])] =
    // a frame with a node this cannot evaluate (a distributed leaf above
    // all) pays no optimizer pass here
    if (!onDriver(df)) None
    else
      eval(df.queryExecution.optimizedPlan, new Env(Map.empty, None), maxRows)
        .map(rs => (df.schema, rs))

  /** The rows of `plan` under `env` when every step evaluates on the
    * driver within `maxRows` rows; `None` as for [[rows]].
    */
  def eval(plan: LogicalPlan, env: Env, maxRows: Long): Option[Seq[InternalRow]] =
    try evalShared(plan, env, maxRows)
    catch { case NonFatal(_) => None }

  /** The frame reads local relations only, through the kinds of node
    * [[eval]] evaluates (its analyzed plan, which is already built; the
    * expressions are checked when it evaluates).
    */
  def onDriver(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.exists {
      case _: LocalRelation | _: Project | _: Filter | _: Generate | _: Aggregate | _: Window |
          _: Union => false
      case _ => true
    }

  private def evaluable(e: Expression): Boolean =
    e.deterministic &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  private def evalShared(p: LogicalPlan, env: Env, maxRows: Long): Option[Seq[InternalRow]] = {
    val hit = env.memo.get(p)
    if (hit != null) hit
    else {
      val out = evalNode(p, env, maxRows)
      env.memo.put(p, out)
      out
    }
  }

  /** `e` with `env`'s slot values, bound to `input`. */
  private def bind(e: Expression, input: Seq[Attribute], env: Env): Expression = {
    val slotted = env.slots.fold(e)(value => e.transform {
      case s: StableLong if s.slot.nonEmpty => StableLong(value(s.slot), s.slot)
    })
    BindReferences.bindReference(slotted, input)
  }

  private def evalNode(p: LogicalPlan, env: Env, maxRows: Long): Option[Seq[InternalRow]] = p match {
    case l: LocalRelation =>
      Some(env.data.getOrElse(l.output.map(_.exprId), l.data))
        .filter(_.sizeIs <= maxRows.min(Int.MaxValue).toInt)
    case Project(list, child) if list.forall(evaluable) =>
      evalShared(child, env, maxRows).map { rs =>
        val exprs = list.map(e => bind(e, child.output, env))
        rs.map(r => new GenericInternalRow(exprs.map(_.eval(r)).toArray).copy())
      }
    case u: Union if !u.byName && !u.allowMissingCol =>
      val parts = u.children.map(evalShared(_, env, maxRows))
      if (parts.contains(None)) None
      else Some(parts.flatMap(_.get)).filter(_.sizeIs <= maxRows.min(Int.MaxValue).toInt)
    case Filter(cond, child) if evaluable(cond) =>
      evalShared(child, env, maxRows).map { rs =>
        val pred = InterpretedPredicate(bind(cond, child.output, env))
        rs.filter(pred.eval)
      }
    case w: Window if w.partitionSpec.isEmpty && w.orderSpec.forall(o => evaluable(o.child)) =>
      val fns = w.windowExpressions.map(windowFn)
      if (fns.contains(None)) None
      else evalShared(w.child, env, maxRows).map { rs =>
        val in = w.child.output
        val ordering = new InterpretedOrdering(
          w.orderSpec.map(o => bind(o, in, env).asInstanceOf[SortOrder]))
        val sorted = rs.sorted(ordering).toIndexedSeq
        val types = in.map(_.dataType)
        val cols = fns.flatten.map {
          case RowNumberFn => (i: Int) => (i + 1): Any
          case RunningSum(child, upper, exact) =>
            val c = bind(child, in, env)
            // sums(j), nonNull(j): over rows 0..j, nulls skipped as `sum` skips them
            val sums = new Array[Long](sorted.size)
            val nonNull = new Array[Int](sorted.size)
            var acc = 0L
            var n = 0
            var j = 0
            while (j < sorted.size + upper) {
              val v = c.eval(sorted(j))
              if (v != null) {
                val x = v.asInstanceOf[Long]
                acc = if (exact) Math.addExact(acc, x) else acc + x
                n += 1
              }
              sums(j) = acc
              nonNull(j) = n
              j += 1
            }
            (i: Int) => {
              val last = i + upper
              if (last < 0 || nonNull(last) == 0) null else sums(last): Any
            }
        }
        sorted.indices.map { i =>
          val r = sorted(i)
          new GenericInternalRow((types.indices.map(k => r.get(k, types(k))) ++
            cols.map(_(i))).toArray): InternalRow
        }
      }
    case g: Generate if evaluable(g.generator) =>
      evalShared(g.child, env, maxRows).flatMap { rs =>
        val gen = bind(g.generator, g.child.output, env).asInstanceOf[Generator]
        val kept = g.requiredChildOutput.map { a =>
          (g.child.output.indexWhere(_.exprId == a.exprId), a.dataType)
        }
        val genTypes = g.generatorOutput.map(_.dataType)
        val nulls = Seq.fill(genTypes.size)(null)
        val out = Seq.newBuilder[InternalRow]
        var n = 0L
        val it = rs.iterator
        while (it.hasNext && n <= maxRows) {
          val r = it.next()
          val prefix = kept.map { case (i, t) => r.get(i, t) }
          val produced = gen.eval(r).iterator
          if (g.outer && !produced.hasNext) {
            out += new GenericInternalRow((prefix ++ nulls).toArray).copy(); n += 1
          } else produced.foreach { e =>
            val vals = genTypes.zipWithIndex.map { case (t, i) => e.get(i, t) }
            out += new GenericInternalRow((prefix ++ vals).toArray).copy(); n += 1
          }
        }
        if (n > maxRows) None else Some(out.result())
      }
    case a: Aggregate if a.groupingExpressions.nonEmpty &&
        a.groupingExpressions.forall(e => evaluable(e) && atomic(e)) =>
      val fns = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
        .distinct
      val nKeys = a.groupingExpressions.size
      // each output over (grouping keys ++ aggregate results)
      val results = a.aggregateExpressions.map(_.transformDown {
        case ae: AggregateExpression => BoundReference(nKeys + fns.indexOf(ae), ae.dataType, true)
        case e if a.groupingExpressions.exists(_.semanticEquals(e)) =>
          BoundReference(a.groupingExpressions.indexWhere(_.semanticEquals(e)), e.dataType, e.nullable)
      })
      // (child, ignoreNulls, first) of each `first`/`last`
      val aggs = fns.collect {
        case AggregateExpression(f: First, Complete, false, None, _) if evaluable(f.child) =>
          (f.child, f.ignoreNulls, true)
        case AggregateExpression(l: Last, Complete, false, None, _) if evaluable(l.child) =>
          (l.child, l.ignoreNulls, false)
      }
      if (aggs.size < fns.size || !results.forall(evaluable) ||
        results.exists(_.exists(_.isInstanceOf[AttributeReference]))) None
      else evalShared(a.child, env, maxRows).map { rs =>
        val keys  = a.groupingExpressions.map(bind(_, a.child.output, env))
        val bound = aggs.map { case (c, skipNulls, first) => (bind(c, a.child.output, env), skipNulls, first) }
        val outs  = results.map(bind(_, Nil, env))
        val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Array[Option[Any]]]
        rs.foreach { r =>
          val acc = groups.getOrElseUpdate(keys.map(_.eval(r)), Array.fill(bound.size)(None))
          bound.zipWithIndex.foreach { case ((c, skipNulls, first), i) =>
            val v = c.eval(r)
            if (!(skipNulls && v == null) && !(first && acc(i).isDefined)) acc(i) = Some(v)
          }
        }
        groups.toSeq.map { case (k, acc) =>
          val in = new GenericInternalRow((k ++ acc.map(_.orNull)).toArray)
          new GenericInternalRow(outs.map(_.eval(in)).toArray)
        }
      }
    case _ => None
  }

  /** A window function [[evalNode]] computes: `row_number()`, or `sum`
    * of a long over a row frame from the partition's first row to
    * `upper` ≤ 0 rows around the current one (`exact` = ANSI overflow).
    */
  private sealed trait WindowFn
  private case object RowNumberFn extends WindowFn
  private final case class RunningSum(child: Expression, upper: Int, exact: Boolean) extends WindowFn

  private def windowFn(e: NamedExpression): Option[WindowFn] = e match {
    case Alias(WindowExpression(_: RowNumber, _), _) => Some(RowNumberFn)
    case Alias(WindowExpression(
        AggregateExpression(s: Sum, Complete, false, None, _),
        WindowSpecDefinition(Nil, _, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, upper))), _)
        if s.child.dataType == LongType && evaluable(s.child) &&
          s.evalContext.evalMode != EvalMode.TRY =>
      val to = upper match {
        case CurrentRow => Some(0)
        case l @ Literal(v: Int, _) if l.foldable && v <= 0 => Some(v)
        case _ => None
      }
      to.map(RunningSum(s.child, _, s.evalContext.evalMode == EvalMode.ANSI))
    case _ => None
  }

  /** Grouping keys compare as plain values: no floating point (Spark
    * normalizes NaN and -0.0 before grouping), arrays, maps or structs.
    */
  private def atomic(e: Expression): Boolean = e.dataType match {
    case _: ArrayType | _: MapType | _: StructType | FloatType | DoubleType => false
    case _ => true
  }
}
