package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, First, Last}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

/** Driver evaluation of a frame whose rows are already in driver memory.
  *
  * Spark's `ConvertToLocalRelation` folds Project, Filter and Limit over a
  * `LocalRelation`, but not `Generate` or `Aggregate`:
  * `posexplode(arrays_zip(…))` over a `createDataFrame` frame stays
  * `Generate ← LocalRelation` and costs a Spark job to run, as does da00's
  * per-message pivot. This evaluates the optimized plan itself when it is
  * a chain of Project, Filter, Generate and grouped `first`/`last`
  * Aggregates over one `LocalRelation`, with interpreted expressions — the
  * same per-row semantics as `ProjectExec`/`FilterExec`/`GenerateExec` (a
  * `Generate` keeps only its `requiredChildOutput`, and an `outer` one
  * emits one null-padded row for an input that generates nothing), and an
  * Aggregate's groups in first-seen order, each `first`/`last` taken in
  * input order as one task takes them.
  *
  * Not a session optimizer rule on purpose: it is asked for by the
  * streaming write path only, and every other plan of the session (the
  * analytics queries) is left exactly as Spark plans it.
  */
object LocalPlan {

  /** `(df.schema, rows)` when the plan evaluates on the driver and yields
    * at most `maxRows` rows at every step; `None` for any other plan, for
    * nondeterministic or unevaluable expressions, and when an expression
    * throws (Spark then runs the plan and reports the error itself).
    */
  def rows(df: DataFrame, maxRows: Long = Long.MaxValue): Option[(StructType, Seq[InternalRow])] =
    // a frame reading anything but local relations cannot fold, so it
    // pays no optimizer pass here
    if (!isLocal(df)) None
    else
      try eval(df.queryExecution.optimizedPlan, maxRows).map(rs => (df.schema, rs))
      catch { case NonFatal(_) => None }

  /** The frame reads local relations only (its analyzed plan, which is
    * already built).
    */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private def evaluable(e: Expression): Boolean =
    e.deterministic &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  private def eval(p: LogicalPlan, maxRows: Long): Option[Seq[InternalRow]] = p match {
    case l: LocalRelation => Some(l.data).filter(_.sizeIs <= maxRows.min(Int.MaxValue).toInt)
    case Project(list, child) if list.forall(evaluable) =>
      eval(child, maxRows).map { rs =>
        val exprs = list.map(e => BindReferences.bindReference(e: Expression, child.output))
        rs.map(r => new GenericInternalRow(exprs.map(_.eval(r)).toArray).copy())
      }
    case Filter(cond, child) if evaluable(cond) =>
      eval(child, maxRows).map { rs =>
        val pred = InterpretedPredicate(BindReferences.bindReference(cond, child.output))
        rs.filter(pred.eval)
      }
    case g: Generate if evaluable(g.generator) =>
      eval(g.child, maxRows).flatMap { rs =>
        val gen = BindReferences.bindReference(g.generator: Expression, g.child.output)
          .asInstanceOf[Generator]
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
      else eval(a.child, maxRows).map { rs =>
        def bind(e: Expression) = BindReferences.bindReference(e, a.child.output)
        val keys  = a.groupingExpressions.map(bind)
        val bound = aggs.map { case (c, skipNulls, first) => (bind(c), skipNulls, first) }
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
          new GenericInternalRow(results.map(_.eval(in)).toArray)
        }
      }
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
