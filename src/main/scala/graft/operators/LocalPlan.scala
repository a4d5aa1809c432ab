package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.types.StructType

/** Driver evaluation of a frame whose rows are already in driver memory.
  *
  * Spark's `ConvertToLocalRelation` folds Project, Filter and Limit over a
  * `LocalRelation`, but not `Generate`: `posexplode(arrays_zip(…))` over a
  * `createDataFrame` frame stays `Generate ← LocalRelation` and costs a
  * Spark job to run. This evaluates the optimized plan itself when it is a
  * chain of Project, Filter and Generate over one `LocalRelation`, with
  * interpreted expressions — the same per-row semantics as
  * `ProjectExec`/`FilterExec`/`GenerateExec` (a `Generate` keeps only its
  * `requiredChildOutput`, and an `outer` one emits one null-padded row for
  * an input that generates nothing).
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
  def rows(df: DataFrame, maxRows: Long = Long.MaxValue): Option[(StructType, Seq[InternalRow])] = {
    val qe = df.queryExecution
    // the analyzed plan is already built: a frame reading anything but
    // local relations cannot fold, so it pays no optimizer pass here
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else
      try eval(qe.optimizedPlan, maxRows).map(rs => (df.schema, rs))
      catch { case NonFatal(_) => None }
  }

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
    case _ => None
  }
}
