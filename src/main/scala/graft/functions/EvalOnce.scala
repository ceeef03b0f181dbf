package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.DataType

/** Identity over `child` that the optimizer may not copy. It is flagged
  * nondeterministic, so a projection holding it is never inlined into a
  * later projection and no filter is pushed through it: the filter reads
  * the projected column instead of re-evaluating `child`. For costly
  * per-row values read more than once — verify's gram-set merge (its two
  * filters were pushed into the join condition, three copies), the line
  * scrub's and the pre-clean's rewritten text (the quality score alone
  * reads it three times).
  * `child` itself must be deterministic; only the flag is not.
  *
  * The cost: Spark pushes a filter through a projection only when every
  * field of it is deterministic, so NO filter passes a projection holding
  * this — not one on another column, nor an inferred `isNotNull` on a
  * join key. Use it where the filters above read the barred value anyway
  * or a materialization above stops them (the scrub's case, see
  * [[graft.dedup.Dedup.scrubFrequentLines]]), or over a join whose
  * inputs are already filtered (verify's case).
  */
case class EvalOnce(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): EvalOnce =
    copy(child = newChild)
}

object EvalOnce {
  def apply(c: Column): Column = ColumnShim.column(EvalOnce(ColumnShim.expression(c)))
}
