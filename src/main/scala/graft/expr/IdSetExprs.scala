package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.LongType

/** Membership in a driver-held set of ids, as one expression: the ids the
  * driver already knows (candidate docs, touched endpoints, probed
  * buckets) restrict a scan without a join, a broadcast job, or one
  * literal per id. The set is the generated code's reference object (the
  * [[ShingleKernel]] pattern), so every set compiles to the same class,
  * and a plan prints its size, not its members. */
object IdSetExprs {

  /** `c` (bigint) is one of `ids`. */
  def isIn(c: Column, ids: Iterable[Long]): Column =
    ColumnShim.column(InIdSet(ColumnShim.expression(c), IdSet(ids.toSet)))
}

/** A frozen set of ids, shipped inside the expression. */
case class IdSet(ids: Set[Long]) {
  def contains(id: Long): Boolean = ids.contains(id)
  override def toString: String = s"IdSet(${ids.size})"
}

/** `child` is in `ids`; null when `child` is null. */
case class InIdSet(child: Expression, ids: IdSet) extends UnaryExpression
    with Predicate {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes a bigint id, got ${t.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_in_id_set"

  override def nullSafeEval(v: Any): Any = ids.contains(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("idSet", ids, classOf[IdSet].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.contains($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): InIdSet = copy(child = newChild)
}
