package graft.functions

import graft.core.Gram
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Poisson(1) bootstrap draw from a (row-hash, seed) pair as a NATIVE
  * codegen expression: `poisson1(mix(hash, seed))`, bit-identical to the
  * draws [[graft.core.Gram.computeGrouped]] makes inside its
  * Reduce kernel (`Gram.scala` `mix`/`poisson1`). Replaces the
  * ScalaUDF previously used by the Heckman bootstrap path — a UDF is a
  * codegen fence with per-row boxing; this stays inside whole-stage
  * codegen as a static Java call. Both children must be LongType
  * (xxhash64 output and a literal seed at every call site). */
case class PoissonDrawExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "poisson_draw"

  override protected def nullSafeEval(h: Any, s: Any): Any =
    Gram.poisson1(Gram.mix(h.asInstanceOf[Long], s.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, s) =>
      s"graft.core.Gram.poisson1(graft.core.Gram.mix($h, $s))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PoissonDrawExpr =
    copy(left = newLeft, right = newRight)
}

object PoissonDraw {
  /** Poisson(1) draw column, deterministic per (hash, seed). */
  def apply(hash: Column, seed: Column): Column =
    GraftSqlBridge.column(PoissonDrawExpr(
      GraftSqlBridge.expression(hash), GraftSqlBridge.expression(seed)))
}
