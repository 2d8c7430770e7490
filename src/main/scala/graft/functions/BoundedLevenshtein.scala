package graft.functions

import graft.core.Edist
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Banded (bounded) Levenshtein kernel: distance capped at `bound` with a
  * diagonal band of half-width at most `bound` and early exit — O(bound *
  * len) instead of O(len^2), returning min(levenshtein(a, b), bound + 1).
  * It is [[Edist.atMost]], the band-doubling core `Edist.levenshtein` and
  * the char alignment share.
  *
  * This is the scale path for edit-distance predicates (`lev(a,b) <= k` in
  * dedup and the reference's fuzzy word matcher, align/cli.py:211-217): at
  * 10^12 rows the full DP wastes quadratic work on pairs that blow the
  * threshold in the first few diagonals.
  */
object Lev {
  def bounded(a: UTF8String, b: UTF8String, bound: Int): Int =
    bounded(a.toString, b.toString, bound)

  def bounded(a: String, b: String, bound: Int): Int = Edist.atMost(a, b, bound)
}

/** Catalyst expression `graft_lev_bounded(a, b, k)` — codegen-compatible
  * (generates a direct static call into [[Lev.bounded]]; no interpreted
  * fallback, so it stays inside whole-stage codegen spans).
  */
case class BoundedLevenshtein(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_lev_bounded expects (string, string, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any, k: Any): Any =
    Lev.bounded(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, k) =>
      s"graft.functions.Lev.bounded($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BoundedLevenshtein =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BoundedLevenshtein {
  /** Register as a SQL function so `expr("graft_lev_bounded(a, b, 3)")`
    * and spark.sql can use it (the SparkSessionExtensions-style injection
    * point, done per-session).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lev_bounded",
      (children: Seq[Expression]) => BoundedLevenshtein(children(0), children(1), children(2)),
      "scala_udf")
}
