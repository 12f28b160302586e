package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: |A ∩ B| of two SORTED long arrays with no
  * duplicates, as a two-pointer merge count — the exact-verify inner loop
  * of the PPJoin family (r14 optimization round).
  *
  * Versus `size(array_intersect(la, lb))`: ArrayIntersect builds an
  * OpenHashSet over one side and materializes the INTERSECTION ARRAY per
  * row, when the verify only ever reads its length — at sf0.1 that was
  * ~3.2 s of q_dedup_ppjoin's wall time over ~600k candidate pairs
  * (OPTIMIZATION_r14.md §5). The merge count does one linear pass, zero
  * allocation, inside whole-stage codegen.
  *
  * Caller contract (enforced by construction in [[graft.operators.Dedup]],
  * where the inputs are `sort_array(collect_list(sid))` over a frame
  * distinct on (doc_id, s) with an injective sid map): both arrays sorted
  * ascending, no duplicates, no null elements. Null ARRAY input → null,
  * matching `size(array_intersect(...))`'s null propagation.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  // getLong over anything but array<bigint> would silently mis-read the
  // ArrayData (r14 ADVICE) — fail analysis instead of corrupting counts.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count requires array<bigint> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      s"""
        int $n = $x.numElements(); int $m = $y.numElements();
        int $i = 0; int $j = 0;
        long $c = 0L;
        while ($i < $n && $j < $m) {
          long $xv = $x.getLong($i); long $yv = $y.getLong($j);
          if ($xv == $yv) { $c++; $i++; $j++; }
          else if ($xv < $yv) { $i++; } else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
