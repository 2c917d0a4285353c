package graft.ext.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sorted-long-set kernels for the exact-simjoin verify stage (round
  * 21, guide §1.2 step 2 — per-task work, after the shapes are right).
  *
  * The verify join evaluates `size(array_intersect(sh_a, sh_b))` once
  * per CANDIDATE PAIR. `array_intersect` builds a hash set of one side
  * and MATERIALIZES the intersection array, only for `size` to throw
  * it away — measured as the dominant per-pair cost at sf0.1 (471,719
  * candidate pairs through the J ≥ 1/2 self-join; a per-substage
  * timing of the verify join showed the attach joins are not the
  * bottleneck, the kernel is).
  *
  * Fix: keep each doc's shingle set SORTED (one sort at signature-
  * table build, amortized over every pair the doc appears in) and
  * count the intersection with a two-pointer merge — zero allocation,
  * zero hashing, straight-line long compares.
  *
  *  - [[LongSortDistinct]]: array<long> → ascending distinct
  *    array<long>. Replaces `array_distinct` in the signature table
  *    build (same element SET; dedup is a by-product of the sort).
  *  - [[SortedIntersectCount]]: (array<long>, array<long>) → long —
  *    |A∩B| over two ascending-distinct arrays. REQUIRES sorted
  *    distinct inputs; only ever fed from [[LongSortDistinct]] output.
  *
  * Element order of the shingle-set column is internal to Dedup (the
  * arrays never leave similarityJoin/containmentJoin, and every
  * consumer — explode for the df index, the verify intersect — is
  * order-insensitive), so sorting changes no query result; the DuckDB
  * oracles re-prove set semantics at every SF.
  */
case class LongSortDistinct(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<long>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "long_sort_distinct"

  override def nullSafeEval(a: Any): Any =
    SortedSetOps.sortDistinct(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.ext.expr.SortedSetOps.sortDistinct($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  /** Declared non-deterministic although the count is a pure function
    * (retries/speculation recompute the same value): without this the
    * optimizer inlines the computed `ni` into the verify FILTER, which
    * then pushes into the attach join's condition — the kernel ran up
    * to 3× per candidate pair (plan: sorted_intersect_count twice in
    * the join condition + once in the project; guide §4.4). With it,
    * the filter stays above the projection and every pair pays ONE
    * merge. */
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<long>, array<long>), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedSetOps.intersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.ext.expr.SortedSetOps.intersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedSetOps {

  /** Ascending distinct copy of a long array (static so generated
    * code calls straight into compiled bytecode). */
  def sortDistinct(a: ArrayData): ArrayData = {
    val arr = a.toLongArray()
    java.util.Arrays.sort(arr)
    var n = 0
    var i = 0
    while (i < arr.length) {
      if (n == 0 || arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    new GenericArrayData(
      if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n))
  }

  /** |A∩B| for ascending-distinct long arrays: two-pointer merge. */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Ascending distinct long array (Column API). */
  def sortDistinct(c: Column): Column =
    ColumnBridge.column(LongSortDistinct(ColumnBridge.expression(c)))

  /** Sorted-set intersection cardinality (Column API). */
  def intersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
