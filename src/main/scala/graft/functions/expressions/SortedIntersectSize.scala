package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |set(a) ∩ set(b)| over two ASCENDING-SORTED long arrays — the
  * per-pair verify kernel of the prefix-filtered similarity join,
  * replacing `size(array_intersect(sh_a, sh_b))`.
  *
  * `array_intersect` builds a hash set and materializes the
  * intersection ARRAY per evaluated row; at candidate-pair grain that
  * is millions of per-pair allocations for a value whose only consumer
  * is `size(...)` (measured on q120 at sf0.1: 2.37M candidate pairs,
  * verify stage 2.45 s warm). Sorting each doc's hash array ONCE at
  * doc grain (`sort_array` after the collect) lets every pair verify
  * with an allocation-free two-pointer merge walk instead.
  *
  * Semantics match `size(array_intersect(a, b))` exactly for any two
  * long arrays holding the same multisets: array_intersect returns
  * a's distinct elements that occur in b, so its size is the DISTINCT
  * common-value count — the duplicate-skipping merge below counts the
  * same quantity (order of elements cannot affect set membership).
  * Arrays whose type admits null elements fail analysis (the merge
  * reads every element with `getLong`; the caller feeds
  * `collect_list` of xxhash64 outputs, typed non-null); a null ARRAY
  * input yields null like every null-intolerant binary expression.
  *
  * CodegenFallback by the WordShingles/PiiScrub precedent: the ~|a|+|b|
  * step merge dominates the interpreted dispatch, and the expression
  * replaces a far heavier interpreted path.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "graft_sorted_intersect_size"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName: arguments must be ARRAY<BIGINT> " +
      "with non-null elements, " +
      s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val m = ys.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = xs.getLong(i)
      val y = ys.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        // skip duplicates of the matched value on BOTH sides: the
        // count is over DISTINCT common values (set semantics, same
        // as array_intersect's dedup)
        while (i < n && xs.getLong(i) == x) i += 1
        while (j < m && ys.getLong(j) == x) j += 1
      }
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectSize =
    copy(left = newLeft, right = newRight)
}
