package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `size(array_intersect(a, b))` for two ascending-SORTED arrays of
  * non-null longs, as one codegen'd two-pointer merge: each distinct value
  * common to both counts once, however often it repeats in either (Spark's
  * `array_intersect` and DuckDB's `list_intersect` both return a set).
  *
  * `array_intersect` builds a hash set per evaluation — per candidate PAIR
  * in a dedup verify stage. Sorting each document's hash array once
  * (`array_sort` or [[SortedShingleHashes]] at projection time, n log n
  * per doc) turns every pairwise verify into an O(|A|+|B|) merge with no
  * allocation. Inputs MUST be sorted; duplicates are allowed. Asserted
  * against `array_intersect` in tests, runs of equal values included.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectSize.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Static target for generated code. On sorted input a repeated common
    * value matches on consecutive steps, so comparing a match with the
    * last one counts it once. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    var last = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) {
        if (c == 0 || x != last) { c += 1; last = x }
        i += 1
        j += 1
      }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
