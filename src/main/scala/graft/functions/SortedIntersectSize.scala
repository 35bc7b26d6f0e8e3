package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |a ∩ b| for two arrays of DISTINCT longs, each sorted ascending: one
  * linear merge, no hash set. Equals `size(array_intersect(a, b))` on
  * such inputs; arrays that are not sorted and distinct give an
  * undefined count, so callers build them with `sort_array` over
  * distinct keys.
  *
  * The verification step of [[graft.ops.Dedup.prefixFilterPairs]]:
  * `array_intersect` builds a hash set per pair; at sf0.1 its stages
  * took ~5× the task time of this merge.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u < v) i += 1
      else if (v < u) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}
