package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `|A ∩ B|` of two sets held as strictly ascending `array<bigint>` with
  * no NULL element, counted in one merge pass that allocates nothing.
  * On such input it equals `size(array_intersect(a, b))`, which builds a
  * hash set per row. Every element of both arrays is checked as the
  * merge reads it, including the tail left over when one side runs out,
  * so any other input fails with an error naming the function rather
  * than returning a wrong count.
  */
object SortedIntersect {
  def size(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    var x = if (n > 0) elem(a, 0, 0L, "left") else 0L
    var y = if (m > 0) elem(b, 0, 0L, "right") else 0L
    while (i < n && j < m) {
      val advA = x <= y
      val advB = x >= y
      if (advA && advB) c += 1
      if (advA) { i += 1; if (i < n) x = elem(a, i, x, "left") }
      if (advB) { j += 1; if (j < m) y = elem(b, j, y, "right") }
    }
    while (i + 1 < n) { i += 1; x = elem(a, i, x, "left") }
    while (j + 1 < m) { j += 1; y = elem(b, j, y, "right") }
    c
  }

  /** Element `k` of `d`, which must be non-NULL and, past the first,
    * greater than its predecessor `prev`. */
  private def elem(d: ArrayData, k: Int, prev: Long, side: String): Long = {
    if (d.isNullAt(k))
      throw new IllegalArgumentException(
        s"sorted_intersect_size: $side element $k is NULL")
    val v = d.getLong(k)
    if (k > 0 && v <= prev)
      throw new IllegalArgumentException(
        s"sorted_intersect_size: $side input is not strictly ascending " +
          s"at element $k ($v after $prev)")
    v
  }
}

/** Catalyst form of [[SortedIntersect.size]]: `int`, NULL when either
  * array is NULL. Interpreted and generated code run the same method.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.size(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersect.size($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}
