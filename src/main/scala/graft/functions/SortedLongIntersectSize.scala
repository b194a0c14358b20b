package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |A ∩ B| for two SORTED long arrays with distinct elements, via a
  * two-pointer merge — no per-row hash-set or output-array allocation,
  * and it stays inside whole-stage codegen (`doGenCode`).
  *
  * This is the hot inner loop of the quadratic near-dup pair-joins
  * (`text_near_dup_jaccard`, the LSH verify stage): built-in
  * `array_intersect` builds a hash set and materializes the intersection
  * per pair; only the size is needed. Inputs must be pre-sorted
  * (`array_sort`) — done once per document, not once per pair.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs are always ArrayType(LongType) from this library's own plans
  // (ExpectsInputTypes needs the private[sql] AbstractDataType, so the
  // contract is documented rather than analyzer-enforced).
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
        int $i = 0, $j = 0, $c = 0;
        final int $na = $a.numElements(), $nb = $b.numElements();
        while ($i < $na && $j < $nb) {
          final long $x = $a.getLong($i);
          final long $y = $b.getLong($j);
          if ($x == $y) { $c++; $i++; $j++; }
          else if ($x < $y) { $i++; }
          else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
