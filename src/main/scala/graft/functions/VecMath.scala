package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Float-vector math as tight primitive loops. Accumulation is
  * left-to-right in double, IDENTICAL to the higher-order formulation
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D, (acc,v) -> acc+v)`
  * — bit-for-bit the same doubles, so the DuckDB oracle SQL is unchanged.
  * The win is dropping per-element interpreted lambda dispatch in the
  * pair-join hot paths (millions of 64-dim dot products). Both
  * expressions implement `doGenCode`, so the loops fuse into the
  * surrounding whole-stage-codegen'd join stage instead of falling back
  * to interpreted eval per row pair.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.requireTypes(prettyName,
      left.dataType -> "array<float>", right.dataType -> "array<float>")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any =
    VecMath.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
        final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ x² over a float array, double accumulation in index order. */
case class VecNormSq(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.requireTypes(prettyName, child.dataType -> "array<float>")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm_sq"

  override def nullSafeEval(input: Any): Any =
    VecMath.normSq(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      s"""
        final int $n = $a.numElements();
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          final double $x = (double) $a.getFloat($i);
          $acc += $x * $x;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Squared L2 distance between a quantized long vector `q` and a centroid
  * given as component SUMS `svec` with member count `n` (centroid_i =
  * svec_i / n). Per element, in index order:
  * `d = (double)q_i - (double)svec_i / (double)n; acc += d * d` — the
  * EXACT double sequence of the interpreted higher-order form
  * `aggregate(zip_with(q, svec, (x, sv) -> (x - sv/n)^2), 0D, (a,v) -> a+v)`
  * it replaces (ExpressionSuite pins bit-equality), and of the DuckDB
  * oracle's `list_sum(list_transform(...))`, so near-tie argmins cannot
  * diverge. Ragged inputs (len(q) ≠ len(svec)) return NULL, matching the
  * zip_with form (its null-padded elements null the whole fold) — a
  * silent common-prefix distance could win an argmin the oracle rejects.
  * A norm-expansion (`‖q‖²−2q·c+‖c‖²`) would be cheaper per pair
  * but rounds differently — compare-only distances must stay bit-stable.
  */
case class VecL2QDist(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  // Analysis-time validation: without this, vec_l2q_dist(array<int>, …)
  // fails at EXECUTION with a ClassCastException on the interpreted path
  // while codegen may silently misread bytes via getLong — divergent
  // behavior for invalid types instead of one analysis error.
  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.requireTypes(prettyName, first.dataType -> "array<bigint>",
      second.dataType -> "array<bigint>", third.dataType -> "bigint")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2q_dist"

  override def nullable: Boolean = true

  override def nullSafeEval(q: Any, sv: Any, nv: Any): Any = {
    val a = q.asInstanceOf[ArrayData]
    val b = sv.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = nv.asInstanceOf[Long].toDouble
    val len = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < len) {
      val d = a.getLong(i).toDouble - b.getLong(i).toDouble / n
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, nv) => {
      val len = ctx.freshName("len")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val nd = ctx.freshName("nd")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          final int $len = $a.numElements();
          final double $nd = (double) $nv;
          double $acc = 0.0;
          for (int $i = 0; $i < $len; $i++) {
            final double $d = ((double) $a.getLong($i)) - ((double) $b.getLong($i)) / $nd;
            $acc += $d * $d;
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VecMath {

  /** Σ a_i·b_i over the common prefix, double accumulation in index
    * order: the interpreted body of `vec_dot` and the scorer of
    * `PipelineOps.graphWalk`.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Σ a_i², double accumulation in index order: the interpreted body
    * of `vec_norm_sq` and the scorer of `PipelineOps.graphWalk`.
    */
  def normSq(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      acc += x * x
      i += 1
    }
    acc
  }

  /** Analysis-time input validation shared by the vector expressions.
    * `ExpectsInputTypes` would be the idiomatic carrier, but its
    * `inputTypes` signature needs the `private[sql]` `AbstractDataType`;
    * `checkInputDataTypes` is the public equivalent hook and fails the
    * query at analysis instead of ClassCastException-at-execution (or,
    * worse, codegen silently misreading bytes via getLong). Expected
    * types are compared by catalog string, which ignores nullability the
    * way `AbstractDataType.acceptsType` does for concrete array types.
    */
  private[functions] def requireTypes(
      fn: String, actualVsExpected: (DataType, String)*): TypeCheckResult = {
    val bad = actualVsExpected.zipWithIndex.collect {
      case ((actual, expected), i) if actual.catalogString != expected =>
        s"argument ${i + 1} requires $expected, found ${actual.catalogString}"
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$fn: ${bad.mkString("; ")}")
  }
}
