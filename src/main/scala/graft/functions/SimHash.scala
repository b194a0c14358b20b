package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 60-bit SimHash over an array of token hashes, as one codegen'd pass.
  *
  * Semantics are IDENTICAL to the higher-order formulation it replaces
  * (PipelineOps round-3):
  *
  * {{{
  * aggregate(sequence(0, 59), 0L, (acc, b) ->
  *   acc + IF(aggregate(hs, 0, (a, h) -> a + IF((h >> b) & 1 = 1, 1, -1)) > 0,
  *            shiftleft(1L, b), 0L))
  * }}}
  *
  * i.e. bit b of the signature is set iff the per-bit ±1 vote over the
  * token hashes is strictly positive. All arithmetic is integer, so the
  * result is bit-for-bit the HOF result (ExpressionSuite pins this) and
  * the DuckDB oracle SQL is unchanged. The win: the HOF is interpreted
  * (higher-order functions never enter whole-stage codegen) and O(60·n)
  * lambda dispatches per document — this expression is one fused
  * Java loop that codegens into the surrounding stage. Round-3 bench
  * showed the interpreted HOF re-evaluated across a self-join costing
  * 98.6 s of a 223 s suite; with this expression plus signature
  * materialization the same keys cost single-digit seconds.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val cnt = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var b = 0
      while (b < 60) {
        cnt(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (cnt(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
        final int $n = $a.numElements();
        final int[] $cnt = new int[60];
        for (int $i = 0; $i < $n; $i++) {
          final long $h = $a.getLong($i);
          for (int $b = 0; $b < 60; $b++) {
            $cnt[$b] += ((($h >> $b) & 1L) == 1L) ? 1 : -1;
          }
        }
        long $sig = 0L;
        for (int $b = 0; $b < 60; $b++) {
          if ($cnt[$b] > 0) $sig |= (1L << $b);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
