package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-bigram run counts of a string, ordered by bigram: the
  * multiplicity of each DISTINCT adjacent-codepoint pair, ascending by
  * (cp₁, cp₂) — exactly the run lengths the interpreted formulation it
  * replaces walked (PipelineOps `text_char_entropy`):
  *
  * {{{
  * array_sort(transform(sequence(1, length(text) - 1),
  *                      i -> substring(text, i, 2)))   // then fold runs
  * }}}
  *
  * Ascending packed-codepoint order ≡ the binary UTF8String sort order of
  * the 2-codepoint substrings (UTF-8 is order-preserving per codepoint
  * and prefix-free), so a downstream fold over THIS array in order adds
  * the identical term sequence the HOF fold added — the caller keeps the
  * Σ c·log2(c) in Spark SQL (a tiny per-run `aggregate`) and bit-equality
  * with the oracle is structural, not numerical luck. The win: the old
  * form materialized + sorted one STRING per character of the corpus
  * through two interpreted HOFs; this is one fused primitive-long pass
  * (ExpressionSuite pins equality against the HOF form).
  *
  * Returns an empty array for strings shorter than 2 codepoints (callers
  * filter those anyway); null input stays null via UnaryExpression.
  */
case class CharBigramRunCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_bigram_run_counts"

  override def nullSafeEval(input: Any): Any =
    CharBigramRunCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharBigramRunCounts.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharBigramRunCounts {
  /** One pass: codepoints → packed bigram longs → sort → run lengths. */
  def compute(s: UTF8String): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < 2) return new GenericArrayData(Array.emptyLongArray)
    val packed = new Array[Long](n - 1)
    var i = 0
    while (i < n - 1) {
      // 21 bits per codepoint (max U+10FFFF): ascending packed order ==
      // (cp1, cp2) lexicographic == UTF-8 binary order of the bigram.
      packed(i) = (cps(i).toLong << 21) | cps(i + 1).toLong
      i += 1
    }
    java.util.Arrays.sort(packed)
    var runs = 0
    i = 0
    while (i < packed.length) {
      if (i == 0 || packed(i) != packed(i - 1)) runs += 1
      i += 1
    }
    val counts = new Array[Long](runs)
    var r = -1
    i = 0
    while (i < packed.length) {
      if (i == 0 || packed(i) != packed(i - 1)) { r += 1; counts(r) = 1L }
      else counts(r) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }
}
