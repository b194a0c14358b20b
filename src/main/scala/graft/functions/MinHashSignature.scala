package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._

/** MinHash signature of a long-array token set: sig[s] = min over tokens
  * of xxhash64(token, seed = s), all `numHashes` seeds in one pass.
  *
  * Replaces the nested higher-order formulation
  * `transform(sequence(0,n-1), s -> array_min(transform(toks, t -> xxhash64(t, s))))`,
  * whose interpreted lambda dispatch dominates LSH signature time
  * (~n·|toks| closure calls per document). This runs the same math as a
  * tight primitive loop. CodegenFallback is fine here: the expression is
  * evaluated once per DOCUMENT (thousands), not once per pair (millions).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val t = toks.getLong(i)
      var s = 0
      while (s < numHashes) {
        val h = XXH64.hashLong(t, s)
        if (h < sig(s)) sig(s) = h
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
