package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The one list of SQL functions graft adds to a session. Both
  * registration paths read it: `Tables.conf` registers it imperatively
  * on driver-built sessions, and `graft.plans.GraftExtensions` injects it
  * for sessions built with `spark.sql.extensions` — so a function cannot
  * exist on one path and be missing on the other (UnitSuite compares
  * the names each path exposes).
  */
object FunctionTable {
  final case class Fn(name: String, usage: String, builder: Seq[Expression] => Expression)

  /** Integer-literal argument (a k or a slot count fixed at plan time). */
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Int]

  val all: Seq[Fn] = Seq(
    Fn("vec_dot", "vec_dot(a, b) - dot product of two float vectors",
      es => VecDot(es(0), es(1))),
    Fn("vec_norm_sq", "vec_norm_sq(a) - squared L2 norm of a float vector",
      es => VecNormSq(es(0))),
    Fn("vec_l2q_dist",
      "vec_l2q_dist(q, svec, n) - squared L2 from a quantized vector to the centroid svec/n",
      es => VecL2QDist(es(0), es(1), es(2))),
    Fn("vec_sum", "vec_sum(qv) - element-wise exact BIGINT sum aggregate of long vectors",
      es => VecSumAgg(es(0))),
    Fn("gram_matrix_agg",
      "gram_matrix_agg(qv) - upper-triangle gram matrix aggregate of long vectors",
      es => GramMatrixAgg(es(0))),
    Fn("simhash60", "simhash60(hs) - 60-bit SimHash over token hashes",
      es => SimHash60(es(0))),
    Fn("sorted_intersect_size",
      "sorted_intersect_size(a, b) - |a ∩ b| of two sorted long arrays",
      es => SortedLongIntersectSize(es(0), es(1))),
    Fn("minhash_signature",
      "minhash_signature(arr, k) - k-slot MinHash signature of a hash array",
      es => MinHashSignature(es(0), intArg(es(1)))),
    Fn("minhash_sketch",
      "minhash_sketch(th, k) - k-slot MinHash sketch aggregate over hashes",
      es => MinHashSketchAgg(es(0), intArg(es(1)))),
    Fn("char_bigram_run_counts",
      "char_bigram_run_counts(text) - run lengths of the sorted character bigrams",
      es => CharBigramRunCounts(es(0))),
    // Spark's own bloom-filter expressions: they drive the optimizer's
    // runtime row-level filtering but are absent from the public
    // function registry; join_bloom_prefilter spells the pattern out.
    Fn("bloom_filter_agg",
      "bloom_filter_agg(hash, estItems, numBits) - bloom filter aggregate",
      es => new BloomFilterAggregate(es(0), es(1), es(2))),
    Fn("might_contain",
      "might_contain(bloom, hash) - bloom filter membership test",
      es => BloomFilterMightContain(es(0), es(1))))

  /** Register every function the session lacks. A function already in
    * its registry (an earlier call, the extensions path, or the parent a
    * cloned session copied it from) is left alone, so a call per query
    * registers each function once per session.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach(f =>
      if (!registry.functionExists(FunctionIdentifier(f.name)))
        registry.createOrReplaceTempFunction(f.name, f.builder, "scala_udf"))
  }
}
