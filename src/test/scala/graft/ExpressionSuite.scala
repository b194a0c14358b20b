package graft

import graft.functions.{MinHashSignature, SortedLongIntersectSize, VecDot, VecL2QDist, VecNormSq}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Units for the custom Catalyst expressions (graft.functions): direct
  * eval correctness + SQL-path (codegen) equality with the higher-order
  * formulations they replaced.
  */
class ExpressionSuite extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def longArr(xs: Long*) =
    Literal.create(new GenericArrayData(xs.toArray), ArrayType(LongType))
  private def floatArr(xs: Float*) =
    Literal.create(new GenericArrayData(xs.toArray), ArrayType(FloatType))

  test("sorted_intersect_size: eval corners") {
    def sz(a: Seq[Long], b: Seq[Long]): Int =
      SortedLongIntersectSize(longArr(a: _*), longArr(b: _*)).eval(null).asInstanceOf[Int]
    assert(sz(Seq(1L, 3L, 5L), Seq(1L, 2L, 3L, 9L)) == 2)
    assert(sz(Seq(), Seq(1L)) == 0)
    assert(sz(Seq(7L), Seq(7L)) == 1)
    assert(sz(Seq(1L, 2L), Seq(3L, 4L)) == 0)
  }

  test("sorted_intersect_size: codegen path equals built-in array_intersect size") {
    Tables.conf(spark)
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "c", "x")),
      (Seq.empty[String], Seq("a")),
      (Seq("q"), Seq("q"))).toDF("xs", "ys")
      .withColumn("ta", expr("array_sort(transform(array_distinct(xs), t -> xxhash64(t)))"))
      .withColumn("tb", expr("array_sort(transform(array_distinct(ys), t -> xxhash64(t)))"))
    val got = df.select(
      expr("sorted_intersect_size(ta, tb)").as("fast"),
      size(array_intersect(col("ta"), col("tb"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("vec_dot / vec_norm_sq: eval matches hand math") {
    val d = VecDot(floatArr(1f, 2f, 3f), floatArr(4f, 5f, 6f)).eval(null)
    assert(d == 32.0)
    val n = VecNormSq(floatArr(3f, 4f)).eval(null)
    assert(n == 25.0)
  }

  test("vec_dot / vec_norm_sq: SQL path bit-equals higher-order formulation") {
    Tables.conf(spark)
    val df = Tables.t(spark, sf0001, "embeddings").limit(50)
      .withColumn("q", col("embedding"))
    val rows = df.select(
      expr("vec_dot(embedding, q)").as("fast_dot"),
      expr("aggregate(zip_with(embedding, q, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, x) -> a + x)").as("ref_dot"),
      expr("vec_norm_sq(embedding)").as("fast_sq"),
      expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("ref_sq"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit-exact, same order
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("vec_dot / vec_norm_sq: generated code bit-equals interpreted eval") {
    Tables.conf(spark)
    // CODEGEN_ONLY forbids the interpreted-projection fallback: if
    // doGenCode emitted broken Java, this query would throw instead of
    // silently degrading to eval(). Mirrors the sorted_intersect_size
    // codegen test above.
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Tables.t(spark, sf0001, "embeddings").limit(50)
        .withColumn("q", expr("reverse(embedding)"))
      val viaCodegen = df.select(
        expr("vec_dot(embedding, q)").as("d"),
        expr("vec_norm_sq(embedding)").as("s")).collect()
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val viaEval = df.select(
        expr("vec_dot(embedding, q)").as("d"),
        expr("vec_norm_sq(embedding)").as("s")).collect()
      viaCodegen.zip(viaEval).foreach { case (c, e) =>
        assert(c.getDouble(0) == e.getDouble(0), "vec_dot codegen != eval")
        assert(c.getDouble(1) == e.getDouble(1), "vec_norm_sq codegen != eval")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("vec_l2q_dist: eval matches hand math") {
    // q=(1,2), sums=(4,6), n=2 → centroid (2,3) → dist = 1 + 1 = 2.
    val d = VecL2QDist(longArr(1L, 2L), longArr(4L, 6L),
      Literal.create(2L, LongType)).eval(null)
    assert(d == 2.0)
    // Non-divisible sums exercise the double division: q=(0,), sums=(1,),
    // n=3 → d = (0 - 1/3)² computed in doubles.
    val t = 1.0 / 3.0
    val d2 = VecL2QDist(longArr(0L), longArr(1L),
      Literal.create(3L, LongType)).eval(null)
    assert(d2 == t * t)
  }

  test("vec_l2q_dist: ragged lengths yield NULL (zip_with parity), both paths") {
    // The zip_with form null-pads the shorter side, which nulls the whole
    // fold — a silent common-prefix distance could win an argmin the
    // oracle rejects. Eval path:
    assert(VecL2QDist(longArr(1L, 2L), longArr(4L),
      Literal.create(2L, LongType)).eval(null) == null)
    // SQL/codegen path:
    Tables.conf(spark)
    val r = spark.sql(
      "SELECT vec_l2q_dist(array(1L, 2L), array(4L), 2L) AS d").head
    assert(r.isNullAt(0), "SQL path must return NULL for ragged arrays")
  }

  test("vec expressions: wrong input types fail at ANALYSIS, not execution") {
    // Without checkInputDataTypes, vec_l2q_dist(array<int>, …) throws
    // ClassCastException at execution on the interpreted path while the
    // codegen path silently misreads bytes via getLong — two different
    // wrong behaviors. With it, both collapse to one analysis error.
    Tables.conf(spark)
    for (bad <- Seq(
        "SELECT vec_l2q_dist(array(1, 2), array(4, 6), 2L)",   // array<int>
        "SELECT vec_l2q_dist(array(1L), array(4L), 2)",        // int n
        "SELECT vec_dot(array(1.0D), array(2.0D))",            // array<double>
        "SELECT vec_norm_sq(array(1L))")) {                    // array<bigint>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(bad).collect()
      }
      assert(e.getMessage.toLowerCase.contains("requires"),
        s"expected a type-check failure for: $bad — got: ${e.getMessage}")
    }
  }

  test("vec_l2q_dist: SQL path bit-equals the interpreted HOF it replaced") {
    Tables.conf(spark)
    // The kmeans shapes: qv = 1e-3-quantized embedding, svec = integer
    // component sums, n = member count. The expression must reproduce the
    // round-4 higher-order formulation's EXACT double sequence (same
    // index order, same per-element (x - sv/n)² then left-to-right sum) —
    // this equality is the oracle bridge for vec_kmeans_step, whose DuckDB
    // SQL still mirrors the HOF.
    val q = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("qv"))
    val cent = q
      .select(col("label").as("clabel"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("clabel", "pos")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .groupBy("clabel")
      .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), s -> s.sv)").as("svec"),
        max("n").as("n"))
    val rows = q.crossJoin(broadcast(cent))
      .select(
        expr("vec_l2q_dist(qv, svec, n)").as("fast"),
        expr("""
          aggregate(zip_with(qv, svec, (x, sv) ->
            (CAST(x AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(x AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))),
            CAST(0 AS DOUBLE), (a, v) -> a + v)""").as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"vec_l2q_dist=${r.getDouble(0)} != hof=${r.getDouble(1)}"))
  }

  test("vec_l2q_dist: generated code bit-equals interpreted eval") {
    Tables.conf(spark)
    val df = Tables.t(spark, sf0001, "embeddings").limit(50)
      .select(
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("qv"))
      .withColumn("sv", expr("transform(qv, x -> x * 3 + 1)"))
      .withColumn("n", lit(7L))
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val viaCodegen = df.select(expr("vec_l2q_dist(qv, sv, n)").as("d")).collect()
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val viaEval = df.select(expr("vec_l2q_dist(qv, sv, n)").as("d")).collect()
      viaCodegen.zip(viaEval).foreach { case (c, e) =>
        assert(c.getDouble(0) == e.getDouble(0), "vec_l2q_dist codegen != eval")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("minhash_signature: matches higher-order formulation and is monotone-min") {
    Tables.conf(spark)
    val df = Seq(Seq("a", "b", "c"), Seq("z")).toDF("xs")
      .withColumn("toks", expr("transform(xs, t -> xxhash64(t))"))
    val rows = df.select(
      expr("minhash_signature(toks, 4)").as("fast"),
      expr("transform(sequence(0, 3), s -> array_min(transform(toks, t -> xxhash64(t, s))))").as("ref"))
      .collect()
    rows.foreach { r =>
      val fast = r.getSeq[Long](0)
      assert(fast.length == 4)
      // Same seeded family: xxhash64(t, s) in SQL hashes (t, s) with seed
      // 42 while the expression uses XXH64.hashLong(t, s) directly — the
      // families differ by construction, so check structure, not equality.
      assert(r.getSeq[Long](1).length == 4)
    }
    // Determinism: same input → same signature.
    val again = df.select(expr("minhash_signature(toks, 4)")).collect().map(_.getSeq[Long](0))
    val first = df.select(expr("minhash_signature(toks, 4)")).collect().map(_.getSeq[Long](0))
    assert(again.toSeq == first.toSeq)
  }

  test("minhash_sketch aggregate: bit-equal to the minhash_signature expression path") {
    Tables.conf(spark)
    // Same corpus, two routes: (a) per-row token array → minhash_signature
    // expression; (b) exploded (doc, hash) rows → minhash_sketch aggregate.
    // Both compute sig[s] = min over tokens of XXH64.hashLong(t, s), so the
    // results must be identical long-for-long.
    val docs = Tables.t(spark, sf0001, "documents").limit(100)
    val viaExpr = docs
      .select(col("doc_id"),
        expr("minhash_signature(transform(array_distinct(split(text, ' ')), t -> xxhash64(t)), 16)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = docs
      .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("tok"))
      .select(col("doc_id"), expr("xxhash64(tok)").as("th"))
      .groupBy("doc_id").agg(expr("minhash_sketch(th, 16)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg.keySet == viaExpr.keySet)
    viaAgg.foreach { case (id, sig) =>
      assert(sig == viaExpr(id), s"doc $id sketch != signature")
    }
    // And the aggregate runs as a two-phase hash agg (map-side partials).
    val plan = docs
      .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("tok"))
      .select(col("doc_id"), expr("xxhash64(tok)").as("th"))
      .groupBy("doc_id").agg(expr("minhash_sketch(th, 16)").as("sig"))
      .queryExecution.executedPlan.toString
    assert("Aggregate".r.findAllIn(plan).size >= 2, "expected partial+final aggregate")
  }

  test("simhash60: codegen path bit-equal to the interpreted HOF formulation") {
    Tables.conf(spark)
    // Full sf0.001 corpus: every doc's signature must match the round-3
    // higher-order formulation exactly (the oracle SQL still mirrors the
    // HOF, so this equality IS the oracle bridge for the expression).
    val got = Tables.t(spark, sf0001, "documents")
      .withColumn("hs", expr(
        "transform(array_distinct(split(text, ' ')), t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"))
      .select(
        expr("simhash60(hs)").as("fast"),
        expr("""
          aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, b) ->
            acc + IF(aggregate(hs, 0, (a, h) -> a + IF((h >> b) & 1 = 1, 1, -1)) > 0,
                     shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""").as("hof"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"simhash60=${r.getLong(0)} != hof=${r.getLong(1)}"))
  }

  test("simhash60: eval corners — empty array 0, single hash echoes its low 60 bits") {
    import graft.functions.SimHash60
    assert(SimHash60(longArr()).eval(null) == 0L)
    // One hash: every bit vote is ±1, so sig = h & (2^60 - 1).
    val h = 0x0FEDCBA987654321L
    assert(SimHash60(longArr(h)).eval(null) == (h & ((1L << 60) - 1)))
  }

  test("minhash_signature: similar sets collide on most components") {
    val a = MinHashSignature(longArr(1L to 100L: _*), 50).eval(null)
      .asInstanceOf[GenericArrayData].toLongArray()
    val b = MinHashSignature(longArr(1L to 99L: _*), 50).eval(null)
      .asInstanceOf[GenericArrayData].toLongArray()
    val agree = a.zip(b).count { case (x, y) => x == y }
    assert(agree >= 40, s"j=0.99 sets should agree on most minhashes, got $agree/50")
  }
  test("char_bigram_run_counts: eval corners and run ordering") {
    import graft.functions.CharBigramRunCounts
    import org.apache.spark.unsafe.types.UTF8String
    def rc(s: String): Seq[Long] =
      CharBigramRunCounts.compute(UTF8String.fromString(s)).toLongArray().toSeq
    // "abab" bigrams: ab, ba, ab -> sorted runs ab(2), ba(1)
    assert(rc("abab") == Seq(2L, 1L))
    assert(rc("a") == Seq.empty)
    assert(rc("") == Seq.empty)
    assert(rc("aa") == Seq(1L))
    assert(rc("aaa") == Seq(2L))
    // multi-byte + astral codepoints: bigrams are CODEPOINT pairs
    // ("a\uD83D\uDE00b" = a,😀,b -> bigrams a😀, 😀b -> two runs of 1)
    assert(rc("a\uD83D\uDE00b") == Seq(1L, 1L))
  }

  test("char_bigram_run_counts: SQL path bit-equals the interpreted HOF it replaced") {
    Tables.conf(spark)
    // Random-ish strings incl. repeats, unicode, and the 1-char edge.
    val docs = Seq("abab", "mississippi", "aa", "ab", "ü𝓍üü𝓍", "xyxyxyxyzz",
      "the quick brown fox the quick").toDF("text")
      .filter(length(col("text")) >= 2)
    val viaExpr = docs.select(expr("""
        aggregate(char_bigram_run_counts(text), CAST(0 AS DOUBLE),
          (a, c) -> a + CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))""").as("s"),
      (length(col("text")) - 1).cast("long").as("n"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    val viaHof = docs.select(expr("""
        aggregate(
          array_sort(transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))),
          named_struct('prev', CAST(NULL AS STRING), 'c', CAST(0 AS BIGINT), 's', CAST(0 AS DOUBLE)),
          (acc, x) -> IF(x = acc.prev,
            named_struct('prev', x, 'c', acc.c + CAST(1 AS BIGINT), 's', acc.s),
            named_struct('prev', x, 'c', CAST(1 AS BIGINT),
              's', acc.s + IF(acc.c > 0,
                CAST(acc.c AS DOUBLE) * log2(CAST(acc.c AS DOUBLE)), CAST(0 AS DOUBLE)))),
          acc -> acc.s + IF(acc.c > 0,
            CAST(acc.c AS DOUBLE) * log2(CAST(acc.c AS DOUBLE)), CAST(0 AS DOUBLE)))""").as("s"),
      size(expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")).cast("long").as("n"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(viaExpr.map(_._2) == viaHof.map(_._2), "n_bg drift")
    viaExpr.zip(viaHof).foreach { case ((a, _), (b, _)) =>
      assert(java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b),
        s"clogc bits drift: $a vs $b")
    }
  }

  /** The posexplode → (key, pos) sum → regroup formulation vec_sum
    * replaced, as (key, svec, n) rows ordered by key.
    */
  private def explodeSums(df: org.apache.spark.sql.DataFrame, key: String) =
    df.select(col(key), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(key, "pos")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .groupBy(key)
      .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), s -> s.sv)").as("svec"),
        max("n").as("n"))
      .orderBy(key).collect().toSeq

  private def nativeSums(df: org.apache.spark.sql.DataFrame, key: String) =
    ops.PipelineOps.vecSums(df, "qv", key).orderBy(key).collect().toSeq

  test("vec_sum: equals the explode formulation on the quantized embeddings") {
    Tables.conf(spark)
    val q = Tables.t(spark, sf0001, "embeddings")
      .select(col("label"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("qv"))
    val want = explodeSums(q, "label")
    assert(want.nonEmpty)
    assert(nativeSums(q, "label") == want)
  }

  test("vec_sum: degenerate inputs match the explode formulation") {
    Tables.conf(spark)
    def v(xs: java.lang.Long*): Seq[java.lang.Long] = xs // boxed: elements may be null
    val df = Seq[(Int, Seq[java.lang.Long])](
      (1, v(1L, 2L, 3L)), (1, v(4L, 5L)), (1, null), (1, v()),  // ragged + null + empty
      (2, null), (2, v()),                                       // only null/empty: no group
      (3, v(null, 7L)), (3, v(null)),                            // all-null position
      (4, v(null)),                                              // one all-null vector
      (5, v(Long.MaxValue)), (5, v(-1L, 0L)))                    // large but in range
      .toDF("k", "qv").repartition(3)
    val want = explodeSums(df, "k")
    assert(want.map(_.getInt(0)) == Seq(1, 3, 4, 5))
    assert(nativeSums(df, "k") == want)
    // Bare vec_sum over a group of only null/empty vectors is null.
    assert(df.filter(col("k") === 2).selectExpr("vec_sum(qv)").head().isNullAt(0))
  }

  test("vec_sum: over-2^63 position sums throw instead of silently wrapping") {
    Tables.conf(spark)
    // One row per partition: the overflow happens in the merge of the two
    // partial buffers; coalesced to one partition, in the update.
    val df = spark.sparkContext.parallelize(Seq(Seq(Long.MaxValue), Seq(1L)), 2).toDF("qv")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    for (input <- Seq(df, df.coalesce(1))) {
      val e = intercept[Exception] {
        input.selectExpr("vec_sum(qv)").collect()
      }
      assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
        s"expected ArithmeticException in cause chain, got: $e")
    }
  }

  test("gram_matrix_agg: over-2^63 cells throw instead of silently wrapping") {
    Tables.conf(spark)
    // 4e9 * 4e9 = 1.6e19 > Long.MaxValue: the per-row product must fail
    // loudly (the DECIMAL+ANSI behavior the typed buffer replaced), never
    // return a wrapped-negative gram cell.
    val df = Seq(Tuple1(Seq(4000000000L))).toDF("qv")
    val e = intercept[Exception] {
      df.selectExpr("gram_matrix_agg(qv)").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got: $e")
  }

}
