package graft

import graft.functions.{VecDot, VecNormSq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, expr, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions (SURVEY.md §4): the properties that make these
  * queries scale — pushdown reaching the parquet scan, dimensions
  * broadcast, top-k avoiding a global sort — asserted so a refactor can't
  * silently lose them.
  */
class PlanSuite extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("join_asof_native plans the custom AsOfJoinExec with exchanges+sorts from requirements") {
    val p = plan("join_asof_native")
    assert(p.contains("AsOfJoin"),
      "the custom strategy must plan the native as-of operator")
    // EnsureRequirements must have supplied the key exchanges and the
    // (key, ord) in-partition sorts the merge depends on — the operator
    // declares them, it never schedules data movement itself.
    assert("hashpartitioning\\(".r.findAllIn(p).size >= 2,
      "both sides must be clustered on the join key")
    assert("\\(\\d+\\) Sort\\b".r.findAllIn(p).size >= 2,
      "both sides must be sorted within partitions")
  }

  test("join_asof_native row-equals the window composition join_asof") {
    val native = SparkEntry.queries("join_asof_native")(spark, sf0001).collect()
    val window = SparkEntry.queries("join_asof")(spark, sf0001).collect()
    assert(native.length == window.length)
    native.zip(window).foreach { case (n, w) =>
      assert(n == w, s"asof divergence: native=$n window=$w") }
  }

  test("filters reach the parquet scan (PushedFilters)") {
    val p = plan("filter_date_range")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual"))
  }

  test("projection prunes the read schema") {
    val p = plan("agg_groupby_hash")
    // 7 of 16 lineitem columns read, and the shipdate predicate is pushed.
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>"))
    assert(p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("multiway join broadcasts constant-size dims; customer is NOT force-broadcast") {
    val p = plan("join_multiway")
    // nation + region are constant-size → broadcast; customer grows with
    // the data, so it must not carry a forced broadcast hint (AQE may still
    // choose one at toy scale — assert on the optimized logical plan's
    // hints, which is what survives 100×).
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "expected >=2 broadcast joins (nation, region)")
    assert(p.contains("EqualTo(r_name,ASIA)"), "region filter should be pushed to scan")
    assert(!p.contains("CartesianProduct"))
    val logical = SparkEntry.queries("join_multiway")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    val hinted = "strategy=broadcast".r.findAllIn(logical).size
    assert(hinted == 2, s"exactly nation+region may carry broadcast hints, found $hinted")
  }

  test("LSH verify stage never broadcasts the corpus-derived token side") {
    val logical = SparkEntry.queries("text_minhash_lsh")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!logical.contains("strategy=broadcast"),
      "no forced broadcast anywhere in the LSH pipeline — the token side is corpus-sized")
  }

  test("top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"), "global sort exchange must not appear")
  }

  test("aggregation is two-phase (partial before shuffle)") {
    val p = plan("agg_groupby_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("theta join on tiny dims is BroadcastNestedLoopJoin, not a cartesian of facts") {
    val p = plan("join_theta")
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed co-located join shuffles neither fact table") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      "lineitem side must read pre-bucketed, not shuffle")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      "orders side must read pre-bucketed, not shuffle")
  }

  test("near-dup pair-join carries the size prune and custom intersect") {
    val p = plan("text_near_dup_jaccard")
    assert(p.contains("sorted_intersect_size"))
    // Round-9: the candidate join must key on the exploded prefix TOKEN
    // (a vocabulary-cardinality block key — AllPairs prefix filter), not
    // the bare lang block (|lang| buckets → blocked-quadratic at scale).
    assert("""hashpartitioning\(ptok#\d+""".r.findFirstIn(p).isDefined
      || """\[ptok#\d+""".r.findFirstIn(p).isDefined,
      "candidate pairs must be clustered on the prefix-token block key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // Same property for the shingle op (prefix filter at t = 4/5).
    val g = plan("text_ngram_jaccard")
    assert(g.contains("sorted_intersect_size"))
    assert("""hashpartitioning\(ptok#\d+""".r.findFirstIn(g).isDefined
      || """\[ptok#\d+""".r.findFirstIn(g).isDefined,
      "ngram candidate pairs must be clustered on the prefix-shingle block key")
    assert(!g.contains("CartesianProduct") && !g.contains("BroadcastNestedLoopJoin"))
  }

  test("flagship aggregation runs inside whole-stage codegen") {
    val p = SparkEntry.queries("agg_groupby_hash")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p.contains("Found 2 WholeStageCodegen subtrees")
      || "WholeStageCodegen".r.findAllIn(p).nonEmpty, "scan+partial-agg and final-agg should codegen")
  }

  test("upsert merge is a single full-outer join, never a cartesian") {
    val p = plan("etl_upsert")
    assert(p.contains("FullOuter"), "expected a full-outer join")
    assert(!p.contains("CartesianProduct"))
    val joins = "\\(\\d+\\) \\w*(?:SortMergeJoin|HashJoin|NestedLoopJoin)".r.findAllIn(p).size
    assert(joins == 1, s"upsert must stay a single join, got $joins")
  }

  test("LSH ANN: corpus joins are hash joins; only 1-row frames go through BNLJ") {
    val p = plan("vec_lsh_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assert(!p.contains("CartesianProduct"))
    // The two crossJoins carry 1-row frames (sign table, query vector) —
    // any BroadcastNestedLoopJoin is fine there; the candidate and bucket
    // joins over corpus-derived sides must be hash-based.
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty,
      "bucket/candidate joins should be hash joins")
    // The only nested-loop joins allowed are the Cross ones over the
    // broadcast 1-row frames (sign table appears twice — bk feeds two
    // subtrees — plus the query vector). A non-Cross BNLJ means an
    // equi-join over a corpus-derived side regressed to nested-loop.
    assert(!"BroadcastNestedLoopJoin (?!Cross)".r.findFirstIn(p).isDefined,
      "non-Cross BNLJ found — a corpus-derived equi-join regressed to nested-loop")
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 3, s"more nested-loop joins than the three 1-row crossJoins (got $bnlj)")
  }

  test("hash sample is one scan: no exchange besides the output sort") {
    val p = plan("sample_hash")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"row-local sample must not shuffle (got $exchanges exchanges)")
  }

  test("AQE skew-join splits a synthetic hot key (manual salt is the fallback, not the default)") {
    // join_skew_salted documents the MANUAL hot-key treatment; this pins
    // the automatic one: with adaptive skew-join on (the production
    // default), a hot shuffle partition is split at runtime into
    // advisory-sized chunks — SortMergeJoin reports skew=true in the
    // final adaptive plan. Thresholds are lowered because the synthetic
    // hot key is megabytes, not the 256 MB production default.
    val spark2 = TestSpark.spark
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark2.conf.getOption(k) }
    keys.foreach { case (k, v) => spark2.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, lit}
      // 400k rows on ONE key vs ~1k rows spread over the rest: the hot
      // key's shuffle partition dwarfs the median by far more than the
      // 2× factor.
      val hot = spark2.range(400000).select(lit(1L).as("k"), col("id").as("v"))
      val rest = spark2.range(1000).select((col("id") + 10).as("k"), col("id").as("v"))
      val left = hot.union(rest)
      val right = spark2.range(2000).select((col("id") % 1100).as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      // AQE decides at runtime, so execute THIS QueryExecution (count()
      // would build a fresh one and leave this plan isFinalPlan=false).
      val qe = joined.queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"adaptive plan should mark the skewed SMJ, got:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark2.conf.set(k, v)
      case (k, None)    => spark2.conf.unset(k)
    }
  }

  test("text_dedup_incremental: batch broadcasts; an outgrown batch degrades to a shuffled hash join, never BNLJ") {
    // Round-12 verdict item 5. Nightly shape: the batch's band keys are
    // the build side of a broadcast hash join — the corpus streams once
    // and never shuffles. When a day's batch outgrows the broadcast
    // budget the coded degradation (incrementalDedup broadcastBatch =
    // false) must keep the SAME (band, bval) equi join as a SHUFFLED
    // hash join — never a BroadcastNestedLoopJoin, never a cartesian,
    // and never a broadcast of the corpus side.
    val p = plan("text_dedup_incremental")
    assert(p.contains("BroadcastHashJoin"),
      "nightly shape: the batch band keys must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    val deg = graft.ops.PipelineOps
      .incrementalDedup(spark, sf0001, broadcastBatch = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(deg.contains("ShuffledHashJoin"),
      "degraded shape must stay a keyed shuffled hash join on (band, bval)")
    assert(!deg.contains("BroadcastNestedLoopJoin") && !deg.contains("CartesianProduct"),
      "an outgrown batch must never decay to a nested-loop shape")
    // Round-13 advice: the degraded path's RESULTS must also match the
    // broadcast path — plan shape alone would let a semantic drift slip by.
    def rows(broadcastBatch: Boolean) = graft.ops.PipelineOps
      .incrementalDedup(spark, sf0001, broadcastBatch)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(false) == rows(true),
      "broadcast and shuffled incremental-dedup paths must collect identically")
  }

  test("graph walk: one single-task stage, never a cartesian or nested-loop join") {
    // The walk family's step-cost claim (k lookups per step) lives in the
    // one in-task operator, graphWalk: its four inputs are coalesced to
    // one partition each WITHOUT a shuffle and zipped, so the whole walk —
    // adjacency build, every query's descent and beam — is ONE task of ONE
    // stage, and no join (let alone a cartesian or nested-loop one) plans
    // a hop. The edge input here spans four partitions, so the pin also
    // covers the no-shuffle coalesce.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val edges = spark.range(0, 200, 1, 4)
      .select(lit(0).as("lvl"), col("id").as("a"), (col("id") + 1).as("b"))
    val q = e.filter(pmod(col("vec_id"), lit(97L)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val walk = graft.ops.PipelineOps.graphWalk(edges, e, q,
      e.select(col("vec_id"), lit(0).as("lay")), levels = Seq(0), beam = true)
    val p = walk.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a walk step must never go cartesian or nested-loop")
    val (jobs, stages, tasks) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger, new java.util.concurrent.atomic.AtomicInteger)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(st.stageInfo.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val n = try {
      val rows = walk.collect().length
      // Listener delivery is async — wait for the counts to stabilize.
      var last = (-1, -1, -1)
      var stable = 0
      while (stable < 3) {
        Thread.sleep(50)
        val now = (jobs.get, stages.get, tasks.get)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(n > 0, "the walk answered no query")
    assert((jobs.get, stages.get, tasks.get) == ((1, 1, 1)),
      s"the walk must run as one single-task stage: jobs/stages/tasks = " +
        s"${jobs.get}/${stages.get}/${tasks.get}")
  }

  test("round-14 ops: no plan ever goes cartesian") {
    // The iterative ops (louvain sweeps, BFS rounds, HNSW descent) run
    // eagerly at plan-build time; what this pins is the RETURNED frame's
    // physical plan — coarse contraction, report joins, sketch algebra —
    // none of which may decay to a CartesianProduct as the frames grow.
    for (k <- Seq("graph_louvain_converge", "graph_bfs_hops", "vec_hnsw_search",
        "vec_pq_residual_topk", "agg_kmv_set_ops", "src_txn_log_compact",
        "agg_robust_mean", "vec_hard_negatives", "etl_volume_gate",
        "agg_ab_srm_check", "text_oov_rate", "vec_ivf_cell_stats",
        "graph_louvain_multilevel", "text_bpe_train",
        // round 17: the converge loop's report joins, the insert/repair
        // joins, the reload serve, and the k-sweep flag join.
        "graph_pagerank_converge", "vec_hnsw_insert",
        "vec_index_persist_reload", "text_dup_spans_sweep",
        "vec_hnsw_persist_search",
        // round 18: the learned-partition probe/candidate/dedup joins,
        // and the persisted-graph serve's floor/semi joins.
        "vec_knn_graph_ivf", "graph_pagerank_persist_serve",
        "vec_semantic_dedup_ivf",
        // round 19: the shard-merge union/reassign/serve joins and the
        // evolved-log reader's per-schema-group aligned union.
        "vec_ivf_merge_shards", "src_txn_log_schema_evolution")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k plan went cartesian")
    }
  }

  test("vec_hnsw_batch_search: jobs are hop-bounded, not query-bounded") {
    // The whole point of the batched op (round-14 verdict item 1): a
    // 3x-larger query batch must cost the SAME number of Spark jobs —
    // the walk runs every query in its one task, it never loops per
    // query. Warm the shared family caches first so both measured runs
    // count only walk + action jobs.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    graft.ops.PipelineOps.batchHnswSearch(spark, sf0001, 97L).count()
    SparkEntry.queries("vec_hnsw_search")(spark, sf0001).count()
    def batch(mod: Long) =
      graft.ops.PipelineOps.batchHnswSearch(spark, sf0001, mod).count()
    def measured(run: => Long): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        run
        // Listener delivery is async — wait for the count to stabilize.
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(50)
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        last
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val small = measured(batch(97L)) // 6 queries at sf0.001
    val large = measured(batch(31L)) // 17 queries — ~3x the batch
    // |Q|=1: the degenerate batch must cost the same jobs too — a mod
    // larger than any vec_id selects only the query itself — and so must
    // the single-query key, which is the same walk over the batch {0}.
    val one = measured(batch(1000000007L))
    val single = measured(SparkEntry.queries("vec_hnsw_search")(spark, sf0001).count())
    assert(math.abs(small - large) <= 2,
      s"job count must not scale with the query batch: mod97=$small mod31=$large")
    assert(math.abs(small - one) <= 2,
      s"|Q|=1 must cost the same jobs as a full batch: mod97=$small |Q|=1=$one")
    assert(math.abs(small - single) <= 2,
      s"vec_hnsw_search must cost the same jobs as a full batch: mod97=$small vec_hnsw_search=$single")
    assert(large <= 45, s"walk jobs must stay hop-bounded, got $large")
    assert(!plan("vec_hnsw_batch_search").contains("CartesianProduct"))
  }

  test("text_simhash_radius_sweep rides the banded edge checkpoint") {
    // The tuning curve must be one explode over the shared cached edge
    // list — never a fresh banding pass; the only parquet scan allowed is
    // the 1-row documents denominator.
    val p = plan("text_simhash_radius_sweep")
    assert(p.contains("Scan ExistingRDD"),
      "radius sweep must read the checkpointed signature-pair frame")
    // Count detail-section headers — the tree section repeats each node.
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 1,
      "only the denominator count may touch parquet")
  }

  test("window top-k: one shuffle + rank-limit pushed below it (WindowGroupLimit)") {
    val p = plan("win_rownum_topk")
    // Exactly 2 Exchange nodes: hash for the window partition, range for
    // the final orderBy — and the rn<=3 limit runs map-side pre-shuffle.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 2, s"expected window-hash + final-sort exchanges, got $exchanges")
    assert(p.contains("WindowGroupLimit"), "rank limit should push below the shuffle")
  }

  test("optimizer rule: vec_dot(a, a) rewrites to vec_norm_sq(a), bit-equal values") {
    Tables.conf(spark)
    val df = Tables.t(spark, sf0001, "embeddings")
      .select(expr("vec_dot(embedding, embedding)").as("d"),
        expr("vec_norm_sq(embedding)").as("n"))
    // The rule (runtime-attached via experimental.extraOptimizations;
    // session-build path: spark.sql.extensions=graft.plans.GraftExtensions)
    // must eliminate every self-dot from the optimized plan...
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.expressions.exists(_.exists(_.isInstanceOf[VecDot])),
      s"self-dot survived optimization:\n$opt")
    assert(opt.expressions.exists(_.exists(_.isInstanceOf[VecNormSq])))
    // ...and the rewrite is bit-exact (same left-to-right double loop).
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // Direct rule application on the analyzed plan fires too (the unit
    // seam, independent of session wiring).
    val rewritten = graft.plans.VecSelfDotRule(
      Tables.t(spark, sf0001, "embeddings")
        .select(expr("vec_dot(embedding, embedding)")).queryExecution.analyzed)
    assert(rewritten.expressions.exists(_.exists(_.isInstanceOf[VecNormSq])))
    // And the extensions class itself wires into a fresh extension set
    // without error (full-session integration needs a new JVM-level
    // session; covered by the runtime path above).
    new graft.plans.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("bloom prefilter: might_contain filter sits on the probe side before the semi join") {
    val p = plan("join_bloom_prefilter")
    assert(p.contains("might_contain"), "bloom membership filter missing from the plan")
    assert(p.contains("LeftSemi"), "exact semi join missing")
    // The bloom build is an aggregate subquery, not a shuffled join side.
    assert(p.contains("Subquery") || p.contains("ObjectHashAggregate"),
      "bloom should build via a scalar-subquery aggregate")
  }

  test("lateral join decorrelates to the window top-k shape, never a loop join") {
    val p = plan("join_lateral")
    // Catalyst must rewrite the correlated ORDER BY + LIMIT subquery into
    // the rank-filter shape (WindowGroupLimit pushed below the shuffle,
    // then an equi-join back to the outer side) — a per-outer-row subquery
    // execution or a nested-loop join would be quadratic at scale.
    assert(p.contains("WindowGroupLimit"), "decorrelated rank-limit missing")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "outer side must rejoin via an equi-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lateral must not plan as a loop join")
  }

  test("kmeans step: codegen'd distance, broadcast centroids, no window sort") {
    val p = plan("vec_kmeans_step")
    // The round-4 failure modes, pinned: distance must be the native
    // vec_l2q_dist expression (an interpreted aggregate/zip_with HOF never
    // enters whole-stage codegen and re-evaluates per crossJoin row)...
    assert(p.contains("vec_l2q_dist"), "distance must use the codegen'd expression")
    assert(!p.contains("aggregate(zip_with"), "interpreted HOF distance crept back")
    // ...the k-row centroid frame streams in via broadcast (never a
    // shuffle of the n-row vector side against k rows)...
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroids must broadcast into the assignment join")
    // ...and the argmin is a partial-aggregatable min(struct(...)), not a
    // row_number window over an n×k sort shuffle.
    assert(!p.contains("Window"), "argmin must not plan as a window sort")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "argmin should be a two-phase aggregate")
  }

  test("sketch/graph keys: no window sorts, no cartesians, partial aggregation everywhere") {
    // The round-6 scale claims, pinned structurally. None of these may
    // regress to a window sort (n×k shuffle) or a cartesian product, and
    // each must keep map-side partial aggregation.
    val countmin = plan("agg_countmin")
    assert(!countmin.contains("Window") && !countmin.contains("Cartesian"))
    assert(countmin.contains("partial_"), "counter build must partial-aggregate")
    assert(countmin.contains("BroadcastExchange"),
      "the 1024-row counter frame must broadcast to the probe join")

    val pq = plan("vec_pq_topk")
    assert(!pq.contains("Window"), "PQ encode argmin must be min(struct), not a window sort")
    assert(pq.contains("vec_l2q_dist"), "PQ distances must use the codegen'd expression")
    assert("BroadcastExchange".r.findAllIn(pq).size >= 2,
      "codebooks and the ADC table must broadcast")

    val bitmap = plan("agg_bitmap_distinct")
    assert(bitmap.contains("bit_or"), "words must combine with bit_or")
    assert(bitmap.contains("partial_"),
      "both bitmap levels must partial-aggregate (the 100 TB claim)")
    assert(!bitmap.contains("Expand"),
      "the bitmap path must not fall back to a distinct-rewrite Expand")

    val pr = plan("graph_pagerank_step")
    assert(!pr.contains("Cartesian"))
    assert(pr.contains("BroadcastExchange"),
      "out-degrees must broadcast back onto the edge stream")
    assert(pr.contains("partial_"), "inflow sums must partial-aggregate")
  }

  test("join_interval_bucketed row-equals join_range_interval and keys on the bucket") {
    val bucketed = SparkEntry.queries("join_interval_bucketed")(spark, sf0001).collect()
    val naive = SparkEntry.queries("join_range_interval")(spark, sf0001).collect()
    assert(bucketed.length == naive.length)
    bucketed.zip(naive).foreach { case (b, n) =>
      assert(b == n, s"interval-join divergence: bucketed=$b naive=$n") }
    // The candidate join must be an equi hash/merge join including the
    // bucket key, never a per-user nested loop.
    val p = plan("join_interval_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      "bucketing must make the interval join an equi join")
  }

  test("join_dpp_prune: dim filter becomes a runtime PartitionFilter on the fact scan") {
    val p = plan("join_dpp_prune")
    assert(p.toLowerCase.contains("dynamicpruning"),
      "dynamic partition pruning must inject the dim's surviving keys " +
        "into the partitioned fact scan (3 of 5 dirs never opened)")
    assert(p.contains("BroadcastExchange"), "the filtered dim must broadcast")
  }

  test("corpus_contamination: eval shingles broadcast; corpus shingles never shuffle") {
    // Assert on the physical-plan TREE, not the explain text: the
    // training-side (streamed) child of the broadcast join must contain
    // no shuffle exchange — only post-join aggregation may shuffle.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // AQE wraps the tree in AdaptiveSparkPlanExec (opaque to collect) —
    // plan without it for this structural inspection only.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exec =
      try SparkEntry.queries("corpus_contamination")(spark, sf0001)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val joins = exec.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "the tiny eval side must broadcast into a map-side join")
    val shingleJoin = joins.last // bottom-most broadcast join = the shingle join
    val streamedShuffles = (shingleJoin.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => shingleJoin.left
      case _ => shingleJoin.right
    }).collect { case e: ShuffleExchangeLike => e }
    assert(streamedShuffles.isEmpty,
      "corpus shingles must flow into the broadcast join without an exchange")
  }

  test("etl_validate_constraints: all five violation counters fuse into one aggregate pass") {
    val p = plan("etl_validate_constraints")
    // One scan of orders; the distinct rewrite may add agg levels but a
    // second scan of orders would mean N passes for N checks. Count the
    // detail-section headers (the tree line would double-count each scan).
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "the constraint report must read the table exactly once")
  }

  test("round-7 dedup/vector keys: label-blocked joins, no cartesians, no global-sort windows") {
    // vec_semantic_dedup: centroids broadcast; the within-cluster pair
    // join is a label-keyed equi join (the cell-blocking that keeps
    // SemDeDup off the all-pairs cliff), never a cartesian.
    val sd = plan("vec_semantic_dedup")
    assert(!sd.contains("CartesianProduct"),
      "semantic-dedup pair join must stay label-blocked")
    assert(sd.contains("BroadcastExchange"), "centroid frame must broadcast")

    // vec_knn_graph: same invariant — the kNN candidate join is blocked
    // on label, and the per-node top-3 window is hash-partitioned by
    // node, never a single-partition sort.
    val knn = plan("vec_knn_graph")
    assert(!knn.contains("CartesianProduct"), "kNN join must stay label-blocked")
    assert(!knn.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "per-node ranking must not serialize onto one partition")

    // vec_power_iteration: the matrix-vector product must partial-
    // aggregate (shuffle bounded by dim, not rows).
    val pi = plan("vec_power_iteration")
    assert(pi.contains("partial_"), "per-position sums must partial-aggregate")
    assert(!pi.contains("Window"), "no window sort in the power step")

    // text_pack_sequences: packing windows are per-(lang, shard) — the
    // running sum must run behind hashpartitioning(lang, shard), never a
    // per-lang window (parallelism bounded by |langs| = 4, the round-7
    // scale finding) and never a single-partition one.
    val pk = plan("text_pack_sequences")
    assert("""hashpartitioning\(lang#\d+, shard#\d+""".r.findFirstIn(pk).isDefined,
      "the packing window must shard by (lang, shard)")
    assert(!pk.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "packing must never globally serialize")

    // vec_binary_quantize: 1-row query broadcast + top-k as
    // TakeOrderedAndProject, never a global sort exchange.
    val bq = plan("vec_binary_quantize")
    assert(bq.contains("TakeOrderedAndProject"), "hamming top-10 must be a top-k")
    assert(bq.contains("BroadcastExchange") || bq.contains("BroadcastNestedLoopJoin"),
      "the 1-row query must broadcast")
    assert(!bq.contains("Exchange rangepartitioning"),
      "no global sort for a limit-10")
  }

  test("round-12 keys: heap cuts, broadcast tables, no global sorts or serialized windows") {
    // vec_mips_via_cosine: both cuts (augmented-cosine top-30, exact-ip
    // top-10) must be per-partition heaps; the 1-row M2/query frames
    // broadcast; nothing range-partitions (that would be a global sort).
    val mv = plan("vec_mips_via_cosine")
    assert(mv.contains("TakeOrderedAndProject"), "cuts must be top-k heaps")
    assert(!mv.contains("rangepartitioning("), "no global sort in the MIPS route")
    assert(mv.contains("BroadcastExchange") || mv.contains("BroadcastNestedLoopJoin"),
      "the scalar/query frames must broadcast")

    // text_bpe_apply: the |langs|×5 merge table broadcasts; the per-lang
    // merge-ranking window must shard by lang, never serialize.
    val bpe = plan("text_bpe_apply")
    assert(bpe.contains("BroadcastExchange"), "the merge table must broadcast")
    assert(!bpe.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "merge ranking must not serialize onto one partition")

    // corpus_temperature_sample: probability table broadcast; no
    // cartesian on anything data-sized (the crossJoins are 1-row frames).
    val ts = plan("corpus_temperature_sample")
    assert(ts.contains("BroadcastExchange") || ts.contains("BroadcastNestedLoopJoin"),
      "the probability/total frames must broadcast")
    assert(!ts.contains("CartesianProduct"), "no cartesian on data-sized frames")

    // ts_holt_linear: the daily rollup must partial-aggregate (map-side
    // combine bounds the shuffle at |types|×|days|) and the recursion is
    // a row-local fold — no Window anywhere.
    val hl = plan("ts_holt_linear")
    assert(hl.contains("partial_"), "daily rollup must partial-aggregate")
    assert(!hl.contains("Window"), "the Holt recursion must not plan a window")

    // text_langid_confusion: profile and vote windows shard by their
    // partition keys; the |langs|² rollup must never serialize.
    val lc = plan("text_langid_confusion")
    assert(!lc.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "confusion windows must stay key-partitioned")
    assert(lc.contains("BroadcastExchange"), "the profile table must broadcast")
  }

  test("incremental dedup: batch bands broadcast, argmin partial-aggregates, no cartesian") {
    // The incremental asymmetry IS the op: the batch side must broadcast
    // so the existing corpus streams map-side and never shuffles for
    // candidate generation; the best-match pick must be a partial-
    // aggregating min(struct), not a window.
    val p = plan("text_dedup_incremental")
    assert(p.contains("BroadcastExchange"), "the batch band keys must broadcast")
    assert(!p.contains("CartesianProduct"), "candidates must stay band-keyed")
    assert(p.contains("partial_min"), "best-match argmin must partial-aggregate")
  }

  test("batched ANN: per-query ranking shards by qid, routing tables broadcast") {
    // The production retrieval shape: ranking parallelism must scale with
    // |queries| (window behind hashpartitioning(qid)), never serialize
    // onto one partition, and the query/routing frames must broadcast so
    // the only corpus-sized motion is the label-keyed candidate join.
    val p = plan("vec_ivf_batch_topk")
    assert("hashpartitioning\\(qid#\\d+".r.findFirstIn(p).isDefined,
      "the re-rank window must partition by query id")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "per-query ranking must never serialize onto one partition")
    assert(p.contains("BroadcastExchange"),
      "the query/routing frames must broadcast")
  }

  test("z-order at-scale write path: range exchange, no window, no global sort, disjoint buckets") {
    // src_zorder_write's oracle-checked layout uses NTILE (deterministic,
    // single-partition window — fine at verification SFs, fatal at
    // 100 TB). The scale path (SourceOps.zorderScaleFrame) must place
    // rows with a SAMPLED range exchange and per-partition sorts only.
    val df = ops.SourceOps.zorderScaleFrame(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("rangepartitioning("),
      "rows must be placed by the sampled range partitioner")
    assert(!p.contains("Window"), "no NTILE/window in the scale write path")
    // Formatted Sort arguments end "…], <global>, 0" — a true flag would
    // be a global total sort.
    assert(!"\\], true, 0".r.findFirstIn(p).isDefined,
      "the scale path must sort within partitions only")
    // The property the layout exists for: per-bucket z ranges pairwise
    // disjoint, so a z-range predicate prunes whole buckets on read.
    val boxes = df.groupBy("zbucket")
      .agg(org.apache.spark.sql.functions.min("z").as("lo"),
        org.apache.spark.sql.functions.max("z").as("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(boxes.length > 1, "range placement must actually spread buckets")
    boxes.sliding(2).foreach {
      case Array((b1, _, hi1), (b2, lo2, _)) =>
        assert(hi1 <= lo2, s"bucket $b1 (hi=$hi1) overlaps bucket $b2 (lo=$lo2)")
      case _ => ()
    }
  }

  test("text_dup_spans: span counts two-phase, flag join keyed, no cartesian") {
    val p = plan("text_dup_spans")
    assert(p.contains("partial_"),
      "span→doc-count must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the dup-flag join must stay a keyed equi join")
    // The exploded span frame is checkpointed once — both the count and
    // flag branches must read the materialized RDD, never re-run the
    // split/md5/explode from parquet per branch.
    assert(p.contains("ExistingRDD") && !p.contains("Scan parquet"),
      "both branches must consume the one materialized span frame")
  }

  test("text_bigram_likelihood: one corpus scan, bigram counts from a (lang, k) window") {
    val p = plan("text_bigram_likelihood")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "the corpus must be scanned exactly once")
    assert("""\(\d+\) Window\b""".r.findFirstIn(p).isDefined &&
        """hashpartitioning\(lang#\d+, k#\d+""".r.findFirstIn(p).isDefined,
      "each bigram's corpus count must come from a window partitioned by (lang, k)")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "no model self-join")
    assert(!p.contains("ExistingRDD"),
      "the exploded corpus must not be checkpointed")
    assert(p.contains("partial_"),
      "the per-doc sums must partial-aggregate map-side")
  }

  test("k-means round and trained cell sums aggregate with vec_sum, never explode") {
    def formatted(df: DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val round = formatted(ops.PipelineOps.innerProbes("vec_kmeans_round1_inner")(spark, sf0001))
    val q = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("qv"))
    val assign = Tables.t(spark, sf0001, "embeddings").select(col("vec_id"), col("label").as("c"))
    val sums = formatted(ops.PipelineOps.trainedCellSums(q, assign))
    for ((name, p) <- Seq("k-means round" -> round, "trainedCellSums" -> sums)) {
      assert(p.contains("vec_sum"), s"$name must sum with vec_sum:\n$p")
      assert(!p.contains("Generate"), s"$name must not explode vectors to rows:\n$p")
    }
    assert("hashpartitioning\\(".r.findAllIn(round).size == 1,
      s"a k-means round has one exchange, the partial sums':\n$round")
  }

  test("round-8 keys: kmeans state checkpointed, KS window sharded per group, triangles keyed, recall top-k") {
    // vec_kmeans_train: the iteration state (quantized vectors + final
    // assignment) is materialized — the returned report joins two
    // ExistingRDD leaves and partial-aggregates; per-iteration centroid
    // broadcasts happened eagerly inside the loop (each round's plan is
    // gone by the time the report plans, by design: checkpoints truncate).
    val km = plan("vec_kmeans_train")
    assert(km.contains("ExistingRDD"),
      "the training state must be checkpointed, not re-derived")
    assert(km.contains("partial_"), "the membership report must partial-aggregate")
    assert(!km.contains("CartesianProduct"))

    // quality_ks_drift: the cumulative-count window shards by group —
    // never a single-partition sort — and the per-value counts
    // partial-aggregate before the shuffle.
    val ks = plan("quality_ks_drift")
    assert("""hashpartitioning\(grp#\d+""".r.findFirstIn(ks).isDefined,
      "the KS cumulative window must shard by group")
    assert(!ks.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "the KS pass must never globally serialize")
    assert(ks.contains("partial_"), "per-value counts must partial-aggregate")

    // graph_triangle_count: wedge + closure are keyed equi joins over the
    // checkpointed mutual edge set; nothing cartesian.
    val tc = plan("graph_triangle_count")
    assert(!tc.contains("CartesianProduct"), "wedge/closure joins must stay keyed")
    assert(tc.contains("ExistingRDD"),
      "the mutual edge set must be materialized once for its three consumers")

    // vec_recall_eval: both top-10 cuts are top-k operators, and the
    // query/cell frames broadcast into the scans.
    val re = plan("vec_recall_eval")
    assert(re.contains("TakeOrderedAndProject"),
      "top-10 cuts must be top-k, not global sorts")
    assert(re.contains("BroadcastExchange") || re.contains("BroadcastNestedLoopJoin"),
      "query vector and probed cells must broadcast")
  }

  test("round-8 batch 2: cumulative-distinct sharded, attribution on native asof, batched stub keeps one scan") {
    // win_cumulative_distinct: the running-sum window shards by
    // event_type over ALREADY-AGGREGATED (type, day) rows; both upstream
    // aggregates partial-aggregate map-side.
    val cd = plan("win_cumulative_distinct")
    assert("""hashpartitioning\(event_type#\d+""".r.findFirstIn(cd).isDefined,
      "the cumulative window must shard by event_type")
    assert(cd.contains("partial_"), "first-seen/daily counts must partial-aggregate")
    assert(!cd.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "no global serialization in the growth-curve pass")

    // ts_attribution_last_touch: the purchase→click lookup must run on
    // the custom native as-of operator, not a window-over-union rewrite.
    val at = plan("ts_attribution_last_touch")
    assert(at.contains("AsOfJoin"),
      "attribution must execute on the native as-of operator")
    assert(at.contains("partial_"), "the bucket rollup must partial-aggregate")

    // multimodal_infer_batched: one parquet scan feeding the imperative
    // batch seam — no second scan, no shuffle before the output sort.
    val ib = plan("multimodal_infer_batched")
    assert(ib.contains("MapPartitions"), "the batch seam must be a mapPartitions")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(ib).size == 1,
      "the inference pass must read the corpus exactly once")
  }

  test("round-8 batch 3: matryoshka top-k, novelty over the shared span frame, backtest over aggregates") {
    // vec_matryoshka_recall: both rankings are top-k cuts with the
    // query broadcast — never a global sort.
    val mr = plan("vec_matryoshka_recall")
    assert(mr.contains("TakeOrderedAndProject"),
      "full + truncated top-10 must be top-k operators")
    assert(mr.contains("BroadcastExchange") || mr.contains("BroadcastNestedLoopJoin"),
      "the query vector must broadcast")

    // text_span_novelty: consumes the one checkpointed span frame (no
    // parquet re-scan) and the first-introducer min partial-aggregates.
    val nv = plan("text_span_novelty")
    assert(nv.contains("ExistingRDD") && !nv.contains("Scan parquet"),
      "novelty must read the shared materialized span frame")
    assert(nv.contains("partial_"), "per-span min must partial-aggregate")
    assert(!nv.contains("CartesianProduct") && !nv.contains("BroadcastNestedLoopJoin"),
      "the first-introducer join must stay keyed")

    // ts_forecast_eval_naive: the eval join runs over the aggregated
    // hourly frame with a keyed equi join; everything partial-aggregates.
    val fe = plan("ts_forecast_eval_naive")
    assert(fe.contains("partial_"), "hourly counts + MAE rollup must partial-aggregate")
    assert(!fe.contains("CartesianProduct") && !fe.contains("BroadcastNestedLoopJoin"),
      "the 24h-shift eval join must stay a keyed equi join")
  }

  test("round-8 batch 4: profile is one scan, tolerance asof stays native") {
    // quality_column_profile: one single-column aggregate branch per
    // profiled column (round 10 — the shared-Expand multi-distinct was
    // 2.5× slower), each over a column-pruned scan with NO Expand, all
    // partial-aggregated.
    val cp = plan("quality_column_profile")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(cp).size == 5,
      "the profile must read one pruned scan per profiled column")
    assert(!cp.contains("Expand"),
      "no branch may pay the multi-distinct expand rewrite")
    assert(cp.contains("partial_"), "profile measures must partial-aggregate")
    // Each branch's scan must prune to (at most) its own column — a
    // full-width ReadSchema anywhere means pruning regressed.
    assert(!cp.contains("o_orderpriority"),
      "no branch may read columns outside the profiled five")

    // join_asof_tolerance: still the native operator; the tolerance is a
    // projection, not a different join.
    val tol = plan("join_asof_tolerance")
    assert(tol.contains("AsOfJoin"),
      "the tolerance variant must execute on the native as-of operator")
  }

  test("round-9 batch 1: sharded windows, blocked linkage stays keyed, centroids broadcast") {
    // win_gaps_islands: the one window shards by user_id — never a
    // single-partition pass — and the distinct + island aggs partial-agg.
    val gi = plan("win_gaps_islands")
    assert("""hashpartitioning\(user_id#\d+""".r.findFirstIn(gi).isDefined,
      "the islands window must shard by user_id")
    assert(!gi.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "no global serialization anywhere in the islands pass")
    assert(gi.contains("partial_"), "active-day distinct must partial-aggregate")

    // win_pareto_abc: the unavoidable global-ordered window consumes the
    // customer-level aggregate, which itself partial-aggregates; the
    // grand total broadcasts.
    val pa = plan("win_pareto_abc")
    assert(pa.contains("partial_"), "customer revenue rollup must partial-aggregate")
    assert(pa.contains("BroadcastExchange") || pa.contains("BroadcastNestedLoopJoin"),
      "the scalar grand total must broadcast")

    // link_fuzzy_blocked: the pair generator is a keyed equi join on the
    // block key — never a cartesian — and the audit partial-aggregates.
    // Round-9: the equi keys must include the name-prefix bucket (nblk),
    // the cardinality-scaling axis that bounds per-block volume as the
    // table grows; (nation, segment) alone is a fixed 125-way split.
    val lf = plan("link_fuzzy_blocked")
    assert(!lf.contains("CartesianProduct") && !lf.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must come from the block-key equi join only")
    assert(lf.contains("partial_"), "the linkage audit must partial-aggregate")
    // (At sf0.001 the dim broadcasts, so pin the equi-join KEY list — the
    // clustering key on a shuffle plan — rather than a hashpartitioning.)
    assert("""Left keys \[\d+\]: \[[^\]]*nblk#\d+""".r.findFirstIn(lf).isDefined,
      "the pair join must key on the name-prefix bucket, not only (nation, segment)")

    // sample_split_train_test: row-local bucketing — one scan, no join,
    // report partial-aggregates.
    val sp = plan("sample_split_train_test")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(sp).size == 1,
      "the split must read documents exactly once")
    assert(sp.contains("partial_"), "the composition report must partial-aggregate")

    // corpus_token_budget: the greedy window shards by (lang, source).
    val tb = plan("corpus_token_budget")
    assert("""hashpartitioning\(lang#\d+, source#\d+""".r.findFirstIn(tb).isDefined,
      "the budget window must shard by (lang, source)")
    assert(!tb.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "token-budget selection must never globally serialize")

    // vec_silhouette: the centroid frame broadcasts; point scoring is
    // map-side (the only shuffles build the centroids and the report).
    val sl = plan("vec_silhouette")
    assert(sl.contains("BroadcastExchange") || sl.contains("BroadcastNestedLoopJoin"),
      "the |labels|×|dims| centroid frame must broadcast")
    assert(sl.contains("partial_"), "centroid build must partial-aggregate")
  }

  test("round-9 batch 1: seasonal profiles aggregate before their windows") {
    // ts_dow_profile: two-level aggregation — both levels partial — and
    // one scan of events.
    val dp = plan("ts_dow_profile")
    assert(dp.contains("partial_"), "daily rollup must partial-aggregate")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(dp).size == 1,
      "the profile must read events exactly once")

    // ts_yoy_growth: the lag window shards by month-of-year, not a
    // global ordered pass.
    val yg = plan("ts_yoy_growth")
    assert("""hashpartitioning\(mo#\d+""".r.findFirstIn(yg).isDefined,
      "the YoY lag window must shard by month-of-year")
    assert(!yg.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "the YoY pass must never globally serialize")
    assert(yg.contains("partial_"), "monthly revenue must partial-aggregate")

    // ts_rolling_median: the 7-row percentile frame runs on the daily
    // aggregate, windowed per event_type.
    val rm = plan("ts_rolling_median")
    assert("""hashpartitioning\(event_type#\d+""".r.findFirstIn(rm).isDefined,
      "the rolling-median window must shard by event_type")
    assert(rm.contains("partial_"), "daily counts must partial-aggregate")

    // text_char_entropy: the per-doc fold is entirely row-local — no
    // explode, no per-bigram shuffle; the one exchange is the |langs|-row
    // report agg.
    val ce = plan("text_char_entropy")
    assert(ce.contains("partial_"), "the lang report must partial-aggregate")
    assert(!ce.contains("Generate"),
      "per-doc entropy must fold in-row, never explode bigrams to rows")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(ce).size == 1,
      "entropy must read documents exactly once")
  }

  test("round-9 batch 2: stats windows on aggregates, keyed linkage joins, CC on the checkpointed edges") {
    // ts_acf: the lag windows shard by event_type and run over the daily
    // aggregate; the Pearson sums partial-aggregate.
    val ac = plan("ts_acf")
    assert("""hashpartitioning\(event_type#\d+""".r.findFirstIn(ac).isDefined,
      "the ACF lag window must shard by event_type")
    assert(!ac.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "the ACF pass must never globally serialize")
    assert(ac.contains("partial_"), "daily counts + moment sums must partial-aggregate")

    // ts_transition_matrix: the lead window shards by user_id; the
    // normalization window runs on the |types|² aggregate keyed by src.
    val tm = plan("ts_transition_matrix")
    assert("""hashpartitioning\(user_id#\d+""".r.findFirstIn(tm).isDefined,
      "the lead window must shard by user_id")
    assert("""hashpartitioning\(src#\d+""".r.findFirstIn(tm).isDefined,
      "the probability normalization must shard by src")
    assert(tm.contains("partial_"), "transition counts must partial-aggregate")

    // ts_interval_union: one user_id shuffle serves both sweep windows;
    // one scan of events.
    val iu = plan("ts_interval_union")
    assert("""hashpartitioning\(user_id#\d+""".r.findFirstIn(iu).isDefined,
      "the sweep windows must shard by user_id")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(iu).size == 1,
      "interval union must read events exactly once")
    assert(iu.contains("partial_"), "the coverage report must partial-aggregate")

    // quality_benford: one scan, partial-aggregated digit counts, the
    // 9-row total broadcast back.
    val bf = plan("quality_benford")
    assert(bf.contains("partial_"), "digit counts must partial-aggregate")
    assert(bf.contains("BroadcastExchange") || bf.contains("BroadcastNestedLoopJoin"),
      "the scalar total must broadcast")

    // etl_late_arriving_dim: both phases are keyed left joins — no
    // cartesian anywhere — merged by one full-outer on the segment.
    val la = plan("etl_late_arriving_dim")
    assert(!la.contains("CartesianProduct"))
    assert(la.contains("FullOuter"), "load/final phases must merge full-outer")
    assert(la.contains("partial_"), "both phase rollups must partial-aggregate")

    // graph_connected_components: consumes the checkpointed mutual edge
    // set and the converged label frame — no cartesian, no re-derivation
    // of the kNN build in the output plan.
    val cc = plan("graph_connected_components")
    assert(cc.contains("ExistingRDD"),
      "CC must read the materialized labels/edges, not re-derive the kNN join")
    assert(!cc.contains("CartesianProduct"))
  }

  test("stat tests: one-scan moment aggregates, contingency windows on the cell grid") {
    // agg_welch_ttest: all six conditional moments come from ONE scan +
    // one partial-aggregating node; the t/df algebra is a projection.
    val wt = plan("agg_welch_ttest")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(wt).size == 1,
      "the t-test must read orders exactly once")
    assert(wt.contains("partial_"), "moment sums must partial-aggregate")
    assert(wt.contains("PushedFilters: [In(o_orderpriority"),
      "the two-group filter must reach the scan")

    // agg_chi_square: the observed-cell aggregate is materialized once
    // (orders scanned exactly once, at build time); the margins/grid/
    // statistic all run over the |levels|² ExistingRDD.
    val cs = plan("agg_chi_square")
    assert(cs.contains("ExistingRDD"),
      "the cell aggregate must be materialized for its three consumers")
    assert(!cs.contains("Scan parquet"),
      "no consumer may re-scan orders — the cells carry everything")
  }

  test("gini rank window shards by group; checksum audit stays keyed and partial-aggregated") {
    val g = plan("agg_gini")
    assert("""hashpartitioning\(o_orderpriority#\d+""".r.findFirstIn(g).isDefined,
      "the Lorenz rank window must shard by priority class")
    assert(g.contains("partial_"), "Σx and Σi·x must partial-aggregate")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(g).size == 1,
      "gini must read orders exactly once")

    val ck = plan("etl_table_checksum")
    assert(ck.contains("partial_"), "per-partition digests must partial-aggregate")
    assert(!ck.contains("CartesianProduct") && !ck.contains("BroadcastNestedLoopJoin"),
      "the src↔replica comparison must stay a keyed join")
  }

  test("win_range_time_frame: interval-range window shards by type over one scan") {
    val p = plan("win_range_time_frame")
    assert("""hashpartitioning\(event_type#\d+""".r.findFirstIn(p).isDefined,
      "the time-range window must shard by event_type")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "the sliding aggregate must read events exactly once")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "no global serialization in the time-range pass")
  }

  test("etl_cdc_apply plans exactly one full-outer join, no cartesian") {
    val p = plan("etl_cdc_apply")
    assert(p.contains("FullOuter"), "base↔latest must merge with one full-outer join")
    assert("""Join""".r.findAllIn(
      SparkEntry.queries("etl_cdc_apply")(spark, sf0001)
        .queryExecution.optimizedPlan.toString).size == 1,
      "exactly one join in the CDC merge")
    assert(!p.contains("CartesianProduct"))
  }

  test("mann-whitney ranks the value aggregate, never the raw table") {
    val p = plan("agg_mann_whitney")
    // The checkpointed value-level frame breaks lineage: the rank math
    // must see no parquet scan at all (orders was read once at build).
    assert(!p.contains("Scan parquet"),
      "rank windows must run on the materialized distinct-cents frame")
    assert("""hashpartitioning\(band#\d+""".r.findFirstIn(p).isDefined,
      "the in-band prefix sum must shard by price band")
    assert(p.contains("partial_"), "moment sums must partial-aggregate")
  }

  test("survival/xcorr: curve math runs on day-level aggregates off one materialized pass") {
    val km = plan("ts_survival_km")
    assert(!km.contains("Scan parquet"),
      "the horizon and subjects must both come from the checkpointed per-user frame")
    assert(km.contains("partial_"), "per-day (d,c) counts must partial-aggregate")

    val xc = plan("ts_xcorr")
    assert(!xc.contains("Scan parquet"),
      "spine and both series must come from the checkpointed daily frame")
    assert(!xc.contains("CartesianProduct"),
      "the lag fan-out must stay a broadcast nested-loop over 8 rows, not a cartesian shuffle")
  }

  test("MAD anomaly shards its frame windows by event_type over one scan") {
    val p = plan("ts_anomaly_mad")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "daily aggregate must read events exactly once")
    assert("""hashpartitioning\(event_type#\d+""".r.findFirstIn(p).isDefined,
      "the rolling frame must shard by event_type")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "no global serialization in the MAD pass")
  }

  test("label propagation runs on the shared edge checkpoint with keyed aggregates only") {
    val p = plan("graph_label_prop_step")
    assert(!p.contains("Scan parquet"),
      "the step must reuse the checkpointed mutual-knn edges, not rebuild them")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "mode-picking is hash aggregation — no join at all in the step")
    assert(p.contains("partial_"), "neighbor-class counts must partial-aggregate")
  }

  test("auc ranks the distinct-score aggregate; mips top-k heaps without a global sort") {
    val auc = plan("vec_auc_roc")
    assert(!auc.contains("Scan parquet"),
      "rank math must run on the materialized distinct-score frame")
    assert("""hashpartitioning\(band#\d+""".r.findFirstIn(auc).isDefined,
      "the in-band prefix sum must shard by score band")

    val mips = plan("vec_mips_topk")
    assert(mips.contains("TakeOrderedAndProject"),
      "top-k must be a per-partition heap, not a global sort")
    assert(!mips.contains("CartesianProduct"),
      "the single-row query side must broadcast")
  }

  test("log histogram / freshness / bitemporal keep their scans minimal and keyed") {
    val h = plan("agg_log_histogram")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(h).size == 1,
      "the bucket aggregate must read lineitem exactly once")
    assert(h.contains("partial_"), "bucket counters must map-side combine")

    val f = plan("quality_freshness_report")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(f).size == 1,
      "the per-type aggregate must read events exactly once")
    assert(f.contains("partial_"), "high-water marks must partial-aggregate")

    val b = plan("etl_bitemporal_asof")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(b).size == 2,
      "the two tx versions are two filtered branches of orders — no more")
    assert(!b.contains("CartesianProduct"),
      "the probe fan-out must broadcast its two rows")
  }

  test("dau/wau runs two-level distinct aggregates off one materialized user-day frame") {
    val p = plan("ts_active_users_rolling")
    assert(!p.contains("Scan parquet"),
      "dau and wau must both come from the checkpointed (user, day) frame")
    assert(p.contains("partial_"), "distinct counts must partial-aggregate")
    assert(!p.contains("Window"),
      "rolling distinct must use the explode-into-window-days trick, not a frame window")
  }

  test("drawdown shards by priority over one scan; maxsim stays row-local into a heap") {
    val d = plan("win_drawdown")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(d).size == 1,
      "the daily aggregate must read orders exactly once")
    assert("""hashpartitioning\(o_orderpriority#\d+""".r.findFirstIn(d).isDefined,
      "the running-peak window must shard by priority")

    val m = plan("vec_maxsim_topk")
    assert(m.contains("TakeOrderedAndProject"),
      "top-k must be a per-partition heap, not a global sort")
    assert(!m.contains("Generate"),
      "the 4x4 MaxSim grid must be row-local HOFs, never an explode")
  }

  test("readability is one codegen'd scan into a partial-aggregating rollup") {
    val p = plan("text_readability")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "documents must be read exactly once")
    assert(p.contains("partial_"), "per-language counters must partial-aggregate")
    assert(!p.contains("Window"), "no window pass — the rollup is pure aggregation")
  }

  test("anova is one scan; trend tests read the shared checkpointed monthly frame") {
    val a = plan("agg_anova_f")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(a).size == 1,
      "the group moments must come from exactly one orders scan")
    assert(a.contains("partial_"), "moments must partial-aggregate")

    // Both trend ops consume the SAME materialized (grp, t, cents) frame:
    // no parquet rescan per branch, and the months-pair join stays
    // equi-keyed on grp (bounded by the TIME domain, never by rows).
    Seq("ts_mann_kendall", "ts_theil_sen").foreach { k =>
      val p = plan(k)
      assert(!p.contains("Scan parquet"),
        s"$k must read the checkpointed monthly rollup, not re-scan orders")
      assert(!p.contains("CartesianProduct"),
        s"$k pair join must stay grp-keyed")
    }
  }

  test("pmi reads the checkpointed bigram-TYPE frame; margins never rescan the corpus") {
    val p = plan("text_cooccurrence_pmi")
    assert(!p.contains("Scan parquet"),
      "the corpus is scanned once at bigram-frame build; the query must not rescan it")
    assert(!p.contains("CartesianProduct"),
      "the N scalar must broadcast, not cartesian")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 by ratio must be a per-partition heap, not a global sort")
  }

  test("rrf and ndcg fuse TakeOrdered heap legs; adamic-adar stays on the edge frame") {
    val r = plan("vec_rrf_fusion")
    assert("TakeOrderedAndProject".r.findAllIn(r).size >= 2,
      "both retriever legs must be per-partition heaps")
    assert(!r.contains("CartesianProduct"))

    val n = plan("vec_ndcg_eval")
    assert("TakeOrderedAndProject".r.findAllIn(n).size >= 2,
      "exact and ivf rankings must be per-partition heaps")
    assert(!n.contains("CartesianProduct"))

    val g = plan("graph_adamic_adar")
    assert(!g.contains("Scan parquet"),
      "embeddings are scanned once at mutual-edge build; the two-hop query must not")
    assert(!g.contains("CartesianProduct") && !g.contains("BroadcastNestedLoopJoin"),
      "the two-hop and anti joins must stay equi-keyed (degree-bounded)")
  }

  test("lm perplexity and zipf fit read the shared token-tf checkpoint, never rescan") {
    // Both consume the [[PipelineOps.tokenTf]] inverted-index frame: the
    // corpus is scanned exactly once at its build, and every downstream
    // stage (vocabulary agg, tf⋈vocab join, rank window) runs on the
    // compact checkpointed artifact.
    val p = plan("text_lm_perplexity")
    assert(!p.contains("Scan parquet"),
      "the corpus is scanned once at token-tf build; the query must not rescan it")
    assert(!p.contains("CartesianProduct"),
      "the N scalar must broadcast, not cartesian")

    val z = plan("text_zipf_fit")
    assert(!z.contains("Scan parquet"),
      "zipf term counts must come from the shared token-tf checkpoint")
    assert(!z.contains("CartesianProduct"))
  }

  test("gram matrix is one scan collapsed by the custom partial-aggregating gram aggregate") {
    // The d²-bounded shuffle property: each partition accumulates ONE
    // flat buffer (GramMatrixAgg) and ships it as its partial — only
    // d²·|partitions| longs ever cross the wire, regardless of corpus
    // size — and no per-row triangle explode exists anywhere upstream of
    // the aggregate (round 10: the explode's d(d+1)/2 interpreted struct
    // allocations per row were the key's whole cost).
    val g = plan("vec_gram_matrix")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(g).size == 1,
      "exactly one embeddings scan")
    assert(g.contains("partial_gram_matrix_agg"),
      "the gram aggregate must partial-aggregate (map-side buffer)")
    assert(g.contains("ObjectHashAggregate"),
      "the typed buffer aggregate must run as ObjectHashAggregate")
    // Exactly one Generate (the post-aggregate cell explode over one
    // d²-sized array row) — a pre-aggregate explode would be per-row.
    assert("""\(\d+\) Generate""".r.findAllIn(g).size == 1,
      "only the post-aggregate cell explode may Generate")
    assert(!g.contains("CartesianProduct"))
  }

  test("corr matrix and seasonal strength are single-scan; mrr top-k is salt-sharded") {
    val c = plan("agg_corr_matrix")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(c).size == 1,
      "all 10 moments must come from exactly one lineitem scan")
    assert(c.contains("partial_"), "moments must partial-aggregate")
    assert(!c.contains("Window"), "no window pass — the matrix is pure aggregation")

    val t = plan("ts_seasonal_strength")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(t).size == 1,
      "events must be read exactly once; windows/rollups run on the daily frame")
    assert(t.contains("partial_"), "daily counts must partial-aggregate")

    val m = plan("vec_mrr_eval")
    assert(!m.contains("CartesianProduct"))
    assert("""hashpartitioning\(qid#\d+L?, salt#\d+""".r.findFirstIn(m).isDefined,
      "the first top-k level must shard by (query, salt), not funnel by query alone")
  }

  test("round-13 keys: IVF routes keyed, bootstrap sharded, manifest/probe windows partitioned") {
    // vec_ivf_trained_topk / vec_ivf_pq_topk: candidate access is keyed
    // equi joins through the trained assignment — nothing cartesian on
    // data-sized frames (the only BNLJ-able frames are 1-row query
    // broadcasts).
    Seq("vec_ivf_trained_topk", "vec_ivf_pq_topk").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: candidate joins must stay keyed")
    }

    // agg_bootstrap_ci: the (grp, b) resample cells must partial-aggregate
    // map-side (the one-pass property IS the op), and the percentile
    // window shards by group — never a global sort.
    val bs = plan("agg_bootstrap_ci")
    assert(bs.contains("partial_"), "resample cells must partial-aggregate")
    assert("""hashpartitioning\(grp#\d+""".r.findFirstIn(bs).isDefined,
      "the percentile window must shard by group")
    assert(!bs.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "no global serialization anywhere in the bootstrap pass")

    // multimodal_shard_manifest: the pack-order running sum shards by
    // lang (a global pack order would single-partition the window).
    val sm = plan("multimodal_shard_manifest")
    assert("""hashpartitioning\(lang#\d+""".r.findFirstIn(sm).isDefined,
      "the shard-offset window must shard by language stream")

    // vec_ivf_probe_sweep: the per-level top-10 shards by nprobe.
    val ps = plan("vec_ivf_probe_sweep")
    assert("""hashpartitioning\(nprobe#\d+""".r.findFirstIn(ps).isDefined,
      "the per-probe-level ranking must shard by nprobe")

    // text_novelty_curve: first-batch aggregate and batch rollup both
    // partial-aggregate; nothing cartesian.
    val nc = plan("text_novelty_curve")
    assert(nc.contains("partial_"), "span aggregates must partial-aggregate")
    assert(!nc.contains("CartesianProduct"))
  }

  test("kruskal-wallis reads the checkpointed value frame; hashing-tfidf shards by doc") {
    val k = plan("agg_kruskal_wallis")
    assert(!k.contains("Scan parquet"),
      "all rank math must run on the checkpointed (cents, grp) frame — one orders scan at build")
    assert(!k.contains("CartesianProduct"),
      "the single-row ties frame must broadcast")

    val h = plan("text_hashing_tfidf")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(h).size == 1,
      "the token explosion is checkpointed; only the N scalar re-touches documents")
    assert(h.contains("partial_"), "tf/df counts must partial-aggregate")
    assert("""hashpartitioning\(doc_id#\d+L?[,)]""".r.findFirstIn(h).isDefined,
      "the argmax/norm windows must shard by doc_id")
  }
}
