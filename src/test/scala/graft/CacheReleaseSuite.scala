package graft

import graft.Cut.CutOps
import org.scalatest.funsuite.AnyFunSuite

/** The shared checkpoint caches (simhash sigs/edges/labels, n-gram
  * shingles) must not pin block-manager blocks past their last consumer —
  * round 4 measured monotone block growth across the 132-key bench as the
  * plausible cause of downstream-key inflation. This suite drives the
  * consumer keys the way Bench does (run key → Caches.keyDone) and
  * asserts the registry entries (and hence their blocks) are gone.
  *
  * Each test calls Caches.releaseAll first so it is self-contained:
  * correctness does not depend on test order, and the assertions are on
  * THIS suite's registry entries rather than a global pinned-RDD count
  * that another suite's concurrent checkpoint could legitimately bump.
  */
class CacheReleaseSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private val simFamily = Seq(
    "text_simhash", "text_simhash_neardup", "text_simhash_radius_sweep",
    "text_dedup_clusters", "text_dedup_keep_best", "text_dedup_incremental",
    "corpus_prep_pipeline_v2", // round 16: the capstone v2 rides the same caches
    "corpus_prep_pipeline_v3", // round 19: v3 adds decontamination + IVF SemDeDup
    "corpus_dedup_weighted", // round 19: soft-dedup upweighting off the labels
    "vec_index_persist_reload") // round 17: persists the signature table

  test("simhash-family caches release after their last consumer key") {
    Caches.releaseAll(spark, dir)
    // Residency check is meaningful because suites run sequentially in
    // the forked JVM (Test / testForkedParallel := false in build.sbt).
    val pinnedBefore = Caches.pinnedRddCount(spark)
    simFamily.foreach { k =>
      assert(SparkEntry.queries(k)(spark, dir).count() > 0, s"$k returned 0 rows")
      Caches.keyDone(spark, dir, k)
    }
    val live = Caches.activeEntries(spark, dir)
    assert(!live.exists(Set("simhash_sigs", "simhash_edges", "cluster_labels")),
      s"simhash-family caches still pinned after their last consumer: $live")
    // vec_index_persist_reload (round 17) also builds the kmeans_trained
    // pair, whose OTHER consumers don't run in this test — report them
    // done (bookkeeping only, as a full Bench/Verify pass would) so the
    // block count below measures the sim family, not the kmeans cache's
    // legitimate residency. Round 19: the set includes the whole
    // graph/walk family (the trained quantizer now blocks the kNN-graph
    // fixture builds).
    Seq("vec_kmeans_train", "vec_ivf_trained_topk", "vec_ivf_pq_topk",
      "vec_ivf_probe_sweep", "vec_pq_residual_topk", "vec_ivf_cell_stats",
      "vec_index_delete", "vec_knn_graph_ivf", "vec_ivf_merge_shards",
      "vec_semantic_dedup_ivf",
      "graph_scc", "graph_triangle_count", "graph_connected_components",
      "graph_label_prop_step", "graph_adamic_adar", "vec_graph_greedy_search",
      "vec_graph_beam_search", "graph_louvain_step", "graph_louvain_converge",
      "graph_louvain_multilevel", "graph_kcore_peel", "vec_hnsw_search",
      "vec_hnsw_build", "graph_bfs_hops", "graph_modularity",
      "vec_hnsw_batch_search", "vec_hnsw_persist_search",
      "graph_pagerank_persist_serve")
      .foreach(Caches.keyDone(spark, dir, _))
    // Entry removal alone would pass even if the release closure stopped
    // unpersisting — assert the block-manager blocks actually went away.
    val pinnedAfter = Caches.pinnedRddCount(spark)
    assert(pinnedAfter <= pinnedBefore,
      s"pinned RDDs grew across the simhash family: $pinnedBefore -> $pinnedAfter")
  }

  test("persisted-index reload serves cache-cold: zero family checkpoints touched") {
    Caches.releaseAll(spark, dir)
    // Run the persist/reload key once (it trains in-session and writes
    // the parquet sidecars), then drop EVERY tracked cache and serve the
    // trained-IVF query again FROM THE SIDECARS ONLY. The reload path
    // must (a) register no tracked cache entry — the artifact, not a
    // session checkpoint, is the index — and (b) return exactly the
    // in-session top-10, the reload-equality contract the op's
    // reload_matches_session flag asserts in-band.
    val op = SparkEntry.queries("vec_index_persist_reload")(spark, dir).collect()
    assert(op.nonEmpty && op.forall(_.getBoolean(4)),
      "reload_matches_session must be true on every row")
    val root = ops.PipelineOps.lastPersistRoot(spark, dir)
    Caches.releaseAll(spark, dir)
    val entriesBefore = Caches.activeEntries(spark, dir)
    val served = ops.PipelineOps.ivfProbeServe(spark, dir,
        spark.read.parquet(s"$root/ivf_assign"),
        ops.PipelineOps.centroidsFromSums(
          spark.read.parquet(s"$root/ivf_cell_sums")))
      .collect()
    assert(Caches.activeEntries(spark, dir) == entriesBefore,
      "the reload serve path registered a tracked cache — it must touch none")
    val want = op.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val got = served.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == want, s"cache-cold reload serve diverged: got=$got want=$want")
  }

  test("restricted schedule: a single-key vec_graph_greedy_search run pins nothing") {
    // Round-16 advice item 2 (closed round 18): a restricted pass
    // (Verify/InvarianceSweep key subset, a dev loop) declares its
    // schedule, so mutual_knn_edges (and, since round 19, the
    // kmeans_trained pair its build routes through) — whose full
    // consumer sets name 16+ keys that will never run here — release at
    // THIS key's keyDone instead of pinning blocks until session death.
    Caches.releaseAll(spark, dir)
    Caches.schedule(spark, dir, Set("vec_graph_greedy_search"))
    try {
      val pinnedBefore = Caches.pinnedRddCount(spark)
      assert(SparkEntry.queries("vec_graph_greedy_search")(spark, dir).count() > 0)
      Caches.keyDone(spark, dir, "vec_graph_greedy_search")
      val live = Caches.activeEntries(spark, dir)
      assert(live.isEmpty,
        s"single-scheduled-key run left tracked caches pinned: $live")
      val pinnedAfter = Caches.pinnedRddCount(spark)
      assert(pinnedAfter <= pinnedBefore,
        s"pinned RDDs grew across the single-key run: $pinnedBefore -> $pinnedAfter")
    } finally Caches.releaseAll(spark, dir) // also clears the schedule
  }

  test("ngram shingle checkpoint releases after its consumer key") {
    Caches.releaseAll(spark, dir)
    assert(SparkEntry.queries("text_ngram_jaccard")(spark, dir).count() >= 0)
    Caches.keyDone(spark, dir, "text_ngram_jaccard")
    val live = Caches.activeEntries(spark, dir)
    assert(!live("ngram_shingles"),
      s"ngram_shingles still pinned after text_ngram_jaccard: $live")
  }

  test("token_tf releases at its FOURTH consumer, not before (4-consumer accounting)") {
    Caches.releaseAll(spark, dir)
    // token_tf gained text_lm_perplexity/text_zipf_fit in round 9 and
    // text_oov_rate in round 14 — pin the 4-consumer accounting: the
    // checkpoint must stay live through consumers 1..3 (releasing early
    // would force each later consumer to rebuild it, silently doubling
    // the explode cost) and release exactly when the fourth reports.
    val consumers = Seq("text_hashing_tfidf", "text_lm_perplexity",
      "text_zipf_fit", "text_oov_rate")
    consumers.zipWithIndex.foreach { case (k, i) =>
      assert(SparkEntry.queries(k)(spark, dir).count() > 0, s"$k returned 0 rows")
      Caches.keyDone(spark, dir, k)
      val live = Caches.activeEntries(spark, dir)("token_tf")
      if (i < consumers.size - 1)
        assert(live, s"token_tf released early, after consumer ${i + 1}/4 ($k)")
      else
        assert(!live, "token_tf still pinned after its last consumer")
    }
  }

  test("memo builds distinct keys concurrently but each key at most once") {
    // Round-9 advice: the old map-wide monitor serialized two concurrent
    // queries building DIFFERENT keys. Pin both halves of the fix: two
    // distinct keys' builders must be able to overlap (no convoy), and a
    // racing pair on the SAME key must still run its builder exactly once.
    val cache = scala.collection.concurrent.TrieMap.empty[String, Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      // Builder A blocks until builder B (a different key) completes —
      // impossible under a map-wide lock.
      val fa = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Caches.memo(cache, "a", {
          aEntered.countDown()
          assert(bDone.await(10, java.util.concurrent.TimeUnit.SECONDS),
            "key-b build never ran while key-a build held its lock — convoy")
          builds.incrementAndGet(); 1
        })
      })
      assert(aEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      val fb = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Caches.memo(cache, "b", { builds.incrementAndGet(); 2 })
      })
      assert(fb.get(10, java.util.concurrent.TimeUnit.SECONDS) == 2)
      bDone.countDown()
      assert(fa.get(10, java.util.concurrent.TimeUnit.SECONDS) == 1)
      // Same-key race: N threads, one build.
      val before = builds.get()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fs = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            gate.await(10, java.util.concurrent.TimeUnit.SECONDS)
            Caches.memo(cache, "c", { builds.incrementAndGet(); 3 })
          }
        })
      }
      gate.countDown()
      assert(fs.forall(_.get(10, java.util.concurrent.TimeUnit.SECONDS) == 3))
      assert(builds.get() == before + 1, "same-key race ran the builder more than once")
    } finally pool.shutdownNow()
  }

  test("memo lock entries self-clean on success for any key shape") {
    // Round-11 advice: the stopped-session sweep only matched Product
    // keys carrying a SparkSession, so plain-String keys (tests, any
    // future session-less cache) accumulated in the lock map forever.
    // memo now drops the entry once the value is cached — the lock map
    // must not grow with successful memoizations of session-less keys.
    val cache = scala.collection.concurrent.TrieMap.empty[String, Int]
    val before = Caches.memoLockCount
    (1 to 50).foreach(i => Caches.memo(cache, s"slk_$i", i))
    assert(Caches.memoLockCount <= before,
      s"lock map grew from $before to ${Caches.memoLockCount} after 50 successful memoizations")
    // Cached values stay served (fast path) with no lock traffic.
    assert(Caches.memo(cache, "slk_7", fail("must not rebuild")) == 7)
  }

  test("memo lock survives cache mutation mid-build (identity-keyed lock map)") {
    // Round-11 advice: the lock map was keyed by the (cache, key) TUPLE,
    // and Scala mutable maps hash by CONTENTS — so after ANY cache
    // mutation a second memo call on the same key rehashed to a
    // different bucket, missed the first caller's lock, and ran the
    // side-effecting builder twice. Deterministic repro: A enters the
    // builder and parks; the cache is mutated (a different key — exactly
    // what a nested Tables build does); B then memoizes the SAME key.
    // B must block on A's lock and observe A's value — one build total.
    val cache = scala.collection.concurrent.TrieMap.empty[String, Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Caches.memo(cache, "k", {
          aEntered.countDown()
          assert(release.await(10, java.util.concurrent.TimeUnit.SECONDS))
          builds.incrementAndGet(); 41
        })
      })
      assert(aEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // Mutate the cache while A holds its lock: under content hashing
      // this invalidated every stored lock key's bucket.
      cache.put("other", 7)
      val bAtMemo = new java.util.concurrent.CountDownLatch(1)
      val fb = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          bAtMemo.countDown()
          Caches.memo(cache, "k", { builds.incrementAndGet(); 42 })
        }
      })
      // B must PARK at the lock, not build. A bare sleep could pass
      // vacuously if B was never scheduled (round-11 advice) — await the
      // latch so B provably reached memo, THEN give it a beat to hit the
      // monitor before asserting no build happened.
      assert(bAtMemo.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "second caller never scheduled — race path unexercised")
      Thread.sleep(200)
      assert(builds.get() == 0, "second caller built while the first held the key's lock")
      release.countDown()
      assert(fa.get(10, java.util.concurrent.TimeUnit.SECONDS) == 41)
      assert(fb.get(10, java.util.concurrent.TimeUnit.SECONDS) == 41,
        "second caller re-built instead of observing the first build's value")
      assert(builds.get() == 1, "builder ran more than once for one key")
    } finally pool.shutdownNow()
  }

  test("released caches rebuild transparently on the next consumer") {
    Caches.releaseAll(spark, dir)
    // Drive the family to a full release, then re-run one consumer: the
    // caches must rebuild (oracle-correct row count pinned by GoldenSuite
    // — here just non-empty) and be re-releasable by a fresh pass.
    simFamily.foreach { k =>
      SparkEntry.queries(k)(spark, dir).count()
      Caches.keyDone(spark, dir, k)
    }
    assert(SparkEntry.queries("text_dedup_clusters")(spark, dir).count() > 0)
    simFamily.foreach(k => Caches.keyDone(spark, dir, k))
    assert(!Caches.activeEntries(spark, dir)("simhash_sigs"))
  }

  test("late registration seeds consumers that already ran (failure path)") {
    Caches.releaseAll(spark, dir)
    // Consumer kA runs (or fails) BEFORE the cache exists; the cache is
    // then built during kB's run. The registration must learn kA already
    // ran this pass, or the entry can never complete and the blocks stay
    // pinned for the rest of the pass.
    Caches.keyDone(spark, dir, "kA")
    var released = 0
    Caches.track(spark, dir, "late_cache", Set("kA", "kB"), () => released += 1)
    assert(released == 0, "must not release before the building consumer reports")
    Caches.keyDone(spark, dir, "kB")
    assert(released == 1, "last consumer reported; release must fire")
  }

  test("shared setup writes release their scratch dir after the consumer key") {
    Caches.releaseAll(spark, dir)
    // Build the DPP fixture the way Bench's untimed warm-up does, run the
    // consumer, and assert the layout dir is DELETED (not just untracked):
    // scratch space must be bounded by keys in flight, not the whole pass.
    val base = ops.JoinOps.dppDemo(spark, dir)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(base, "fact")))
    assert(SparkEntry.queries("join_dpp_prune")(spark, dir).count() > 0)
    Caches.keyDone(spark, dir, "join_dpp_prune")
    assert(!Caches.activeEntries(spark, dir)("dpp_demo"),
      "dpp_demo still tracked after its consumer ran")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base)),
      s"setup dir $base not deleted on release")
    // Rebuild is transparent: the next invocation writes a FRESH dir and
    // the result is still correct (row count pinned by GoldenSuite).
    val base2 = ops.JoinOps.dppDemo(spark, dir)
    assert(base2 != base && java.nio.file.Files.exists(java.nio.file.Paths.get(base2)))
    assert(SparkEntry.queries("join_dpp_prune")(spark, dir).count() > 0)
    Caches.keyDone(spark, dir, "join_dpp_prune")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base2)))
  }

  test("the completion ledger is monotone: overlapping late registrations never starve") {
    Caches.releaseAll(spark, dir)
    var released = 0
    Caches.track(spark, dir, "pass_cache", Set("kA", "kB"), () => released += 1)
    Seq("kA", "kB").foreach(Caches.keyDone(spark, dir, _))
    assert(released == 1)
    // A cache registering AFTER that release, with an overlapping
    // consumer set, must still see kB's completion — clearing the ledger
    // on release would leave this entry pinned for the rest of the pass.
    var late = 0
    Caches.track(spark, dir, "late_overlap", Set("kB", "kC"), () => late += 1)
    assert(late == 0)
    Caches.keyDone(spark, dir, "kC")
    assert(late == 1, "ledger must retain kB across the earlier release")
    // A REBUILD after its pass completed seeds full and releases at the
    // next consumer report (never at registration — the builder is still
    // inside its query fn then): perf-only fresh rebuilds per re-run
    // consumer, which is what per-rep isolation measurement wants.
    Caches.track(spark, dir, "pass_cache", Set("kA", "kB"), () => released += 1)
    assert(released == 1, "no release at registration")
    Caches.keyDone(spark, dir, "kA")
    assert(released == 2, "rebuild releases at the next consumer report")
  }

  test("restricted schedule: every key that cuts releases all of its cuts at its keyDone") {
    // Each key runs alone under its own schedule, as a restricted pass
    // runs it: the cuts its body makes and the fixtures it builds must
    // all be released by its own keyDone. A key that cut anything shows
    // a tracked entry between its run and its keyDone.
    val t0 = System.nanoTime()
    val cutting = scala.collection.mutable.ArrayBuffer.empty[String]
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    try SparkEntry.queries.foreach { case (key, fn) =>
      Caches.releaseAll(spark, dir)
      Caches.schedule(spark, dir, Set(key))
      val pinnedBefore = Caches.pinnedRddCount(spark)
      fn(spark, dir).count()
      if (Caches.activeEntries(spark, dir).nonEmpty) cutting += key
      Caches.keyDone(spark, dir, key)
      val live = Caches.activeEntries(spark, dir)
      val pinnedAfter = Caches.pinnedRddCount(spark)
      if (live.nonEmpty || pinnedAfter > pinnedBefore)
        leaks += s"$key (entries $live, pinned $pinnedBefore -> $pinnedAfter)"
    } finally Caches.releaseAll(spark, dir)
    info(f"${SparkEntry.queries.size} keys, ${cutting.size} cut, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s: ${cutting.mkString(",")}")
    assert(cutting.size > 50, s"only ${cutting.size} keys registered a cut: $cutting")
    assert(leaks.isEmpty, s"keys left cuts pinned past their keyDone: ${leaks.mkString("; ")}")
  }

  /** RDD ids of the checkpoint leaves under `df`. */
  private def cutIds(df: org.apache.spark.sql.Dataset[_]): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
  private def pinned(id: Int): Boolean = spark.sparkContext.getPersistentRDDs.contains(id)
  private val probeDir = "cut_probe_dir"

  // Test fixtures name a real key as consumer: the fixture registry
  // checks every declared consumer against the key registry.
  private lazy val throwingFixture = Fixture("cut_probe_throwing", Set("agg_groupby_hash")) {
    (s, _) =>
      throwingCut = cutIds(s.range(10).toDF("id").cut).head
      sys.error("fixture build fails after its cut")
  }
  private var throwingCut = -1
  private lazy val sharedFixture = Fixture("cut_probe_shared", Set("agg_groupby_hash")) {
    (s, _) => s.range(20).toDF("id").cut
  }

  test("a key body that cuts and then throws has its cuts released at keyDone") {
    var id = -1
    val op = ops.Op("cut_probe_throw", (s, _) => {
      id = cutIds(s.range(10).toDF("id").cut).head
      sys.error("key body fails after its cut")
    }, None)
    intercept[RuntimeException](op.fn(spark, probeDir))
    assert(pinned(id), "the cut should stay pinned until the key reports done")
    assert(Caches.activeEntries(spark, probeDir)("cuts:cut_probe_throw"))
    Caches.keyDone(spark, probeDir, "cut_probe_throw")
    assert(!pinned(id), "keyDone did not release the cut of a throwing body")
    assert(!Caches.activeEntries(spark, probeDir)("cuts:cut_probe_throw"))
  }

  test("a fixture build that cuts and then throws releases its cuts at once and registers nothing") {
    intercept[RuntimeException](throwingFixture(spark, probeDir))
    assert(throwingCut >= 0)
    assert(!pinned(throwingCut), "a failed fixture build left its cut pinned")
    assert(!Caches.activeEntries(spark, probeDir)("cut_probe_throwing"))
  }

  test("inside a key, releasing a frame derived from a fixture leaves the fixture pinned") {
    var own = -1
    val op = ops.Op("cut_probe_derived", (s, d) => {
      val shared = sharedFixture(s, d)
      val mine = shared.filter("id % 2 = 0").cut
      own = cutIds(mine).head
      // Both leaves: the fixture's cut under `derived`, the key's own one.
      val derived = shared.join(mine, "id")
      Caches.releaseCheckpoint(derived)
      shared
    }, None)
    val out = op.fn(spark, probeDir)
    val fixtureIds = cutIds(sharedFixture(spark, probeDir))
    assert(fixtureIds.nonEmpty && fixtureIds.forall(pinned), "the fixture's blocks were released")
    assert(!pinned(own), "the key's own cut under the frame was not released")
    assert(out.count() == 20)
    Caches.keyDone(spark, probeDir, "cut_probe_derived")
    Caches.keyDone(spark, probeDir, "agg_groupby_hash")
    assert(!fixtureIds.exists(pinned), "the fixture's release did not release its cut")
  }

  test("a cut made on a DriverPool thread belongs to the key that created the pool") {
    var id = -1
    val op = ops.Op("cut_probe_pool", (s, _) => {
      val pool = ops.DriverPool(1)
      try pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
        def call() = {
          val c = s.range(10).toDF("id").cut
          id = cutIds(c).head
          c
        }
      }).get()
      finally pool.shutdownNow()
    }, None)
    val out = op.fn(spark, probeDir)
    assert(Caches.activeEntries(spark, probeDir)("cuts:cut_probe_pool"),
      "the pool thread's cut registered no owner entry for the key")
    assert(pinned(id) && out.count() == 10)
    Caches.keyDone(spark, probeDir, "cut_probe_pool")
    assert(!pinned(id), "keyDone did not release the pool thread's cut")
  }
}
