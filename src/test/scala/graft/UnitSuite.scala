package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corner-case units on mini fixtures (FIXTURES.md "unit fixtures"):
  * rows the generated data lacks — ns-timestamp exactness, session-gap
  * boundaries, known-answer jaccard, null-key joins, zero vectors.
  */
class UnitSuite extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("pagerankLoop: exact-integer fixpoint detection + a hand-derived 2-round trace") {
    // (a) 2-node symmetric pair: the uniform ranking IS the exact
    // integer fixpoint (T + (85·(SCALE DIV 2)) DIV 100 = 75e9 + 425e9 =
    // SCALE DIV 2), so the loop must detect convergence in ONE round
    // and return the unchanged uniform ranks.
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val (rp, roundsP) = ops.PipelineOps.pagerankLoop(pair, maxRounds = 8)
    val gotP = rp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseCheckpoint(rp)
    assert(roundsP == 1, s"pair graph must converge in 1 round, got $roundsP")
    assert(gotP == Map(1L -> 500000000000L, 2L -> 500000000000L), s"got $gotP")
    // (b) 3-node symmetric path 1–2–3 (deg 1,2,1; N=3; T=5e10;
    // r0 = ⌊1e12/3⌋ = 333,333,333,333): hand-derived rounds.
    //   r1(1)=r1(3) = 5e10 + ⌊85·⌊r0/2⌋/100⌋ = 191,666,666,666
    //   r1(2)       = 5e10 + ⌊85·(2·r0)/100⌋  = 616,666,666,666
    //   r2(1)=r2(3) = 5e10 + ⌊85·⌊r1(2)/2⌋/100⌋ = 312,083,333,333
    //   r2(2)       = 5e10 + ⌊85·(2·r1(1))/100⌋ = 375,833,333,332
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val (r1, n1) = ops.PipelineOps.pagerankLoop(path, maxRounds = 1)
    val g1 = r1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseCheckpoint(r1)
    assert(n1 == 1 && g1 == Map(
      1L -> 191666666666L, 2L -> 616666666666L, 3L -> 191666666666L),
      s"round-1 trace diverged: $g1")
    val (r2, n2) = ops.PipelineOps.pagerankLoop(path, maxRounds = 2)
    val g2 = r2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseCheckpoint(r2)
    assert(n2 == 2 && g2 == Map(
      1L -> 312083333333L, 2L -> 375833333332L, 3L -> 312083333333L),
      s"round-2 trace diverged: $g2")
    // (c) integer division only LOSES mass: Σr never exceeds SCALE.
    assert(g2.values.sum <= 1000000000000L, s"rank mass grew: ${g2.values.sum}")
  }

  test("Loop.fixpoint: only the final state stays cut, the cap reports converged = false, the seed is round 1's previous probe, a throwing step leaks nothing") {
    import Cut.CutOps
    def cutIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    var steps = 0
    // A counting step: every round adds 1 to the single value v, cut.
    def countUp(cur: org.apache.spark.sql.DataFrame, round: Int) = {
      steps += 1
      cur.select((col("v") + 1).as("v")).cut
    }
    def v(df: org.apache.spark.sql.DataFrame): Long = df.head().getLong(0)
    // (a) The cap: exactly maxRounds steps and probes, converged = false,
    // and only the final state's cut is still persisted.
    val ((last, probes, converged), owner) = Cut.owned {
      Loop.fixpoint(Seq(0L).toDF("v").cut, maxRounds = 3)(countUp)(v, -1L)((_, _) => false)
    }
    assert(steps == 3 && probes == Seq(1L, 2L, 3L) && !converged,
      s"steps=$steps probes=$probes converged=$converged")
    assert(persisted -- before == cutIds(last),
      s"pinned ${persisted -- before}, final state ${cutIds(last)}")
    owner.releaseAll()
    assert(persisted -- before == Set.empty)
    // (b) The seed is the previous probe of round 1: an identity step
    // stops after round 1 when the seed equals the state, after round 2
    // otherwise.
    def same(seed: Long) = {
      val ((_, ps, conv), o) = Cut.owned {
        Loop.fixpoint(Seq(5L).toDF("v").cut, maxRounds = 10)(
          (cur, _) => cur.select("v").cut)(v, seed)(_ == _)
      }
      o.releaseAll()
      (ps, conv)
    }
    assert(same(5L) == (Seq(5L), true))
    assert(same(-1L) == (Seq(5L, 5L), true))
    // (c) A step that throws in round 2 leaves nothing pinned once its
    // owner is released.
    val e = intercept[IllegalStateException] {
      Cut.owned {
        Loop.fixpoint(Seq(0L).toDF("v").cut, maxRounds = 5)((cur, round) =>
          if (round == 2) throw new IllegalStateException("round 2")
          else countUp(cur, round))(v, -1L)((_, _) => false)
      }
    }
    assert(e.getMessage == "round 2")
    assert(persisted -- before == Set.empty)
  }

  test("stronglyConnectedComponents throws at the refinement cap instead of returning partial labels") {
    // The (F, B) counterexample diamond needs a second refinement round
    // (round 1 leaves 5 and 6 in one class); condenseDriverCap = 0 forces
    // the distributed refinement loop, and maxRounds = 1 cuts it short.
    val es = Seq((1L, 5L), (1L, 6L), (5L, 2L), (6L, 2L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Cut.owned(ops.PipelineOps.stronglyConnectedComponents(
        es, maxRounds = 1, condenseDriverCap = 0L))
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"), e.getMessage)
    val (got, rounds) = ops.PipelineOps.stronglyConnectedComponents(
      es, condenseDriverCap = 0L)
    val gm = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseCheckpoint(got)
    assert(rounds >= 2 && gm == Map(1L -> 1L, 2L -> 2L, 5L -> 5L, 6L -> 6L),
      s"rounds=$rounds labels=$gm")
  }

  test("ns→µs recipe: 1706657176220708106 → 2024-01-30T23:26:16.220708") {
    // miniEvents stores raw nanosecond longs exactly like the real table
    // does under nanosAsLong.
    val dir = miniDir("events" -> Seq(
      (0L, 1706657176220708106L, 1L, "click", 1.0, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val ts = Tables.events(spark, dir).select("ts").as[java.time.LocalDateTime].head()
    assert(ts == java.time.LocalDateTime.parse("2024-01-30T23:26:16.220708"))
  }

  test("ntzMicros is session-timezone-independent and µs-exact (round-8 advice fix)") {
    // The old unix_micros(CAST ts AS TIMESTAMP) silently shifted with the
    // session tz; the wall-clock decomposition must not. Probe a
    // fractional-second value and a pre-epoch value under three zones.
    val probes = Seq(
      ("TIMESTAMP_NTZ '2024-01-30 23:26:16.220708'", 1706657176220708L),
      ("TIMESTAMP_NTZ '1969-12-31 23:00:00.5'", -3599500000L),
      ("TIMESTAMP_NTZ '1970-01-01 00:00:00'", 0L))
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      Seq("UTC", "America/New_York", "Asia/Tokyo").foreach { tz =>
        spark.conf.set(tzKey, tz)
        probes.foreach { case (lit, want) =>
          val got = spark.range(1)
            .select(expr(Tables.ntzMicrosSql(lit)).as("us")).head.getLong(0)
          assert(got == want, s"tz=$tz probe=$lit: got $got want $want")
        }
      }
    } finally spark.conf.set(tzKey, prev)
  }

  test("win_drawdown survives (peak - cents)·10⁴ past BIGINT (DECIMAL widening)") {
    // peak = 1.6e15 cents; (peak - 100) * 10000 ≈ 1.6e19 > Long.MaxValue —
    // the pre-fix BIGINT multiply threw under ANSI (or wrapped without).
    // Expected dd_bps = floor((1.6e15 - 100) * 1e4 / 1.6e15) = 9999.
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", "1996-01-01", 1.6e13),
      (2L, "1-URGENT", "1996-01-02", 1.0))
      .toDF("o_orderkey", "o_orderpriority", "d", "o_totalprice")
      .withColumn("o_orderdate", to_date(col("d"))).drop("d"))
    val got = SparkEntry.queries("win_drawdown")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("1-URGENT", 2L, 1600000000000000L, 9999L)))
  }

  test("session gap boundary: 29m59s same session, 30m01s splits") {
    val min = 60L * 1000 * 1000 * 1000 // ns
    val base = 1704067200L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 7L, "click", 1.0, "{}"),
      (1L, base + 29 * min + 59L * 1000 * 1000 * 1000, 7L, "view", 1.0, "{}"), // same session
      (2L, base + 60 * min + 1L * 1000 * 1000 * 1000, 7L, "view", 1.0, "{}"), // 30m01s gap → new
      (3L, base, 8L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_session_gap")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(7L -> 2L, 8L -> 1L))
  }

  test("jaccard known answer: 9-common-of-10-union pair = 0.9, 0.6 pair excluded by threshold") {
    val dir = miniDir("documents" -> Seq(
      (1L, "a b c d e f g h i", "en", "src0", 17L),   // 9 toks
      (2L, "a b c d e f g h i j", "en", "src0", 19L), // ∩=9 ∪=10 → 0.9
      (3L, "a b c x y", "en", "src0", 9L),            // vs 1: ∩=3 ∪=11 → 0.27
      (4L, "", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_near_dup_jaccard")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map((1L, 2L) -> 0.9))
  }

  test("exact dedup groups identical texts, keeps min doc_id") {
    val dir = miniDir("documents" -> Seq(
      (5L, "dup text", "en", "src0", 8L),
      (2L, "dup text", "en", "src0", 8L),
      (9L, "unique", "en", "src0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_exact_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((2L, 2L), (9L, 1L)))
  }

  test("window frames at partition edges: lag null at start, running sum = own value") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("k", "v")
    val w = Window.partitionBy("k").orderBy("v")
    val got = df
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("run", sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("k", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1), Option(r.get(2)), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, 10, None, 10L), (1, 20, Some(10), 30L), (2, 5, None, 5L)))
  }

  test("null join keys never match (even null<=>null via inner equi-join)") {
    val l = Seq((Some(1), "a"), (None, "b")).toDF("k", "lv")
    val r = Seq((Some(1), "x"), (None, "y")).toDF("k", "rv")
    assert(l.join(r, l("k") === r("k")).count() == 1)
  }

  test("vec_norm: zero vector → 0.0, axis vector → 1.0") {
    val dir = miniDir("embeddings" -> Seq(
      (0L, Array(0f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(3f, 4f, 0f), 1))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_norm")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(0L -> 0.0, 1L -> 1.0, 2L -> 5.0))
  }

  test("vec_centroid_label: hand-computed centroid, position-ordered") {
    val dir = miniDir("embeddings" -> Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0f, 1f), 0),
      (2L, Array(2f, 2f), 1))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_centroid_label")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((0, "0.5000,0.5000"), (1, "2.0000,2.0000")))
  }

  test("as-of join: purchase picks most recent prior click, none → null") {
    val sec = 1000L * 1000 * 1000
    val base = 1704067200L * sec
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + 10 * sec, 1L, "click", 1.0, "{}"),
      (2L, base + 20 * sec, 1L, "purchase", 1.0, "{}"), // → click@+10s
      (3L, base, 2L, "purchase", 1.0, "{}"))            // no prior click → null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("join_asof")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)))
    assert(got.toSeq == Seq(
      (2L, Some("2024-01-01T00:00:10")),
      (3L, None)))
  }

  test("kmeans train: mislabeled point crosses clusters, then the loop is stable") {
    // Cluster A hugs the x-axis, cluster B the y-axis; v3 starts with the
    // wrong label and must move on iteration 1 (centroid math checked by
    // hand: d(v3, cA)=150² vs d(v3, cB)=533.3²+633.3²), after which both
    // centroids are pure and iterations 2-3 change nothing.
    val dir = miniDir("embeddings" -> Seq(
      (1L, Seq(1.0f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0f, 0f), 0),
      (3L, Seq(0.8f, 0f, 0f), 1), // mislabeled: belongs with cluster 0
      (4L, Seq(0f, 1.0f, 0f), 1),
      (5L, Seq(0f, 0.9f, 0f), 1))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_kmeans_train")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0, 3L, 1L, 1L), (1, 2L, 0L, 4L)))
  }

  test("KS drift: identical halves D=0, disjoint halves D=n1*n2") {
    val dir = miniDir("orders" -> Seq(
      (1L, "A", 1.0), (2L, "A", 1.0), (3L, "A", 2.0), (4L, "A", 2.0),
      (5L, "B", 10.0), (6L, "B", 1.0), (7L, "B", 10.0), (8L, "B", 1.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val got = SparkEntry.queries("quality_ks_drift")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      ("A", 2L, 2L, 0L, 0.0, false),
      // even keys all at 1.0, odd all at 10.0 → D hits the n1·n2 ceiling;
      // n=2 per side is below the α=.05 critical value, so drift=false.
      ("B", 2L, 2L, 4L, 1.0, false)))
  }

  test("triangle count: a mutual 4-clique has 6 edges and 4 triangles; a singleton has none") {
    val dir = miniDir("embeddings" -> Seq(
      (1L, Seq(1.0f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f), 0),
      (3L, Seq(0.8f, 0.2f, 0f), 0),
      (4L, Seq(0.7f, 0.3f, 0f), 0), // 4 in-cell vectors → top-3 = all others
      (5L, Seq(0f, 0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("graph_triangle_count")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0, 4L, 6L, 4L), (1, 1L, 0L, 0L)))
  }

  test("recall eval: single-cell corpus makes IVF exact → recall 1.0") {
    val rows = (0L, Seq(1.0f, 0f, 0f), 0) +:
      (1 to 11).map(i => (i.toLong, Seq(1.0f, 0.01f * i, 0f), 0))
    val dir = miniDir("embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_recall_eval")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((10, 10L, 1.0)))
  }

  test("attribution buckets: 4min → lt5m, 45min → 30to60m, clickless → never") {
    val sec = 1000L * 1000 * 1000 // ns
    val base = 1704067200L * sec
    val dir = miniDir("events" -> Seq(
      (0L, base, 7L, "click", 1.0, "{}"),
      (1L, base + 4 * 60 * sec, 7L, "purchase", 10.0, "{}"),
      (2L, base + 45 * 60 * sec, 7L, "purchase", 5.25, "{}"), // same click attributes
      (3L, base, 8L, "purchase", 2.0, "{}"))                  // no click → never
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_attribution_last_touch")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("0_lt5m", 1L, 10.0), ("2_30to60m", 1L, 5.25), ("4_never", 1L, 2.0)))
  }

  test("cumulative distinct: returning user counts once, new user grows the curve") {
    val day = 24L * 3600 * 1000 * 1000 * 1000 // ns
    val base = 1704067200L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + day, 1L, "click", 1.0, "{}"),  // returning: not new on day 2
      (2L, base + day, 2L, "click", 1.0, "{}"))  // new on day 2
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("win_cumulative_distinct")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("click", "2024-01-01", 1L, 1L, 1L),
      ("click", "2024-01-02", 2L, 1L, 2L)))
  }

  test("matryoshka recall: prefix-flattering tail vector displaces one true neighbor") {
    // v11's 17th dim is huge: truncated-to-16-dims ranking loves it
    // (tiny prefix angle) while the full ranking puts it last — so the
    // truncated top-10 admits v11, drops v10, and recall is 0.9.
    def vec(d1: Float, tail: Float): Seq[Float] =
      (Seq(1.0f, d1) ++ Seq.fill(14)(0f)) :+ tail
    val rows = (0L, vec(0f, 0f), 0) +:
      (1 to 10).map(i => (i.toLong, vec(0.01f * i, 0f), 0)) :+
      (11L, vec(0.001f, 10f), 0)
    val dir = miniDir("embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_matryoshka_recall")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((16, 9L, 0.9)))
  }

  test("span novelty: duplicate doc introduces nothing, extension introduces its new span") {
    val dir = miniDir("documents" -> Seq(
      (1L, "a b c d e f g h", "en", "src0", 15L),   // 1 span, novel
      (2L, "a b c d e f g h", "en", "src0", 15L),   // same span → 0 novel
      (3L, "a b c d e f g h i", "en", "src0", 17L)) // spans: doc1's + 1 new
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_span_novelty")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 1L, 1L, 1.0), (2L, 1L, 0L, 0.0), (3L, 2L, 1L, 0.5)))
  }

  test("seasonal-naive backtest: |3-2|=1 then |3-3|=0 → MAE 0.5 over 2 eval hours") {
    val sec = 1000L * 1000 * 1000
    val hour = 3600L * sec
    val base = 1704067200L * sec
    val ev = Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + 60 * sec, 2L, "click", 1.0, "{}"),       // hour 0: n=2
      (2L, base + 24 * hour, 1L, "click", 1.0, "{}"),
      (3L, base + 24 * hour + 60 * sec, 2L, "click", 1.0, "{}"),
      (4L, base + 24 * hour + 120 * sec, 3L, "click", 1.0, "{}"), // hour 24: n=3
      (5L, base + 48 * hour, 1L, "click", 1.0, "{}"),
      (6L, base + 48 * hour + 60 * sec, 2L, "click", 1.0, "{}"),
      (7L, base + 48 * hour + 120 * sec, 3L, "click", 1.0, "{}")) // hour 48: n=3
    val dir = miniDir("events" -> ev
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_forecast_eval_naive")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("click", 2L, 1L, 0.5)))
  }

  test("asof tolerance: fresh click matches, stale click degrades to a miss") {
    val sec = 1000L * 1000 * 1000
    val base = 1704067200L * sec
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + 20 * sec, 1L, "purchase", 1.0, "{}"),       // 20s ago → match
      (2L, base, 2L, "click", 1.0, "{}"),
      (3L, base + 7200 * sec, 2L, "purchase", 1.0, "{}"),     // 2h ago → NULL
      (4L, base, 3L, "purchase", 1.0, "{}"))                  // no click → NULL
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("join_asof_tolerance")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)))
    assert(got.toSeq == Seq(
      (1L, Some("2024-01-01T00:00")), // the click's ts, 00:00:00 (ISO drops :00 seconds)
      (3L, None),
      (4L, None)))
  }

  test("column profile: null-aware distinct counts and type-pinned min/max strings") {
    val dir = miniDir("orders" -> Seq(
      (1L, Option(10L), "O", 10.0, "1995-03-01 00:00:00"),
      (2L, None, "F", 20.5, "1996-07-15 12:30:45"),
      (3L, Option(10L), "O", 10.0, "1995-03-01 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val got = SparkEntry.queries("quality_column_profile")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.toSeq == Seq(
      ("o_custkey", 3L, 1L, 1L, "10", "10"),
      ("o_orderdate", 3L, 0L, 2L, "1995-03-01 00:00:00", "1996-07-15 12:30:45"),
      ("o_orderkey", 3L, 0L, 3L, "1", "3"),
      ("o_orderstatus", 3L, 0L, 2L, "F", "O"),
      ("o_totalprice", 3L, 0L, 2L, "10.00", "20.50")))
  }

  test("gaps-islands: runs 1-3, 5-6, 10 → three islands, longest 3") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1704067200L * 1000 * 1000 * 1000 // 2024-01-01
    val ev = Seq(1, 1, 2, 3, 5, 6, 10).zipWithIndex.map { case (d, i) =>
      (i.toLong, base + (d - 1) * day, 7L, "click", 1.0, "{}")
    } :+ (99L, base, 8L, "click", 1.0, "{}")
    val dir = miniDir("events" -> ev
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("win_gaps_islands")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((7L, 3L, 6L, 3L), (8L, 1L, 1L, 1L)))
  }

  test("pareto ABC: 50/30/10/10 revenue splits into A=1, B=1, C=2 customers") {
    val dir = miniDir("orders" -> Seq(
      (1L, 1L, 50.0), (2L, 2L, 30.0), (3L, 3L, 10.0), (4L, 4L, 10.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice"))
    val got = SparkEntry.queries("win_pareto_abc")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("A", 1L, 50.0), ("B", 1L, 30.0), ("C", 2L, 20.0)))
  }

  test("train/test split matches an independent md5 computation (docs 1-10 → 9 train, 1 val)") {
    // Buckets computed independently in python hashlib: doc 9 → bucket 8
    // (val), all others < 8 (train); no doc lands in test.
    val dir = miniDir("documents" -> (1L to 10L).map(i =>
      (i, s"doc $i", "en", "src0", i * 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("sample_split_train_test")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("train", "en", 9L, 460L), ("val", "en", 1L, 90L)))
  }

  test("fuzzy linkage: lev-1 pair matches, distant pair counted, singleton block yields no pairs") {
    // Names share the 14-char prefix block (round-9: the block key is
    // (nation, segment, substring(name, 1, 14)) — all-but-last-4-digits
    // of the Customer#<9 digits> layout), so all three nation-1 names
    // land in ONE block; lev is decided by the suffixes: ("1","12")=1,
    // ("1","9999")=4, ("12","9999")=4.
    val p = "ALICE000000000" // 14 chars
    val dir = miniDir("customer" -> Seq(
      (1L, p + "1", 1, "SEG"), (2L, p + "12", 1, "SEG"), (3L, p + "9999", 1, "SEG"),
      (4L, "CAROL", 2, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    val got = SparkEntry.queries("link_fuzzy_blocked")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((1, 3L, 1L, 1)))
  }

  test("token budget: three 100-token docs, budget 150 → exactly one kept whatever the hash order") {
    val text100 = Seq.fill(100)("w").mkString(" ")
    val dir = miniDir("documents" -> Seq(
      (1L, text100, "en", "src0", 199L),
      (2L, text100, "en", "src0", 199L),
      (3L, text100, "en", "src0", 199L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("corpus_token_budget")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("en", 3L, 1L, 100L, 300L)))
  }

  test("char entropy: 'aaaa' is zero-entropy, 'abab' is H(2/3,1/3) = 0.918") {
    val dir = miniDir("documents" -> Seq(
      (1L, "aaaa", "rep", "src0", 4L),
      (2L, "abab", "mix", "src0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_char_entropy")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("mix", 1L, 0.918), ("rep", 1L, 0.0)))
  }

  test("silhouette: two well-separated 1-D clusters score 0.899 per label") {
    // label 0 at {0,2} (centroid 1), label 1 at {10,12} (centroid 11):
    // each point has a=1 and b∈{9,11} → mean s = (10/11 + 8/9)/2 ≈ 0.899.
    val dir = miniDir("embeddings" -> Seq(
      (1L, Seq(0f, 0f), 0), (2L, Seq(2f, 0f), 0),
      (3L, Seq(10f, 0f), 1), (4L, Seq(12f, 0f), 1))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_silhouette")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0, 2L, 0.899), (1, 2L, 0.899)))
  }

  test("dow profile: Mondays [2,4] events → avg 3, sd √2; single Tuesday → null sd") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1704067200L * 1000 * 1000 * 1000 // 2024-01-01, a Monday
    val ev =
      (0 until 2).map(i => (i.toLong, base + i, 1L, "click", 1.0, "{}")) ++      // Mon 1/1: 2
      (0 until 4).map(i => (10L + i, base + 7 * day + i, 1L, "click", 1.0, "{}")) ++ // Mon 1/8: 4
      (0 until 3).map(i => (20L + i, base + day + i, 1L, "click", 1.0, "{}"))    // Tue 1/2: 3
    val dir = miniDir("events" -> ev
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_dow_profile")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      ("click", 0, 2L, 3.0, Some(1.414)),
      ("click", 1, 1L, 3.0, None)))
  }

  test("yoy growth: 100 → 150 in January is +50%, months without a prior year stay null") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1995-01-10 00:00:00", 100.0),
      (2L, "1995-02-10 00:00:00", 200.0),
      (3L, "1996-01-20 00:00:00", 150.0))
      .toDF("o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val got = SparkEntry.queries("ts_yoy_growth")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (1995, 1, 100.0, None, None),
      (1995, 2, 200.0, None, None),
      (1996, 1, 150.0, Some(100.0), Some(50.0))))
  }

  test("rolling median: daily counts 1,3,2 → trailing medians 1, 2, 2") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1704067200L * 1000 * 1000 * 1000
    val ev =
      Seq((0L, base, 1L, "click", 1.0, "{}")) ++
      (0 until 3).map(i => (10L + i, base + day + i, 1L, "click", 1.0, "{}")) ++
      (0 until 2).map(i => (20L + i, base + 2 * day + i, 1L, "click", 1.0, "{}"))
    val dir = miniDir("events" -> ev
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_rolling_median")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("click", 1L, 1.0), ("click", 3L, 2.0), ("click", 2L, 2.0)))
  }

  test("acf: perfectly alternating daily series has lag-1 autocorrelation -1") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1704067200L * 1000 * 1000 * 1000
    // daily counts 1,2,1,2,1 → lag-1 r = -1, lag-2 r = +1 (3 pairs), lag-3 r = -1
    val ev = Seq(1, 2, 1, 2, 1).zipWithIndex.flatMap { case (c, d) =>
      (0 until c).map(i => (d * 10L + i, base + d * day + i, 1L, "click", 1.0, "{}"))
    }
    val dir = miniDir("events" -> ev
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_acf")(spark, dir)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1, 4L, -1.0), (2, 3L, 1.0), (3, 2L, -1.0)))
  }

  test("transition matrix: click→view twice, view→click once, rows normalize to 1") {
    val sec = 1000L * 1000 * 1000
    val base = 1704067200L * sec
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + sec, 1L, "view", 1.0, "{}"),
      (2L, base + 2 * sec, 1L, "click", 1.0, "{}"),
      (3L, base, 2L, "click", 1.0, "{}"),
      (4L, base + sec, 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_transition_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("click", "view", 2L, 1.0), ("view", "click", 1L, 1.0)))
  }

  test("interval union: overlapping 30-min intervals merge, disjoint ones don't") {
    val min = 60L * 1000 * 1000 * 1000
    val base = 1704067200L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 7L, "click", 1.0, "{}"),            // [0, 30)
      (1L, base + 10 * min, 7L, "view", 1.0, "{}"),  // [10, 40) overlaps → [0, 40)
      (2L, base + 50 * min, 7L, "view", 1.0, "{}"),  // [50, 80) disjoint
      (3L, base, 8L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_interval_union")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (7L, 2L, 70L * 60 * 1000 * 1000), // 40 + 30 minutes covered
      (8L, 1L, 30L * 60 * 1000 * 1000)))
  }

  test("benford: 3-of-4 prices lead with 1 → obs 0.75 vs expected log10(2)") {
    val dir = miniDir("orders" -> Seq(
      (1L, 100.0), (2L, 150.5), (3L, 1999.99), (4L, 25.5))
      .toDF("o_orderkey", "o_totalprice"))
    val got = SparkEntry.queries("quality_benford")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1, 3L, 0.75, 0.301, 0.449),
      (2, 1L, 0.25, 0.1761, 0.0739)))
  }

  test("late dim: facts of the withheld key land in UNKNOWN, backfill reassigns them") {
    val dir = miniDir(
      "customer" -> Seq((1L, "AUTOMOBILE"), (7L, "BUILDING"))
        .toDF("c_custkey", "c_mktsegment"),
      "orders" -> Seq((1L, 1L, 10.0), (2L, 7L, 20.0), (3L, 7L, 5.0))
        .toDF("o_orderkey", "o_custkey", "o_totalprice"))
    val got = SparkEntry.queries("etl_late_arriving_dim")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("AUTOMOBILE", 1L, 10.0, 1L, 10.0),
      ("BUILDING", 0L, 0.0, 2L, 25.0),
      ("UNKNOWN", 2L, 25.0, 0L, 0.0)))
  }

  test("connected components: two 4-cliques and a singleton get min-id labels") {
    // Two direction-clusters inside label 0 — each node's cosine top-3 is
    // exactly its 3 cluster-mates, so mutual-3NN splits into two
    // components; the lone label-1 node has no same-label peer → singleton.
    val rows =
      (1 to 4).map(i => (i.toLong, Seq(1f, 0.01f * (i - 1)), 0)) ++
      (5 to 8).map(i => (i.toLong, Seq(0.01f * (i - 5), 1f), 0)) :+
      (9L, Seq(1f, 1f), 1)
    val dir = miniDir("embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("graph_connected_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 4), (2L, 1L, 4), (3L, 1L, 4), (4L, 1L, 4),
      (5L, 5L, 4), (6L, 5L, 4), (7L, 5L, 4), (8L, 5L, 4),
      (9L, 9L, 1)))
  }

  test("time-range frame: trailing hour is inclusive at exactly -60min") {
    val min = 60L * 1000 * 1000 * 1000
    val base = 1704067200L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + 30 * min, 1L, "click", 2.0, "{}"),
      (2L, base + 60 * min, 1L, "click", 4.0, "{}"),   // frame [0, 60] → all three
      (3L, base + 120 * min, 1L, "click", 8.0, "{}"))  // frame [60, 120] → two
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("win_range_time_frame")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((0L, 1L, 1.0), (1L, 2L, 3.0), (2L, 3L, 7.0), (3L, 2L, 12.0)))
  }

  test("welch t-test: means 15 vs 10 with v1=50, v2=0 gives t=1, df=1") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", 10.0), (2L, "1-URGENT", 20.0),
      (3L, "5-LOW", 10.0), (4L, "5-LOW", 10.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val got = SparkEntry.queries("agg_welch_ttest")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // se2 = 50/2 + 0 = 25 → t = 5/√25 = 1.0; df = 25²/(25²/1) = 1.0
    assert(got.toSeq == Seq((2L, 2L, 5.0, 1.0, 1.0)))
  }

  test("chi-square: perfect association scores chi2=n and V=1, independence scores 0") {
    val assoc = miniDir("orders" -> Seq(
      (1L, "A", "X"), (2L, "A", "X"), (3L, "B", "Y"), (4L, "B", "Y"))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus"))
    val a = SparkEntry.queries("agg_chi_square")(spark, assoc).head()
    // 2×2, e=1 everywhere, all four cells (two of them ZERO cells)
    // contribute (±1)²/1 → chi2 = 4 = n, V = 1.
    assert((a.getInt(0), a.getLong(1), a.getDouble(2), a.getDouble(3)) == (1, 4L, 4.0, 1.0))

    val indep = miniDir("orders" -> Seq(
      (1L, "A", "X"), (2L, "A", "Y"), (3L, "B", "X"), (4L, "B", "Y"))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus"))
    val i = SparkEntry.queries("agg_chi_square")(spark, indep).head()
    assert((i.getInt(0), i.getLong(1), i.getDouble(2), i.getDouble(3)) == (1, 4L, 0.0, 0.0))
  }

  test("gini: equal values score 0, one-order-takes-all approaches 2/3 at n=3") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", 10.0), (2L, "1-URGENT", 10.0), (3L, "1-URGENT", 10.0),
      (4L, "5-LOW", 0.0), (5L, "5-LOW", 0.0), (6L, "5-LOW", 10.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val got = SparkEntry.queries("agg_gini")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // [0,0,1000]: S0=1000, S1=3000 → (6000-4000)/3000 = 0.6667
    assert(got.toSeq == Seq(("1-URGENT", 3L, 0.0), ("5-LOW", 3L, 0.6667)))
  }

  test("table checksum: the drifted-key partition mismatches, clean partitions match") {
    val dir = miniDir("orders" -> Seq(
      (1000L, 10.0, "O", "1995-03-01 00:00:00"), // key%1000=0 → replica drift
      (2L, 20.0, "F", "1995-06-01 00:00:00"),
      (3L, 30.0, "O", "1996-01-01 00:00:00"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus", "d")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val got = SparkEntry.queries("etl_table_checksum")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(3)))
    assert(got.toSeq == Seq((1995, 2L, false), (1996, 1L, true)))
  }

  test("batched infer stub: quarter-window byte means on a known payload") {
    // "ABCD EFGH": n=9, q=2 → windows AB | CD | ' 'E | FGH.
    val dir = miniDir("documents" -> Seq(
      (1L, "ABCD EFGH", "en", "src0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("multimodal_infer_batched")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq((1L, 9, 65.5, 67.5, 50.5, 71.0)))
  }

  test("mann-whitney: fully separated 2v2 gives U=4, z=1.5492, r_rb=1") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", 30.0), (2L, "1-URGENT", 40.0),
      (3L, "5-LOW", 10.0), (4L, "5-LOW", 20.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val got = SparkEntry.queries("agg_mann_whitney")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // Ranks 1..4, both URGENT on top: R1=7 → U1=4=n1·n2 (max), no ties:
    // z = 4/(2·√(4·5/12)) = 1.5492, rank-biserial = 1.
    assert(got.toSeq == Seq((2L, 2L, 4.0, 1.5492, 1.0)))
  }

  test("kaplan-meier: 3 subjects, events at t=2,5, one censored → S=2/3 then 1/3") {
    val day = 86400L * 1000 * 1000 * 1000 // ns
    val base = 1577836800L * 1000 * 1000 * 1000 // 2020-01-01
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "view", 1.0, "{}"),
      (1L, base + 2 * day, 1L, "purchase", 1.0, "{}"),
      (2L, base, 2L, "view", 1.0, "{}"),
      (3L, base + 10 * day, 2L, "click", 1.0, "{}"), // never purchases → censored at horizon
      (4L, base, 3L, "view", 1.0, "{}"),
      (5L, base + 5 * day, 3L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_survival_km")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // t=2: 3 at risk, 1 event → 2/3; t=5: 2 at risk → 2/3·1/2 = 1/3;
    // the t=10 censoring emits no curve row (d=0).
    assert(got.toSeq == Seq((2L, 1L, 0L, 3L, 0.6667), (5L, 1L, 0L, 2L, 0.3333)))
  }

  test("xcorr: y = x shifted one day → r=1 at lag 1, -0.2 at lag 0, null on 1-point overlap") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1577836800L * 1000 * 1000 * 1000
    // clicks/day: [1,2,3,0]; purchases/day: [0,1,2,3]
    val clicks = Seq(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 2)
      .map { case (id, d) => (id, base + d * day, 1L, "click", 1.0, "{}") }
    val purch = Seq(6L -> 1, 7L -> 2, 8L -> 2, 9L -> 3, 10L -> 3, 11L -> 3)
      .map { case (id, d) => (id, base + d * day, 1L, "purchase", 1.0, "{}") }
    val dir = miniDir("events" -> (clicks ++ purch)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_xcorr")(spark, dir)
      .collect().map(r => (r.getInt(0), (r.getLong(1), Option(r.get(2))))).toMap
    assert(got(0) == ((4L, Some(-0.2))))
    assert(got(1) == ((3L, Some(1.0))))
    assert(got(2) == ((2L, Some(1.0))))
    assert(got(3) == ((1L, None))) // single pair: zero variance → NULL, not NaN
  }

  test("MAD anomaly: 100 after [10..13] noise flags at robust_z=59.356; flat day-1 frame stays null") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1577836800L * 1000 * 1000 * 1000
    val counts = Seq(10, 12, 11, 13, 10, 12, 11, 100)
    val rows = counts.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => (d * 1000L + i, base + d * day, 1L, "click", 1.0, "{}"))
    }
    val dir = miniDir("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_anomaly_mad")(spark, dir)
      .collect().map(r => (r.getLong(2), (Option(r.get(5)), r.getBoolean(6))))
    // Day 8 window sorted [10,11,11,12,12,13,100]: med=12, MAD=1 →
    // rz = 0.6745·88 = 59.356. Day 1's single-row frame has MAD=0 → null.
    assert(got.head == ((10L, (None, false))))
    assert(got.last == ((100L, (Some(59.356), true))))
  }

  test("label propagation on K4: distinct-class tie breaks low, 4 nodes change, 2 classes remain") {
    val dir = miniDir("embeddings" -> Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0),
      (2L, Array(1f, 1f), 0), (3L, Array(1f, 2f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("graph_label_prop_step")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // k=3 on 4 nodes = complete graph; every neighborhood has three
    // distinct classes (count 1 each) → everyone adopts the smallest
    // neighbor class: 0→1, {1,2,3}→0. Nothing is stable.
    assert(got.toSeq == Seq((0, 4L, 0L, 4L, 2L)))
  }

  test("auc: perfectly separating score gives AUC=1 and Gini=1") {
    val dir = miniDir("embeddings" -> Seq(
      (1L, Array(1f, 0f), 7), // neg, score 1
      (2L, Array(2f, 0f), 0), // pos, score 4
      (3L, Array(3f, 0f), 1)) // pos, score 9
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_auc_roc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // Both positives outscore the one negative: U = n₊n₋ → AUC = 1.
    assert(got.toSeq == Seq((2L, 1L, 1.0, 1.0)))
  }

  test("mips top-k ranks by raw dot product, not cosine") {
    val dir = miniDir("embeddings" -> Seq(
      (0L, Array(1f, 0f), 0),  // query
      (1L, Array(2f, 0f), 0),  // ip 2 (cos 1.0)
      (2L, Array(5f, 5f), 0),  // ip 5 (cos 0.707) — MIPS winner, cosine loser
      (3L, Array(0f, 9f), 0))  // ip 0
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_mips_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((2L, 5.0), (1L, 2.0), (3L, 0.0)))
  }

  test("bpe apply: greedy non-overlapping merges, no cross-token welding") {
    // lang xx, doc "abab aaab": pair counts ab=3, aa=2, ba=1 → merges in
    // rank order [ab, aa, ba]. Greedy application: "abab"→[ab,ab] (both
    // occurrences merge — adjacent matches must not steal each other's
    // wrapper), "aaab"→[a,a,ab]→[aa,ab]. Then merge "ba" must NOT weld
    // the adjacent [ab][ab] tokens (tail-b + head-a) — the anchoring
    // property the wrapped representation exists for. 4 tokens / 8 chars.
    // lang yy, doc "aaa": merges [aa]; greedy left-to-right → [aa,a] =
    // 2 tokens / 3 chars, NOT 1 (overlapping "aa" must not double-fire).
    val dir = miniDir("documents" -> Seq(
      (1L, "abab aaab", "xx"),
      (2L, "aaa", "yy"))
      .toDF("doc_id", "text", "lang"))
    val got = SparkEntry.queries("text_bpe_apply")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("xx", 1L, 8L, 4L, 0.5),
      ("yy", 1L, 3L, 2L, 0.6667)))
  }

  test("holt linear: hand-computed level/trend recursion over daily counts") {
    // Daily counts 1, 2, 4 with α = β = 0.5 (all dyadic — exact):
    //   init l=1 b=0; day2: l=0.5·2+0.5·1=1.5, b=0.5·0.5=0.25;
    //   day3: l=0.5·4+0.5·1.75=2.875, b=0.5·1.375+0.125=0.8125.
    // forecast_next = l + b = 3.6875.
    val d0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z in ns
    val day = 86400L * 1000000000L
    val rows = (Seq(d0) ++ Seq(d0 + day, d0 + day + 1) ++
      (0L until 4L).map(i => d0 + 2 * day + i))
      .zipWithIndex.map { case (ts, i) => (i.toLong, ts, 1L, "x", 1.0, "{}") }
    val dir = miniDir("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_holt_linear")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(("x", 3L, 2.875, 0.8125, 3.6875)))
  }

  test("holt-winters: hand-computed 15-day fixture (one fold step) and the short-series filter") {
    // Type x: daily counts 1..7 (week 1, mean 4), 8..14 (week 2, mean 11),
    // then 22 on day 15. Init: l0=11, b0=(11-4)/7=1, ss=[-3..3]. The one
    // fold step: l=0.5·(22-(-3))+0.5·12=18.5; b=0.25·7.5+0.75=2.625;
    // s_new=0.25·3.5-2.25=-1.375; season_next = shifted ss head = -2;
    // forecast = 18.5+2.625-2 = 19.125. All binary fractions — exact.
    // Type y has only 14 days → filtered (no seasonal cycle to estimate).
    val d0 = 1704067200L * 1000000000L
    val day = 86400L * 1000000000L
    val counts = (1 to 7) ++ (8 to 14) :+ 22
    var id = 0L
    val xRows = counts.zipWithIndex.flatMap { case (c, i) =>
      (1 to c).map { _ => id += 1; (id, d0 + i * day, 1L, "x", 1.0, "{}") }
    }
    val yRows = (0 until 14).map { i => id += 1; (id, d0 + i * day, 1L, "y", 1.0, "{}") }
    val dir = miniDir("events" -> (xRows ++ yRows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_holt_winters")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("x", 15L, 18.5, 2.625, -2.0, 19.125)))
  }

  test("graph greedy search: walks the mutual-kNN graph to the best node") {
    // 4 items at angles 80/60/40/20 degrees from the query [1,0], one
    // label. The query node participates in the kNN graph BUILD (it is a
    // corpus row) and occupies kNN slots: id 4's top-3 is {0, 3, 2}, so
    // the 1–4 edge is NOT mutual and the graph is the path-ish
    // 1–2, 2–3, 2–4, 3–4. The walk must take two genuine hops:
    // entry 1 → 2 (only neighbor beats cos 80°) → 4 (cos 20° ≈ 0.940),
    // then stays — path touches exactly {1, 2, 4}.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val dir = miniDir("embeddings" -> Seq(
      (0L, at(0), 0), (1L, at(80), 0), (2L, at(60), 0),
      (3L, at(40), 0), (4L, at(20), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_graph_greedy_search")(spark, dir).head()
    assert((got.getLong(0), got.getLong(1), got.getDouble(2),
      got.getLong(3), got.getBoolean(5)) == ((3L, 4L, 0.94, 4L, true)))
  }

  test("louvain step and kcore peel: hand-computed sweep on a tie-free angle fixture") {
    // Angles chosen so no node sees two equi-distant neighbors (the
    // greedy test's 0/80/60/40/20 fixture has cos-20° ties whose float
    // rounding decides the kNN — fine for an empirical pin, hostile to a
    // hand derivation). With 0/85/62/42/20 the mutual-3NN graph is
    // unambiguously {0–3, 0–4, 1–2, 2–3, 2–4, 3–4} (0–2 is NOT mutual:
    // 2's top-3 is {3,1,4}), degrees k = (2,1,3,3,3), m = 6.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val dir = miniDir("embeddings" -> Seq(
      (0L, at(0), 0), (1L, at(85), 0), (2L, at(62), 0),
      (3L, at(42), 0), (4L, at(20), 0))
      .toDF("vec_id", "embedding", "label"))
    // Louvain singleton sweep: each node joins its min-degree neighbor
    // (gain 2m − k_i·k_j, all positive here; ties → lowest id):
    // 0→3 (gain 6), 1→2 (9), 2→1 (9), 3→0 (6), 4→0 (6).
    // Communities: 0:{3,4}, 1:{2}, 2:{1}, 3:{0}.
    val lv = SparkEntry.queries("graph_louvain_step")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(lv.toSeq == Seq(
      (0L, 2L, 2L, 12L), (1L, 1L, 1L, 9L), (2L, 1L, 1L, 9L), (3L, 1L, 1L, 6L)))
    // 2-core peel: round 1 drops node 1 (degree 1); the induced graph
    // {0,2,3,4} has min degree 2 → round 2 is a fixpoint (converged).
    val kc = SparkEntry.queries("graph_kcore_peel")(spark, dir).head()
    assert((kc.getInt(0), kc.getLong(1), kc.getLong(2), kc.getLong(3), kc.getBoolean(4))
      == ((0, 5L, 4L, 1L, true)))
    // Louvain to convergence, hand-derived on the same graph (m=6,
    // k=(2,1,3,3,3)). Round 1 tentative: 0→3, 1→2, 2→1, 3→0, 4→0; the
    // singleton-swap guard cancels the larger half of the (0,3) and (1,2)
    // mutual pairs, so only 0→3, 1→2, 4→0 land (3 moves). Round 2: with
    // tot={c3:5, c2:4, c0:3} every general-form gain is ≤0 except node 4's
    // 2m·2 − 3·(5−3+3) = 9 into {0,3} (1 move). Round 3: no positive gain
    // (e.g. node 2 → c3 scores 12·(2−1) − 3·(8−4+3) = −9) — fixpoint at
    // sweep 3, so sweep_moves=4 over 2 active rounds, converged. The
    // contraction yields supers {0,3,4} (self-weight 3) and {1,2} (1)
    // with one inter-edge of weight 2; the weighted gain 12·2 − 4·8 = −8
    // keeps them apart (coarse_moves=0).
    val lc = SparkEntry.queries("graph_louvain_converge")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    assert(lc.toSeq == Seq(
      (3L, 1L, 3L, 3L, 4L, 2L, 0L, true),
      (2L, 1L, 2L, 1L, 4L, 2L, 0L, true)))
  }

  test("walk hop builders: beam=1 stops at a local optimum, beam=4 escapes to the true top-1") {
    // Hand-built navigable graph: 1–2, 2–3, 2–5, 3–9 with query sims
    // 1→0.1, 2→0.5, 3→0.4, 5→0.45, 9→0.9 — realized as 2-d unit float
    // vectors (s, √(1−s²)) against the query (1, 0), whose cosine is s up
    // to float casting. From entry node 1 the greedy walk (six greedy
    // hops of [[graphWalk]], the one walk of the graph-search keys)
    // reaches 2 and stops — every neighbor of 2 (1, 3, 5) scores below
    // it, yet the TRUE top-1 (9, sim 0.9) sits behind the downhill hop
    // 2→3. An ef=4 frontier (six beam steps) keeps 3 alive in the beam,
    // expands its neighborhood, and surfaces 9 — the recall-vs-lookups
    // trade beam width exists for. Fixed 6 steps stand in for the ops'
    // early-stop: both maps are idempotent at stability. (A graph with no
    // entry node is the next test's case: the walk has no row and the
    // ops answer the exact top-1.)
    val sims = Seq(1L -> 0.1, 2L -> 0.5, 3L -> 0.4, 5L -> 0.45, 9L -> 0.9)
    def v(s: Double) = Array(s.toFloat, math.sqrt(1 - s * s).toFloat)
    val corpus = sims.map { case (n, s) => (n, v(s)) }.toDF("vec_id", "embedding")
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 5L), (3L, 9L))
      .map { case (a, b) => (0, a, b) }.toDF("lvl", "a", "b")
    def walk(e: org.apache.spark.sql.DataFrame, entry: Long, greedy: Boolean) = {
      val rows = ops.PipelineOps.graphWalk(e, corpus,
        Seq((0L, Array(1f, 0f))).toDF("qid", "qemb"), Seq((entry, 0)).toDF("vec_id", "lay"),
        levels = if (greedy) Seq(0) else Nil, beam = !greedy).collect()
      assert(rows.length == 1, s"one walk row per query, got ${rows.length}")
      rows.head
    }
    val g = walk(edges, 1L, greedy = true)
    assert(g.getAs[Long]("found_id") == 2L, "beam=1 must stop at the local optimum 2")
    assert(g.getAs[Long]("descent_nodes") == 2L) // {1, 2}
    assert(math.abs(g.getAs[Double]("sim") - 0.5) < 1e-6)
    // ef=4 beam from the same entry escapes the ridge.
    val b = walk(edges, 1L, greedy = false)
    assert(b.getAs[Long]("found_id") == 9L, "ef=4 must escape to the true top-1")
    assert(math.abs(b.getAs[Double]("sim") - 0.9) < 1e-6)
    assert(b.getAs[Long]("beam_nodes") == 5L, "every node entered the beam along the way")
    // Seeded form (vec_hnsw_search's layer-0 entry): starting PAST the
    // ridge at 3, even beam=1 reaches the true top-1 — the value the
    // upper-layer descent adds before the beam spends lookups.
    val sd = walk(edges, 3L, greedy = true)
    assert(sd.getAs[Long]("found_id") == 9L, "a seed past the ridge must reach 9 at beam=1")
    assert(sd.getAs[Long]("descent_nodes") == 2L) // {3, 9}
    // A seed without edges stays put: its only candidate is itself, the
    // walk is idempotent there.
    val iso = walk(edges.filter(lit(false)), 5L, greedy = true)
    assert(iso.getAs[Long]("found_id") == 5L && iso.getAs[Long]("descent_nodes") == 1L,
      "isolated seed lands on itself")
  }

  test("graph walk: bit-identical sims go to the smaller id, in the greedy hop and the beam's fourth slot") {
    // Twins 6 and 8 share one vector, so their sims are bit-identical;
    // only 6 links on to 10, the true top-1. Each edge list names 8
    // before 6, so only the (sim DESC, id ASC) order can pick 6.
    val sims = Seq(1L -> 0.1, 2L -> 0.5, 3L -> 0.4, 5L -> 0.45, 6L -> 0.3, 8L -> 0.3, 10L -> 0.95)
    def v(s: Double) = Array(s.toFloat, math.sqrt(1 - s * s).toFloat)
    val corpus = sims.map { case (n, s) => (n, v(s)) }.toDF("vec_id", "embedding")
    def walk(und: Seq[(Long, Long)], greedy: Boolean) =
      ops.PipelineOps.graphWalk(und.map { case (a, b) => (0, a, b) }.toDF("lvl", "a", "b"),
        corpus, Seq((0L, Array(1f, 0f))).toDF("qid", "qemb"), Seq((1L, 0)).toDF("vec_id", "lay"),
        levels = if (greedy) Seq(0) else Nil, beam = !greedy).head()
    // Greedy from 1, whose only neighbors are the twins: 1 → 6 → 10. Had
    // 8 won the tie, the walk would stop at 8 (its only neighbor is 1).
    val g = walk(Seq((1L, 8L), (1L, 6L), (6L, 10L)), greedy = true)
    assert(g.getAs[Long]("found_id") == 10L && g.getAs[Long]("descent_nodes") == 3L,
      s"the greedy hop must take 6 over its twin 8: $g")
    // Beam from 1: step 1 ranks 2, 5, 3 and then the twins for the fourth
    // slot; 6 takes it, so step 2 reaches 10. Had 8 taken it, the beam
    // would stay {2, 5, 3, 8} and answer 2.
    val b = walk(Seq((1L, 2L), (1L, 3L), (1L, 5L), (1L, 8L), (1L, 6L), (6L, 10L)), greedy = false)
    assert(b.getAs[Long]("found_id") == 10L, s"the beam's fourth slot must go to 6: $b")
    assert(b.getAs[Long]("beam_nodes") == 6L) // {1, 2, 3, 5, 6, 10}
  }

  test("graph greedy and beam search: no mutual edge off the query answers the exact top-1") {
    // Corpus {0, 1}: the only possible mutual edge touches the query, so
    // the query-free graph has no entry node and neither walk runs. Each
    // flat key answers the exact top-1 (vec 1, cos 30° ≈ 0.866) with zero
    // visited nodes and hit = true — the oracle's COALESCE tail.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val dir = miniDir("embeddings" -> Seq((0L, at(0), 0), (1L, at(30), 0))
      .toDF("vec_id", "embedding", "label"))
    for ((k, nodes) <- Seq("vec_graph_greedy_search" -> "path_nodes",
        "vec_graph_beam_search" -> "beam_nodes")) {
      val rows = SparkEntry.queries(k)(spark, dir).collect()
      assert(rows.length == 1, s"$k: ${rows.length} rows")
      val r = rows.head
      assert(r.schema.fieldNames.toSeq ==
        Seq(nodes, "found_id", "found_sim", "exact_id", "exact_sim", "hit"), k)
      assert((r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(5)) ==
        ((0L, 1L, 1L, true)), s"$k: $r")
      assert(r.getDouble(2) == r.getDouble(4) && r.getDouble(4) == 0.866, s"$k: $r")
    }
  }

  test("temperature sample: sqrt weights flatten the mix, md5 coin decides membership") {
    // 8 "aa" docs vs 2 "bb" docs, budget N/2 = 5. Weights √8:√2 give
    // p = 2/3 : 1/3, so keep-per-million = floor(5·p/cnt·1e6) =
    // 416666 (aa) / 833333 (bb) — the minority lang keeps a HIGHER rate
    // (the flattening the op exists for). Membership is the md5 coin:
    // hand-evaluated, ids 3,4,5 pass at 416666 and id 9 passes at
    // 833333 → kept 3 vs 1, effective milli 750/250 (integer DIV).
    val dir = miniDir("documents" -> (
      (0L to 7L).map(i => (i, "w w", "aa")) ++ Seq((8L, "w w", "bb"), (9L, "w w", "bb")))
      .toDF("doc_id", "text", "lang"))
    val got = SparkEntry.queries("corpus_temperature_sample")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("aa", 8L, 416666L, 3L, 6L, 750L),
      ("bb", 2L, 833333L, 1L, 2L, 250L)))
  }

  test("log histogram: buckets at exact powers, integer p50/p99 crossings") {
    val dir = miniDir("lineitem" -> Seq(
      (1L, 0.01), (2L, 0.03), (3L, 10.24))
      .toDF("l_orderkey", "l_extendedprice"))
    val got = SparkEntry.queries("agg_log_histogram")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    // cents 1→bucket 0, 3→bucket 1 (median crossing), 1024→bucket 10 (p99).
    assert(got.toSeq == Seq(
      (0, 1L, 1L, 1L, 1L, false, false),
      (1, 2L, 1L, 2L, 3L, true, false),
      (10, 1024L, 1L, 3L, 1024L, false, true)))
  }

  test("bitemporal: the restatement is invisible before its tx time, visible after") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1996-01-01 00:00:00", 100.0, "F"),
      (2L, "1995-06-01 00:00:00", 50.0, "O"),
      (3L, "1997-05-01 00:00:00", 10.0, "F")) // valid-after both probes' V
      .toDF("o_orderkey", "d", "o_totalprice", "o_orderstatus")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val got = SparkEntry.queries("etl_bitemporal_asof")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Probe 1 (as known 1996): original prices 100+50. Probe 2 (as known
    // 1998): order 1 restated to 110, order 3 still outside valid time.
    assert(got.toSeq == Seq((1, 2L, 15000L, 0L), (2, 2L, 16000L, 1L)))
  }

  test("freshness: the 30h-quiet stream is stale against the global high-water mark") {
    val h = 3600L * 1000 * 1000 * 1000
    val base = 1577836800L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "A", 1.0, "{}"),
      (1L, base + 30 * h, 1L, "B", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("quality_freshness_report")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(("A", 1L, 30L, true), ("B", 1L, 0L, false)))
  }

  test("dau/wau: a 3-day-old active user still counts toward WAU, halving stickiness") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1577836800L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),
      (1L, base + 3 * day, 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_active_users_rolling")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // Day 0: only u1 → 1/1. Day 3: u2 is today's DAU but u1's 7-day
    // support window still covers day 3 → WAU=2, stickiness 0.5.
    assert(got.toSeq == Seq((1L, 1L, 1.0), (1L, 2L, 0.5)))
  }

  test("drawdown: trough below the running peak scores 5000 bps at the right day") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1996-01-01 00:00:00", 1.00, "1-URGENT"),
      (2L, "1996-01-02 00:00:00", 0.50, "1-URGENT"), // 50% below peak 100
      (3L, "1996-01-03 00:00:00", 2.00, "1-URGENT"), // new peak
      (4L, "1996-01-04 00:00:00", 1.50, "1-URGENT")) // 25% below peak 200
      .toDF("o_orderkey", "d", "o_totalprice", "o_orderpriority")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val got = SparkEntry.queries("win_drawdown")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[java.time.LocalDateTime](4).toString))
    assert(got.toSeq == Seq(("1-URGENT", 4L, 200L, 5000L, "1996-01-02T00:00")))
  }

  test("maxsim: sub-vector-aligned candidate scores 4 full matches, orthogonal scores 0") {
    def v(offset: Int) = Array.tabulate(64)(k => if (k % 16 == offset) 1f else 0f)
    val dir = miniDir("embeddings" -> Seq(
      (0L, v(0), 0),  // query: e0 in each of the four subs
      (1L, v(0), 0),  // identical layout → cos 1 per sub → 4,000,000 micro
      (2L, v(1), 0))  // orthogonal in every sub → 0
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_maxsim_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 4000000L), (2L, 0L)))
  }

  test("nearest as-of: forward click wins when closer, backward wins ties") {
    val m = 60L * 1000 * 1000 * 1000 // ns
    val base = 1577836800L * 1000 * 1000 * 1000
    val dir = miniDir("events" -> Seq(
      (0L, base, 1L, "click", 1.0, "{}"),           // 5 min before p1
      (1L, base + 5 * m, 1L, "purchase", 1.0, "{}"),
      (2L, base + 7 * m, 1L, "click", 1.0, "{}"),   // 2 min after p1 → nearer, F
      (3L, base + 9 * m, 1L, "purchase", 1.0, "{}"),// 2 min each side → tie → B
      (4L, base + 11 * m, 1L, "click", 1.0, "{}"),
      (5L, base, 2L, "purchase", 1.0, "{}"))        // no clicks at all
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("join_asof_nearest")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3))))
    assert(got.toSeq == Seq(
      (1L, Some(120000000L), Some("F")),
      (3L, Some(120000000L), Some("B")),
      (5L, None, None)))
  }

  test("burstiness: constant series scores B=-1 and dispersion 0") {
    val day = 86400L * 1000 * 1000 * 1000
    val base = 1577836800L * 1000 * 1000 * 1000
    // 2 events/day for 3 days: mu=2, var=0 → dispersion 0, B=(0-2)/(0+2)=-1.
    val rows = (0 until 3).flatMap(d => Seq(
      (d * 10L, base + d * day, 1L, "click", 1.0, "{}"),
      (d * 10L + 1, base + d * day, 2L, "click", 1.0, "{}")))
    val dir = miniDir("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_burstiness")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(("click", 3L, 2.0, 0.0, -1.0)))
  }

  test("retention ttl: only partitions >24 months behind the data high-water expire") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1995-03-01 00:00:00", 1.00), // 34 months behind → expire
      (2L, "1996-06-01 00:00:00", 2.00), // 19 months behind → keep
      (3L, "1998-01-01 00:00:00", 3.00)) // high-water month
      .toDF("o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val got = SparkEntry.queries("etl_retention_ttl")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1995, 1L, 100L, 34L, true), (1996, 1L, 200L, 19L, false),
      (1998, 1L, 300L, 0L, false)))
  }

  test("readability: 'The cat sat.' scores Flesch 119.19 and counts as easy") {
    val dir = miniDir("documents" -> Seq(
      (1L, "The cat sat.", "en", "src0", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_readability")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // 3 words, 1 sentence, 3 vowel groups: 206.835 − 1.015·3 − 84.6·1.
    assert(got.toSeq == Seq(("en", 1L, 119.19, 10000L)))
  }

  test("anova: groups {10,20} vs {10,10} give SSB=25, SSW=50, F=1, eta2=1/3") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", 10.0), (2L, "1-URGENT", 20.0),
      (3L, "5-LOW", 10.0), (4L, "5-LOW", 10.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val got = SparkEntry.queries("agg_anova_f")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // grand mean 12.5: SSB = 2·2.5² + 2·2.5² = 25, SSW = 5²+5² = 50,
    // F = (25/1)/(50/2) = 1, η² = 25/75.
    assert(got.toSeq == Seq((2, 4L, 25.0, 50.0, 1.0, 0.333333)))
  }

  test("mann-kendall + theil-sen: a strictly increasing 4-month series") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", "1996-01-15", 10.0), (2L, "1-URGENT", "1996-02-15", 20.0),
      (3L, "1-URGENT", "1996-03-15", 30.0), (4L, "1-URGENT", "1996-04-15", 40.0))
      .toDF("o_orderkey", "o_orderpriority", "d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("timestamp_ntz")).drop("d"))
    val mk = SparkEntry.queries("ts_mann_kendall")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // 4 monotone months: S = 6, no ties → var = 4·3·13/18 = 8.6667,
    // z = (6−1)/√var = 1.6984.
    assert(mk.toSeq == Seq(("1-URGENT", 4L, 6L, 8.6667, 1.6984)))
    val tsn = SparkEntry.queries("ts_theil_sen")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // linear series: all 6 pairwise slopes are exactly 1000 cents/month.
    assert(tsn.toSeq == Seq(("1-URGENT", 6L, 1000.0)))
  }

  test("rrf fusion: divergent rankers both count; tied fused scores resolve by id") {
    val dir = miniDir("embeddings" -> Seq(
      (0L, Array(1f, 0f), 0),  // query
      (1L, Array(2f, 0f), 0),  // cos rank 1, ip rank 2
      (2L, Array(5f, 5f), 0),  // cos rank 2, ip rank 1
      (3L, Array(0f, 9f), 0))  // rank 3 in both
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_rrf_fusion")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // ids 1 and 2 tie at ⌊1e9/61⌋+⌊1e9/62⌋ → id breaks the tie; id 3 gets
    // 2·⌊1e9/63⌋.
    assert(got.toSeq == Seq(
      (1L, 32522474L, 1, 2), (2L, 32522474L, 2, 1), (3L, 31746030L, 3, 3)))
  }

  test("ndcg: an order-preserving index scores the exact integer DCG of grades 10,9,8") {
    val dir = miniDir("embeddings" -> Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(2f, 0f), 0), (2L, Array(5f, 5f), 0), (3L, Array(0f, 9f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_ndcg_eval")(spark, dir).head()
    // one label → IVF retrieves all 3 in exact order: DCG = 10·10⁶ +
    // 9·630930 + 8·500000 = 19678370 = the 3-item truth set's own ideal
    // DCG, so a perfect index scores ndcg 1.0 even on a tiny catalog.
    assert((got.getInt(0), got.getLong(1), got.getLong(2), got.getDouble(3))
      == ((10, 19678370L, 19678370L, 1.0)))
  }

  test("adamic-adar: two triangles bridged at 3−4 predict exactly the four 2-hop links") {
    // Unit vectors at 0°,10°,20° (triangle A) and 90°,100°,110°
    // (triangle B): mutual-3NN gives the two triangles + the 3−4 bridge,
    // so the non-adjacent 2-hop pairs are (1,4),(2,4) via z=3 and
    // (3,5),(3,6) via z=4 — all through a degree-3 hub.
    val dir = miniDir("embeddings" -> Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0.9848078f, 0.1736482f), 0),
      (3L, Array(0.9396926f, 0.3420201f), 0),
      (4L, Array(0f, 1f), 0),
      (5L, Array(-0.1736482f, 0.9848078f), 0),
      (6L, Array(-0.3420201f, 0.9396926f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("graph_adamic_adar")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 910239L), (2L, 4L, 1L, 910239L),
      (3L, 5L, 1L, 910239L), (3L, 6L, 1L, 910239L)))
  }

  test("pmi: two support-5 collocations share ln 2.8; sub-support pairs are cut") {
    val docs = (1 to 5).map(i => (i.toLong, "a b", "en", "s", 3L)) :+
      ((6L, "c d c d c d c d c d", "en", "s", 19L))
    val dir = miniDir("documents" ->
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_cooccurrence_pmi")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // N=14 bigrams; (a,b) and (c,d) both cab=5 with 5·5 margins →
    // ratio 14/5, pmi = ln 2.8 = 1.0296; (d,c) at support 4 is cut.
    assert(got.toSeq == Seq(
      ("a", "b", 5L, 5L, 5L, 1.0296), ("c", "d", 5L, 5L, 5L, 1.0296)))
  }

  test("corr matrix: perfectly correlated price, anti-correlated discount") {
    val dir = miniDir("lineitem" -> Seq(
      (1.0, 1.0, 0.02), (2.0, 2.0, 0.01), (3.0, 3.0, 0.00))
      .toDF("l_quantity", "l_extendedprice", "l_discount"))
    val got = SparkEntry.queries("agg_corr_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("price~discount", 3L, -1.0), ("quantity~discount", 3L, -1.0),
      ("quantity~price", 3L, 1.0)))
  }

  test("seasonal strength: a pure weekly pattern scores seasonal=1, trend=0") {
    // 21 days of counts p(i%7) = i%7 + 1: inside every full 7-day frame
    // the MA is the constant Σp/7, so the detrended series is purely
    // day-of-week (η²=1) and shares the original's variance (trend=0).
    val base = 1700000000000000000L
    val rows = for {
      day <- 0 until 21
      k <- 0 until (day % 7 + 1)
    } yield ((day.toLong * 100 + k, base + day.toLong * 86400L * 1000000000L,
      1L, "click", 1.0, "{}"))
    val dir = miniDir("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = SparkEntry.queries("ts_seasonal_strength")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("click", 15L, 0.0, 1.0)))
  }

  test("kruskal-wallis: distinct ranks 1,2 vs 3,4 give H=2.4, no tie correction") {
    val dir = miniDir("orders" -> Seq(
      (1L, "1-URGENT", 0.01), (2L, "1-URGENT", 0.02),
      (3L, "5-LOW", 0.03), (4L, "5-LOW", 0.04))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val got = SparkEntry.queries("agg_kruskal_wallis")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // R₁=3, R₂=7 → ΣR²/n = 29 → H = 12·29/20 − 15 = 2.4; no ties → C=1.
    assert(got.toSeq == Seq((2, 4L, 2.4, 1.0, 2.4)))
  }

  test("hashing tfidf: zero-idf tokens vanish; singleton tokens carry tf·ln2 micro-weights") {
    val dir = miniDir("documents" -> Seq(
      (1L, "a a b", "en", "s", 5L), (2L, "b c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_hashing_tfidf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getDouble(4)))
    // df(b)=2=N → idf 0 → bucket dropped; w(a)=2·ln2·10⁶=1386294,
    // w(c)=ln2·10⁶=693147; md5 buckets: a→42, c→51.
    assert(got.toSeq == Seq(
      (1L, 1, 42, 1386294L, 1386294.0), (2L, 1, 51, 693147L, 693147.0)))
  }

  test("mrr: each query's nearest neighbor retrieved at position 1") {
    // queries 0..4 at five directions; corpus 5..9 are the same
    // directions at 2×: rel(i) = 5+i, found at IVF pos 1 → rr = 10⁶.
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val rows = (0 until 5).map(i => (i.toLong, v(20.0 * i), 0)) ++
      (0 until 5).map(i => (5L + i, v(20.0 * i).map(_ * 2f), 0))
    val dir = miniDir("embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_mrr_eval")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == (0 until 5).map(i => (i.toLong, 5L + i, 1, 1000000L)))
  }

  test("lm perplexity: hand-computed bits-per-token under the corpus unigram model") {
    // Corpus: a×3, b×2, N=5. doc1 "a a b": stl = round(2·log2(3)·10⁶)
    // + 10⁶ = 4169925 → h = log2 5 − 4.169925/3 = 0.931953. doc2 "a b":
    // stl = 1584963 + 10⁶ → h = log2 5 − 2.584963/2 = 1.029447. Mean in
    // DECIMAL = 0.9807 → 0.981.
    val dir = miniDir("documents" -> Seq(
      (1L, "a a b", "en", "s", 5L), (2L, "a b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_lm_perplexity")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(("en", 2L, 0.981, 0.931953, 1.029447)))
  }

  test("zipf fit: an exact 6/3/2 power corpus lands slope -1, r² 1") {
    // Counts 6, 3, 2 at ranks 1, 2, 3: micro-ln points (0, 1791759),
    // (693147, 1098612), (1098612, 693147) are EXACTLY collinear at
    // slope −1 (1791759−1098612 = 693147; 1098612−693147 = 405465 both
    // directions), so num = −den and num² = den·deny exactly.
    val dir = miniDir("documents" -> Seq(
      (1L, "a a a a a a b b b c c", "en", "s", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = SparkEntry.queries("text_zipf_fit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("en", 3L, -1.0, 1.0)))
  }

  test("gram matrix: exact integer upper-triangle second moments") {
    // Vectors (1,2), (3,4) → milli-units (1000,2000), (3000,4000):
    // G11 = 10⁶+9·10⁶, G12 = 2·10⁶+12·10⁶, G22 = 4·10⁶+16·10⁶.
    val dir = miniDir("embeddings" -> Seq(
      (1L, Array(1f, 2f), 0), (2L, Array(3f, 4f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_gram_matrix")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, 1, 2L, 10000000L), (1, 2, 2L, 14000000L), (2, 2, 2L, 20000000L)))
  }

  test("gram matrix: ragged vector lengths count per-cell contributors") {
    // GramMatrixAgg's n must equal the number of vectors long enough to
    // reach column j (the explode formulation's per-(i,j) COUNT(*)):
    // (1,2) and (3,4,5) → cell (1,1) has 2 contributors, any cell with
    // j=3 has 1. G13 = 3000·5000 (only the long vector), G11 = 10⁶+9·10⁶.
    val dir = miniDir("embeddings" -> Seq(
      (1L, Array(1f, 2f), 0), (2L, Array(3f, 4f, 5f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = SparkEntry.queries("vec_gram_matrix")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, 1, 2L, 10000000L), (1, 2, 2L, 14000000L), (1, 3, 1L, 15000000L),
      (2, 2, 2L, 20000000L), (2, 3, 1L, 20000000L), (3, 3, 1L, 25000000L)))
  }

  test("function table: Tables.conf and GraftExtensions expose the same names") {
    // The imperative path, measured on a fresh session: what conf adds
    // to the built-in registry.
    val fresh = spark.newSession()
    def names(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val builtin = names(fresh)
    Tables.conf(fresh)
    val viaConf = names(fresh) -- builtin
    // The spark.sql.extensions path: what the extension set injects.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val viaExt = org.apache.spark.sql.ExtensionsProbe.injectedFunctionNames(ext)
    assert(viaConf == viaExt,
      s"conf-only=${viaConf -- viaExt}, extensions-only=${viaExt -- viaConf}")
    assert(viaConf == graft.functions.FunctionTable.all.map(_.name).toSet)
    assert(viaConf.contains("vec_sum"))
  }

  test("fixture registry: live consumer keys, unique names, Setups.warm derives from the layouts") {
    // A typo in a consumer set fails silently at run time: the entry
    // waits for a key that never reports and pins its blocks until the
    // session stops. Pin every declaration against the key registry.
    val fixtures = Fixture.all
    val keys = SparkEntry.queries.keySet
    val names = fixtures.map(_.name)
    assert(names.distinct == names, s"duplicate fixture names: ${names.diff(names.distinct)}")
    fixtures.foreach { f =>
      assert(f.consumers.nonEmpty, s"fixture ${f.name} declares no consumer")
      assert(f.consumers.subsetOf(keys),
        s"fixture ${f.name} names unknown keys ${f.consumers -- keys}")
    }
    val layouts = fixtures.filter(_.layout)
    assert(layouts.nonEmpty)
    // A predicate that answers false is asked about every consumer of
    // every layout and builds nothing: the keys warm consults.
    val asked = scala.collection.mutable.Set.empty[String]
    Setups.warm(spark, sf0001, k => { asked += k; false })
    assert(asked.toSet == layouts.flatMap(_.consumers).toSet)
    // And a single consumer key builds exactly its own layout.
    Caches.releaseAll(spark, sf0001)
    try {
      Setups.warm(spark, sf0001, Set("src_txn_log_compact"))
      assert(Caches.activeEntries(spark, sf0001) == Set("txnlog_demo"))
    } finally Caches.releaseAll(spark, sf0001)
  }

  /** Whether a frame's physical plan is adaptive, and its shuffle widths
    * (for an adaptive plan, those of its initial plan).
    */
  private def shape(df: org.apache.spark.sql.DataFrame): (Boolean, Seq[Int]) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def widths(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => (true, widths(a.executedPlan))
      case p                        => (false, widths(p))
    }
  }

  test("Scoped: a bound frame plans under the scope's conf; the session and its frames keep theirs") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts != 2 && spark.conf.get("spark.sql.adaptive.enabled") == "true")
    def agg = spark.range(100).groupBy((col("id") % 7).as("k")).count()
    val out = Scoped(spark,
        "spark.sql.shuffle.partitions" -> "2", "spark.sql.adaptive.enabled" -> "false") { sc =>
      assert(sc.session ne spark)
      assert(shape(sc(agg)) == ((false, Seq(2))))
      // Inside the body the session, and a frame planned on it, are untouched.
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parts.toString)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(shape(agg) == ((true, Seq(parts))))
      sc(agg).filter(col("count") > 0)
    }
    // A lazily returned frame comes back on the session and plans there.
    assert(out.sparkSession eq spark)
    assert(shape(out) == ((true, Seq(parts))))
    assert(out.count() == 7)
  }

  test("Scoped: a windowed key never changes the conf of a job planning concurrently on the session") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def agg = spark.range(1000).groupBy((col("id") % 5).as("k")).count()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val run = pool.submit(new java.util.concurrent.Callable[Long] {
      def call() = SparkEntry.queries("graph_bfs_hops")(spark, sf0001).count()
    })
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Seq[Int])]
    try {
      while (!run.isDone) samples += shape(agg)
      assert(run.get() > 0)
    } finally {
      pool.shutdown()
      Caches.keyDone(spark, sf0001, "graph_bfs_hops")
    }
    assert(samples.nonEmpty)
    val off = samples.filter(_ != ((true, Seq(parts))))
    assert(off.isEmpty, s"${off.size} of ${samples.size} samples planned off the session conf: ${off.distinct}")
  }

  test("Caches.track refuses a Scoped clone and names the key") {
    val e = intercept[IllegalArgumentException] {
      Scoped(spark) { sc =>
        Caches.track(sc.session, sf0001, "scoped_probe", Set("graph_bfs_hops"), () => ())
      }
    }
    assert(e.getMessage.contains("scoped_probe"))
    assert(!Caches.activeEntries(spark, sf0001).contains("scoped_probe"))
  }

  test("Scoped: a clone that started a stream leaves no listener bus on the shared context") {
    import scala.jdk.CollectionConverters._
    // LiveListenerBus and the manager's bus are private to Spark; read
    // them reflectively.
    def listeners(): Seq[AnyRef] = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    }
    val src = Tables.tmpDir("graft_scoped_stream")
    spark.range(3).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema("id LONG").parquet(src)
    val cloneBus = Scoped(spark) { sc =>
      sc(stream).writeStream.format("noop")
        .option("checkpointLocation", Tables.tmpDir("graft_scoped_stream_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      val f = sc.session.streams.getClass.getDeclaredField("listenerBus")
      f.setAccessible(true)
      val b = f.get(sc.session.streams)
      assert(listeners().exists(_ eq b))
      b
    }
    assert(!listeners().exists(_ eq cloneBus))
  }

  test("stream keys leave no listener bus behind per query run") {
    import scala.jdk.CollectionConverters._
    def buses(): Int = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]].asScala
        .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
    }
    def run(key: String): Unit = {
      SparkEntry.queries(key)(spark, sf0001).collect()
      Caches.keyDone(spark, sf0001, key)
    }
    run("stream_tumbling_watermark")
    val after1 = buses()
    run("stream_tumbling_watermark")
    run("stream_tumbling_watermark")
    run("stream_restart_recovery")
    assert(buses() == after1, s"listener buses grew from $after1 to ${buses()}")
  }

  test("lint: op bodies cut through graft.Cut and never register their own cuts") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/ops")
    assert(java.nio.file.Files.isDirectory(root))
    val files = java.nio.file.Files.list(root)
    val hits =
      try files.iterator().asScala.toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".localCheckpoint(") || line.contains("Caches.track(") =>
            s"${f.getFileName}:${i + 1}"
        }
      } finally files.close()
    assert(hits.isEmpty, s"cut or track outside graft.Cut: ${hits.mkString(", ")}")
  }

  test("lint: op bodies never read the environment") {
    // An op's behaviour is fixed by its inputs and the session conf; an
    // environment read is a knob no test, script or benchmark can see.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/ops")
    assert(java.nio.file.Files.isDirectory(root))
    val files = java.nio.file.Files.list(root)
    val hits =
      try files.iterator().asScala.toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("sys.env") => s"${f.getFileName}:${i + 1}"
        }
      } finally files.close()
    assert(hits.isEmpty, s"sys.env read in an op file: ${hits.mkString(", ")}")
  }

  test("lint: every Scaladoc [[link]] in src/main names a declaration in src/main or an import of its file") {
    // A link to a deleted or renamed name points the reader at code that
    // no longer exists. A link's last dotted segment must be declared on
    // a code line somewhere in src/main, or be imported by the linking file.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val lines = files.map(f => f -> java.nio.file.Files.readAllLines(f).asScala.toSeq)
    def code(ls: Seq[String]) = ls.filterNot { l =>
      val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val decl = s"\\b(?:def|val|var|class|object|trait|type)\\s+($ident)".r
    val declared = lines.flatMap { case (_, ls) =>
      code(ls).flatMap(l => decl.findAllMatchIn(l).map(_.group(1)))
    }.toSet
    val link = "\\[\\[([^\\]]+)\\]\\]".r
    val bad = lines.flatMap { case (f, ls) =>
      val imported = code(ls).map(_.trim).filter(_.startsWith("import "))
        .flatMap(ident.findAllIn(_)).toSet
      ls.flatMap(link.findAllMatchIn(_).map(_.group(1)))
        .filterNot { l => val n = l.split('.').last; declared(n) || imported(n) }
        .map(l => s"${root.relativize(f)}: [[$l]]")
    }.distinct
    assert(bad.isEmpty, s"Scaladoc links to no declaration or import: ${bad.mkString(", ")}")
  }
}
