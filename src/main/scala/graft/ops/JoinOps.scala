package graft.ops

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Group C — joins (SURVEY.md §2.1 C).
  *
  * Scale notes: dimension joins broadcast (explicit `broadcast()` on
  * region/nation/customer-sized sides — no shuffle of the fact table);
  * the big-big `lineitem ⋈ orders` path is a shuffle join on the join key,
  * which at 100 TB becomes bucketed co-location (loader-level change).
  * Outer-join queries aggregate BEFORE joining, so the shuffle carries
  * group counts, not raw rows. The as-of join is the window formulation —
  * a single shuffle by user, no point-in-time self-join explosion.
  */
object JoinOps extends OpGroup {
  import graft.Tables.dec2

  /** join_dpp_prune's fixture: events written partitioned by event_type
    * (the fact) + a 5-row weight dim as a REAL parquet scan — a literal
    * LocalRelation gets constant-folded by ConvertToLocalRelation before
    * the PartitionPruning rule looks for a selective predicate, and DPP
    * never fires. On a cluster both ARE tables — this models them.
    * Built once per (session, sfDir); released after the consumer runs.
    */
  val dppDemo: graft.Fixture[String] =
    Tables.layout("dpp_demo", Set("join_dpp_prune")) { (s, dir, out) =>
      Tables.t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .repartition(col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(s"$out/fact")
      s.createDataFrame(Seq(
          ("click", 10), ("purchase", 500), ("view", 1),
          ("signup", 50), ("error", 0)))
        .toDF("event_type", "weight")
        .write.mode("overwrite").parquet(s"$out/dim")
    }

  /** join_bucketed_colocated's fixture: both facts written bucketBy(8) on
    * the join key as external tables at a tmp path. Built once per
    * (session, sfDir); release also drops the catalog entries.
    */
  val bucketedDemo: graft.Fixture[String] =
    Tables.layout("buck_demo", Set("join_bucketed_colocated"),
      extraRelease = s => {
        try {
          s.sql("DROP TABLE IF EXISTS graft_buck_lineitem")
          s.sql("DROP TABLE IF EXISTS graft_buck_orders")
        } catch { case _: Throwable => () }
      }) { (s, dir, base) =>
      s.sql("DROP TABLE IF EXISTS graft_buck_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_buck_orders")
      // Pre-repartition on the bucket column: repartition's hash IS the
      // bucketing hash (Murmur3 pmod numBuckets), so each write task
      // holds exactly one bucket — 8 files + 8 sorts per table instead
      // of up to 32×8 files with a sort in every task.
      Tables.t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet").option("path", s"$base/li")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_buck_lineitem")
      Tables.t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet").option("path", s"$base/o")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_buck_orders")
    }

  val ops: Seq[Op] = Seq(
    Op("join_broadcast_inner",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        val r = Tables.t(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_cust"))
          .orderBy("r_name")
      },
      Some("""
        SELECT r_name, COUNT(*) AS n_cust
        FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
      """.trim)),

    Op("join_shuffle_inner",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        val o = Tables.t(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2))
            * (lit(BigDecimal(1).setScale(2)).cast(DecimalType(4, 2))
              - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DecimalType(18, 2)).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
          CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // TPC-H Q5-shaped: dims broadcast, facts shuffle once.
    Op("join_multiway",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        val o = Tables.t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        val r = Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          // customer grows with the data — no forced broadcast (AQE decides);
          // nation/region are constant-size dims, safe to broadcast forever.
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2))
            * (lit(BigDecimal(1).setScale(2)).cast(DecimalType(4, 2))
              - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DecimalType(18, 2)).cast("double").as("revenue"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name,
          CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY n_name
      """.trim)),

    Op("join_left_outer",
      (s, dir) => {
        val n = Tables.t(s, dir, "nation")
        val custPerNation = Tables.t(s, dir, "customer")
          .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
        n.join(custPerNation, n("n_nationkey") === custPerNation("c_nationkey"), "left")
          .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_cust"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, COALESCE(cnt, 0) AS n_cust
        FROM nation LEFT JOIN
          (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey) c
          ON n_nationkey = c_nationkey
        ORDER BY n_name
      """.trim)),

    Op("join_right_outer",
      (s, dir) => {
        val n = Tables.t(s, dir, "nation")
        val custPerNation = Tables.t(s, dir, "customer")
          .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
        custPerNation.join(n, custPerNation("c_nationkey") === n("n_nationkey"), "right")
          .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_cust"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, COALESCE(cnt, 0) AS n_cust
        FROM (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey) c
          RIGHT JOIN nation ON c_nationkey = n_nationkey
        ORDER BY n_name
      """.trim)),

    Op("join_full_outer",
      (s, dir) => {
        val cpn = Tables.t(s, dir, "customer")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
        val spn = Tables.t(s, dir, "supplier")
          .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
        cpn.join(spn, cpn("c_nationkey") === spn("s_nationkey"), "full")
          .select(
            coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            col("n_cust"), col("n_supp"))
          .orderBy("nationkey")
      },
      Some("""
        SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey, n_cust, n_supp
        FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
          FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
          ON c_nationkey = s_nationkey
        ORDER BY nationkey
      """.trim)),

    Op("join_left_semi",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val o = Tables.t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey")
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
      """.trim)),

    // Scoped to one year so the anti set is non-empty at every sf.
    Op("join_left_anti",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val o = Tables.t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey")
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        ORDER BY c_custkey
      """.trim)),

    Op("join_cross",
      (s, dir) => {
        Tables.t(s, dir, "region").select("r_name")
          .crossJoin(Tables.t(s, dir, "nation").select("n_name"))
          .orderBy("r_name", "n_name")
      },
      Some("""
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name
      """.trim)),

    // Non-equi (theta) join → BroadcastNestedLoopJoin; both sides are
    // 25 rows, so NLJ is the right plan here AND at scale (dims stay tiny).
    Op("join_theta",
      (s, dir) => {
        val n1 = Tables.t(s, dir, "nation").select(col("n_regionkey").as("rk1"))
        val n2 = Tables.t(s, dir, "nation").select(col("n_regionkey").as("rk2"))
        n1.join(n2, col("rk1") < col("rk2"))
          .groupBy("rk1", "rk2")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("rk1", "rk2")
      },
      Some("""
        SELECT n1.n_regionkey AS rk1, n2.n_regionkey AS rk2, COUNT(*) AS n_pairs
        FROM nation n1 JOIN nation n2 ON n1.n_regionkey < n2.n_regionkey
        GROUP BY 1, 2 ORDER BY rk1, rk2
      """.trim)),

    // Interval join: equi on user_id keeps it a hash/sort-merge join with a
    // range residual — never a pure nested loop, so it scales with users.
    Op("join_range_interval",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("u1"), col("ts").as("ts1"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u2"), col("ts").as("ts2"))
        clicks.join(purchases,
          col("u1") === col("u2")
            && col("ts2") > col("ts1")
            && col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTE"))
          .groupBy(col("u1").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""
        SELECT e1.user_id AS user_id, COUNT(*) AS n_pairs
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
          AND CAST(e2.ts AS TIMESTAMP) > CAST(e1.ts AS TIMESTAMP)
          AND CAST(e2.ts AS TIMESTAMP) <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
        WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
        GROUP BY 1 ORDER BY user_id
      """.trim)),

    // The interval join's 100 TB twin: identical semantics + oracle as
    // join_range_interval, but the candidate space is bounded by a
    // TIME-BUCKET equi key, not just the user key. Each click's 5-minute
    // window expands to the 1-2 covering 5-minute buckets (explode of a
    // ≤2-element sequence); each purchase maps to exactly ONE bucket, so
    // every true pair matches exactly once and no dedup is needed. The
    // join is then a plain hash join on (user, bucket) + residual time
    // predicate — when one user has millions of events (the failure mode
    // of keying on user alone), per-task candidates stay bounded by the
    // bucket width. The general recipe for interval/range joins at scale:
    // bucketize → equi-join → residual-verify.
    Op("join_interval_bucketed",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // Bucket key derived from the NTZ wall-clock value itself
        // (days-since-epoch × 86400 + time-of-day), NOT unix_timestamp():
        // that one converts through the SESSION timezone, and near a DST
        // transition in a non-UTC session the epoch delta diverges from
        // the wall-clock delta the residual predicate uses — a true
        // pair's bucket could fall outside the 2 covered buckets and be
        // silently dropped. Wall-clock seconds agree with NTZ interval
        // arithmetic in every session timezone. (Verify pins UTC; Bench
        // and tests inherit the host's.)
        def wallSec(c: org.apache.spark.sql.Column) =
          datediff(c.cast("date"), lit("1970-01-01")).cast("long") * 86400L +
            hour(c) * 3600L + minute(c) * 60L + second(c)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("u1"), col("ts").as("ts1"))
          .withColumn("b", explode(sequence(
            floor(wallSec(col("ts1")) / 300),
            floor((wallSec(col("ts1")) + 300) / 300))))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u2"), col("ts").as("ts2"))
          .withColumn("b2", floor(wallSec(col("ts2")) / 300))
        clicks.join(purchases,
          col("u1") === col("u2") && col("b") === col("b2")
            && col("ts2") > col("ts1")
            && col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTE"))
          .groupBy(col("u1").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""
        SELECT e1.user_id AS user_id, COUNT(*) AS n_pairs
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
          AND CAST(e2.ts AS TIMESTAMP) > CAST(e1.ts AS TIMESTAMP)
          AND CAST(e2.ts AS TIMESTAMP) <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
        WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
        GROUP BY 1 ORDER BY user_id
      """.trim)),

    // Bucketed co-located big-big join: both facts written bucketBy(8) on
    // the join key, then joined with a merge hint — the bucketed layout
    // satisfies the join's distribution requirement, so NO shuffle of
    // either fact (PlanSuite asserts no Exchange on the join keys). This
    // is the 100 TB answer to join_shuffle_inner; result is identical.
    Op("join_bucketed_colocated",
      (s, dir) => {
        // External tables at a shared temp path (JoinOps.bucketedDemo):
        // the in-memory catalog dies with the JVM but a managed-table
        // location would not. The bucketed WRITE is the fixture; the
        // no-shuffle merge join below is the demonstrated mechanism.
        JoinOps.bucketedDemo(s, dir)
        val li = s.table("graft_buck_lineitem")
        val o = s.table("graft_buck_orders")
        li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2))
            * (lit(BigDecimal(1).setScale(2)).cast(DecimalType(4, 2))
              - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DecimalType(18, 2)).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
          CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // LATERAL (correlated table subquery) join: top-2 orders per customer
    // expressed as a per-row dependent subquery — the SQL-standard dual of
    // the window top-k (win_rownum_topk). Catalyst decorrelates the
    // ORDER BY + LIMIT subquery into the same rank-filter shape a window
    // formulation plans to, so the lateral SYNTAX costs nothing at scale —
    // which is exactly what a user porting LATERAL-heavy warehouse SQL
    // needs to know.
    Op("join_lateral",
      (s, dir) => {
        Tables.t(s, dir, "customer").createOrReplaceTempView("graft_lat_customer")
        Tables.t(s, dir, "orders").createOrReplaceTempView("graft_lat_orders")
        s.sql("""
          SELECT c_custkey, c_mktsegment, t.o_orderkey, t.o_totalprice
          FROM graft_lat_customer, LATERAL (
            SELECT o_orderkey, o_totalprice FROM graft_lat_orders
            WHERE o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
          ) t
          ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey
        """)
      },
      Some("""
        SELECT c_custkey, c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM customer, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey
      """.trim)),

    // Skew-salted join: the manual hot-key treatment for when AQE's
    // skew-join split isn't available (e.g. forced SMJ, or pre-3.x
    // compatibility semantics). The per-user profile (build side) is
    // replicated across 8 salt values; each fact row picks a deterministic
    // salt, so a hot user's rows spread over 8 shuffle partitions instead
    // of one straggler. The oracle is the UNSALTED join — proving salting
    // is semantics-preserving is the whole point of the key.
    Op("join_skew_salted",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val prof = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
        val saltedProf = prof.withColumn("salt", explode(expr("sequence(0, 7)")))
        val fact = ev.select(col("user_id"), col("event_type"),
          expr("CAST(event_id % 8 AS INT)").as("salt"))
        fact.join(saltedProf, Seq("user_id", "salt"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("user_events")).as("sum_user_events"),
            (round(sum(col("user_events")).cast("double") / count(lit(1)), 4) + 0.0)
              .as("avg_user_events"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(user_events) AS BIGINT) AS sum_user_events,
          CAST(ROUND(CAST(CAST(CAST(SUM(user_events) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS avg_user_events
        FROM events JOIN (
          SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id
        ) USING (user_id)
        GROUP BY event_type ORDER BY event_type
      """.trim)),

    // As-of join, window formulation (idiomatic Spark — no native ASOF):
    // one shuffle by user, running "last click before me" via
    // last(_, ignoreNulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING.
    Op("join_asof",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select("event_id", "user_id", "event_type", "ts")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        ev.withColumn("clicked_at",
            last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select("event_id", "clicked_at")
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, clicked_at FROM (
          SELECT event_id, event_type,
            last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS clicked_at
          FROM events
          WHERE event_type IN ('click', 'purchase')
        ) WHERE event_type = 'purchase'
        ORDER BY event_id
      """.trim)),

    // Nearest-direction as-of: each purchase pairs with the click of
    // MINIMUM absolute time distance, looking both backward and forward
    // (sensor/stream alignment semantics — backward-only as-of misses a
    // reading that landed just after). One (user) shuffle serves both
    // direction windows; the pick is row-local exact integer µs with an
    // earlier-wins tie (backward preferred at equal distance) — total-
    // order deterministic, no float surface. Same plan shape as
    // join_asof: the family is backward (window), backward (native
    // operator), tolerance-bounded, and now nearest.
    Op("join_asof_nearest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select("event_id", "user_id", "event_type", "ts")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
        val wNext = w.rowsBetween(1, Window.unboundedFollowing)
        ev
          .withColumn("prev_c",
            last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(wPrev))
          .withColumn("next_c",
            first(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(wNext))
          .filter(col("event_type") === "purchase")
          .withColumn("d_prev",
            Tables.ntzMicros("ts") - Tables.ntzMicros("prev_c"))
          .withColumn("d_next",
            Tables.ntzMicros("next_c") - Tables.ntzMicros("ts"))
          .selectExpr("event_id",
            """CASE WHEN prev_c IS NOT NULL AND (next_c IS NULL OR d_prev <= d_next)
                 THEN prev_c ELSE next_c END AS nearest_click""",
            """CASE WHEN prev_c IS NOT NULL AND (next_c IS NULL OR d_prev <= d_next)
                 THEN d_prev ELSE d_next END AS dist_us""",
            """CASE WHEN prev_c IS NULL AND next_c IS NULL THEN CAST(NULL AS STRING)
                 WHEN prev_c IS NOT NULL AND (next_c IS NULL OR d_prev <= d_next) THEN 'B'
                 ELSE 'F' END AS dir""")
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, nearest_click, dist_us, dir FROM (
          SELECT event_id, event_type,
            CASE WHEN prev_c IS NOT NULL AND (next_c IS NULL OR d_prev <= d_next)
              THEN prev_c ELSE next_c END AS nearest_click,
            CASE WHEN prev_c IS NOT NULL AND (next_c IS NULL OR d_prev <= d_next)
              THEN d_prev ELSE d_next END AS dist_us,
            CASE WHEN prev_c IS NULL AND next_c IS NULL THEN NULL
              WHEN prev_c IS NOT NULL AND (next_c IS NULL OR d_prev <= d_next) THEN 'B'
              ELSE 'F' END AS dir
          FROM (
            SELECT event_id, event_type,
              epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(prev_c) AS d_prev,
              epoch_us(next_c) - epoch_us(CAST(ts AS TIMESTAMP)) AS d_next,
              prev_c, next_c
            FROM (
              SELECT event_id, event_type, ts,
                last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_c,
                first_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_c
              FROM events WHERE event_type IN ('click', 'purchase')
            )
          )
        ) WHERE event_type = 'purchase'
        ORDER BY event_id
      """.trim)),

    // Bloom-filter semi-join prefilter: build a bloom filter over the
    // qualifying orders' keys (one ObjectHashAggregate, ~100 KB), ship it
    // to every lineitem task as a broadcast scalar, and discard
    // non-members BEFORE the exact semi-join shuffle. False positives
    // pass the prefilter and die in the exact join, so the RESULT is
    // exactly the plain semi-join (which is the oracle); what changes is
    // the shuffle volume — at 100 TB this is the difference between
    // shuffling every lineitem row and shuffling only the ~selectivity
    // fraction. (Spark's own runtime row-level filtering does this
    // rewrite automatically under spark.sql.optimizer.runtimeFilter —
    // this op demonstrates the explicit, always-on form.)
    Op("join_bloom_prefilter",
      (s, dir) => {
        // might_contain requires the bloom as a scalar subquery (the
        // same shape Spark's own runtime-filter rewrite injects), so
        // this op is SQL-spelled over temp views.
        Tables.t(s, dir, "orders").createOrReplaceTempView("graft_bloom_orders")
        Tables.t(s, dir, "lineitem").createOrReplaceTempView("graft_bloom_lineitem")
        s.sql("""
          WITH hv AS (
            SELECT o_orderkey FROM graft_bloom_orders WHERE o_totalprice > 400000.0
          )
          SELECT l_returnflag, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
          FROM graft_bloom_lineitem
          WHERE might_contain(
              (SELECT bloom_filter_agg(xxhash64(o_orderkey),
                                       CAST(10000 AS BIGINT), CAST(200000 AS BIGINT))
               FROM hv),
              xxhash64(l_orderkey))
            AND l_orderkey IN (SELECT o_orderkey FROM hv)
          GROUP BY l_returnflag
          ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """.trim)),

    // Native as-of join — same semantics and oracle as join_asof, executed
    // by the custom whole-operator path (graft.plans: AsOfJoinPlan logical
    // node → AsOfJoinStrategy → AsOfJoinExec streaming merge) instead of
    // the window-over-union composition. Two sides: purchases (left) pick
    // up the last click (right) of the same user strictly before them in
    // (ts, event_id) order — event_id is the tiebreaker that makes the
    // as-of ordering total, so ties resolve identically to the window
    // formulation. PlanSuite pins AsOfJoinExec in the physical plan;
    // at 100 TB this is two key-shuffles + in-partition sorts + one O(1)-
    // memory forward merge per partition, vs the window's union + full
    // per-key frame buffering.
    Op("join_asof_native",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"),
            col("event_id").as("c_event_id"))
        graft.plans.AsOfJoin.join(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user_id"),
            leftOrd = Seq("ts", "event_id"), rightOrd = Seq("c_ts", "c_event_id"))
          .select(col("event_id"), col("c_ts").as("clicked_at"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, clicked_at FROM (
          SELECT event_id, event_type,
            last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS clicked_at
          FROM events
          WHERE event_type IN ('click', 'purchase')
        ) WHERE event_type = 'purchase'
        ORDER BY event_id
      """.trim)),

    // As-of join with a tolerance bound — the pandas merge_asof
    // (tolerance=1h) variant: a purchase matches its most recent prior
    // click ONLY if that click is within the last hour; staler matches
    // degrade to misses (NULL), exactly how a feature-freshness lookup
    // must behave. Executes on the same native AsOfJoinExec (third
    // surface) with the tolerance applied as a post-merge projection —
    // the merge still buffers O(1) per key, and the tolerance compare is
    // exact integer microseconds. The window-formulation oracle applies
    // the identical bound inside its CASE.
    Op("join_asof_tolerance",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"),
            col("event_id").as("c_event_id"))
        graft.plans.AsOfJoin.join(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user_id"),
            leftOrd = Seq("ts", "event_id"), rightOrd = Seq("c_ts", "c_event_id"))
          .select(col("event_id"),
            when(Tables.ntzMicros("ts")
                - Tables.ntzMicros("c_ts") <= 3600000000L,
              col("c_ts")).as("clicked_at"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(clicked_at) <= 3600000000
               THEN clicked_at END AS clicked_at
        FROM (
          SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
            last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS clicked_at
          FROM events
          WHERE event_type IN ('click', 'purchase')
        ) WHERE event_type = 'purchase'
        ORDER BY event_id
      """.trim)),

    // Dynamic partition pruning, made real: the one Catalyst mechanism
    // SURVEY §4 marks "inert" on the single-file test inputs. The fact
    // side is written PARTITIONED by event_type; joining it to a tiny
    // filtered dim makes Spark inject the dim's post-filter key set as a
    // runtime PartitionFilter on the fact scan (reusing the broadcast
    // exchange), so 3 of 5 partition dirs are never opened. PlanSuite
    // pins `dynamicpruning` in the scan. THE 100 TB mechanism for
    // "yesterday's partitions only" joins — the scan cost is the
    // surviving partitions', not the table's, with zero query rewrite.
    Op("join_dpp_prune",
      (s, dir) => {
        // Setup write shared per (session, sfDir) via Tables.layout —
        // the partitioned layout is the fixture, the DPP probe is the
        // demonstrated mechanism; Bench warms the fixture untimed so the
        // key's time measures the pruned join, not the write.
        val base = JoinOps.dppDemo(s, dir)
        val fact = s.read.parquet(s"$base/fact")
        val dim = s.read.parquet(s"$base/dim").filter(col("weight") >= 50)
        fact.join(broadcast(dim), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), max(col("weight")).as("weight"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
          CAST(CASE event_type WHEN 'purchase' THEN 500 ELSE 50 END AS INT) AS weight
        FROM events WHERE event_type IN ('purchase', 'signup')
        GROUP BY 1 ORDER BY event_type
      """.trim)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the ETL trap
    // this op pins: a plain equi-join silently DROPS every null-keyed row
    // on both sides, and a reconciliation built on one loses exactly the
    // unkeyed population it most needs to see. Keys are made nullable
    // deterministically (bucket 0 → NULL via nullif) on both sides; the
    // null bucket must survive the join as a matched group. Same
    // hash-shuffle shape as an equi-join — null-safe equality is still a
    // hashable key (Spark plans SMJ/SHJ on it, null hashes as a value),
    // NOT a theta join.
    Op("join_null_safe_eq",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
          .groupBy(nullif(col("o_custkey") % 10, lit(0)).as("k"))
          .agg(count(lit(1)).as("n_orders"))
        val c = Tables.t(s, dir, "customer")
          .groupBy(nullif(col("c_custkey") % 10, lit(0)).as("ck"))
          .agg(count(lit(1)).as("n_cust"))
        o.join(c, o("k") <=> c("ck"))
          .select(col("k").cast("long").as("k"), col("n_orders"), col("n_cust"))
          .orderBy(asc_nulls_first("k"))
      },
      Some("""
        WITH o AS (
          SELECT nullif(o_custkey % 10, 0) AS k, COUNT(*) AS n_orders
          FROM orders GROUP BY 1),
        c AS (
          SELECT nullif(c_custkey % 10, 0) AS ck, COUNT(*) AS n_cust
          FROM customer GROUP BY 1)
        SELECT CAST(k AS BIGINT) AS k, n_orders, n_cust
        FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.ck
        ORDER BY k NULLS FIRST
      """.trim)),

    // Record linkage (entity resolution): blocked fuzzy self-join — the
    // classic blocking-key + edit-distance pattern. Candidate pairs are
    // generated ONLY within (nation, segment, name-prefix) blocks (the
    // quadratic is per-block, |block|², never |table|²) with k1 < k2
    // de-duping the pair space; levenshtein scores each candidate. The
    // round-9 prefix key — substring(name, 1, 14), i.e. everything but
    // the final 4 digits of the entity id — bounds per-block volume AS
    // THE TABLE GROWS: (nation, segment) alone is a fixed 125-way split,
    // so blocks scale ∝ |table| and the per-block quadratic resurfaces;
    // the prefix adds a cardinality-scaling axis (~10⁴ consecutive ids
    // per bucket → ~80 names/block at ANY scale). Standard linkage
    // trade-off, applied identically in the oracle: blocking bounds cost
    // by sacrificing cross-block recall — here pairs whose ids straddle
    // a 10⁴ boundary. At 100 TB the block key is the shuffle key and
    // each block's pair generation is local to one task. Output is the
    // per-nation linkage audit: candidate volume, matches under the
    // threshold, and the tightest pair.
    Op("link_fuzzy_blocked",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"), substring(col("c_name"), 1, 14).as("nblk"))
        val a = c.toDF("k1", "n1", "nk", "seg", "nblk")
        val b = c.toDF("k2", "n2", "nk2", "seg2", "nblk2")
        a.join(b, col("nk") === col("nk2") && col("seg") === col("seg2")
            && col("nblk") === col("nblk2") && col("k1") < col("k2"))
          .withColumn("lev", levenshtein(col("n1"), col("n2")))
          .groupBy(col("nk").as("nation"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("lev") <= 3, 1L).otherwise(0L)).as("n_match"),
            min("lev").as("min_lev"))
          .orderBy("nation")
      },
      Some("""
        WITH p AS (
          SELECT a.c_nationkey AS nation, levenshtein(a.c_name, b.c_name) AS lev
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
           AND substring(a.c_name, 1, 14) = substring(b.c_name, 1, 14)
           AND a.c_custkey < b.c_custkey)
        SELECT nation, COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN lev <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
          CAST(MIN(lev) AS INT) AS min_lev
        FROM p GROUP BY 1 ORDER BY 1
      """.trim))
  )
}
