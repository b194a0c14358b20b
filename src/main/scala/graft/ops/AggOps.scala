package graft.ops

import graft.Cut.CutOps
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Group D — aggregations (SURVEY.md §2.1 D).
  *
  * Scale notes: every op here is a two-phase HashAggregate (map-side
  * partial + final), so the shuffle carries only group keys × partial
  * buffers — cardinality-bounded, not data-bounded. Decimal sums keep
  * results exact and order-insensitive across any partitioning.
  */
object AggOps extends OpGroup {
  import graft.Tables.dec2

  val ops: Seq[Op] = Seq(
    // TPC-H Q1-shaped pricing summary — the flagship (SURVEY.md §7.2).
    Op("agg_groupby_hash",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        val price = col("l_extendedprice").cast(DecimalType(12, 2))
        val disc = col("l_discount").cast(DecimalType(4, 2))
        val tax = col("l_tax").cast(DecimalType(4, 2))
        li.filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            // Decimal internally (exact, order-insensitive); DOUBLE in the
            // final projection (SURVEY §2.0 rule 8 — dumped frames must be
            // pandas-hash-stable types; values ≤1e9 at 2dp convert exactly).
            sum(dec2(col("l_quantity"))).cast(DecimalType(18, 2)).cast("double").as("sum_qty"),
            sum(dec2(col("l_extendedprice"))).cast(DecimalType(18, 2)).cast("double").as("sum_base_price"),
            sum(price * (lit(BigDecimal(1).setScale(2)).cast(DecimalType(4, 2)) - disc))
              .cast(DecimalType(18, 2)).cast("double").as("sum_disc_price"),
            sum(price * (lit(BigDecimal(1).setScale(2)).cast(DecimalType(4, 2)) - disc)
                * (lit(BigDecimal(1).setScale(2)).cast(DecimalType(4, 2)) + tax))
              .cast(DecimalType(18, 2)).cast("double").as("sum_charge"),
            round(sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)), 6).as("avg_qty"),
            round(sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1)), 6).as("avg_price"),
            round(sum(dec2(col("l_discount"))).cast("double") / count(lit(1)), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
          CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
          CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.00 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_charge,
          CAST(ROUND(CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS avg_qty,
          CAST(ROUND(CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS avg_price,
          CAST(ROUND(CAST(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """.stripMargin.trim)),

    // Ungrouped partial+final aggregation: one row out, map-side combine
    // means the shuffle carries 32 partial buffers regardless of input size.
    Op("agg_global",
      (s, dir) => {
        Tables.t(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          sum(dec2(col("l_extendedprice"))).cast(DecimalType(18, 2)).cast("double").as("sum_price"),
          round(sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1)), 6).as("avg_price"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows, MIN(l_quantity) AS min_qty,
          MAX(l_quantity) AS max_qty,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
          CAST(ROUND(CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS avg_price
        FROM lineitem
      """.trim)),

    Op("agg_count_distinct",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    Op("agg_multi_distinct",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(date_trunc("day", col("ts"))).as("n_days"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
          COUNT(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP))) AS n_days
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    Op("agg_having",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_cust"))
          .filter(col("n_cust") >= 60)
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, COUNT(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name HAVING COUNT(*) >= 60
        ORDER BY n_name
      """.trim)),

    // Manual pivot via conditional aggregation — COUNT(CASE …) on both
    // sides (DuckDB SUM(int) widens to HUGEINT; COUNT stays BIGINT).
    Op("agg_conditional",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(
            count(when(col("c_mktsegment") === segs.head, 1)).as("n_automobile"),
            count(when(col("c_mktsegment") === segs(1), 1)).as("n_building"),
            count(when(col("c_mktsegment") === segs(2), 1)).as("n_furniture"),
            count(when(col("c_mktsegment") === segs(3), 1)).as("n_household"),
            count(when(col("c_mktsegment") === segs(4), 1)).as("n_machinery"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name,
          COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS n_automobile,
          COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS n_building,
          COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS n_furniture,
          COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS n_household,
          COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS n_machinery
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
      """.trim)),

    // rollup() over a multi-join lineage trips Spark's ambiguous-self-join
    // detector (grouping analytics duplicates the child plan), so this one
    // goes through SQL — identical Catalyst plan (Expand + HashAggregate).
    Op("agg_rollup",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        val r = Tables.t(s, dir, "region")
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .select("r_name", "n_name")
          .createOrReplaceTempView("graft_rollup_src")
        s.sql("""
          SELECT r_name, n_name, CAST(GROUPING(r_name) AS INT) AS g_r,
            CAST(GROUPING(n_name) AS INT) AS g_n, COUNT(*) AS n_cust
          FROM graft_rollup_src
          GROUP BY ROLLUP(r_name, n_name)
          ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
        """)
      },
      Some("""
        SELECT r_name, n_name, CAST(GROUPING(r_name) AS INT) AS g_r,
          CAST(GROUPING(n_name) AS INT) AS g_n, COUNT(*) AS n_cust
        FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
      """.trim)),

    Op("agg_cube",
      (s, dir) => {
        Tables.t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(
            grouping(col("o_orderstatus")).cast("int").as("g_s"),
            grouping(col("o_orderpriority")).cast("int").as("g_p"),
            count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
          CAST(GROUPING(o_orderpriority) AS INT) AS g_p, COUNT(*) AS n
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
      """.trim)),

    Op("agg_grouping_sets",
      (s, dir) => {
        Tables.t(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping(col("o_orderstatus")).cast("int").as("g_s"),
            grouping(col("o_orderpriority")).cast("int").as("g_p"),
            count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
          CAST(GROUPING(o_orderpriority) AS INT) AS g_p, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
      """.trim)),

    // Statistical aggregates from exact decimal moments: built-in
    // stddev/corr accumulate doubles whose partial-merge order is not
    // deterministic across runs. Σx, Σx², Σy, Σy², Σxy as decimals are
    // exact and order-insensitive; the closed formulas then run the same
    // double arithmetic on both engines — provably deterministic.
    Op("agg_stats",
      (s, dir) => {
        val x = col("l_quantity").cast(DecimalType(18, 2))
        val y = col("l_extendedprice").cast(DecimalType(18, 2))
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("sx"),
            sum(x * x).cast("double").as("sxx"),
            sum(y).cast("double").as("sy"),
            sum(y * y).cast("double").as("syy"),
            sum(x * y).cast("double").as("sxy"))
          // `+ 0.0` normalizes IEEE -0.0 to +0.0 (DuckDB's ROUND keeps the
          // sign of a tiny negative, Spark's doesn't — both sides add 0.0).
          .select(col("l_returnflag"),
            (round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 3) + 0.0).as("sd_qty"),
            (round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 3) + 0.0).as("var_qty"),
            (round((col("sxy") - col("sx") * col("sy") / col("n"))
              / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
                * (col("syy") - col("sy") * col("sy") / col("n"))), 3) + 0.0).as("corr_qty_price"),
            (round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 3) + 0.0).as("cov_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
          CAST(ROUND(CAST(CAST(sqrt((sxx - sx * sx / n) / (n - 1)) AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS sd_qty,
          CAST(ROUND(CAST(CAST((sxx - sx * sx / n) / (n - 1) AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS var_qty,
          CAST(ROUND(CAST(CAST((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS corr_qty_price,
          CAST(ROUND(CAST(CAST((sxy - sx * sy / n) / (n - 1) AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS cov_qty_price
        FROM (
          SELECT l_returnflag,
            CAST(COUNT(*) AS DOUBLE) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag
        ) ORDER BY l_returnflag
      """.trim)),

    // Exact interpolated median. Engines' percentile/quantile_cont differ in
    // interpolation ulps, so both sides use the identical row_number
    // formulation: mean of the middle one (odd n) or two (even n) values.
    Op("agg_percentile",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val c = Tables.t(s, dir, "customer")
        val o = Tables.t(s, dir, "orders")
        val j = c.join(o, c("c_custkey") === o("o_custkey"))
          .select("c_mktsegment", "o_totalprice")
        val w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice")
        j.withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
          .filter(expr("rn = (cnt + 1) DIV 2 OR rn = (cnt + 2) DIV 2"))
          .groupBy("c_mktsegment")
          .agg(round(sum(Tables.dec2(col("o_totalprice"))).cast("double") / count(lit(1)), 2)
            .as("median_price"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment,
          CAST(ROUND(CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) AS median_price
        FROM (
          SELECT c_mktsegment, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice) AS rn,
            COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
          FROM customer JOIN orders ON c_custkey = o_custkey
        ) WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """.trim)),

    Op("agg_collect_sorted",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          // Collected internally as an array; dumped as a joined string
          // (SURVEY §2.0 rule 8 — no ARRAY columns in the dumped frame).
          .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segs"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segs
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
      """.trim)),

    // Deterministic mode: most frequent value per group, ties broken by
    // value — the row_number formulation both engines agree on.
    Op("agg_mode",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_orderstatus").orderBy(desc("n"), asc("o_orderpriority"))
        Tables.t(s, dir, "orders")
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("n"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
            ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                               ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
          FROM orders GROUP BY o_orderstatus, o_orderpriority
        ) WHERE rn = 1
        ORDER BY o_orderstatus
      """.trim)),

    // Boolean aggregate family: every/some/count_if per group.
    Op("agg_bool",
      (s, dir) => {
        Tables.t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
            expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
            expr("count_if(o_totalprice > 200000)").as("n_big"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus,
          bool_and(o_totalprice > 1000) AS all_over_1k,
          bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
          CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """.trim)),

    // Fixed-bin histogram via the explicit floor formula (no engine
    // histogram builtin needed — identical arithmetic both sides). Bins
    // are 50k-wide over o_totalprice; bin id is exact integer math on a
    // 2-dp value, so no rounding parity risk.
    Op("agg_histogram",
      (s, dir) => {
        Tables.t(s, dir, "orders")
          .groupBy(expr("CAST(floor(o_totalprice / 50000) AS INT)").as("bin"))
          .agg(count(lit(1)).as("n"))
          .orderBy("bin")
      },
      Some("""
        SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bin, COUNT(*) AS n
        FROM orders GROUP BY 1 ORDER BY bin
      """.trim)),

    // Non-oracle: t-digest-style sketches are engine-specific. ScalaTest
    // checks the estimate against the exact row_number median (±2%).
    // This is the 100 TB percentile path — exact percentile needs a full
    // sort per group; the sketch is mergeable map-side state.
    Op("agg_approx_percentile",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val o = Tables.t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .groupBy("c_mktsegment")
          .agg(expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx_median"))
          .orderBy("c_mktsegment")
      },
      None),

    // Non-oracle: HLL++ sketches are engine-specific. ScalaTest checks the
    // estimate against the exact distinct count (±5%).
    Op("agg_approx_distinct",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(approx_count_distinct(col("user_id")).as("approx_users"))
          .orderBy("event_type")
      },
      None),

    // Per-user Shannon entropy of the event-type distribution — the
    // behavioral-diversity / data-quality metric (a user with H≈0 is a
    // bot hammering one endpoint). Float discipline: the Σ p·ln p runs
    // over a type-ORDERED count array via a left-to-right fold on BOTH
    // engines (hash-aggregate combine order is nondeterministic for
    // doubles — folding a sorted list is not), and the dumped value is
    // repr-rounded. Two hash aggregates, the second over ≤|users|×|types|
    // rows.
    Op("agg_entropy",
      (s, dir) => {
        Tables.t(s, dir, "events")
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
          .groupBy("user_id")
          .agg(
            sum("cnt").as("n_events"),
            count(lit(1)).cast("int").as("n_types"),
            expr("array_sort(collect_list(struct(event_type, cnt)))").as("sorted"))
          .withColumn("entropy", expr("""
            round(-aggregate(sorted, CAST(0 AS DOUBLE), (acc, s) ->
              acc + (CAST(s.cnt AS DOUBLE) / CAST(n_events AS DOUBLE))
                  * ln(CAST(s.cnt AS DOUBLE) / CAST(n_events AS DOUBLE))), 3) + 0.0"""))
          .select("user_id", "n_events", "n_types", "entropy")
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, n_events, n_types,
          CAST(ROUND(CAST(CAST(-list_sum(list_transform(sorted, c ->
            (CAST(c AS DOUBLE) / n_events) * ln(CAST(c AS DOUBLE) / n_events)))
            AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS entropy
        FROM (
          SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n_events,
            CAST(COUNT(*) AS INT) AS n_types,
            list(cnt ORDER BY event_type) AS sorted
          FROM (SELECT user_id, event_type, COUNT(*) AS cnt
                FROM events GROUP BY user_id, event_type)
          GROUP BY user_id
        ) ORDER BY user_id
      """.trim)),

    // Per-language heavy-hitter tokens: every token whose in-language
    // frequency is ≥ 0.5% (cnt·200 ≥ total — integer compare, no float
    // surface). Two hash aggregates + a broadcast of the per-group totals;
    // at 100 TB the same report runs on a count-min/SpaceSaving sketch
    // (mergeable map-side state), with this exact formulation as its
    // verification oracle. The vocabulary-vs-corpus asymmetry is the
    // point: token counts shuffle, the tiny totals frame broadcasts.
    Op("agg_heavy_hitters",
      (s, dir) => {
        val tok = Tables.t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        val counts = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
        // Totals roll up from the counts frame — NOT a second scan +
        // explode of the corpus (the two aggregates differ, so the
        // exchange would not be reused; at 100 TB that is a full
        // redundant pass).
        val totals = counts.groupBy("lang").agg(sum("cnt").as("total"))
        counts.join(broadcast(totals), Seq("lang"))
          .filter(col("cnt") * 200 >= col("total"))
          .select(col("lang"), col("token"), col("cnt"), col("total"))
          .orderBy("lang", "token")
      },
      Some("""
        WITH tok AS (
          SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        ), counts AS (
          SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY lang, token
        ), totals AS (
          SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total FROM counts GROUP BY lang
        )
        SELECT lang, token, cnt, total
        FROM counts JOIN totals USING (lang)
        WHERE cnt * 200 >= total
        ORDER BY lang, token
      """.trim)),

    // Count-min sketch, expressed RELATIONALLY so it stays oracle-checkable:
    // d=4 hash rows × w=256 counters over the l_partkey stream; per-key
    // estimate = min over rows of the key's counter; report the top-20
    // exact keys with exact count, estimate, and the structural guarantee
    // estimate ≥ exact (`over_ok`). The counter build is a two-phase hash
    // aggregate over (row, bucket) — the shuffle carries at most
    // d×w=1024 partial counters per map task REGARDLESS of input size,
    // which is the whole point of the sketch at 100 TB (a custom
    // TypedImperativeAggregate carrying the same 1024-long buffer is the
    // single-pass packaging of this identical dataflow; MinHashSketchAgg
    // demonstrates that form elsewhere in this repo). Hashes derive from
    // md5 (60-bit positive) so DuckDB reproduces them bit-for-bit.
    Op("agg_countmin",
      (s, dir) => {
        // ONE md5 per row, sliced into four 32-bit hashes (8 hex chars per
        // sketch row) — Spark's md5 builds a MessageDigest per call, so
        // hashing once and slicing is 4× cheaper than four salted hashes
        // at identical cross-engine determinism (slices of one md5 are
        // independent enough for the demo; a production CMS would use d
        // seeded xxhashes).
        val vals = Tables.t(s, dir, "lineitem")
          .select(col("l_partkey").as("k"))
        // Pre-aggregate the stream ONCE: a bucket's counter is the Σ of
        // its keys' counts, so the sketch builds from the 20k-row key
        // table instead of re-hashing the 600k-row stream — the same
        // algebra map-side combine applies, done explicitly (one scan,
        // |keys| digests, byte-identical counters). localCheckpoint so
        // the probe stage reuses the materialized frame instead of
        // re-running the scan+hash lineage.
        val exact = vals.groupBy("k").agg(count(lit(1)).as("exact"))
        val probes = exact
          .withColumn("h", md5(col("k").cast("string")))
          .withColumn("i", explode(expr("sequence(0, 3)")))
          .withColumn("bucket",
            expr("pmod(CAST(conv(substring(h, 1 + i * 8, 8), 16, 10) AS BIGINT), 256)"))
          .select(col("k"), col("exact"), col("i"), col("bucket"))
          .cut
        val counters = probes.groupBy("i", "bucket").agg(sum("exact").as("c"))
        // Per distinct key: its 4 (i, bucket) probes → broadcast-join the
        // 1024-row counter table → min over i.
        val out = probes
          .join(broadcast(counters), Seq("i", "bucket"))
          .groupBy("k", "exact").agg(min(col("c")).as("est"))
          .select(col("k"), col("exact"), col("est"),
            (col("est") >= col("exact")).as("over_ok"))
          .orderBy(col("exact").desc, col("k")).limit(20)
        out
      },
      Some("""
        WITH exact AS (
          SELECT l_partkey AS k, COUNT(*) AS exact FROM lineitem GROUP BY l_partkey
        ), probes AS (
          SELECT k, exact, i,
            CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1 + i * 8, 8)) AS BIGINT) % 256 AS bucket
          FROM exact, (SELECT unnest(range(4)) AS i)
        ), counters AS (
          SELECT i, bucket, CAST(SUM(exact) AS BIGINT) AS c FROM probes GROUP BY i, bucket
        )
        SELECT k, exact, MIN(c) AS est, MIN(c) >= exact AS over_ok
        FROM probes JOIN counters USING (i, bucket)
        GROUP BY k, exact
        ORDER BY exact DESC, k LIMIT 20
      """.trim)),

    // Two-level HLL rollup — the sketch-MERGE pattern that makes
    // distinct-count rollups incremental at 100 TB: per (event_type,
    // week) the Datasketches HLL of user_id is built ONCE (the nightly
    // partial artifact a real pipeline persists), then coarser grains
    // re-aggregate the binary sketches with hll_union_agg — never
    // re-touching the raw events. Exact countDistinct at the coarse
    // grain would re-shuffle all (type, user) pairs every rollup;
    // union-of-sketches ships |weeks|×1.5 KB. Non-oracle (DuckDB's HLL
    // isn't bit-compatible); EquivalenceSuite bounds the estimate
    // against exact within the sketch's published error.
    Op("agg_hll_merge",
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.groupBy(col("event_type"), weekofyear(col("ts")).as("wk"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .groupBy("event_type")
          .agg(round(hll_sketch_estimate(hll_union_agg(col("sk"))), 0)
            .cast("long").as("approx_users"))
          .orderBy("event_type")
      },
      None),

    // Bitmap-exact distinct count — the EXACT dual of agg_hll_merge's
    // sketch path for dense integer keys: user ids pack into 32-bit
    // words (id DIV 32 → word, bit_or of 1 << id%32), distinct count =
    // Σ bit_count. Both levels partial-aggregate (bit_or and sum are
    // commutative monoids), so the shuffle carries |ids|/32 words per
    // group instead of |ids| values — at 100 TB this is how exact
    // distinct rollups stay incremental (roaring bitmaps in a real
    // lakehouse; the 32-bit word is the same algebra). The oracle is
    // plain COUNT(DISTINCT): the hash match PROVES the bitmap algebra
    // exact, not approximately right.
    Op("agg_bitmap_distinct",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        e.select(col("event_type"), expr("user_id DIV 32").as("bucket"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").as("bit"))
          .groupBy("event_type", "bucket")
          .agg(expr("bit_or(bit)").as("w"))
          .groupBy("event_type")
          .agg(sum(expr("bit_count(w)")).cast("long").as("n_users"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1 ORDER BY event_type
      """.trim)),

    // grouping()/grouping_id() — the piece that makes rollup/cube results
    // machine-consumable: a NULL group key in a subtotal row is
    // indistinguishable from a NULL in the data without the grouping
    // markers (this data has no NULL flags, which is exactly why the
    // marker, not the NULL, must carry the level). gid bit order: most
    // significant bit = first rollup column, matching 2·g(a)+g(b).
    Op("agg_grouping_id",
      (s, dir) => {
        val l = Tables.t(s, dir, "lineitem")
        l.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            grouping_id().cast("long").as("gid"),
            grouping(col("l_returnflag")).cast("int").as("g_flag"),
            grouping(col("l_linestatus")).cast("int").as("g_status"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
          CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
          CAST(GROUPING(l_linestatus) AS INT) AS g_status
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
      """.trim)),

    // max_by/min_by (DuckDB arg_max/arg_min) — "which entity holds the
    // extreme", without a rank window: per event_type the top/bottom
    // spender by exact-decimal total. The ordering key is
    // total·10⁶ + user_id (cent-quantized totals space keys 10,000 apart,
    // user ids < 10,000) so ties are IMPOSSIBLE and the nondeterminism
    // that plagues arg-extremes on ties never surfaces. Two hash
    // aggregates, both partial-aggregatable — max_by's buffer is one
    // (key, value) pair per group, the cheapest possible top-1.
    Op("agg_max_by",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        e.groupBy("event_type", "user_id")
          .agg(sum(dec2(col("value"))).cast(DecimalType(18, 2)).as("total"))
          .withColumn("ord",
            (col("total") * 1000000).cast("long") + col("user_id"))
          .groupBy("event_type")
          .agg(
            max_by(col("user_id"), col("ord")).as("top_user"),
            min_by(col("user_id"), col("ord")).as("bottom_user"),
            max(col("total")).cast("double").as("top_total"))
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (
          SELECT event_type, user_id,
            CAST(SUM(CAST(ROUND("value", 2) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total
          FROM events GROUP BY 1, 2)
        SELECT event_type,
          arg_max(user_id, CAST(total * 1000000 AS BIGINT) + user_id) AS top_user,
          arg_min(user_id, CAST(total * 1000000 AS BIGINT) + user_id) AS bottom_user,
          CAST(MAX(total) AS DOUBLE) AS top_total
        FROM t GROUP BY 1 ORDER BY event_type
      """.trim)),

    // Per-group OLS regression (slope/intercept/r²) of extendedprice-cents
    // on quantity — the regr_slope/regr_r2 family, built from the six
    // classic sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) so every
    // stage is a partial-aggregatable SUM: one hash aggregate, shuffle
    // carries 6 numbers per group, any scale. Σy² of cent-quantized
    // prices overflows BIGINT past ~sf0.3, so the power sums accumulate
    // in DECIMAL(38,0) (exact, order-insensitive; DuckDB's HUGEINT sums
    // are the same thing). The final slope/intercept/r² chain converts
    // each exact sum to DOUBLE once and uses only +,-,*,/ in an
    // identical tree on both engines — no libm, bit-identical — then
    // rule-9 repr-ROUND at 6 dp. (Native regr_* aggregates stream
    // doubles in partition order — cross-engine nondeterministic — which
    // is why the exact-sufficient-statistics form is the one that ships.)
    Op("agg_linreg",
      (s, dir) => {
        val d38 = DecimalType(38, 0)
        val x = col("l_quantity").cast("long")
        val y = round(col("l_extendedprice") * 100).cast("long")
        val sums = Tables.t(s, dir, "lineitem")
          .select(col("l_returnflag"), x.as("x"), y.as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("x").cast(d38)).cast("double").as("sx"),
            sum(col("y").cast(d38)).cast("double").as("sy"),
            sum((col("x") * col("x")).cast(d38)).cast("double").as("sxx"),
            sum((col("x").cast(d38) * col("y").cast(d38))).cast("double").as("sxy"),
            sum((col("y").cast(d38) * col("y").cast(d38))).cast("double").as("syy"))
        sums
          .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("slope",
            (col("n") * col("sxy") - col("sx") * col("sy")) / col("den"))
          .withColumn("icept", (col("sy") - col("slope") * col("sx")) / col("n"))
          .withColumn("r2",
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              * (col("n") * col("sxy") - col("sx") * col("sy")))
              / (col("den") * (col("n") * col("syy") - col("sy") * col("sy"))))
          .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
            round(col("slope"), 6).as("slope_cents"),
            round(col("icept"), 6).as("intercept_cents"),
            round(col("r2"), 6).as("r2"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH sums AS (
          SELECT l_returnflag,
            CAST(COUNT(*) AS DOUBLE) AS n,
            CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sx,
            CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sy,
            CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS HUGEINT) * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS syy
          FROM lineitem GROUP BY 1),
        d AS (
          SELECT *, n * sxx - sx * sx AS den,
            (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
          FROM sums)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
          CAST(ROUND(CAST(CAST(slope AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS slope_cents,
          CAST(ROUND(CAST(CAST((sy - slope * sx) / n AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS intercept_cents,
          CAST(ROUND(CAST(CAST(((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / (den * (n * syy - sy * sy)) AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS r2
        FROM d ORDER BY l_returnflag
      """.trim)),

    // Skewness / excess kurtosis per group from integer power sums
    // (Σx..Σx⁴ of quantity ≤ 50 ⇒ x⁴ ≤ 6.25e6 — BIGINT-safe to ~sf100):
    // the same one-hash-aggregate shape as agg_linreg, 4 numbers per
    // group over the shuffle. Native skewness()/kurtosis() stream
    // doubles in partition order (nondeterministic across engines); the
    // moment-sum form is exact until one final double chain using only
    // +,-,*,/,sqrt (sqrt is IEEE-exact — pow(m2,1.5) deliberately
    // written as m2*sqrt(m2) to keep libm out), then repr-ROUND 6 dp.
    Op("agg_higher_moments",
      (s, dir) => {
        val x = col("l_quantity").cast("long")
        Tables.t(s, dir, "lineitem")
          .select(col("l_linestatus"), x.as("x"))
          .groupBy("l_linestatus")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("x")).cast("double").as("s1"),
            sum(col("x") * col("x")).cast("double").as("s2"),
            sum(col("x") * col("x") * col("x")).cast("double").as("s3"),
            sum(col("x") * col("x") * col("x") * col("x")).cast("double").as("s4"))
          .withColumn("mean", col("s1") / col("n"))
          .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
          .withColumn("m3", col("s3") / col("n")
            - lit(3.0) * col("mean") * (col("s2") / col("n"))
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
          .withColumn("m4", col("s4") / col("n")
            - lit(4.0) * col("mean") * (col("s3") / col("n"))
            + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
          .select(col("l_linestatus"), col("n").cast("long").as("n_rows"),
            round(col("mean"), 6).as("mean_qty"),
            round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
            round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6).as("kurtosis_excess"))
          .orderBy("l_linestatus")
      },
      Some("""
        WITH sums AS (
          SELECT l_linestatus, CAST(COUNT(*) AS DOUBLE) AS n,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
            CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
            CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
            CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
          FROM lineitem GROUP BY 1),
        m AS (
          SELECT l_linestatus, n, s1 / n AS mean,
            s2 / n - (s1 / n) * (s1 / n) AS m2,
            s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
            s4 / n - 4.0 * (s1 / n) * (s3 / n) + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
          FROM sums)
        SELECT l_linestatus, CAST(n AS BIGINT) AS n_rows,
          CAST(ROUND(CAST(CAST(mean AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS mean_qty,
          CAST(ROUND(CAST(CAST(m3 / (m2 * sqrt(m2)) AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS skewness,
          CAST(ROUND(CAST(CAST(m4 / (m2 * m2) - 3.0 AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) AS kurtosis_excess
        FROM m ORDER BY l_linestatus
      """.trim)),

    // Weighted percentiles (revenue-weighted median + p90 of order size):
    // "half the revenue comes from orders of at most X units". Exact and
    // all-integer: pre-aggregate weight per distinct value (kills window
    // tie-order ambiguity — the running sum is over DISTINCT ordered
    // values), one cumulative-sum window over ≤50 rows per group, pick
    // the first value whose cumulative weight crosses the quantile
    // boundary (2·cum ≥ tot / 10·cum ≥ 9·tot — integer comparisons, no
    // division). At 100 TB the per-value pre-aggregation is the thing
    // that makes this feasible: the window runs over |distinct values|
    // rows, not |input| rows.
    Op("agg_weighted_percentile",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("qty")
        val byVal = Tables.t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
            round(col("l_extendedprice") * 100).cast("long").as("w"))
          .groupBy("l_returnflag", "qty")
          .agg(sum("w").as("wv"))
        byVal
          .withColumn("cum", sum("wv").over(w))
          .withColumn("tot", sum("wv").over(
            org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")))
          .groupBy("l_returnflag")
          .agg(min(when(col("cum") * 2 >= col("tot"), col("qty"))).as("w_median_qty"),
            min(when(col("cum") * 10 >= col("tot") * 9, col("qty"))).as("w_p90_qty"),
            max(col("tot")).as("total_weight_cents"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH byval AS (
          SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
            CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS wv
          FROM lineitem GROUP BY 1, 2),
        cums AS (
          SELECT l_returnflag, qty, wv,
            CAST(SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY qty) AS BIGINT) AS cum,
            CAST(SUM(wv) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
          FROM byval)
        SELECT l_returnflag,
          MIN(CASE WHEN cum * 2 >= tot THEN qty END) AS w_median_qty,
          MIN(CASE WHEN cum * 10 >= tot * 9 THEN qty END) AS w_p90_qty,
          MAX(tot) AS total_weight_cents
        FROM cums GROUP BY 1 ORDER BY l_returnflag
      """.trim)),

    // Gini coefficient of order-value concentration per priority class —
    // the Lorenz-curve inequality statistic (0 = equal, →1 = one order
    // carries all the value). Exact everywhere: prices in integer cents
    // (the agg_weighted_percentile recipe), rank via row_number with an
    // o_orderkey tie-break (tied values make the Σi·xᵢ term invariant to
    // tie order, so the statistic is total-order deterministic), both
    // Σxᵢ and Σi·xᵢ in DECIMAL(38,0) — one double quotient at the end.
    // One shuffle by group for the rank window + one partial aggregate.
    Op("agg_gini",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority").orderBy(col("cents"), col("o_orderkey"))
        Tables.t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
          .withColumn("i", row_number().over(w))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("cents").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("s0"),
            sum((col("i").cast(DecimalType(19, 0))
              * col("cents").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
              .cast(DecimalType(38, 0)).as("s1"))
          .selectExpr("o_orderpriority", "n",
            """round((2.0d * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0d) * CAST(s0 AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)), 4) + 0.0 AS gini""")
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH r AS (
          SELECT o_orderpriority,
            CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
            ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), o_orderkey) AS i
          FROM orders),
        a AS (
          SELECT o_orderpriority, COUNT(*) AS n,
            CAST(SUM(CAST(cents AS HUGEINT)) AS DECIMAL(38,0)) AS s0,
            CAST(SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS DECIMAL(38,0)) AS s1
          FROM r GROUP BY 1)
        SELECT o_orderpriority, n,
          CAST(ROUND(CAST(CAST((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE)
            + 0.0 AS gini
        FROM a ORDER BY o_orderpriority
      """.trim)),

    // Welch's two-sample t-test: does mean order value differ between
    // URGENT and LOW priority orders? All moments (n, Σx, Σx²) are EXACT
    // — counts in BIGINT, Σx in DECIMAL(28,2), Σx² in DECIMAL(38,4)
    // (2-dp × 2-dp is exactly 4-dp) — accumulated in ONE conditional
    // single-pass aggregate; the t statistic and Welch-Satterthwaite df
    // are one identical double expression tree at the very end on both
    // engines (repr-ROUND rule 9). The test costs one partial-aggregating
    // scan at any table size.
    Op("agg_welch_ttest",
      (s, dir) => {
        val p = Tables.dec2(col("o_totalprice"))
        val urgent = col("o_orderpriority") === "1-URGENT"
        Tables.t(s, dir, "orders")
          .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .agg(
            sum(when(urgent, 1L).otherwise(0L)).as("n1"),
            sum(when(urgent, p)).cast(DecimalType(28, 2)).as("sx1"),
            sum(when(urgent, p * p)).cast(DecimalType(38, 4)).as("sxx1"),
            sum(when(!urgent, 1L).otherwise(0L)).as("n2"),
            sum(when(!urgent, p)).cast(DecimalType(28, 2)).as("sx2"),
            sum(when(!urgent, p * p)).cast(DecimalType(38, 4)).as("sxx2"))
          .withColumn("m1", expr("CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"))
          .withColumn("m2", expr("CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)"))
          .withColumn("v1", expr(
            "(CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)"))
          .withColumn("v2", expr(
            "(CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)"))
          .withColumn("se2", expr("v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)"))
          .selectExpr("n1", "n2",
            "round(m1 - m2, 4) + 0.0 AS mean_diff",
            "round((m1 - m2) / sqrt(se2), 4) + 0.0 AS t_stat",
            """round(se2 * se2 / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)
               + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)), 1) AS df""")
      },
      Some("""
        WITH a AS (
          SELECT
            SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n1,
            CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS sx1,
            CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END)
              AS DECIMAL(38,4)) AS sxx1,
            SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS n2,
            CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS sx2,
            CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END)
              AS DECIMAL(38,4)) AS sxx2
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        b AS (
          SELECT n1, n2,
            CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
            CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
            (CAST(CAST(sxx1 AS VARCHAR) AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS v1,
            (CAST(CAST(sxx2 AS VARCHAR) AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS v2
          FROM a),
        c AS (
          SELECT n1, n2, m1, m2, v1, v2,
            v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
          FROM b)
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
          CAST(ROUND(CAST(CAST(m1 - m2 AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS mean_diff,
          CAST(ROUND(CAST(CAST((m1 - m2) / sqrt(se2) AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS t_stat,
          CAST(ROUND(CAST(CAST(se2 * se2 / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)
            + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)) AS VARCHAR)
            AS DECIMAL(38,15)), 1) AS DOUBLE) AS df
        FROM c
      """.trim)),

    // Chi-square independence test on the (o_orderpriority ×
    // o_orderstatus) contingency table, with Cramér's V effect size.
    // Observed counts are exact integers from one partial-aggregating
    // scan; row/column/grand totals come from windows over the 15-CELL
    // aggregate (never the raw table); each cell's (o−e)²/e contribution
    // is repr-rounded to 6 dp and summed in exact DECIMAL, so the
    // cross-cell reduction is order-insensitive — the same determinism
    // stance as agg_entropy and text_char_entropy.
    Op("agg_chi_square",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // The observed-cell aggregate feeds three consumers (cells, row
        // levels, column levels) — materialize its |levels|² rows once so
        // the table is scanned exactly once, not per consumer.
        val obs = Tables.t(s, dir, "orders")
          .groupBy("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("obs"))
          .cut
        // Complete the grid: a level pair that never co-occurs is a REAL
        // zero cell and must contribute (0−e)²/e — dropping it understates
        // the statistic. The grid is |levels|×|levels| (tiny), built from
        // the observed margins themselves.
        val cells = obs.select("o_orderpriority").distinct()
          .crossJoin(obs.select("o_orderstatus").distinct())
          .join(obs, Seq("o_orderpriority", "o_orderstatus"), "left")
          .withColumn("o", coalesce(col("obs"), lit(0L)))
        cells
          .withColumn("rt", sum("o").over(Window.partitionBy("o_orderpriority")))
          .withColumn("ct", sum("o").over(Window.partitionBy("o_orderstatus")))
          .withColumn("n", sum("o").over(Window.partitionBy()))
          .withColumn("e", expr("CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("contrib", expr(
            "CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 6) AS DECIMAL(18,6))"))
          .agg(
            countDistinct("o_orderpriority").as("r"),
            countDistinct("o_orderstatus").as("c"),
            max("n").as("n"),
            sum("contrib").cast(DecimalType(28, 6)).as("chi2d"))
          .selectExpr(
            "CAST((r - 1) * (c - 1) AS INT) AS dof", "n",
            "CAST(chi2d AS DOUBLE) AS chi2",
            """round(sqrt(CAST(chi2d AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))), 4) AS cramers_v""")
      },
      Some("""
        WITH obs AS (
          SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
          FROM orders GROUP BY 1, 2),
        cells AS (
          SELECT r.o_orderpriority, c.o_orderstatus, COALESCE(o.obs, 0) AS o
          FROM (SELECT DISTINCT o_orderpriority FROM obs) r
          CROSS JOIN (SELECT DISTINCT o_orderstatus FROM obs) c
          LEFT JOIN obs o ON o.o_orderpriority = r.o_orderpriority
            AND o.o_orderstatus = c.o_orderstatus),
        t AS (
          SELECT o_orderpriority, o_orderstatus, o,
            SUM(o) OVER (PARTITION BY o_orderpriority) AS rt,
            SUM(o) OVER (PARTITION BY o_orderstatus) AS ct,
            SUM(o) OVER () AS n
          FROM cells),
        k AS (
          SELECT o_orderpriority, o_orderstatus, o, rt, ct, n,
            CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
          FROM t),
        x AS (
          SELECT COUNT(DISTINCT o_orderpriority) AS r,
            COUNT(DISTINCT o_orderstatus) AS c,
            CAST(MAX(n) AS BIGINT) AS n,
            CAST(SUM(CAST(ROUND(CAST(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
              AS VARCHAR) AS DECIMAL(38,15)), 6) AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS chi2d
          FROM k)
        SELECT CAST((r - 1) * (c - 1) AS INT) AS dof, n,
          CAST(chi2d AS DOUBLE) AS chi2,
          CAST(ROUND(CAST(CAST(sqrt(CAST(chi2d AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) AS cramers_v
        FROM x
      """.trim)),

    // Mann-Whitney U rank-sum test (nonparametric complement to
    // agg_welch_ttest): does the order-value DISTRIBUTION differ between
    // URGENT and LOW priorities? Never ranks raw rows — values collapse
    // to integer cents first (value-level aggregate), so tied ranks are
    // handled exactly by construction: rank math needs only each value's
    // prefix count, computed as a TWO-LEVEL distributed prefix sum
    // (in-band running count partitioned by $10k price band + a
    // band-offset window over the ~500-row band frame, broadcast back).
    // All rank sums run in half-units (2·rank is integer) in
    // DECIMAL(38,0); the z-score with tie correction is one identical
    // double expression tree at the end (repr-ROUND rule 9).
    Op("agg_mann_whitney",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // The value-level aggregate feeds two consumers (the in-band
        // window and the band-offset frame) — materialize it once so
        // orders is scanned exactly once, not per branch.
        val byval = Tables.t(s, dir, "orders")
          .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
            when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("u"))
          .groupBy("cents")
          .agg(sum(col("u")).as("c1"), count(lit(1)).as("c"))
          .withColumn("band", expr("cents DIV 1000000"))
          .cut
        val wIn = Window.partitionBy("band").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val inb = byval.withColumn("in_cb", sum(col("c")).over(wIn) - col("c"))
        // Band-offset frame: one row per $10k band — bounded by the price
        // DOMAIN (~50 bands/decade), not the row count, so the unpartitioned
        // window and the broadcast stay tiny at any scale.
        val wB = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
        val bandCb = byval.groupBy("band").agg(sum(col("c")).as("bc"))
          .withColumn("band_cb", sum(col("bc")).over(wB) - col("bc"))
          .select("band", "band_cb")
        inb.join(broadcast(bandCb), "band")
          .withColumn("cb", col("band_cb") + col("in_cb"))
          .agg(
            sum(col("c1")).as("n1"),
            sum(col("c")).as("n"),
            sum((col("c1").cast(DecimalType(19, 0))
              * (col("cb") * 2 + col("c") + 1).cast(DecimalType(19, 0)))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("r2"),
            sum((col("c").cast(DecimalType(19, 0)) * col("c") * col("c") - col("c"))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("tt"))
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n - n1 AS BIGINT) AS n2",
            "CAST(n AS DOUBLE) AS nd", "CAST(tt AS DOUBLE) AS ttd",
            "CAST(r2 - CAST(n1 AS DECIMAL(38,0)) * CAST(n1 + 1 AS DECIMAL(38,0)) AS DOUBLE) AS ud")
          .selectExpr("n1", "n2",
            "ud / 2.0d AS u_stat",
            """round((ud - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
               / (2.0d * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 * ((nd + 1.0d) - ttd / (nd * (nd - 1.0d))) / 12.0d)), 4) + 0.0 AS z_stat""",
            """round((ud - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 4) + 0.0 AS r_rb""")
      },
      Some("""
        WITH f AS (
          SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
            CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        byval AS (
          SELECT cents, CAST(SUM(u) AS BIGINT) AS c1, COUNT(*) AS c FROM f GROUP BY 1),
        cum AS (
          SELECT c1, c,
            CAST(SUM(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS cb
          FROM byval),
        a AS (
          SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(CAST(c1 AS HUGEINT) * (2 * cb + c + 1)) AS DECIMAL(38,0)) AS r2,
            CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DECIMAL(38,0)) AS tt
          FROM cum),
        b AS (
          SELECT n1, n - n1 AS n2, CAST(n AS DOUBLE) AS nd, CAST(tt AS DOUBLE) AS ttd,
            CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) AS ud
          FROM a)
        SELECT n1, n2,
          ud / 2.0 AS u_stat,
          CAST(ROUND(CAST(CAST((ud - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * ((nd + 1.0) - ttd / (nd * (nd - 1.0))) / 12.0)) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS z_stat,
          CAST(ROUND(CAST(CAST((ud - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS r_rb
        FROM b
      """.trim)),

    // Log2-bucketed value histogram (the HdrHistogram/latency-histogram
    // shape): price cents land in power-of-two buckets, with exact
    // median/p99 BUCKET markers from integer cumulative-count crossings.
    // Bucket index = binary magnitude via length(bin(x))−1 — pure
    // integer/string, NO float log2 (whose boundary behavior at exact
    // powers differs per libm). The aggregate is a commutative monoid
    // (count/min/max/sum per bucket), so at 100 TB it map-side combines
    // and the window runs over ≤64 bucket rows — the mergeable-histogram
    // algebra monitoring systems ship to a coordinator.
    Op("agg_log_histogram",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val b = Tables.t(s, dir, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
          .select(expr("CAST(length(bin(cents)) - 1 AS INT)").as("bucket"), col("cents"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("cents").as("min_cents"), max("cents").as("max_cents"),
            sum(col("cents").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("sc"))
        val wOrd = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        b.withColumn("cum_n", sum(col("n")).over(wOrd))
          .withColumn("tot", sum(col("n")).over(wAll))
          .selectExpr("bucket", "shiftleft(CAST(1 AS BIGINT), bucket) AS lo_cents",
            "n", "cum_n", "CAST(sc AS BIGINT) AS sum_cents",
            "cum_n * 2 >= tot AND (cum_n - n) * 2 < tot AS is_p50_bucket",
            "cum_n * 100 >= tot * 99 AND (cum_n - n) * 100 < tot * 99 AS is_p99_bucket")
          .orderBy("bucket")
      },
      Some("""
        WITH v AS (
          SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        b AS (
          SELECT CAST(length(bin(cents)) - 1 AS INT) AS bucket,
            COUNT(*) AS n,
            CAST(MIN(cents) AS BIGINT) AS min_cents,
            CAST(MAX(cents) AS BIGINT) AS max_cents,
            CAST(SUM(CAST(cents AS HUGEINT)) AS DECIMAL(38,0)) AS sc
          FROM v GROUP BY 1),
        c AS (
          SELECT bucket, n, min_cents, max_cents, sc,
            CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
            CAST(SUM(n) OVER () AS BIGINT) AS tot
          FROM b)
        SELECT bucket, (CAST(1 AS BIGINT) << bucket) AS lo_cents,
          n, cum_n, CAST(sc AS BIGINT) AS sum_cents,
          cum_n * 2 >= tot AND (cum_n - n) * 2 < tot AS is_p50_bucket,
          cum_n * 100 >= tot * 99 AND (cum_n - n) * 100 < tot * 99 AS is_p99_bucket
        FROM c ORDER BY bucket
      """.trim)),

    // One-way ANOVA F-test across the five order priorities on order
    // value — completes the hypothesis-test battery (Welch t, chi²,
    // Mann-Whitney) with the k-group mean comparison. Per-group moments
    // (n, Σx, Σx²) are EXACT from one partial-aggregating scan; the
    // between-group term Σ s_g²/n_g needs a division per group, so each
    // group's contribution is repr-rounded to 4 dp and summed in exact
    // DECIMAL (the agg_chi_square stance — the cross-group reduction is
    // order-insensitive); SSB/SSW/F/η² are one identical single-row
    // double expression tree at the very end on both engines (rule 9).
    // Costs one scan + a 5-row reduction at any table size.
    Op("agg_anova_f",
      (s, dir) => {
        val p = dec2(col("o_totalprice"))
        val g = Tables.t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(p).cast(DecimalType(28, 2)).as("sx"),
            sum(p * p).cast(DecimalType(38, 4)).as("sxx"))
          .withColumn("tg", expr(
            "CAST(round(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS DECIMAL(38,4))"))
        g.agg(count(lit(1)).cast("int").as("k"),
            sum(col("n")).as("nn"),
            sum(col("sx")).cast(DecimalType(38, 2)).as("s"),
            sum(col("sxx")).cast(DecimalType(38, 4)).as("ss"),
            sum(col("tg")).cast(DecimalType(38, 4)).as("sumt"))
          .selectExpr("k", "CAST(nn AS BIGINT) AS n",
            """round(CAST(sumt AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE), 2) + 0.0 AS ssb""",
            "round(CAST(ss AS DOUBLE) - CAST(sumt AS DOUBLE), 2) + 0.0 AS ssw",
            """round(((CAST(sumt AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE))
                 / CAST(k - 1 AS DOUBLE))
               / ((CAST(ss AS DOUBLE) - CAST(sumt AS DOUBLE)) / CAST(nn - k AS DOUBLE)), 4) + 0.0 AS f_stat""",
            """round((CAST(sumt AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE))
               / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
               + 0.0 AS eta_sq""")
      },
      Some("""
        WITH g AS (
          SELECT o_orderpriority, COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sx,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(38,4)) AS sxx
          FROM orders GROUP BY 1),
        t AS (
          SELECT n, sx, sxx,
            CAST(ROUND(CAST(CAST(CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
              AS VARCHAR) AS DECIMAL(38,15)), 4) AS DECIMAL(38,4)) AS tg
          FROM g),
        a AS (
          SELECT CAST(COUNT(*) AS INT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
            CAST(SUM(sx) AS DECIMAL(38,2)) AS s, CAST(SUM(sxx) AS DECIMAL(38,4)) AS ss,
            CAST(SUM(tg) AS DECIMAL(38,4)) AS sumt
          FROM t)
        SELECT k, nn AS n,
          CAST(ROUND(CAST(CAST(CAST(CAST(sumt AS VARCHAR) AS DOUBLE)
            - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(nn AS DOUBLE) AS VARCHAR)
            AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS ssb,
          CAST(ROUND(CAST(CAST(CAST(CAST(ss AS VARCHAR) AS DOUBLE) - CAST(CAST(sumt AS VARCHAR) AS DOUBLE) AS VARCHAR)
            AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS ssw,
          CAST(ROUND(CAST(CAST(((CAST(CAST(sumt AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
            / ((CAST(CAST(ss AS VARCHAR) AS DOUBLE) - CAST(CAST(sumt AS VARCHAR) AS DOUBLE)) / CAST(nn - k AS DOUBLE)) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS f_stat,
          CAST(ROUND(CAST(CAST((CAST(CAST(sumt AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(nn AS DOUBLE))
            / (CAST(CAST(ss AS VARCHAR) AS DOUBLE) - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(nn AS DOUBLE))
            AS VARCHAR) AS DECIMAL(38,15)), 6) AS DOUBLE) + 0.0 AS eta_sq
        FROM a
      """.trim)),

    // Pairwise Pearson correlation matrix over three lineitem measures
    // (quantity, price cents, discount points) from ONE partial-
    // aggregating scan — the multivariate feature-stats profile next to
    // quality_column_profile's univariate one. All 10 moments (n, Σx,
    // Σx², Σxy per pair) are exact integers in DECIMAL(38,0)/HUGEINT;
    // the covariance terms n·Σxy − Σx·Σy stay exact (≈10²⁰ ≪ 10³⁸); only
    // the final corr quotients are float — and the variance products
    // would overflow int128, so each variance converts to double FIRST
    // (via VARCHAR on the oracle side, rule 10: raw > 2⁵³) and the
    // product is sqrt·sqrt. One scan at any table size.
    Op("agg_corr_matrix",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("q"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("p"),
          expr("CAST(round(l_discount * 100, 0) AS BIGINT)").as("d"))
        val dec = DecimalType(38, 0)
        li.agg(
            count(lit(1)).as("n"),
            sum(col("q").cast(dec)).as("sq"),
            sum(col("p").cast(dec)).as("sp"),
            sum(col("d").cast(dec)).as("sd"),
            sum((col("q") * col("q")).cast(dec)).as("sqq"),
            sum((col("p") * col("p")).cast(dec)).as("spp"),
            sum((col("d") * col("d")).cast(dec)).as("sdd"),
            sum((col("q") * col("p")).cast(dec)).as("sqp"),
            sum((col("q") * col("d")).cast(dec)).as("sqd"),
            sum((col("p") * col("d")).cast(dec)).as("spd"))
          .selectExpr("n",
            "CAST(CAST(n AS DECIMAL(38,0)) * sqq - sq * sq AS DOUBLE) AS vq",
            "CAST(CAST(n AS DECIMAL(38,0)) * spp - sp * sp AS DOUBLE) AS vp",
            "CAST(CAST(n AS DECIMAL(38,0)) * sdd - sd * sd AS DOUBLE) AS vd",
            "CAST(CAST(n AS DECIMAL(38,0)) * sqp - sq * sp AS DOUBLE) AS cqp",
            "CAST(CAST(n AS DECIMAL(38,0)) * sqd - sq * sd AS DOUBLE) AS cqd",
            "CAST(CAST(n AS DECIMAL(38,0)) * spd - sp * sd AS DOUBLE) AS cpd")
          .selectExpr("n", """stack(3,
            'price~discount', round(cpd / (sqrt(vp) * sqrt(vd)), 6) + 0.0,
            'quantity~discount', round(cqd / (sqrt(vq) * sqrt(vd)), 6) + 0.0,
            'quantity~price', round(cqp / (sqrt(vq) * sqrt(vp)), 6) + 0.0)
            AS (pair, corr)""")
          .select(col("pair"), col("n"), col("corr"))
          .orderBy("pair")
      },
      Some("""
        WITH v AS (
          SELECT CAST(l_quantity AS BIGINT) AS q,
            CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS p,
            CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d
          FROM lineitem),
        a AS (
          SELECT COUNT(*) AS n,
            SUM(CAST(q AS HUGEINT)) AS sq, SUM(CAST(p AS HUGEINT)) AS sp,
            SUM(CAST(d AS HUGEINT)) AS sd,
            SUM(CAST(q AS HUGEINT) * q) AS sqq, SUM(CAST(p AS HUGEINT) * p) AS spp,
            SUM(CAST(d AS HUGEINT) * d) AS sdd,
            SUM(CAST(q AS HUGEINT) * p) AS sqp, SUM(CAST(q AS HUGEINT) * d) AS sqd,
            SUM(CAST(p AS HUGEINT) * d) AS spd
          FROM v),
        c AS (
          SELECT n,
            CAST(CAST(CAST(n AS HUGEINT) * sqq - sq * sq AS VARCHAR) AS DOUBLE) AS vq,
            CAST(CAST(CAST(n AS HUGEINT) * spp - sp * sp AS VARCHAR) AS DOUBLE) AS vp,
            CAST(CAST(CAST(n AS HUGEINT) * sdd - sd * sd AS VARCHAR) AS DOUBLE) AS vd,
            CAST(CAST(CAST(n AS HUGEINT) * sqp - sq * sp AS VARCHAR) AS DOUBLE) AS cqp,
            CAST(CAST(CAST(n AS HUGEINT) * sqd - sq * sd AS VARCHAR) AS DOUBLE) AS cqd,
            CAST(CAST(CAST(n AS HUGEINT) * spd - sp * sd AS VARCHAR) AS DOUBLE) AS cpd
          FROM a)
        SELECT pair, n, corr FROM (
          SELECT 'price~discount' AS pair, n,
            CAST(ROUND(CAST(CAST(cpd / (sqrt(vp) * sqrt(vd)) AS VARCHAR)
              AS DECIMAL(38,15)), 6) AS DOUBLE) + 0.0 AS corr FROM c
          UNION ALL
          SELECT 'quantity~discount' AS pair, n,
            CAST(ROUND(CAST(CAST(cqd / (sqrt(vq) * sqrt(vd)) AS VARCHAR)
              AS DECIMAL(38,15)), 6) AS DOUBLE) + 0.0 AS corr FROM c
          UNION ALL
          SELECT 'quantity~price' AS pair, n,
            CAST(ROUND(CAST(CAST(cqp / (sqrt(vq) * sqrt(vp)) AS VARCHAR)
              AS DECIMAL(38,15)), 6) AS DOUBLE) + 0.0 AS corr FROM c)
        ORDER BY pair
      """.trim)),

    // Kruskal-Wallis H: the k-group nonparametric ANOVA — does the
    // order-value DISTRIBUTION differ across all five priorities?
    // (agg_mann_whitney's k=2 machinery generalized exactly:
    // agg_anova_f is to agg_welch_ttest what this is to mann_whitney.)
    // Values collapse to distinct integer cents, global prefix counts
    // come from the same TWO-LEVEL banded prefix sum, per-group rank
    // sums run in half-units (2·rank integer) in DECIMAL(38,0), each
    // group's R²/n contribution is repr-rounded 4 dp and summed in
    // exact DECIMAL (the anova stance), and the tie-corrected H is one
    // single-row double tree (rules 9 + 10: sumt's unscaled value passes
    // 2⁵³, so the oracle converts it via VARCHAR).
    Op("agg_kruskal_wallis",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // (cents, grp, cg) — feeds the value-level rollup AND the
        // per-group rank sums; one checkpoint, one orders scan.
        val bg = Tables.t(s, dir, "orders")
          .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
            col("o_orderpriority").as("grp"))
          .groupBy("cents", "grp").agg(count(lit(1)).as("cg"))
          .withColumn("band", expr("cents DIV 1000000"))
          .cut
        val vals = bg.groupBy("cents", "band").agg(sum("cg").as("c"))
        val wIn = Window.partitionBy("band").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val inb = vals.withColumn("in_cb", sum(col("c")).over(wIn) - col("c"))
        val wB = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
        val bandCb = vals.groupBy("band").agg(sum(col("c")).as("bc"))
          .withColumn("band_cb", sum(col("bc")).over(wB) - col("bc"))
          .select("band", "band_cb")
        val ranked = inb.join(broadcast(bandCb), "band")
          .withColumn("cb", col("band_cb") + col("in_cb"))
          .select("cents", "c", "cb")
        val pg = bg.join(ranked, "cents")
          .groupBy("grp")
          .agg(sum(col("cg")).as("ng"),
            sum((col("cg").cast(DecimalType(19, 0))
              * (col("cb") * 2 + col("c") + 1).cast(DecimalType(19, 0)))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("r2"))
          .withColumn("tg", expr(
            "CAST(round(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4.0d * CAST(ng AS DOUBLE)), 4) AS DECIMAL(38,4))"))
        val ties = ranked.agg(
          sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).cast(DecimalType(38, 0)).as("tsum"))
        pg.agg(count(lit(1)).cast("int").as("k"),
            sum(col("ng")).as("nn"),
            sum(col("tg")).cast(DecimalType(38, 4)).as("sumt"))
          .crossJoin(broadcast(ties))
          .selectExpr("k", "CAST(nn AS BIGINT) AS n",
            """round(12.0d * CAST(sumt AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
               - 3.0d * CAST(nn + 1 AS DOUBLE), 4) + 0.0 AS h_stat""",
            """round(1.0d - CAST(tsum AS DOUBLE)
               / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                  - CAST(nn AS DOUBLE)), 6) + 0.0 AS tie_correction""",
            """round((12.0d * CAST(sumt AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
               - 3.0d * CAST(nn + 1 AS DOUBLE))
               / (1.0d - CAST(tsum AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                    - CAST(nn AS DOUBLE))), 4) + 0.0 AS h_corrected""")
      },
      Some("""
        WITH f AS (
          SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
            o_orderpriority AS grp
          FROM orders),
        bg AS (SELECT cents, grp, COUNT(*) AS cg FROM f GROUP BY 1, 2),
        vals AS (SELECT cents, CAST(SUM(cg) AS BIGINT) AS c FROM bg GROUP BY 1),
        rk AS (
          SELECT cents, c,
            CAST(SUM(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS cb
          FROM vals),
        pg AS (
          SELECT grp, CAST(SUM(cg) AS BIGINT) AS ng,
            CAST(SUM(CAST(cg AS HUGEINT) * (2 * cb + c + 1)) AS DECIMAL(38,0)) AS r2
          FROM bg JOIN rk USING (cents) GROUP BY 1),
        tg AS (
          SELECT grp, ng,
            CAST(ROUND(CAST(CAST(CAST(CAST(r2 AS VARCHAR) AS DOUBLE) * CAST(CAST(r2 AS VARCHAR) AS DOUBLE)
              / (4.0 * CAST(ng AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,15)), 4)
              AS DECIMAL(38,4)) AS tg
          FROM pg),
        tt AS (
          SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DECIMAL(38,0)) AS tsum
          FROM vals),
        a AS (
          SELECT CAST(COUNT(*) AS INT) AS k, CAST(SUM(ng) AS BIGINT) AS nn,
            CAST(SUM(tg) AS DECIMAL(38,4)) AS sumt
          FROM tg)
        SELECT k, nn AS n,
          CAST(ROUND(CAST(CAST(12.0 * CAST(CAST(sumt AS VARCHAR) AS DOUBLE)
              / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
            - 3.0 * CAST(nn + 1 AS DOUBLE) AS VARCHAR) AS DECIMAL(38,15)), 4)
            AS DOUBLE) + 0.0 AS h_stat,
          CAST(ROUND(CAST(CAST(1.0 - CAST(CAST(tsum AS VARCHAR) AS DOUBLE)
            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
               - CAST(nn AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,15)), 6)
            AS DOUBLE) + 0.0 AS tie_correction,
          CAST(ROUND(CAST(CAST((12.0 * CAST(CAST(sumt AS VARCHAR) AS DOUBLE)
              / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
            - 3.0 * CAST(nn + 1 AS DOUBLE))
            / (1.0 - CAST(CAST(tsum AS VARCHAR) AS DOUBLE)
              / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                 - CAST(nn AS DOUBLE))) AS VARCHAR) AS DECIMAL(38,15)), 4)
            AS DOUBLE) + 0.0 AS h_corrected
        FROM a, tt
      """.trim)),

    // CUPED variance reduction — the experimentation-analytics workhorse
    // (pre-period covariate adjustment): with pre-period spend x (1995)
    // and experiment-period spend y (1996) per customer and a
    // deterministic arm split (custkey % 2), the adjusted metric
    // y − θ(x − x̄) with θ = cov(x,y)/var(x) removes the variance the
    // pre-period already explains — the difference between a week-long
    // and a month-long experiment at the same power. Everything float is
    // CLOSED-FORM over exact integer moments: per-arm Σx, Σy, Σx², Σy²,
    // Σxy accumulate in cents as DECIMAL(38,0) (order-insensitive), the
    // pooled θ/x̄ and every reported statistic are fixed double
    // expressions of those moments (no per-row float ever sums, so the
    // result is partition-invariant AND engine-identical — the
    // agg_welch_ttest stance extended to adjusted means). At 100 TB:
    // two keyed year aggregates + one |arms|-row moment rollup.
    Op("agg_cuped_adjust",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        def spend(yr: Int, as: String) = o
          .filter(year(col("o_orderdate")) === yr)
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as(as))
        val units = Tables.t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"),
            (col("c_custkey") % 2).cast("int").as("arm"))
          .join(spend(1995, "xc"), Seq("o_custkey"), "left")
          .join(spend(1996, "yc"), Seq("o_custkey"), "left")
          .select(col("arm"),
            expr("CAST(coalesce(xc, 0) AS DECIMAL(19,0))").as("x"),
            expr("CAST(coalesce(yc, 0) AS DECIMAL(19,0))").as("y"))
        val perArm = units.groupBy("arm")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).cast(DecimalType(38, 0)).as("sx"),
            sum(col("y")).cast(DecimalType(38, 0)).as("sy"),
            sum(col("x") * col("x")).cast(DecimalType(38, 0)).as("sxx"),
            sum(col("y") * col("y")).cast(DecimalType(38, 0)).as("syy"),
            sum(col("x") * col("y")).cast(DecimalType(38, 0)).as("sxy"))
        val pooled = perArm.agg(
          sum("n").as("pn"),
          sum("sx").cast(DecimalType(38, 0)).as("psx"),
          sum("sy").cast(DecimalType(38, 0)).as("psy"),
          sum("sxx").cast(DecimalType(38, 0)).as("psxx"),
          sum("sxy").cast(DecimalType(38, 0)).as("psxy"))
        def d(c: String) = s"CAST(CAST($c AS STRING) AS DOUBLE)"
        perArm.crossJoin(broadcast(pooled))
          .withColumn("theta", expr(
            s"(${d("pn")} * ${d("psxy")} - ${d("psx")} * ${d("psy")})" +
              s" / (${d("pn")} * ${d("psxx")} - ${d("psx")} * ${d("psx")})"))
          .withColumn("xbar", expr(s"${d("psx")} / ${d("pn")}"))
          .withColumn("sadj", expr(
            s"${d("sy")} - theta * ${d("sx")} + ${d("n")} * theta * xbar"))
          .withColumn("sadj2", expr(
            s"${d("syy")} + theta * theta * ${d("sxx")} + ${d("n")} * theta * theta * xbar * xbar" +
              s" - 2 * theta * ${d("sxy")} + 2 * theta * xbar * ${d("sy")}" +
              s" - 2 * theta * theta * xbar * ${d("sx")}"))
          .withColumn("var_y", expr(
            s"(${d("syy")} - ${d("sy")} * ${d("sy")} / ${d("n")}) / ${d("n")}"))
          .withColumn("var_yadj", expr(
            s"(sadj2 - sadj * sadj / ${d("n")}) / ${d("n")}"))
          .select(col("arm"), col("n"),
            (round(expr(s"${d("sy")} / ${d("n")} / 100.0"), 2) + 0.0).as("mean_y"),
            (round(expr(s"sadj / ${d("n")} / 100.0"), 2) + 0.0).as("mean_y_adj"),
            expr("CAST(ROUND(CAST(CAST((1.0 - var_yadj / var_y) * 1000 AS STRING) AS DECIMAL(38,15)), 0) AS BIGINT)")
              .as("var_reduction_permille"))
          .orderBy("arm")
      },
      Some("""
        WITH units AS (
          SELECT CAST(c.c_custkey % 2 AS INT) AS arm,
            CAST(COALESCE(x.xc, 0) AS DECIMAL(19,0)) AS x,
            CAST(COALESCE(y.yc, 0) AS DECIMAL(19,0)) AS y
          FROM customer c
          LEFT JOIN (
            SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS xc
            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1) x
            ON c.c_custkey = x.o_custkey
          LEFT JOIN (
            SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS yc
            FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1) y
            ON c.c_custkey = y.o_custkey
        ), per_arm AS (
          SELECT arm, COUNT(*) AS n,
            CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
            CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
            CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
            CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy
          FROM units GROUP BY arm
        ), pooled AS (
          SELECT CAST(SUM(n) AS BIGINT) AS pn,
            CAST(SUM(sx) AS DECIMAL(38,0)) AS psx,
            CAST(SUM(sy) AS DECIMAL(38,0)) AS psy,
            CAST(SUM(sxx) AS DECIMAL(38,0)) AS psxx,
            CAST(SUM(sxy) AS DECIMAL(38,0)) AS psxy
          FROM per_arm
        ), calc AS (
          SELECT arm, n,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy,
            CAST(CAST(n AS VARCHAR) AS DOUBLE) AS dn,
            (CAST(CAST(pn AS VARCHAR) AS DOUBLE) * CAST(CAST(psxy AS VARCHAR) AS DOUBLE)
              - CAST(CAST(psx AS VARCHAR) AS DOUBLE) * CAST(CAST(psy AS VARCHAR) AS DOUBLE))
            / (CAST(CAST(pn AS VARCHAR) AS DOUBLE) * CAST(CAST(psxx AS VARCHAR) AS DOUBLE)
              - CAST(CAST(psx AS VARCHAR) AS DOUBLE) * CAST(CAST(psx AS VARCHAR) AS DOUBLE)) AS theta,
            CAST(CAST(psx AS VARCHAR) AS DOUBLE) / CAST(CAST(pn AS VARCHAR) AS DOUBLE) AS xbar
          FROM per_arm, pooled
        ), adj AS (
          SELECT arm, n, dsy, dn,
            dsy - theta * dsx + dn * theta * xbar AS sadj,
            dsyy + theta * theta * dsxx + dn * theta * theta * xbar * xbar
              - 2 * theta * dsxy + 2 * theta * xbar * dsy
              - 2 * theta * theta * xbar * dsx AS sadj2,
            (dsyy - dsy * dsy / dn) / dn AS var_y
          FROM calc
        )
        SELECT arm, CAST(n AS BIGINT) AS n,
          CAST(ROUND(CAST(CAST(dsy / dn / 100.0 AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS mean_y,
          CAST(ROUND(CAST(CAST(sadj / dn / 100.0 AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS mean_y_adj,
          CAST(ROUND(CAST(CAST((1.0 - ((sadj2 - sadj * sadj / dn) / dn) / var_y) * 1000 AS VARCHAR) AS DECIMAL(38,15)), 0) AS BIGINT) AS var_reduction_permille
        FROM adj ORDER BY arm
      """.trim)),

    // ROBUST LOCATION — trimmed and winsorized means per order priority,
    // the outlier-resistant pair every metrics pipeline publishes next to
    // the raw mean (one fat-finger order should not move the KPI). Exact
    // integer machinery end-to-end: prices become cents (BIGINT), ranks
    // are a deterministic (value, orderkey) row_number, k = n DIV 10
    // rows trim from each tail, and winsorizing re-adds k copies of the
    // exact boundary cents — the only doubles are the three final
    // quotients, repr-rounded per §2.0 rule 9. n − 2k > 0 always
    // (k ≤ n/10), so the degenerate-group case needs no guard. The
    // window sorts each priority's slice only (|orders|/5 per partition);
    // at 100 TB the same report drops the full sort: the two boundary
    // cents are order statistics (distributed selection or the
    // approx-percentile sketch) and everything else is one conditional
    // partial aggregate.
    Op("agg_robust_mean",
      (s, dir) => {
        val repr2 = (e: String) => s"CAST(ROUND($e, 2) AS DOUBLE) + 0.0"
        Tables.t(s, dir, "orders")
          .select(col("o_orderpriority").as("grp"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("c"),
            col("o_orderkey"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("grp").orderBy(col("c"), col("o_orderkey"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
          .withColumn("k", expr("n DIV 10"))
          .groupBy("grp")
          .agg(max("n").as("n"), max("k").as("k"),
            sum("c").as("sum_c"),
            sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"), col("c"))
              .otherwise(0L)).as("trim_sum"),
            max(when(col("rn") === col("k") + 1, col("c"))).as("lo_c"),
            max(when(col("rn") === col("n") - col("k"), col("c"))).as("hi_c"))
          .select(col("grp").as("priority"), col("n"),
            expr(repr2("CAST(sum_c AS DOUBLE) / n / 100.0")).as("mean"),
            expr(repr2("CAST(trim_sum AS DOUBLE) / (n - 2 * k) / 100.0")).as("trimmed_mean"),
            expr(repr2("CAST(trim_sum + k * lo_c + k * hi_c AS DOUBLE) / n / 100.0")).as("winsorized_mean"))
          .orderBy("priority")
      },
      Some {
        val repr2 = (e: String) =>
          s"CAST(ROUND(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0"
        s"""
        WITH o AS (
          SELECT o_orderpriority AS grp,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c, o_orderkey
          FROM orders),
        rn AS (
          SELECT grp, c,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c, o_orderkey) AS rn,
            COUNT(*) OVER (PARTITION BY grp) AS n
          FROM o),
        ag AS (
          SELECT grp, MAX(n) AS n, MAX(n) // 10 AS k,
            CAST(SUM(c) AS BIGINT) AS sum_c,
            CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN c ELSE 0 END) AS BIGINT) AS trim_sum,
            MAX(CASE WHEN rn = n // 10 + 1 THEN c END) AS lo_c,
            MAX(CASE WHEN rn = n - n // 10 THEN c END) AS hi_c
          FROM rn GROUP BY grp)
        SELECT grp AS priority, CAST(n AS BIGINT) AS n,
          ${repr2("CAST(sum_c AS DOUBLE) / n / 100.0")} AS mean,
          ${repr2("CAST(trim_sum AS DOUBLE) / (n - 2 * k) / 100.0")} AS trimmed_mean,
          ${repr2("CAST(trim_sum + k * lo_c + k * hi_c AS DOUBLE) / n / 100.0")} AS winsorized_mean
        FROM ag ORDER BY priority
        """.trim
      }),

    // SAMPLE-RATIO MISMATCH — the FIRST gate every A/B readout runs
    // before any effect estimate (welch/CUPED/bootstrap are garbage on a
    // biased assignment): users split 50/50 by the deterministic md5
    // coin, and the χ²(1df) goodness-of-fit of observed arm counts is
    // checked against the 95% critical value. Two scenarios: the clean
    // assignment (passes — the coin is fair) and a seeded EXPOSURE-LOSS
    // bug (half of arm B's users never log exposure — the classic SRM
    // root cause), which must flag at the gate scales (with 15 users at
    // sf0.001 the test is honestly underpowered and stays quiet — the
    // statistically correct verdict). The χ² for a 50/50 split collapses
    // to (n_a−n_b)²/(n_a+n_b); the VERDICT is all-integer
    // ((n_a−n_b)²·1000 > 3841·(n_a+n_b) ⟺ χ² > 3.841), so no float
    // decides the flag — only the reported statistic is a repr-rounded
    // double. One distinct + two partial-aggregating counts; at 100 TB
    // the assignment audit is a map-side count per arm.
    Op("agg_ab_srm_check",
      (s, dir) => {
        val repr4 = (e: String) =>
          s"CAST(ROUND($e, 4) AS DOUBLE) + 0.0"
        val users = Tables.events(s, dir).select("user_id").distinct()
          .withColumn("arm", expr(
            """CASE WHEN CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 2 = 0
               THEN 'A' ELSE 'B' END"""))
        def report(name: String, df: org.apache.spark.sql.DataFrame) = df
          .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
            sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
          .select(lit(name).as("scenario"), col("n_a"), col("n_b"),
            expr(repr4("CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)")).as("chi2"),
            expr("(n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b)").as("srm"))
        report("a_clean", users)
          .union(report("b_exposure_loss",
            users.filter(!(col("user_id") % 2 === 0 && col("arm") === "B"))))
          .orderBy("scenario")
      },
      Some("""
        WITH users AS (
          SELECT user_id,
            CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                 THEN 'A' ELSE 'B' END AS arm
          FROM (SELECT DISTINCT user_id FROM events)),
        rep AS (
          SELECT 'a_clean' AS scenario,
            SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
            SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b
          FROM users
          UNION ALL
          SELECT 'b_exposure_loss',
            SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END),
            SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
          FROM users WHERE NOT (user_id % 2 = 0 AND arm = 'B'))
        SELECT scenario, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          CAST(ROUND(CAST(CAST(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
            AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS chi2,
          ((n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b)) AS srm
        FROM rep ORDER BY scenario
      """.trim)),

    // KMV (k-minimum-values) distinct sketch — the ORDER-STATISTICS
    // member of the sketch family (countmin counts, HLL bit-patterns,
    // bitmap exact): keep the k=64 smallest distinct 60-bit md5 hashes
    // per group; the 64th smallest θ estimates distinct = 63·2⁶⁰/θ.
    // Unlike the HLL ops this sketch is EXACTLY oracle-able — the hash
    // is the deterministic md5 coin, the sketch is an order statistic,
    // and the only float is one division repr-rounded at the boundary.
    // The per-group k-min is TWO-LEVEL (rank within (grp, salt) keeping
    // ≤64, then re-rank ≤8·64 survivors per group — lossless for a
    // bottom-k: any global bottom-64 hash is in its salt's bottom-64),
    // so no partition ever sorts more than a salt's share. The ALL row
    // is computed by MERGING the per-group sketches (union of ≤64·|grps|
    // hashes → bottom-64) — mergeability is the property that makes KMV
    // a one-pass distributed sketch; the merge input is sketch-sized by
    // construction (the one unpartitioned window in the op, bounded at
    // 64·|grps| rows). Groups with <64 distinct report exactly.
    Op("agg_kmv_distinct",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val d = ev.select(col("event_type").as("grp"), col("user_id")).distinct()
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
          .withColumn("salt", pmod(col("user_id"), lit(8)))
        val sk = d
          .withColumn("r1", row_number().over(
            Window.partitionBy("grp", "salt").orderBy("h")))
          .filter(col("r1") <= 64)
          .withColumn("rn", row_number().over(
            Window.partitionBy("grp").orderBy("h")))
          .filter(col("rn") <= 64)
        val estCase =
          """CASE WHEN kk < 64 THEN CAST(kk AS BIGINT)
                  ELSE CAST(ROUND(CAST(CAST(63.0D * 1152921504606846976.0D / CAST(theta AS DOUBLE)
                    AS STRING) AS DECIMAL(38,15)), 0) AS BIGINT) END"""
        val perGrp = sk.groupBy("grp")
          .agg(count(lit(1)).as("kk"),
            max(when(col("rn") === 64, col("h"))).as("theta"))
          .join(d.groupBy("grp").agg(count(lit(1)).as("n_exact")), "grp")
        val merged = sk.select("h").distinct()
          .withColumn("rn", row_number().over(Window.orderBy("h")))
          .filter(col("rn") <= 64)
          .agg(count(lit(1)).as("kk"),
            max(when(col("rn") === 64, col("h"))).as("theta"))
          .crossJoin(broadcast(
            ev.select("user_id").distinct().agg(count(lit(1)).as("n_exact"))))
          .select(lit("ALL").as("grp"), col("kk"), col("theta"), col("n_exact"))
        perGrp.unionByName(merged)
          .withColumn("kmv_est", expr(estCase))
          .select(col("grp"), col("n_exact"),
            col("kmv_est"),
            expr("CAST(abs(kmv_est - n_exact) * 1000 DIV n_exact AS BIGINT)").as("err_permille"))
          .orderBy("grp")
      },
      Some("""
        WITH d AS (
          SELECT grp, user_id,
            CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM (SELECT DISTINCT event_type AS grp, user_id FROM events)
        ), sk AS (
          SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
          FROM d
          QUALIFY rn <= 64
        ), per_grp AS (
          SELECT s.grp, s.kk, s.theta, e.n_exact FROM (
            SELECT grp, COUNT(*) AS kk,
              MAX(CASE WHEN rn = 64 THEN h END) AS theta
            FROM sk GROUP BY grp
          ) s JOIN (
            SELECT grp, COUNT(*) AS n_exact FROM d GROUP BY grp
          ) e USING (grp)
        ), merged AS (
          SELECT 'ALL' AS grp, COUNT(*) AS kk,
            MAX(CASE WHEN rn = 64 THEN h END) AS theta,
            (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact
          FROM (
            SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM sk)
            QUALIFY rn <= 64
          )
        ), unioned AS (
          SELECT * FROM per_grp UNION ALL SELECT * FROM merged
        )
        SELECT grp, CAST(n_exact AS BIGINT) AS n_exact,
          kmv_est,
          CAST(abs(kmv_est - n_exact) * 1000 // n_exact AS BIGINT) AS err_permille
        FROM (
          SELECT grp, n_exact,
            CASE WHEN kk < 64 THEN CAST(kk AS BIGINT)
                 ELSE CAST(ROUND(CAST(CAST(63.0 * 1152921504606846976.0 / CAST(theta AS DOUBLE)
                   AS VARCHAR) AS DECIMAL(38,15)), 0) AS BIGINT) END AS kmv_est
          FROM unioned
        ) ORDER BY grp
      """.trim)),

    // KMV SET ALGEBRA — θ-sketch style intersection/union/difference
    // estimates from the same k-minimum-values agg_kmv_distinct builds
    // (round-13 verdict item 4): the overlap question between two corpus
    // slices ("how many customers do the URGENT and HIGH order books
    // share?") answered from two 64-hash sketches instead of a full
    // distinct join. θ = min of the two sketches' 64th-smallest hashes
    // (2⁶⁰ when a sketch holds its whole set — estimates collapse to
    // exact); every hash below θ is a uniform sample of its set, so any
    // SET EXPRESSION over the retained samples estimates as count·2⁶⁰/θ
    // — the theta-sketch insight that makes sketch set algebra closed.
    // Jaccard needs no θ at all (a ratio of sample counts). The exact
    // legs ride alongside for the same est-vs-truth pinning as
    // agg_kmv_distinct. All arithmetic is BIGINT until the single
    // repr-rounded division per estimate; the permille ratios are
    // integer DIV. At 100 TB: each sketch is the kmv op's two-level
    // salted bottom-k (no partition sorts more than a salt's share);
    // the set ops then touch ≤64-row frames — the entire point: overlap
    // between two snapshots costs two sketch scans, not a distinct join.
    Op("agg_kmv_set_ops",
      (s, dir) => {
        val U = 1152921504606846976L // 2^60, the hash space
        val base = Tables.t(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select(col("o_orderpriority").as("grp"), col("o_custkey"))
        val d = base.distinct()
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
        // ONE salted window pass (round-15 fuse, verdict item 6): the
        // per-(grp,salt) bottom-64 is a lossless superset of the per-grp
        // bottom-64 (each global survivor is a fortiori in its salt's
        // bottom-64), so no partition ever sorts more than a salt's share
        // and the former second window disappears. The ≤|grp|·8·64-row
        // survivor frame is genuinely bounded → localCheckpoint, and every
        // downstream sketch op reads the tiny frame, never the table.
        val cand = d.withColumn("salt", pmod(col("o_custkey"), lit(8)))
          .withColumn("r1", row_number().over(
            Window.partitionBy("grp", "salt").orderBy("h")))
          .filter(col("r1") <= 64).select("grp", "h")
          .cut
        // Per-grp fill + 64th-smallest threshold from ONE hash aggregate
        // over the survivors (sort_array makes the list deterministic).
        val fills = cand.groupBy("grp")
          .agg(sort_array(collect_list(col("h"))).as("hs"))
          .select(col("grp"), least(size(col("hs")), lit(64)).as("kk"),
            when(size(col("hs")) >= 64, element_at(col("hs"), 64)).as("t"))
        val th = fills.agg(
          min(when(col("kk") === 64, col("t")).otherwise(lit(U))).as("theta"),
          max(when(col("grp") === "1-URGENT", col("kk"))).as("ka"),
          max(when(col("grp") === "2-HIGH", col("kk"))).as("kb"))
        // Broadcast-threshold refine: bottom-kk per grp = survivors ≤ t.
        val sk = cand
          .join(broadcast(fills.select(col("grp"), col("t"))), Seq("grp"))
          .filter(col("t").isNull || col("h") <= col("t"))
        // All three sketch counters from ONE per-hash flag aggregate over
        // the θ-sampled survivors (was: semi + union-distinct + anti).
        val cnts = sk.crossJoin(broadcast(th.select("theta")))
          .filter(col("h") < col("theta"))
          .groupBy("h").agg(
            max(when(col("grp") === "1-URGENT", 1).otherwise(0)).as("ia"),
            max(when(col("grp") === "2-HIGH", 1).otherwise(0)).as("ib"))
          .agg(coalesce(sum(col("ia") * col("ib")), lit(0L)).as("ic"),
            count(lit(1)).as("uc"),
            coalesce(sum(col("ia") * (lit(1) - col("ib"))), lit(0L)).as("dc"))
        // Exact legs: ONE scan + one keyed flag aggregate (was six
        // semi/anti/union passes over the table).
        val exact = base.groupBy("o_custkey").agg(
            max(when(col("grp") === "1-URGENT", 1).otherwise(0)).as("ia"),
            max(when(col("grp") === "2-HIGH", 1).otherwise(0)).as("ib"))
          .agg(coalesce(sum(col("ia") * col("ib")), lit(0L)).as("ie"),
            count(lit(1)).as("ue"),
            coalesce(sum(col("ia") * (lit(1) - col("ib"))), lit(0L)).as("de"))
        def est(cnt: String) =
          s"""CASE WHEN theta >= ${U}L THEN CAST($cnt AS BIGINT)
                   ELSE CAST(ROUND(CAST(CAST(CAST($cnt AS DOUBLE) * 1152921504606846976.0D
                     / CAST(theta AS DOUBLE) AS STRING) AS DECIMAL(38,15)), 0) AS BIGINT) END"""
        th.crossJoin(broadcast(cnts)).crossJoin(broadcast(exact))
          .selectExpr(
            "CAST(ka AS BIGINT) AS ka", "CAST(kb AS BIGINT) AS kb",
            s"${est("ic")} AS inter_est", "ie AS inter_exact",
            s"${est("uc")} AS union_est", "ue AS union_exact",
            s"${est("dc")} AS diff_est", "de AS diff_exact",
            "CASE WHEN uc = 0 THEN 0L ELSE ic * 1000 DIV uc END AS jaccard_est_permille",
            "CASE WHEN ue = 0 THEN 0L ELSE ie * 1000 DIV ue END AS jaccard_exact_permille")
      },
      Some("""
        WITH d AS (
          SELECT grp, o_custkey,
            CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM (SELECT DISTINCT o_orderpriority AS grp, o_custkey FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        ), sk AS (
          SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
          FROM d QUALIFY rn <= 64
        ), th AS (
          SELECT
            MIN(CASE WHEN kk = 64 THEN t ELSE 1152921504606846976 END) AS theta,
            MAX(CASE WHEN grp = '1-URGENT' THEN kk END) AS ka,
            MAX(CASE WHEN grp = '2-HIGH' THEN kk END) AS kb
          FROM (SELECT grp, COUNT(*) AS kk, MAX(CASE WHEN rn = 64 THEN h END) AS t
                FROM sk GROUP BY grp)
        ), sa AS (SELECT h FROM sk, th WHERE grp = '1-URGENT' AND h < th.theta),
        sb AS (SELECT h FROM sk, th WHERE grp = '2-HIGH' AND h < th.theta),
        cnts AS (
          SELECT
            (SELECT COUNT(*) FROM sa WHERE h IN (SELECT h FROM sb)) AS ic,
            (SELECT COUNT(*) FROM (SELECT h FROM sa UNION SELECT h FROM sb)) AS uc,
            (SELECT COUNT(*) FROM sa WHERE h NOT IN (SELECT h FROM sb)) AS dc
        ), ex AS (
          SELECT
            (SELECT COUNT(*) FROM (SELECT o_custkey FROM d WHERE grp = '1-URGENT') a
             WHERE a.o_custkey IN (SELECT o_custkey FROM d WHERE grp = '2-HIGH')) AS ie,
            (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM d)) AS ue,
            (SELECT COUNT(*) FROM (SELECT o_custkey FROM d WHERE grp = '1-URGENT') a
             WHERE a.o_custkey NOT IN (SELECT o_custkey FROM d WHERE grp = '2-HIGH')) AS de
        )
        SELECT CAST(ka AS BIGINT) AS ka, CAST(kb AS BIGINT) AS kb,
          CASE WHEN theta >= 1152921504606846976 THEN CAST(ic AS BIGINT)
               ELSE CAST(ROUND(CAST(CAST(CAST(ic AS DOUBLE) * 1152921504606846976.0
                 / CAST(theta AS DOUBLE) AS VARCHAR) AS DECIMAL(38,15)), 0) AS BIGINT) END AS inter_est,
          CAST(ie AS BIGINT) AS inter_exact,
          CASE WHEN theta >= 1152921504606846976 THEN CAST(uc AS BIGINT)
               ELSE CAST(ROUND(CAST(CAST(CAST(uc AS DOUBLE) * 1152921504606846976.0
                 / CAST(theta AS DOUBLE) AS VARCHAR) AS DECIMAL(38,15)), 0) AS BIGINT) END AS union_est,
          CAST(ue AS BIGINT) AS union_exact,
          CASE WHEN theta >= 1152921504606846976 THEN CAST(dc AS BIGINT)
               ELSE CAST(ROUND(CAST(CAST(CAST(dc AS DOUBLE) * 1152921504606846976.0
                 / CAST(theta AS DOUBLE) AS VARCHAR) AS DECIMAL(38,15)), 0) AS BIGINT) END AS diff_est,
          CAST(de AS BIGINT) AS diff_exact,
          CAST(CASE WHEN uc = 0 THEN 0 ELSE ic * 1000 // uc END AS BIGINT) AS jaccard_est_permille,
          CAST(CASE WHEN ue = 0 THEN 0 ELSE ie * 1000 // ue END AS BIGINT) AS jaccard_exact_permille
        FROM th, cnts, ex
      """.trim)),

    // Poisson bootstrap CI — THE single-pass resampling technique at
    // scale (classical bootstrap resamples the dataset B times; the
    // Poisson approximation draws each row's per-resample multiplicity
    // w ~ Poisson(1) independently, so all B=40 resamples stream in ONE
    // pass with B×|groups| aggregation state). The Poisson draw is a
    // deterministic md5 coin against the exact inverse-CDF thresholds in
    // micro units (P(0)=.367879, P(≤1)=.735759, P(≤2)=.919699,
    // P(≤3)=.981012, else 4) — no RNG state, identical draws on both
    // engines. Per group: point mean + the 2nd-smallest / 2nd-largest of
    // the 40 resample means (the ≈95% percentile CI). Weighted sums are
    // exact BIGINT cents; resample means are identical double quotients,
    // so their ordering (ties → resample id) is engine-deterministic.
    // At 100 TB: one scan, partial-aggregating (grp, b) cells, a window
    // over 40-row groups — no data ever re-shuffles per resample.
    Op("agg_bootstrap_ci",
      (s, dir) => {
        // b = -1 is the SENTINEL resample with weight 1 for every row —
        // the point estimate falls out of the same single-scan (grp, b)
        // aggregation as the 40 bootstrap cells.
        // u is materialized ONCE per (row, b) — inlining it into the CASE
        // would run the md5 once per WHEN arm (4× the op's entire cost;
        // measured 11.6 s → ~3 s at sf0.1).
        // repartition: orders.parquet is a single file → a single input
        // partition, and the ×41 explode plus 6M md5s would otherwise run
        // on one core (the documents-explode precedent).
        val rs = Tables.t(s, dir, "orders")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("o_orderpriority").as("grp"), col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
            explode(expr("sequence(-1, 39)")).as("b"))
          .withColumn("u", expr(
            "CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), ':', CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"))
          .withColumn("w", expr(
            """CASE WHEN b = -1 THEN 1
                    WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                    WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3 ELSE 4 END"""))
          .groupBy("grp", "b")
          .agg(sum(col("w").cast("long")).as("sw"),
            sum(col("w").cast("long") * col("cents")).as("swx"))
          .filter(col("sw") > 0)
          .withColumn("mean_b", expr("CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0"))
        val boot = rs.filter(col("b") >= 0)
        val w2 = Window.partitionBy("grp").orderBy(col("mean_b"), col("b"))
        val ranked = boot
          .withColumn("rk", row_number().over(w2))
          .withColumn("nb", count(lit(1)).over(Window.partitionBy("grp")))
        val ci = ranked
          .groupBy("grp")
          .agg(
            max(when(col("rk") === 2, col("mean_b"))).as("lo"),
            max(when(col("rk") === col("nb") - 1, col("mean_b"))).as("hi"))
        val pt = rs.filter(col("b") === -1)
          .select(col("grp"), col("sw").as("n"), col("mean_b").as("mean"))
        pt.join(ci, "grp")
          .select(col("grp"), col("n"),
            (round(col("mean"), 2) + 0.0).as("mean"),
            (round(col("lo"), 2) + 0.0).as("ci_lo"),
            (round(col("hi"), 2) + 0.0).as("ci_hi"))
          .orderBy("grp")
      },
      Some("""
        WITH rs AS (
          SELECT grp, b,
            CAST(SUM(w) AS BIGINT) AS sw,
            CAST(SUM(w * cents) AS BIGINT) AS swx
          FROM (
            SELECT o_orderpriority AS grp, b,
              CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
              CASE WHEN b = -1 THEN 1
                   WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                   WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3 ELSE 4 END AS w
            FROM (
              SELECT o_orderpriority, o_totalprice, b,
                CAST(('0x' || substr(md5(o_orderkey || ':' || b), 1, 15)) AS BIGINT) % 1000000 AS u
              FROM orders, (SELECT unnest(range(-1, 40)) AS b)
            )
          ) GROUP BY grp, b
          HAVING SUM(w) > 0
        ), means AS (
          SELECT grp, b, CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0 AS mean_b,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0, b) AS rk,
            COUNT(*) OVER (PARTITION BY grp) AS nb
          FROM rs WHERE b >= 0
        ), ci AS (
          SELECT grp,
            MAX(CASE WHEN rk = 2 THEN mean_b END) AS lo,
            MAX(CASE WHEN rk = nb - 1 THEN mean_b END) AS hi
          FROM means GROUP BY grp
        ), pt AS (
          SELECT grp, sw AS n, CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0 AS mean
          FROM rs WHERE b = -1
        )
        SELECT grp, CAST(n AS BIGINT) AS n,
          CAST(ROUND(CAST(CAST(mean AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS mean,
          CAST(ROUND(CAST(CAST(lo AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS ci_lo,
          CAST(ROUND(CAST(CAST(hi AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) + 0.0 AS ci_hi
        FROM pt JOIN ci USING (grp)
        ORDER BY grp
      """.trim))
  )
}
