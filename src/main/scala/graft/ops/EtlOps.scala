package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Group K — classic ETL state-maintenance patterns (round 2). The
  * reference class is an ETL sample; these are the two operators every
  * warehouse-maintenance pipeline runs daily, re-expressed as pure
  * DataFrame transforms.
  *
  * Scale notes: upsert is one full-outer shuffle join on the key (at
  * 100 TB: bucket both sides on the key and it degenerates to a zipped
  * merge, same as join_bucketed_colocated); SCD2 is one shuffle by the
  * entity key + ordered window — no self-join, no explosion.
  */
object EtlOps extends OpGroup {

  /** etl_compact_files' fixture: events fragmented 8-ways per partition
    * dir, then re-clustered so each dir gets one writer. Built once per
    * (session, sfDir); released after the consumer key runs.
    */
  val compactDemo: graft.Fixture[String] =
    Tables.layout("compact_demo", Set("etl_compact_files")) { (s, dir, b) =>
      val e = Tables.t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      e.repartition(8)
        .write.mode("overwrite").partitionBy("event_type").parquet(s"$b/frag")
      s.read.parquet(s"$b/frag").repartition(col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(s"$b/compact")
    }

  val ops: Seq[Op] = Seq(
    // MERGE/upsert without a table format: base ⟕⟖ changes (full outer),
    // change wins on match, unmatched changes insert, unmatched base rows
    // carry forward — with a src marker showing which branch each row took.
    // Changes are derived deterministically: +10% reprice of 'F'-status
    // 1996 orders (updates) ∪ 1997 orders (inserts; keys disjoint).
    Op("etl_upsert",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val base = o.filter(year(col("o_orderdate")) === 1996)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        // Reprice in DECIMAL: double round(x * 1.1, 2) diverges between
        // engines on tie-repr products (confirmed at sf0.1 — 288578.785
        // rounds .79 in Spark, .78 in DuckDB). DECIMAL(18,2) × 1.1 is an
        // exact 3-dp decimal; both engines then round the identical value.
        val changes = base.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"),
            round(col("o_totalprice").cast(DecimalType(18, 2))
                * lit(BigDecimal("1.1")).cast(DecimalType(2, 1)), 2)
              .cast(DecimalType(18, 2)).cast("double").as("new_price"))
          .unionByName(o.filter(year(col("o_orderdate")) === 1997)
            .select(col("o_orderkey"), col("o_totalprice").as("new_price")))
        base.join(changes, Seq("o_orderkey"), "full")
          .select(
            col("o_orderkey"),
            coalesce(col("new_price"), col("o_totalprice")).as("price"),
            when(col("o_totalprice").isNull, "I")
              .when(col("new_price").isNotNull, "U")
              .otherwise("B").as("src"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus
          FROM orders WHERE year(o_orderdate) = 1996
        ),
        changes AS (
          SELECT o_orderkey,
            CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS new_price
          FROM base WHERE o_orderstatus = 'F'
          UNION ALL
          SELECT o_orderkey, o_totalprice AS new_price
          FROM orders WHERE year(o_orderdate) = 1997
        )
        SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
          COALESCE(c.new_price, b.o_totalprice) AS price,
          CASE WHEN b.o_orderkey IS NULL THEN 'I'
               WHEN c.o_orderkey IS NOT NULL THEN 'U'
               ELSE 'B' END AS src
        FROM base b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
        ORDER BY o_orderkey
      """.trim)),

    // CDC-style snapshot diff: given yesterday's and today's table states,
    // emit every Added / Deleted / Changed key with old/new values —
    // the reconciliation report run before publishing an incremental
    // load. Snapshots derive deterministically from orders (B = A with
    // 1995-'F' rows deleted, 1996-'F' rows repriced +5% exact-decimal,
    // 1997 rows added). One full-outer shuffle join on the key — at
    // 100 TB bucket both snapshots on the key (join_bucketed_colocated
    // layout) and it degenerates to a zipped merge; the unchanged
    // majority is filtered before the output sort so only the delta
    // (typically ≪1%) flows downstream.
    Op("etl_snapshot_diff",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        // Presence markers, not value-null proxies: the oracle tests key
        // nullness on each side of the full-outer join, and a data row
        // with a NULL price would otherwise be misread as absent.
        val snapA = o.filter(year(col("o_orderdate")) <= 1996)
          .select(col("o_orderkey"), col("o_totalprice"), lit(true).as("in_a"))
        val snapB = o.filter(year(col("o_orderdate")) <= 1997)
          .filter(!(year(col("o_orderdate")) === 1995 && col("o_orderstatus") === "F"))
          .select(col("o_orderkey"),
            when(year(col("o_orderdate")) === 1996 && col("o_orderstatus") === "F",
              round(col("o_totalprice").cast(DecimalType(18, 2))
                  * lit(BigDecimal("1.05")).cast(DecimalType(3, 2)), 2)
                .cast(DecimalType(18, 2)).cast("double"))
              .otherwise(col("o_totalprice")).as("price_b"),
            lit(true).as("in_b"))
        snapA.join(snapB, Seq("o_orderkey"), "full")
          .withColumn("status",
            when(col("in_a").isNull, "A")
              .when(col("in_b").isNull, "D")
              .when(col("price_b") =!= col("o_totalprice"), "C")
              .otherwise("U"))
          .filter(col("status") =!= "U")
          .select(col("o_orderkey"), col("status"),
            col("o_totalprice").as("old_price"), col("price_b").as("new_price"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH snapA AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE year(o_orderdate) <= 1996
        ), snapB AS (
          SELECT o_orderkey,
            CASE WHEN year(o_orderdate) = 1996 AND o_orderstatus = 'F'
              THEN CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2)), 2) AS DECIMAL(18,2)) AS DOUBLE)
              ELSE o_totalprice END AS price_b
          FROM orders
          WHERE year(o_orderdate) <= 1997
            AND NOT (year(o_orderdate) = 1995 AND o_orderstatus = 'F')
        )
        SELECT o_orderkey, status, old_price, new_price FROM (
          SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
            CASE WHEN a.o_orderkey IS NULL THEN 'A'
                 WHEN b.o_orderkey IS NULL THEN 'D'
                 WHEN b.price_b <> a.o_totalprice THEN 'C'
                 ELSE 'U' END AS status,
            a.o_totalprice AS old_price, b.price_b AS new_price
          FROM snapA a FULL JOIN snapB b ON a.o_orderkey = b.o_orderkey
        ) WHERE status <> 'U'
        ORDER BY o_orderkey
      """.trim)),

    // Recursive CTE (Spark 4 WITH RECURSIVE): generate the 48-month date
    // spine 1995-01..1998-12 recursively, left-join per-month order counts
    // — the date-dimension pattern. Zero-order months stay present (spine
    // drives the output).
    Op("etl_date_spine_recursive",
      (s, dir) => {
        Tables.t(s, dir, "orders").createOrReplaceTempView("graft_spine_orders")
        s.sql("""
          WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP_NTZ '1995-01-01' AS m
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < TIMESTAMP_NTZ '1998-12-01'
          )
          SELECT m AS month, COUNT(o_orderkey) AS n
          FROM months LEFT JOIN graft_spine_orders
            ON CAST(date_trunc('month', o_orderdate) AS TIMESTAMP_NTZ) = m
          GROUP BY m ORDER BY m
        """)
      },
      Some("""
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01' AS m
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '1998-12-01'
        )
        SELECT m AS month, COUNT(o_orderkey) AS n
        FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        GROUP BY m ORDER BY m
      """.trim)),

    // SCD2 / gaps-and-islands: per user, each run of consecutive equal
    // event_types becomes one validity interval [valid_from, valid_to)
    // (NULL valid_to = current). Run boundaries via lag-change flag +
    // running sum; ties broken by event_id so the intervals are total-order
    // deterministic.
    Op("etl_scd2",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select("user_id", "event_type", "ts", "event_id")
        val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val runs = ev
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(wOrd).isNull
              || lag(col("event_type"), 1).over(wOrd) =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("run_id", sum(col("chg")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "run_id")
          // min(event_type): all values in a run are equal by construction;
          // min keeps it order-insensitive (§2.0.6 — no bare first()).
          .agg(min(col("ts")).as("valid_from"),
            min(col("event_type")).as("event_type"))
        val wRun = Window.partitionBy("user_id").orderBy("run_id")
        runs
          .withColumn("valid_to", lead(col("valid_from"), 1).over(wRun))
          .select(col("user_id"), col("run_id").cast("int").as("run_id"),
            col("event_type"), col("valid_from"), col("valid_to"))
          .orderBy("user_id", "run_id")
      },
      Some("""
        SELECT user_id, CAST(run_id AS INT) AS run_id, event_type, valid_from,
          LEAD(valid_from, 1) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
        FROM (
          SELECT user_id, run_id, MIN(ts_us) AS valid_from,
            MIN(event_type) AS event_type
          FROM (
            SELECT user_id, event_type, ts_us, event_id,
              SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
            FROM (
              SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts_us, event_id,
                CASE WHEN LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                          IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
              FROM events
            )
          ) GROUP BY user_id, run_id
        ) ORDER BY user_id, run_id
      """.trim)),

    // Dead-letter/quarantine report: declarative validation rules over
    // lineitem, each violating row routed (exploded) to every rule it
    // breaks, summarized per rule with count + key range + quarantined
    // quantity mass. One scan + explode + hash aggregate — the shape of
    // a daily data-quality gate at 100 TB (rules are row-local; nothing
    // shuffles but the per-rule partials).
    Op("etl_quarantine",
      (s, dir) => {
        Tables.t(s, dir, "lineitem")
          .withColumn("reason", explode(expr("""
            filter(array(
              IF(l_quantity > 45.0, 'qty_gt_45', NULL),
              IF(l_discount > 0.08, 'discount_gt_8pct', NULL),
              IF(l_tax > 0.07, 'tax_gt_7pct', NULL)),
            r -> r IS NOT NULL)""")))
          .groupBy("reason")
          .agg(count(lit(1)).as("n"),
            min("l_orderkey").as("min_key"),
            max("l_orderkey").as("max_key"),
            sum(Tables.dec2(col("l_quantity"))).cast(DecimalType(18, 2))
              .cast("double").as("quarantined_qty"))
          .orderBy("reason")
      },
      Some("""
        SELECT reason, COUNT(*) AS n,
          MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS quarantined_qty
        FROM (
          SELECT l_orderkey, l_quantity,
            unnest(list_filter([
              CASE WHEN l_quantity > 45.0 THEN 'qty_gt_45' ELSE NULL END,
              CASE WHEN l_discount > 0.08 THEN 'discount_gt_8pct' ELSE NULL END,
              CASE WHEN l_tax > 0.07 THEN 'tax_gt_7pct' ELSE NULL END],
              r -> r IS NOT NULL)) AS reason
          FROM lineitem
        )
        GROUP BY reason ORDER BY reason
      """.trim)),

    // Incremental aggregate maintenance: the daily-load pattern where a
    // per-key aggregate state (count + exact-decimal sum) is maintained by
    // MERGING yesterday's state with the new partition's partial state —
    // never re-scanning history. Base = orders < 1997, delta = 1997+.
    // Both sub-aggregations shuffle only their own rows; the merge is a
    // full-outer join of two agg states (count and decimal-sum are
    // commutative monoids, so merged state == full recompute — which is
    // exactly what the oracle computes, over the whole table). At 100 TB
    // the state table is bucketed on the key and the daily merge touches
    // only delta-affected buckets.
    Op("etl_incremental_agg",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        def state(f: DataFrame): DataFrame = f.groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"))
        val base = state(o.filter(year(col("o_orderdate")) < 1997))
          .select(col("o_custkey"), col("n").as("n_b"), col("s").as("s_b"))
        val delta = state(o.filter(year(col("o_orderdate")) >= 1997))
          .select(col("o_custkey"), col("n").as("n_d"), col("s").as("s_d"))
        base.join(delta, Seq("o_custkey"), "full")
          .select(col("o_custkey"),
            (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
            (coalesce(col("s_b"), lit(BigDecimal(0)).cast(DecimalType(18, 2)))
              + coalesce(col("s_d"), lit(BigDecimal(0)).cast(DecimalType(18, 2))))
              .cast(DecimalType(18, 2)).cast("double").as("total"))
          .orderBy("o_custkey")
      },
      Some("""
        SELECT o_custkey, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        FROM orders
        GROUP BY o_custkey ORDER BY o_custkey
      """.trim)),

    // Dynamic partition overwrite: the backfill write mode every
    // partitioned lake table depends on — rewriting ONE partition's data
    // in place (1996 repriced +5%, exact decimal) while every other
    // partition's files stay untouched. partitionOverwriteMode=dynamic
    // replaces only the partitions present in the incoming frame; static
    // mode (the default) would truncate the whole table first. Read-back
    // aggregates per year prove 1996 changed and the rest didn't. At
    // 100 TB this is the nightly-restatement primitive: the job writes
    // |changed partitions| of data, never the table.
    Op("etl_partition_overwrite",
      (s, dir) => {
        val out = Tables.tmpDir("graft_dynpart")
        val o = Tables.t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")).cast("int"))
        o.repartition(col("o_year"))
          .write.mode("overwrite").partitionBy("o_year").parquet(out)
        val restated = o.filter(col("o_year") === 1996)
          .withColumn("o_totalprice",
            round(col("o_totalprice").cast(DecimalType(18, 2))
                * lit(BigDecimal("1.05")).cast(DecimalType(3, 2)), 2)
              .cast(DecimalType(18, 2)).cast("double"))
        // Dynamic overwrite for this write only: the writer option
        // overrides the session's partitionOverwriteMode.
        restated.repartition(col("o_year"))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_year").parquet(out)
        s.read.parquet(out)
          .groupBy("o_year")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DecimalType(18, 2)).cast("double").as("sum_price"))
          .orderBy("o_year")
      },
      Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(
            CASE WHEN year(o_orderdate) = 1996
              THEN CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2)), 2) AS DECIMAL(18,2)) AS DOUBLE)
              ELSE o_totalprice END
            AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY 1 ORDER BY o_year
      """.trim)),

    // Small-file compaction: the other half of lake maintenance next to
    // etl_partition_overwrite. A nightly ingest writes each partition dir
    // with one file per writer task (8 here — the fragmented shape), the
    // compactor re-clusters BY the partition column so each dir gets
    // exactly one writer, and the read-back proves it from data alone:
    // one distinct file path per partition, same row counts. At 100 TB
    // compaction is per-partition-subtree and its job size is |small
    // files|, never |table| — the repartition(col) is the whole trick
    // (hash-cluster rows by the dir key so writer tasks and dirs are 1:1).
    Op("etl_compact_files",
      (s, dir) => {
        // Fragment + compact once per (session, sfDir) (Tables.layout;
        // Bench warms it untimed) — the key then times the read-back proof
        // (one file per partition dir), which is what the op demonstrates.
        val base = EtlOps.compactDemo(s, dir)
        s.read.parquet(s"$base/compact")
          .select(col("event_type"), col("_metadata.file_path").as("fp"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"), countDistinct(col("fp")).as("n_files"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_rows, CAST(1 AS BIGINT) AS n_files
        FROM events GROUP BY 1 ORDER BY event_type
      """.trim)),

    // Data-quality expectations report (the dbt-test / Deequ pattern):
    // five declared constraints on `orders` — key not-null, key unique,
    // price positive, status in domain, date in [1995-01-01, 2000-12-31]
    // (the last one genuinely FAILS on this data: orders run to 2001-08)
    // — verified in ONE scan + one exact-distinct shuffle, then unpivoted
    // to a (check, violations, pass) report via stack(). The single-pass
    // shape is the 100 TB story: N constraints cost one pass over the
    // table, not N, because every violation counter is a partial-
    // aggregatable sum fused into the same HashAggregate.
    // Zero-extra-pass write audit via Dataset.observe(): the metrics every
    // production ETL attaches to a write (row count, null-key count,
    // domain violations, exact-decimal mass total, max key) are computed
    // AS the rows stream through the write — no second scan, unlike
    // etl_validate_constraints' standalone report pass. Observation wraps
    // a QueryExecutionListener: the named CollectMetrics node accumulates
    // per-partition partials, the listener delivers the merged row on
    // query success, and obs.get blocks until it lands. At 100 TB the
    // audit is free — the observe projection fuses into the write stage's
    // codegen — and the pattern generalizes to any sink. The returned
    // frame is the delivered metrics row itself (driver-side by design:
    // audit metrics are a per-query scalar bundle for the orchestrator);
    // the oracle re-derives every number with plain SQL over the same
    // table, so the listener path is hash-checked end to end.
    Op("etl_observe_metrics",
      (s, dir) => {
        val obs = org.apache.spark.sql.Observation("graft_write_audit")
        val out = Tables.tmpDir("graft_observe")
        Tables.t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
            sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
              .as("n_bad_status"),
            sum(Tables.dec2(col("o_totalprice"))).cast(DecimalType(18, 2)).as("sum_price"),
            max(col("o_orderkey")).as("max_key"))
          .write.mode("overwrite").parquet(out)
        val m = obs.get
        import s.implicits._
        Seq((
          m("n_rows").asInstanceOf[Long],
          m("n_null_cust").asInstanceOf[Long],
          m("n_bad_status").asInstanceOf[Long],
          m("sum_price").asInstanceOf[java.math.BigDecimal].doubleValue(),
          m("max_key").asInstanceOf[Long]))
          .toDF("n_rows", "n_null_cust", "n_bad_status", "sum_price", "max_key")
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_cust,
          CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
          MAX(o_orderkey) AS max_key
        FROM orders
      """.trim)),

    Op("etl_validate_constraints",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.agg(
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("c_null"),
            (count(lit(1)) - countDistinct(col("o_orderkey"))).as("c_dup"),
            sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("c_price"),
            sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("c_status"),
            sum(when(col("o_orderdate") < lit("1995-01-01").cast("timestamp_ntz")
              || col("o_orderdate") > lit("2000-12-31").cast("timestamp_ntz"), 1L)
              .otherwise(0L)).as("c_date"))
          .select(expr("""stack(5,
              'orderkey_not_null',   c_null,
              'orderkey_unique',     c_dup,
              'totalprice_positive', c_price,
              'orderstatus_domain',  c_status,
              'orderdate_in_range',  c_date) AS (check_name, n_violations)"""))
          .withColumn("pass", col("n_violations") === 0L)
          .orderBy("check_name")
      },
      Some("""
        WITH m AS (
          SELECT
            CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_null,
            CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS c_dup,
            CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_price,
            CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS c_status,
            CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                       OR o_orderdate > TIMESTAMP '2000-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS c_date
          FROM orders)
        SELECT * FROM (
          SELECT 'orderkey_not_null' AS check_name, c_null AS n_violations, c_null = 0 AS pass FROM m
          UNION ALL SELECT 'orderkey_unique', c_dup, c_dup = 0 FROM m
          UNION ALL SELECT 'totalprice_positive', c_price, c_price = 0 FROM m
          UNION ALL SELECT 'orderstatus_domain', c_status, c_status = 0 FROM m
          UNION ALL SELECT 'orderdate_in_range', c_date, c_date = 0 FROM m)
        ORDER BY check_name
      """.trim)),

    // Referential-integrity audit: per FK relation, how many child rows
    // point at a missing parent. Two dims are deterministically "botched"
    // (every 100th customer, every 50th part dropped — the partial-dim-
    // load failure mode) so the report shows real orphan counts next to
    // a passing relation. Each check is ONE left-anti join collapsing to
    // a single counter — anti joins broadcast the parent key set when it
    // fits, and every counter partial-aggregates, so N relations cost N
    // key-only passes, never a row explosion. At 100 TB the
    // lineitem→orders check runs on bucketed snapshots as a zipped anti
    // merge — the same shape as join_bucketed_colocated.
    Op("etl_fk_orphan_check",
      (s, dir) => {
        val orders = Tables.t(s, dir, "orders")
        val li = Tables.t(s, dir, "lineitem")
        val cust = Tables.t(s, dir, "customer").filter(col("c_custkey") % 100 =!= 0)
        val part = Tables.t(s, dir, "part").filter(col("p_partkey") % 50 =!= 0)
        def orphans(child: DataFrame, key: String,
            parent: DataFrame, pkey: String, rel: String): DataFrame =
          child.join(parent, child(key) === parent(pkey), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(rel).as("relation"), col("n_orphans"))
        orphans(orders, "o_custkey", cust, "c_custkey", "orders->customer")
          .unionAll(orphans(li, "l_partkey", part, "p_partkey", "lineitem->part"))
          .unionAll(orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders"))
          .withColumn("pass", col("n_orphans") === 0L)
          .orderBy("relation")
      },
      Some("""
        SELECT relation, n_orphans, n_orphans = 0 AS pass FROM (
          SELECT 'orders->customer' AS relation, CAST(COUNT(*) AS BIGINT) AS n_orphans
          FROM orders o WHERE NOT EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 100 <> 0)
          UNION ALL
          SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
          FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM part p
            WHERE p.p_partkey = l.l_partkey AND p.p_partkey % 50 <> 0)
          UNION ALL
          SELECT 'lineitem->orders', CAST(COUNT(*) AS BIGINT)
          FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        ORDER BY relation
      """.trim)),

    // Ordered CDC-log application — the multi-version sibling of
    // etl_upsert (which applies at most ONE change per key): a change
    // log carries several versioned ops per key (v1 reprice, v2 second
    // reprice, v3 delete, each on deterministic key slices) and only the
    // HIGHEST version may win. Latest-wins = one max_by per key (cheap
    // single-pair aggregation buffer, partial-aggregatable — no rank
    // window needed), then one full-outer merge with the base, deletes
    // dropped. Summarized per status with exact-decimal mass so the
    // whole apply is hash-checked. At 100 TB: the log is tiny vs the
    // base — aggregate the log first (shuffle |log|), bucket the base,
    // and the merge is a zipped join touching only affected buckets.
    Op("etl_cdc_apply",
      (s, dir) => {
        val base = Tables.t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
        def reprice(f: Double) = round(col("price")
          * lit(BigDecimal(f.toString)).cast(DecimalType(3, 2)), 2)
          .cast(DecimalType(18, 2))
        val log = base.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), lit(1).as("ver"), lit("U").as("op"),
            reprice(1.10).as("new_price"))
          .unionByName(base.filter(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey"), lit(2).as("ver"), lit("U").as("op"),
              reprice(1.20).as("new_price")))
          .unionByName(base.filter(col("o_orderkey") % 13 === 0)
            .select(col("o_orderkey"), lit(3).as("ver"), lit("D").as("op"),
              // 0-sentinel, never read (D rows are filtered): DuckDB's
              // arg_max skips NULL args, Spark's max_by keeps them —
              // a non-null sentinel sidesteps the semantic gap.
              lit(BigDecimal(0).setScale(2)).cast(DecimalType(18, 2)).as("new_price")))
        val latest = log.groupBy("o_orderkey")
          .agg(max_by(col("op"), col("ver")).as("op"),
            max_by(col("new_price"), col("ver")).as("new_price"))
        base.join(latest, Seq("o_orderkey"), "full")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("o_orderstatus"),
            coalesce(col("new_price"), col("price")).as("p"),
            col("op").isNotNull.as("changed"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
            sum(col("p")).cast(DecimalType(18, 2)).cast("double").as("price_mass"))
          .orderBy("o_orderstatus")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
            CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders WHERE year(o_orderdate) = 1996),
        log AS (
          SELECT o_orderkey, 1 AS ver, 'U' AS op,
            CAST(ROUND(price * CAST(1.10 AS DECIMAL(3,2)), 2) AS DECIMAL(18,2)) AS new_price
          FROM base WHERE o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey, 2, 'U',
            CAST(ROUND(price * CAST(1.20 AS DECIMAL(3,2)), 2) AS DECIMAL(18,2))
          FROM base WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, 3, 'D', CAST(0.00 AS DECIMAL(18,2))
          FROM base WHERE o_orderkey % 13 = 0),
        latest AS (
          SELECT o_orderkey, arg_max(op, ver) AS op,
            arg_max(new_price, ver) AS new_price
          FROM log GROUP BY 1),
        merged AS (
          SELECT b.o_orderstatus,
            COALESCE(l.new_price, b.price) AS p,
            (l.o_orderkey IS NOT NULL) AS changed
          FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
          WHERE l.op IS NULL OR l.op <> 'D')
        SELECT o_orderstatus, COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          CAST(CAST(SUM(p) AS DECIMAL(18,2)) AS DOUBLE) AS price_mass
        FROM merged GROUP BY 1 ORDER BY o_orderstatus
      """.trim)),

    // Late-arriving dimension: at load time every 100th customer key is
    // not yet in the dim, so its facts degrade to the UNKNOWN member
    // (coalesce fallback — facts are NEVER dropped or stalled); once the
    // late dim batch lands, the re-join reclassifies them. The report is
    // the before/after composition per segment — the backfill audit a
    // warehouse runs after every late-dim load. Two left joins on the
    // dim key + one full-outer merge of two segment-level aggregates;
    // at 100 TB both joins shuffle on o_custkey (or broadcast when the
    // dim fits) and the merge touches |segments| rows.
    Op("etl_late_arriving_dim",
      (s, dir) => {
        val cust = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val early = cust.where(pmod(col("c_custkey"), lit(100)) =!= 7)
        val o = Tables.t(s, dir, "orders")
          .select(col("o_custkey"), Tables.dec2(col("o_totalprice")).as("price"))
        def phase(dim: DataFrame, nCol: String, mCol: String) =
          o.join(dim, col("o_custkey") === col("c_custkey"), "left")
            .select(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("seg"), col("price"))
            .groupBy("seg")
            .agg(count(lit(1)).as(nCol),
              sum("price").cast(DecimalType(18, 2)).as(mCol))
        phase(early, "n_load", "m_load")
          .join(phase(cust, "n_final", "m_final"), Seq("seg"), "full_outer")
          .select(col("seg"),
            coalesce(col("n_load"), lit(0L)).as("n_load"),
            coalesce(col("m_load").cast("double"), lit(0.0)).as("mass_load"),
            coalesce(col("n_final"), lit(0L)).as("n_final"),
            coalesce(col("m_final").cast("double"), lit(0.0)).as("mass_final"))
          .orderBy("seg")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        ld AS (
          SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS seg, COUNT(*) AS n_load,
            CAST(SUM(price) AS DECIMAL(18,2)) AS m_load
          FROM o LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 100 <> 7) c
            ON o.o_custkey = c.c_custkey
          GROUP BY 1),
        fin AS (
          SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS seg, COUNT(*) AS n_final,
            CAST(SUM(price) AS DECIMAL(18,2)) AS m_final
          FROM o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1)
        SELECT COALESCE(ld.seg, fin.seg) AS seg,
          COALESCE(n_load, 0) AS n_load,
          COALESCE(CAST(m_load AS DOUBLE), 0.0) AS mass_load,
          COALESCE(n_final, 0) AS n_final,
          COALESCE(CAST(m_final AS DOUBLE), 0.0) AS mass_final
        FROM ld FULL OUTER JOIN fin ON ld.seg = fin.seg
        ORDER BY seg
      """.trim)),

    // Anti-entropy table checksum: per partition (order year) an
    // ORDER-INSENSITIVE content checksum — Σ over rows of the md5-prefix
    // integer of a type-pinned payload string, accumulated in exact
    // DECIMAL(38,0) (a BIGINT sum of 2⁶⁰-scale buckets overflows) — then
    // compared against a replica with a deterministic drift (every
    // 1000th key repriced +0.01), the replication-divergence audit a
    // lake runs without moving any data. Payload strings are the
    // quality_column_profile type-pinned casts, so both engines hash
    // identical bytes. Two partial-aggregating scans + one |years| join;
    // at 100 TB each side is one map-side pass, and only per-partition
    // digests cross the wire — the point of the pattern.
    Op("etl_table_checksum",
      (s, dir) => {
        def sums(price: org.apache.spark.sql.Column) =
          Tables.t(s, dir, "orders")
            .select(year(col("o_orderdate")).as("yr"),
              concat_ws("|",
                col("o_orderkey").cast("string"),
                Tables.dec2(price).cast("string"),
                col("o_orderstatus"),
                date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")).as("payload"))
            .select(col("yr"), expr(
              "CAST(conv(substring(md5(payload), 1, 15), 16, 10) AS DECIMAL(38,0))").as("b"))
            .groupBy("yr")
            .agg(count(lit(1)).as("n_rows"), sum("b").cast(DecimalType(38, 0)).as("cks"))
        val src = sums(col("o_totalprice"))
        val rep = sums(when(pmod(col("o_orderkey"), lit(1000)) === 0,
            col("o_totalprice") + 0.01).otherwise(col("o_totalprice")))
          .select(col("yr"), col("cks").as("rcks"))
        src.join(rep, Seq("yr"))
          .select(col("yr"), col("n_rows"),
            col("cks").cast("string").as("checksum"),
            (col("cks") === col("rcks")).as("replica_match"))
          .orderBy("yr")
      },
      Some("""
        WITH src AS (
          SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n_rows,
            SUM(CAST(CAST(('0x' || substr(md5(
              CAST(o_orderkey AS VARCHAR) || '|' ||
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
              o_orderstatus || '|' ||
              strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')), 1, 15)) AS BIGINT) AS HUGEINT)) AS cks
          FROM orders GROUP BY 1),
        rep AS (
          SELECT CAST(year(o_orderdate) AS INT) AS yr,
            SUM(CAST(CAST(('0x' || substr(md5(
              CAST(o_orderkey AS VARCHAR) || '|' ||
              CAST(CAST(CASE WHEN o_orderkey % 1000 = 0 THEN o_totalprice + 0.01
                             ELSE o_totalprice END AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
              o_orderstatus || '|' ||
              strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')), 1, 15)) AS BIGINT) AS HUGEINT)) AS rcks
          FROM orders GROUP BY 1)
        SELECT src.yr, n_rows, CAST(cks AS VARCHAR) AS checksum,
          cks = rcks AS replica_match
        FROM src JOIN rep ON src.yr = rep.yr
        ORDER BY src.yr
      """.trim)),

    // Bi-temporal as-of query: "what did the table say about valid time
    // V, as the system knew it at transaction time T" — the audit/
    // reproducibility primitive behind every restated financial report.
    // The versioned fact is derived deterministically (v1 = original
    // load at tx 1995-01-01; v2 = the F-status reprice batch landing at
    // tx 1997-01-01 — the same +10% derivation as etl_upsert), probed at
    // two (V, T) pairs that straddle the restatement. Per probe, each
    // key's winning version is the max tx ≤ T (max_by on the integer
    // version — no window over the fact needed), then valid-time filters
    // and one partial aggregate. Prices stay exact DECIMAL→cents.
    Op("etl_bitemporal_asof",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val v1 = o.select(col("o_orderkey"), col("o_orderdate"),
          Tables.dec2(col("o_totalprice")).as("price"),
          lit("1995-01-01 00:00:00").cast("timestamp_ntz").as("tx"), lit(1).as("ver"))
        val v2 = o.where(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"),
            // The etl_upsert reprice recipe: 2-dp × 1-dp is an exact 3-dp
            // decimal, ROUNDed half-up to 2 dp on BOTH engines (a bare
            // DuckDB decimal CAST truncates — round-2 finding).
            round(Tables.dec2(col("o_totalprice"))
                * lit(BigDecimal("1.1")).cast(DecimalType(2, 1)), 2)
              .cast(DecimalType(18, 2)).as("price"),
            lit("1997-01-01 00:00:00").cast("timestamp_ntz").as("tx"), lit(2).as("ver"))
        val probes = s.createDataFrame(Seq(
            (1, "1996-06-01 00:00:00", "1996-01-01 00:00:00"),
            (2, "1996-06-01 00:00:00", "1998-01-01 00:00:00")))
          .toDF("probe_id", "v_time", "t_time")
          .select(col("probe_id"),
            col("v_time").cast("timestamp_ntz").as("v_time"),
            col("t_time").cast("timestamp_ntz").as("t_time"))
        v1.unionByName(v2)
          .crossJoin(broadcast(probes))
          .where(col("tx") <= col("t_time") && col("o_orderdate") <= col("v_time"))
          .groupBy("probe_id", "o_orderkey")
          .agg(max_by(expr("CAST(price * 100 AS BIGINT)"), col("ver")).as("pc"),
            max(col("ver")).as("ver"))
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("pc").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("tc"),
            sum(when(col("ver") === 2, 1L).otherwise(0L)).as("n_repriced"))
          .selectExpr("probe_id", "n_orders", "CAST(tc AS BIGINT) AS total_cents",
            "n_repriced")
          .orderBy("probe_id")
      },
      Some("""
        WITH v AS (
          SELECT o_orderkey, o_orderdate,
            CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS price,
            TIMESTAMP '1995-01-01 00:00:00' AS tx, 1 AS ver
          FROM orders
          UNION ALL
          SELECT o_orderkey, o_orderdate,
            CAST(ROUND(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))
              * CAST(1.1 AS DECIMAL(2,1)), 2) AS DECIMAL(18,2)) AS price,
            TIMESTAMP '1997-01-01 00:00:00' AS tx, 2 AS ver
          FROM orders WHERE o_orderstatus = 'F'),
        probes AS (
          SELECT 1 AS probe_id, TIMESTAMP '1996-06-01 00:00:00' AS v_time,
            TIMESTAMP '1996-01-01 00:00:00' AS t_time
          UNION ALL
          SELECT 2, TIMESTAMP '1996-06-01 00:00:00', TIMESTAMP '1998-01-01 00:00:00'),
        pick AS (
          SELECT probe_id, o_orderkey,
            arg_max(CAST(price * 100 AS BIGINT), ver) AS pc,
            MAX(ver) AS ver
          FROM v CROSS JOIN probes
          WHERE tx <= t_time AND o_orderdate <= v_time
          GROUP BY 1, 2)
        SELECT probe_id, COUNT(*) AS n_orders,
          CAST(SUM(CAST(pc AS HUGEINT)) AS BIGINT) AS total_cents,
          CAST(SUM(CASE WHEN ver = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repriced
        FROM pick GROUP BY 1 ORDER BY probe_id
      """.trim)),

    // Retention/TTL vacuum plan: which order-year partitions fall past a
    // 24-month retention horizon measured from the DATA's own high-water
    // mark (never wall clock — the plan must be reproducible), with
    // rows and byte-proxy (Σ cents) per partition and the expire flag.
    // This is the dry-run audit a scheduled vacuum job publishes before
    // deleting anything. One partial-aggregating scan to a |years|-row
    // frame; the horizon is a window over that frame; month arithmetic
    // in exact integers (yr·12 + mo).
    Op("etl_retention_ttl",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byYear = Tables.t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("bytes_proxy"),
            max(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1")).as("last_m"))
        val wAll = Window.orderBy("yr")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byYear
          .withColumn("hwm_m", max(col("last_m")).over(wAll))
          // A partition expires when its NEWEST month is older than 24
          // months before the high-water month.
          .selectExpr("yr", "n_rows", "bytes_proxy",
            "CAST(hwm_m - last_m AS BIGINT) AS months_behind",
            "hwm_m - last_m > 24 AS expire")
          .orderBy("yr")
      },
      Some("""
        WITH byYear AS (
          SELECT year(o_orderdate) AS yr, COUNT(*) AS n_rows,
            CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS bytes_proxy,
            CAST(MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS BIGINT) AS last_m
          FROM orders GROUP BY 1),
        h AS (SELECT byYear.*, MAX(last_m) OVER () AS hwm_m FROM byYear)
        SELECT CAST(yr AS INT) AS yr, n_rows, bytes_proxy,
          hwm_m - last_m AS months_behind,
          hwm_m - last_m > 24 AS expire
        FROM h ORDER BY yr
      """.trim)),

    // VOLUME CIRCUIT BREAKER — the ingest gate that catches a broken
    // upstream before it poisons downstream tables: each day's row count
    // is judged against the TRAILING 7-day window's median ± 3·MAD
    // (median absolute deviation — the robust spread that one prior bad
    // day cannot inflate, unlike stddev; the +1 slack term keeps a
    // zero-MAD flat week from rejecting ±1 jitter). Both statistics are
    // EXACT integer order statistics (4th smallest of 7) over the
    // trailing list — no float enters the verdict on either engine.
    // The daily rollup is the only data-scale pass; the gate itself
    // works on a |days|-row frame, and the report is pinned to the 15
    // most recent days (deterministic). At 100 TB this is the check a
    // scheduler consults before publishing a partition — the
    // etl_write_audit_publish verdict's volume-anomaly sibling.
    Op("etl_volume_gate",
      (s, dir) => {
        val daily = Tables.t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        val w = Window.orderBy("d").rowsBetween(-7, -1)
        daily
          .withColumn("trail", collect_list(col("n")).over(w))
          .filter(size(col("trail")) === 7)
          .withColumn("med7", expr("element_at(array_sort(trail), 4)"))
          .withColumn("mad7", expr(
            "element_at(array_sort(transform(trail, x -> abs(x - element_at(array_sort(trail), 4)))), 4)"))
          .select(col("d"), col("n"), col("med7"), col("mad7"),
            (abs(col("n") - col("med7")) <= lit(3) * col("mad7") + 1).as("ok"))
          .orderBy(desc("d")).limit(15)
          .orderBy("d")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS TIMESTAMP) AS d, COUNT(*) AS n
          FROM orders GROUP BY 1),
        t AS (
          SELECT d, n,
            list(n) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail
          FROM daily),
        g AS (
          SELECT d, n,
            list_sort(trail)[4] AS med7,
            list_sort(list_transform(trail, x -> abs(x - list_sort(trail)[4])))[4] AS mad7
          FROM t WHERE len(trail) = 7)
        SELECT d, n, CAST(med7 AS BIGINT) AS med7, CAST(mad7 AS BIGINT) AS mad7,
          (abs(n - med7) <= 3 * mad7 + 1) AS ok
        FROM (SELECT * FROM g ORDER BY d DESC LIMIT 15)
        ORDER BY d
      """.trim)),

    // WRITE–AUDIT–PUBLISH — the staging gate every production load runs
    // behind (Iceberg's WAP, dbt's test-then-promote): an incoming batch
    // lands in a STAGING area, an audit battery runs against it AND the
    // live target, and the batch publishes only if every check is clean —
    // a failed audit leaves the target byte-identical. Two deterministic
    // staged batches over orders (target = o_orderkey % 7 <> 0):
    // "dirty" carries all three violation classes (negated prices, an
    // in-batch key duplicated, keys already live in the target) and is
    // REJECTED; "clean" is the same delta uncorrupted and PUBLISHES. The
    // report is the audit ledger (per batch × check: violation count +
    // the publish verdict) plus the published-state row count — target +
    // clean batch only, the dirty rows invisible. Audits are three
    // partial-aggregating counts (the dup and orphan checks are keyed
    // joins); nothing scans the target more than once per check. At
    // 100 TB the staging area is a txn-log pre-commit (src_txn_log_*)
    // and the verdict gates the log append — same ledger, same checks.
    Op("etl_write_audit_publish",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val target = o.filter(col("o_orderkey") % 7 =!= 0)
          .select("o_orderkey", "o_totalprice")
        val delta = o.filter(col("o_orderkey") % 7 === 0)
          .select("o_orderkey", "o_totalprice")
        val dirty = delta
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 1000 === 0, -col("o_totalprice"))
              .otherwise(col("o_totalprice")))
          .union(delta.filter(col("o_orderkey") % 500 === 0))
          .union(target.filter(col("o_orderkey") % 997 === 0))
        def audit(name: String, batch: org.apache.spark.sql.DataFrame) = {
          val bad = Seq(
            ("nonpositive_price",
              batch.filter(col("o_totalprice") <= 0)),
            ("dup_in_batch",
              batch.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
                .filter(col("c") > 1)),
            ("already_in_target",
              batch.select("o_orderkey").distinct()
                .join(target.select("o_orderkey"), Seq("o_orderkey"), "leftsemi")))
          val counts = bad.map { case (check, df) =>
            df.agg(count(lit(1)).as("n_bad"))
              .select(lit(name).as("batch"), lit(check).as("check"), col("n_bad"))
          }.reduce(_.union(_))
          val verdict = Window.partitionBy("batch")
          counts.withColumn("published",
            max(col("n_bad")).over(verdict) === 0)
        }
        val ledger = audit("a_dirty", dirty).union(audit("b_clean", delta))
        // Published state is DERIVED from the clean batch's audit verdict
        // (round-13 advice): the delta's rows count only when every b_clean
        // check is zero — the WAP invariant itself, not a hard-coded
        // assumption about the fixture. All three frames are 1-row scalars;
        // the cross joins broadcast.
        val cleanVerdict = ledger.filter(col("batch") === "b_clean")
          .agg(max(col("n_bad")).as("max_bad"))
        val publishedRows = target.agg(count(lit(1)).as("t_n"))
          .crossJoin(delta.agg(count(lit(1)).as("d_n")))
          .crossJoin(cleanVerdict)
          .select(lit("z_published_state").as("batch"), lit("rows").as("check"),
            (col("t_n") + when(col("max_bad") === 0, col("d_n")).otherwise(lit(0L)))
              .as("n_bad"),
            (col("max_bad") === 0).as("published"))
        ledger.union(publishedRows).orderBy("batch", "check")
      },
      Some("""
        WITH target AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
        delta AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 = 0),
        dirty AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 1000 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
          FROM delta
          UNION ALL SELECT * FROM delta WHERE o_orderkey % 500 = 0
          UNION ALL SELECT * FROM target WHERE o_orderkey % 997 = 0),
        checks AS (
          SELECT 'a_dirty' AS batch, 'nonpositive_price' AS chk,
            (SELECT COUNT(*) FROM dirty WHERE o_totalprice <= 0) AS n_bad
          UNION ALL SELECT 'a_dirty', 'dup_in_batch',
            (SELECT COUNT(*) FROM (SELECT o_orderkey FROM dirty GROUP BY 1 HAVING COUNT(*) > 1))
          UNION ALL SELECT 'a_dirty', 'already_in_target',
            (SELECT COUNT(*) FROM (
              SELECT DISTINCT d.o_orderkey FROM dirty d
              WHERE EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = d.o_orderkey)))
          UNION ALL SELECT 'b_clean', 'nonpositive_price',
            (SELECT COUNT(*) FROM delta WHERE o_totalprice <= 0)
          UNION ALL SELECT 'b_clean', 'dup_in_batch',
            (SELECT COUNT(*) FROM (SELECT o_orderkey FROM delta GROUP BY 1 HAVING COUNT(*) > 1))
          UNION ALL SELECT 'b_clean', 'already_in_target',
            (SELECT COUNT(*) FROM (
              SELECT DISTINCT d.o_orderkey FROM delta d
              WHERE EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = d.o_orderkey))))
        SELECT batch, chk AS "check", CAST(n_bad AS BIGINT) AS n_bad,
          MAX(n_bad) OVER (PARTITION BY batch) = 0 AS published
        FROM checks
        UNION ALL
        SELECT 'z_published_state', 'rows',
          (SELECT COUNT(*) FROM target)
            + CASE WHEN (SELECT MAX(n_bad) FROM checks WHERE batch = 'b_clean') = 0
                   THEN (SELECT COUNT(*) FROM delta) ELSE 0 END,
          (SELECT MAX(n_bad) FROM checks WHERE batch = 'b_clean') = 0
        ORDER BY batch, "check"
      """.trim))
  )
}
