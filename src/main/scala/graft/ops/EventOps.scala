package graft.ops

import graft.Cut.CutOps
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Group I — event-time / streaming-shaped batch ops (SURVEY.md §2.1 I).
  * All use the §1.4 ns→µs recipe via [[graft.Tables.events]]; the DuckDB
  * side reads ts natively as TIMESTAMP_NS and truncates with
  * `CAST(ts AS TIMESTAMP)`.
  */
object EventOps extends OpGroup {
  import graft.Tables.dec2

  /** (priority, month-index, revenue-cents) monthly rollup shared by the
    * two trend-test ops (`ts_mann_kendall`, `ts_theil_sen`) — both sides
    * of each op's pair self-join read it, so without materialization the
    * orders scan would run four times per key. One eager checkpoint,
    * released by Caches once both keys have run (the shape of
    * PipelineOps.spanFrame).
    */
  private val mkMonthly = graft.Fixture("mk_monthly", Set("ts_mann_kendall", "ts_theil_sen")) {
    (s, dir) =>
      Tables.t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("grp"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("int").as("t"))
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
        .cut
  }

  val ops: Seq[Op] = Seq(
    Op("ts_tumbling",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast(DecimalType(18, 2)).cast("double").as("sum_value"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy("window_start", "event_type")
      },
      Some("""
        SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
          event_type, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """.stripMargin.trim)),

    // Sliding windows: each event lands in exactly 2 one-hour windows 30 min
    // apart. The oracle materializes the same two starts per event.
    Op("ts_sliding",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        ev.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("timestamp_ntz").as("window_start"),
            col("event_type"), col("n"))
          .orderBy("window_start", "event_type")
      },
      Some("""
        SELECT ws AS window_start, event_type, COUNT(*) AS n FROM (
          SELECT unnest([
              time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
              time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE
            ]) AS ws, event_type
          FROM events
        ) GROUP BY 1, 2 ORDER BY 1, 2
      """.trim)),

    // Gap sessionization in integer µs (no interval-dialect drift): session
    // starts where gap > 30 min, session_id = running sum of starts.
    Op("ts_session_gap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            // TZ-independent NTZ micros (Tables.ntzMicros) — no session-tz
            // dependence via a cast-to-LTZ round-trip (round-8 advice).
            Tables.ntzMicros("ts").as("us"))
        val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
        val sessions = ev
          .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
          .withColumn("new_s",
            when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_s")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_id")
          .agg((max(col("us")) - min(col("us"))).as("len_us"))
        sessions.groupBy("user_id")
          .agg(
            count(lit(1)).as("n_sessions"),
            round(sum(col("len_us")).cast("double") / count(lit(1)) / 1000000.0, 1)
              .as("avg_len_sec"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, COUNT(*) AS n_sessions,
          CAST(ROUND(CAST(CAST(CAST(SUM(len_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS VARCHAR) AS DECIMAL(38,15)), 1) AS DOUBLE) AS avg_len_sec
        FROM (
          SELECT user_id, session_id, MAX(us) - MIN(us) AS len_us
          FROM (
            SELECT user_id, us,
              SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM (
              SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                  OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
              FROM events
            )
          ) GROUP BY user_id, session_id
        ) GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Deterministic dropDuplicates analogue: row_number()=1 by (ts,
    // event_id) — plain dropDuplicates keeps an arbitrary row.
    Op("ts_dedup_earliest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_type", "event_id", "ts")
          .orderBy("user_id", "event_type")
      },
      Some("""
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
          SELECT user_id, event_type, event_id, ts,
            ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          FROM events
        ) WHERE rn = 1
        ORDER BY user_id, event_type
      """.trim)),

    // Time-series densification: hourly spine via sequence+explode, LEFT
    // JOIN hourly counts, zero-fill.
    Op("ts_gap_fill",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("hr", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        val hourly = ev.groupBy("hr").agg(count(lit(1)).as("cnt"))
        val spine = ev.agg(min(col("hr")).as("min_hr"), max(col("hr")).as("max_hr"))
          .select(explode(expr("sequence(min_hr, max_hr, INTERVAL 1 HOUR)")).as("hour"))
        spine.join(hourly, spine("hour") === hourly("hr"), "left")
          .select(col("hour"), coalesce(col("cnt"), lit(0L)).as("n"))
          .orderBy("hour")
      },
      Some("""
        WITH hourly AS (
          SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, COUNT(*) AS cnt
          FROM events GROUP BY 1
        ), spine AS (
          SELECT unnest(generate_series((SELECT MIN(hr) FROM hourly),
                                        (SELECT MAX(hr) FROM hourly),
                                        INTERVAL 1 HOUR)) AS hour
        )
        SELECT hour, COALESCE(cnt, 0) AS n
        FROM spine LEFT JOIN hourly ON hour = hr
        ORDER BY hour
      """.trim)),

    // Linear interpolation over the hourly spine: missing hours get
    // v_prev + (v_next − v_prev)·(Δt_prev/Δt_span) between the nearest
    // observed neighbors (ts_gap_fill's zero-fill twin for continuous
    // metrics). Neighbor lookup is last/first IGNORE NULLS over the
    // spine — an unpartitioned window, which is fine BECAUSE the frame is
    // the hourly time grid (bounded by calendar span, not data volume);
    // per-series interpolation at scale partitions the same window by
    // series key. Float parity: hourly sums are exact 2-dp decimals cast
    // to double, and the interpolation expression tree is written
    // identically on both engines (IEEE ops on identical inputs are
    // deterministic), so the dumped doubles match without rounding.
    Op("ts_interpolate_linear",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("hr", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        val hourly = ev.groupBy("hr")
          .agg(sum(Tables.dec2(col("value"))).cast(DecimalType(18, 2))
            .cast("double").as("v"))
        val spine = ev.agg(min(col("hr")).as("min_hr"), max(col("hr")).as("max_hr"))
          .select(explode(expr("sequence(min_hr, max_hr, INTERVAL 1 HOUR)")).as("hour"))
        val joined = spine.join(hourly, spine("hour") === hourly("hr"), "left")
          .select(col("hour"), col("v"))
        val wPrev = Window.orderBy("hour")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = Window.orderBy("hour")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        joined
          .withColumn("v_prev", last(col("v"), ignoreNulls = true).over(wPrev))
          .withColumn("t_prev",
            last(when(col("v").isNotNull, col("hour")), ignoreNulls = true).over(wPrev))
          .withColumn("v_next", first(col("v"), ignoreNulls = true).over(wNext))
          .withColumn("t_next",
            first(when(col("v").isNotNull, col("hour")), ignoreNulls = true).over(wNext))
          .withColumn("filled",
            when(col("v").isNotNull, col("v")).otherwise(
              col("v_prev") + (col("v_next") - col("v_prev"))
                * (expr("CAST(timestampdiff(HOUR, t_prev, hour) AS DOUBLE)")
                  / expr("CAST(timestampdiff(HOUR, t_prev, t_next) AS DOUBLE)"))))
          .select(col("hour"), col("filled"), col("v").isNull.as("interpolated"))
          .orderBy("hour")
      },
      Some("""
        WITH hourly AS (
          SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
            CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS v
          FROM events GROUP BY 1
        ), spine AS (
          SELECT unnest(generate_series((SELECT MIN(hr) FROM hourly),
                                        (SELECT MAX(hr) FROM hourly),
                                        INTERVAL 1 HOUR)) AS hour
        ), neighbors AS (
          SELECT hour, v,
            LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
            LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
              OVER (ORDER BY hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_prev,
            FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY hour
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
            FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
              OVER (ORDER BY hour
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t_next
          FROM spine LEFT JOIN hourly ON hour = hr
        )
        SELECT hour,
          CASE WHEN v IS NOT NULL THEN v
               ELSE v_prev + (v_next - v_prev)
                 * (CAST(date_diff('hour', t_prev, hour) AS DOUBLE)
                   / CAST(date_diff('hour', t_prev, t_next) AS DOUBLE)) END AS filled,
          (v IS NULL) AS interpolated
        FROM neighbors
        ORDER BY hour
      """.trim)),

    // Rolling z-score anomaly flags: each hour's value against the mean/σ
    // of the TRAILING 24 observed hours (current row excluded — the point
    // under test must not contaminate its own baseline); emit hours with
    // |z| > 2.5. The monitoring shape for any metric stream. Float
    // discipline (the agg_entropy rule applied to windows): mean and
    // variance fold left-to-right over the frame-ORDERED collect_list on
    // both engines — never a bare SUM(v²) whose combine order is
    // nondeterministic — and hourly inputs are exact 2-dp decimals, so
    // both engines fold identical doubles in identical order. One window
    // pass over the hourly series (bounded by the calendar, not data
    // volume; per-series at scale partitions by series key).
    Op("ts_anomaly_zscore",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .withColumn("hr", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
          .groupBy("hr")
          .agg(sum(Tables.dec2(col("value"))).cast(DecimalType(18, 2))
            .cast("double").as("v"))
        val w = Window.orderBy("hr").rowsBetween(-24, -1)
        // Denominators are structurally nonzero (greatest/nullif) rather
        // than filter-guarded: the optimizer collapses the guards and the
        // divisions into ONE Filter conjunction, and ANSI mode then
        // evaluates a division whose guard hasn't short-circuited yet.
        // greatest(size,1) only touches rows the size filter drops;
        // nullif(σ,0) nulls z exactly where the variance filter drops the
        // row — semantics identical, no runtime error surface.
        hourly
          .withColumn("hist", collect_list(col("v")).over(w))
          .filter(size(col("hist")) >= 12)
          .withColumn("mean",
            expr("aggregate(hist, CAST(0 AS DOUBLE), (a, x) -> a + x) / greatest(size(hist), 1)"))
          .withColumn("variance",
            expr("aggregate(hist, CAST(0 AS DOUBLE), (a, x) -> a + (x - mean) * (x - mean)) / greatest(size(hist), 1)"))
          .filter(col("variance") > 0.0)
          .withColumn("z", (col("v") - col("mean")) / expr("nullif(sqrt(variance), CAST(0 AS DOUBLE))"))
          .filter(abs(col("z")) > 2.5)
          .select(col("hr"), col("v"),
            expr("CAST(ROUND(CAST(CAST(z AS STRING) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0").as("z3"),
            (col("z") > 0).as("spike"))
          .orderBy("hr")
      },
      Some("""
        WITH hourly AS (
          SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
            CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS v
          FROM events GROUP BY 1
        ), rolled AS (
          SELECT hr, v,
            list(v) OVER (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS hist
          FROM hourly
        ), stats AS (
          SELECT hr, v, hist,
            list_sum(hist) / len(hist) AS mean
          FROM rolled WHERE len(hist) >= 12
        ), scored AS (
          SELECT hr, v,
            (v - mean) / sqrt(variance) AS z
          FROM (
            SELECT hr, v, mean,
              list_sum(list_transform(hist, x -> (x - mean) * (x - mean))) / len(hist) AS variance
            FROM stats
          ) WHERE variance > 0.0
        )
        SELECT hr, v,
          CAST(ROUND(CAST(CAST(z AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS z3,
          (z > 0) AS spike
        FROM scored
        WHERE abs(z) > 2.5
        ORDER BY hr
      """.trim)),

    // OHLC resampling: hourly (bucket, event_type) bars — open/close via
    // first_value/last_value over a fully-framed (ts, event_id)-ordered
    // window (the event_id tiebreak matters: ns→µs truncation can tie
    // timestamps), high/low/volume as plain aggregates, turnover as an
    // exact decimal sum. One window pass + one hash aggregate, both
    // partitioned by the bucket — the canonical downsampling shape for
    // metric/tick pipelines at scale.
    Op("ts_resample_ohlc",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("bucket", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        val w = Window.partitionBy("bucket", "event_type")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        e.withColumn("open", first("value").over(w))
          .withColumn("close", last("value").over(w))
          .groupBy("bucket", "event_type")
          .agg(
            max("open").as("open"),
            max("value").as("high"),
            min("value").as("low"),
            max("close").as("close"),
            count(lit(1)).as("n"),
            sum(Tables.dec2(col("value"))).cast(DecimalType(18, 2))
              .cast("double").as("turnover"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT bucket, event_type,
          MAX(open) AS open, MAX(value) AS high, MIN(value) AS low, MAX(close) AS close,
          COUNT(*) AS n,
          CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS turnover
        FROM (
          SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type, value,
            FIRST_VALUE(value) OVER (
              PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
              ORDER BY CAST(ts AS TIMESTAMP), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
            LAST_VALUE(value) OVER (
              PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
              ORDER BY CAST(ts AS TIMESTAMP), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
          FROM events
        )
        GROUP BY bucket, event_type
        ORDER BY bucket, event_type
      """.trim)),

    // Ordered conversion funnel signup → click → purchase: each stage's
    // timestamp must strictly follow the previous stage's (a click before
    // the signup doesn't count). Three chained conditional-min aggregates
    // — each stage is one groupBy over the events pre-filtered to its
    // type, joined back on user_id; no window over the full event stream
    // needed. stage = #completed stages. All-timestamp output, no float.
    Op("ts_funnel",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("t_signup"))
        val s2 = s1.join(e.filter(col("event_type") === "click"), Seq("user_id"))
          .filter(col("ts") > col("t_signup"))
          .groupBy("user_id").agg(min("ts").as("t_click"))
        val s3 = s2.join(e.filter(col("event_type") === "purchase"), Seq("user_id"))
          .filter(col("ts") > col("t_click"))
          .groupBy("user_id").agg(min("ts").as("t_purchase"))
        s1.join(s2.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
          .join(s3.select(col("user_id"), col("t_purchase")), Seq("user_id"), "left")
          .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"),
            (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
              + when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"))
          .orderBy("user_id")
      },
      Some("""
        WITH s1 AS (
          SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
          FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), s2 AS (
          SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t_signup
          GROUP BY e.user_id
        ), s3 AS (
          SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t_click
          GROUP BY e.user_id
        )
        SELECT s1.user_id, t_signup, t_click, t_purchase,
          1 + (CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS stage
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
        ORDER BY s1.user_id
      """.trim)),

    // Daily cohort retention: users grouped by first-active day, then for
    // each day-offset 0..7 the count and share of the cohort active that
    // day. Two aggregates (first-day per user, distinct active days) +
    // one equi-join on user_id — the canonical engagement report; at
    // scale both aggregates are shuffle-on-user_id and the join stays
    // co-partitioned with them.
    Op("ts_retention_cohort",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        val first = e.groupBy("user_id").agg(min("day").as("cohort_day"))
        val active = e.distinct()
        val sized = first.groupBy("cohort_day").agg(count(lit(1)).as("cohort_n"))
        first.join(active, "user_id")
          .withColumn("offset", datediff(col("day"), col("cohort_day")))
          .filter(col("offset").between(0, 7))
          .groupBy("cohort_day", "offset")
          .agg(countDistinct("user_id").as("n_active"))
          .join(sized, "cohort_day")
          .select(col("cohort_day"), col("offset"), col("n_active"),
            round(col("n_active").cast("double") / col("cohort_n"), 3).as("retention"))
          .orderBy("cohort_day", "offset")
      },
      Some("""
        WITH d AS (
          SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events
        ), first AS (
          SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
        ), sized AS (
          SELECT cohort_day, COUNT(*) AS cohort_n FROM first GROUP BY cohort_day
        ), act AS (
          SELECT f.cohort_day, CAST(date_diff('day', f.cohort_day, a.day) AS INT) AS "offset",
            COUNT(DISTINCT a.user_id) AS n_active
          FROM first f JOIN (SELECT DISTINCT user_id, day FROM d) a ON f.user_id = a.user_id
          WHERE date_diff('day', f.cohort_day, a.day) BETWEEN 0 AND 7
          GROUP BY 1, 2
        )
        SELECT act.cohort_day, "offset", n_active,
          CAST(ROUND(CAST(CAST(CAST(n_active AS DOUBLE) / cohort_n AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) AS retention
        FROM act JOIN sized ON act.cohort_day = sized.cohort_day
        ORDER BY act.cohort_day, "offset"
      """.trim)),

    // Longest consecutive-day activity streak per user — gaps-and-islands
    // with the date-minus-row_number trick: within a user, consecutive
    // days share (d − row_number) as a constant group key, so islands
    // fall out of ONE window + one aggregate (no self-join, no recursive
    // expansion). Ties (equal-length streaks) break to the latest start —
    // deterministic. Same single-shuffle-by-entity shape as etl_scd2;
    // streaks over 100 TB of events cost one shuffle by user, full stop.
    Op("ts_longest_streak",
      (s, dir) => {
        val days = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val streaks = days
          .withColumn("grp", expr("date_sub(d, row_number() OVER " +
            "(PARTITION BY user_id ORDER BY d))"))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("streak_len"), min(col("d")).as("start"))
        streaks
          .withColumn("rk", row_number().over(
            Window.partitionBy("user_id")
              .orderBy(col("streak_len").desc, col("start").desc)))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("streak_len"),
            date_format(col("start"), "yyyy-MM-dd").as("streak_start"))
          .orderBy("user_id")
      },
      Some("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        streaks AS (
          SELECT user_id, grp, COUNT(*) AS streak_len, MIN(d) AS start FROM (
            SELECT user_id, d,
              d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
            FROM days)
          GROUP BY 1, 2)
        SELECT user_id, streak_len, strftime(start, '%Y-%m-%d') AS streak_start FROM (
          SELECT user_id, streak_len, start,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY streak_len DESC, start DESC) AS rk
          FROM streaks)
        WHERE rk = 1 ORDER BY user_id
      """.trim)),

    // Fixed-depth EWMA (α=1/2, 4 taps) per user over event time — the
    // smoothing pass monitoring/finance pipelines run next to
    // ts_moving_avg's flat window. The truncated-EWMA weights 8/4/2/1
    // renormalize over the taps actually present at the series head, so
    // early rows are exact too. One lag-window per user (same single
    // shuffle as every ts_* op); the arithmetic is a fixed-order
    // +,*,/ chain over the 2-dp values — bit-identical IEEE on both
    // engines — then repr-ROUND 4 dp (§2.0 rule 9). Total order pinned
    // by (ts, event_id) so duplicate timestamps can't reorder taps.
    Op("ts_ewma",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("v1", lag("value", 1).over(w))
          .withColumn("v2", lag("value", 2).over(w))
          .withColumn("v3", lag("value", 3).over(w))
          .withColumn("num",
            col("value") * 8
              + coalesce(col("v1"), lit(0.0)) * 4
              + coalesce(col("v2"), lit(0.0)) * 2
              + coalesce(col("v3"), lit(0.0)))
          .withColumn("den",
            lit(8.0)
              + when(col("v1").isNotNull, 4.0).otherwise(0.0)
              + when(col("v2").isNotNull, 2.0).otherwise(0.0)
              + when(col("v3").isNotNull, 1.0).otherwise(0.0))
          .select(col("user_id"), col("event_id"),
            col("ts").cast("timestamp_ntz").as("ts"),
            round(col("num") / col("den"), 4).as("ewma4"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""
        WITH lags AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, "value",
            LAG("value", 1) OVER w AS v1,
            LAG("value", 2) OVER w AS v2,
            LAG("value", 3) OVER w AS v3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
        SELECT user_id, event_id, ts,
          CAST(ROUND(CAST(CAST(
            ("value" * 8 + COALESCE(v1, 0.0) * 4 + COALESCE(v2, 0.0) * 2 + COALESCE(v3, 0.0))
            / (8.0 + CASE WHEN v1 IS NOT NULL THEN 4.0 ELSE 0.0 END
                   + CASE WHEN v2 IS NOT NULL THEN 2.0 ELSE 0.0 END
                   + CASE WHEN v3 IS NOT NULL THEN 1.0 ELSE 0.0 END)
            AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) AS ewma4
        FROM lags ORDER BY user_id, ts, event_id
      """.trim)),

    // CUSUM changepoint detection — per entity, the point where the
    // series' running sum deviates most from its own mean trend:
    // S_i = n·cumsum_i − i·total (the mean-centered CUSUM scaled by n to
    // stay in exact BIGINT — no per-row double accumulation, so the
    // argmax is order-independent and engine-exact). The classic offline
    // changepoint statistic (max_i |S_i| locates the level-shift point).
    // One hash shuffle by user_id serves all four windows + the argmax
    // rank (same partitioning reused, sorts only within partitions);
    // magnitudes: qv ≤ 5.7e5 (value ≤ 600 × 1000), so n·cum fits BIGINT
    // past 1000× the sf0.1 per-user series length. cp_stat = |S|/(1000·n)
    // = the centered cumsum in original value units, repr-ROUND 4.
    Op("ts_cusum_changepoint",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val scored = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").as("qv"))
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("cum", sum("qv").over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
          .withColumn("tot", sum("qv").over(Window.partitionBy("user_id")))
          .withColumn("abs_s", abs(col("n") * col("cum") - col("i") * col("tot")))
        scored
          .withColumn("rk", row_number().over(
            Window.partitionBy("user_id").orderBy(desc("abs_s"), asc("event_id"))))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("n"),
            col("event_id").as("cp_event"),
            round(col("abs_s").cast("double") / (col("n") * 1000.0), 4).as("cp_stat"))
          .orderBy("user_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
            CAST(ROUND("value" * 1000, 0) AS BIGINT) AS qv
          FROM events),
        sc AS (
          SELECT user_id, event_id,
            CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
            CAST(SUM(qv) OVER w AS BIGINT) AS cum,
            CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
            CAST(SUM(qv) OVER (PARTITION BY user_id) AS BIGINT) AS tot
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s2 AS (
          SELECT user_id, n, event_id, abs(n * cum - i * tot) AS abs_s,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY abs(n * cum - i * tot) DESC, event_id) AS rk
          FROM sc)
        SELECT user_id, n, event_id AS cp_event,
          CAST(ROUND(CAST(CAST(CAST(abs_s AS DOUBLE) / (n * 1000.0) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) AS cp_stat
        FROM s2 WHERE rk = 1 ORDER BY user_id
      """.trim)),

    // Last-touch conversion attribution: each purchase is attributed to
    // the same user's most recent click strictly before it, then rolled
    // up by conversion-lag bucket (value mass in exact DECIMAL — the
    // revenue-attribution report). The purchase→click lookup runs on the
    // NATIVE as-of operator (graft.plans.AsOfJoinExec — the second
    // surface reusing it after join_asof_native, proving the custom
    // physical operator composes like any built-in): two key shuffles +
    // in-partition sorts + an O(1)-memory forward merge per partition.
    // Lag compares exact integer microseconds — no timestamp-truncation
    // divergence surface. At 100 TB this is THE attribution shape:
    // nothing buffers more than one click per user at a time.
    Op("ts_attribution_last_touch",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"),
            col("event_id").as("c_event_id"))
        graft.plans.AsOfJoin.join(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user_id"),
            leftOrd = Seq("ts", "event_id"), rightOrd = Seq("c_ts", "c_event_id"))
          .withColumn("lag_us",
            Tables.ntzMicros("ts") - Tables.ntzMicros("c_ts"))
          .withColumn("bucket",
            when(col("c_ts").isNull, "4_never")
              .when(col("lag_us") < 300000000L, "0_lt5m")
              .when(col("lag_us") < 1800000000L, "1_5to30m")
              .when(col("lag_us") < 3600000000L, "2_30to60m")
              .otherwise("3_60m_plus"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_purchases"),
            sum(dec2(col("value"))).cast(DecimalType(18, 2)).cast("double").as("value_mass"))
          .orderBy("bucket")
      },
      Some("""
        WITH j AS (
          SELECT event_id, event_type, value, CAST(ts AS TIMESTAMP) AS pts,
            last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS clicked_at
          FROM events
          WHERE event_type IN ('click', 'purchase')),
        p AS (
          SELECT value,
            CASE WHEN clicked_at IS NULL THEN '4_never'
                 WHEN epoch_us(pts) - epoch_us(clicked_at) < 300000000 THEN '0_lt5m'
                 WHEN epoch_us(pts) - epoch_us(clicked_at) < 1800000000 THEN '1_5to30m'
                 WHEN epoch_us(pts) - epoch_us(clicked_at) < 3600000000 THEN '2_30to60m'
                 ELSE '3_60m_plus' END AS bucket
          FROM j WHERE event_type = 'purchase')
        SELECT bucket, COUNT(*) AS n_purchases,
          CAST(CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS value_mass
        FROM p GROUP BY bucket ORDER BY bucket
      """.trim)),

    // Forecast backtest, seasonal-naive baseline: predict each hour's
    // event count per type with the SAME HOUR YESTERDAY (the baseline
    // every real forecaster must beat), score by MAE over the hours
    // where both sides exist. The eval join is an exact 24 h timestamp
    // equi-join on the AGGREGATED hourly frame — integer counts, exact
    // integer absolute errors, one partial-aggregating rollup; missing
    // hours drop out of the inner join instead of silently scoring as
    // zero. At 100 TB the hourly frame is |types|×|hours| — the backtest
    // costs two passes over aggregates, never over raw events.
    Op("ts_forecast_eval_naive",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
          .agg(count(lit(1)).as("n"))
        val pred = hourly.select(col("event_type"),
          (col("h") + expr("INTERVAL 24 HOURS")).as("h"), col("n").as("n_pred"))
        hourly.join(pred, Seq("event_type", "h"))
          .withColumn("abs_err", abs(col("n") - col("n_pred")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"), sum("abs_err").as("total_abs_err"))
          .withColumn("mae",
            round(col("total_abs_err").cast("double") / col("n_eval"), 4))
          .orderBy("event_type")
      },
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
            COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT a.event_type, COUNT(*) AS n_eval,
          CAST(SUM(ABS(a.n - p.n)) AS BIGINT) AS total_abs_err,
          CAST(ROUND(CAST(CAST(CAST(SUM(ABS(a.n - p.n)) AS DOUBLE) / COUNT(*) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) AS mae
        FROM hourly a JOIN hourly p
          ON a.event_type = p.event_type AND p.h + INTERVAL 24 HOUR = a.h
        GROUP BY 1 ORDER BY 1
      """.trim)),

    // Day-of-week seasonality profile: mean/stddev of DAILY counts per
    // Holt LINEAR (double exponential) smoothing per event_type over the
    // daily-count series — the level+trend forecasting primitive next to
    // ts_ewma's truncated single-smoother and ts_forecast_eval_naive's
    // baseline. The recursion (l' = α·v + (1−α)(l+b); b' = β(l'−l) +
    // (1−β)b) folds over the day-ordered series with IDENTICAL operations
    // in IDENTICAL order on both engines: Spark aggregate() seeded with
    // element 1 folding the tail; the oracle replays the recursion as a
    // RECURSIVE CTE rather than list_reduce — measured DuckDB 1.0 quirk:
    // a struct-literal lambda evaluates LATER fields against the
    // already-mutated accumulator (a.l inside the 'b' field sees the NEW
    // l), silently corrupting any two-variable fold; the recursive CTE's
    // previous-row reference has clean semantics. α = β = 0.5 are dyadic,
    // so every multiply is exact and the fold is bit-reproducible.
    // Scale shape: the daily rollup
    // shrinks raw events to |types|×|days| BEFORE any series
    // materializes; the fold is row-local over a |days|-length array;
    // everything downstream is metadata-sized. (A windowed formulation
    // cannot express the recursion — each output depends on the previous
    // OUTPUT, not previous inputs — so the collected-series fold is the
    // honest distributed form; at 100 TB the array is |days| long, never
    // |events|.)
    Op("ts_holt_linear",
      (s, dir) => {
        val half = "CAST(0.5 AS DOUBLE)"
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).cast("double").as("v"))
        daily.groupBy("event_type")
          .agg(
            expr("""transform(array_sort(collect_list(struct(d, v))),
                 s -> named_struct('l', s.v, 'b', CAST(0 AS DOUBLE), 'v', s.v))""").as("m"),
            count(lit(1)).as("n_days"))
          .withColumn("h", expr(
            s"""aggregate(slice(m, 2, greatest(size(m) - 1, 0)), element_at(m, 1),
                (a, x) -> named_struct(
                  'l', $half * x.v + $half * (a.l + a.b),
                  'b', $half * (($half * x.v + $half * (a.l + a.b)) - a.l) + $half * a.b,
                  'v', x.v))"""))
          .select(col("event_type"), col("n_days"),
            (round(col("h.l"), 4) + 0.0).as("level"),
            (round(col("h.b"), 4) + 0.0).as("trend"),
            (round(expr("h.l + h.b"), 4) + 0.0).as("forecast_next"))
          .orderBy("event_type")
      },
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
            CAST(COUNT(*) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2),
        idx AS (
          SELECT event_type, v,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM daily),
        rec AS (
          SELECT event_type, i, n, l, b FROM (
            SELECT event_type, i, n, v AS l, CAST(0 AS DOUBLE) AS b FROM idx WHERE i = 1)
          UNION ALL
          SELECT x.event_type, x.i, x.n,
            CAST(0.5 AS DOUBLE) * x.v + CAST(0.5 AS DOUBLE) * (r.l + r.b) AS l,
            CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * x.v + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
              + CAST(0.5 AS DOUBLE) * r.b AS b
          FROM rec r JOIN idx x ON x.event_type = r.event_type AND x.i = r.i + 1)
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
          CAST(ROUND(CAST(CAST(l AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS level,
          CAST(ROUND(CAST(CAST(b AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS trend,
          CAST(ROUND(CAST(CAST(l + b AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS forecast_next
        FROM rec WHERE i = n ORDER BY event_type
      """.trim)),

    // HOLT-WINTERS additive (triple exponential) smoothing — the seasonal
    // completion of ts_holt_linear: level + trend + a rolling 7-slot
    // weekly seasonal state, α=0.5 β=0.25 γ=0.25 (binary fractions — both
    // engines compute bit-identical doubles when the expression trees
    // match, the holt_linear determinism argument extended to the
    // seasonal array). Init is the textbook two-week split: l₀ = mean of
    // week 2, b₀ = (week-2 mean − week-1 mean)/7, s = week 2's deviations
    // from l₀; series shorter than 15 days are filtered on BOTH engines
    // (no seasonal cycle to estimate — the degenerate-fixture guard).
    // Init sums are integer-valued daily counts, so summation order
    // cannot perturb them. The fold carries (l, b, ss[7]) through a
    // higher-order aggregate over the pre-collected daily array — per
    // type the heavy work is the same one partial-aggregating rollup of
    // raw events as holt_linear; the smoothing state is metadata-sized.
    // Forecast_next = l + b + s_{t+1−7} (the oldest live seasonal slot).
    Op("ts_holt_winters",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).cast("double").as("v"))
        val lNew = "0.5D * (x.v - element_at(a.ss, 1)) + 0.5D * (a.l + a.b)"
        daily.groupBy("event_type")
          .agg(expr("array_sort(collect_list(struct(d, v)))").as("m"),
            count(lit(1)).as("n_days"))
          .filter(col("n_days") >= 15)
          .withColumn("pre", expr(
            "aggregate(slice(m, 1, 7), CAST(0 AS DOUBLE), (a, x) -> a + x.v) / 7"))
          .withColumn("l0", expr(
            "aggregate(slice(m, 8, 7), CAST(0 AS DOUBLE), (a, x) -> a + x.v) / 7"))
          .withColumn("b0", expr("(l0 - pre) / 7"))
          .withColumn("ss0", expr("transform(slice(m, 8, 7), x -> x.v - l0)"))
          .withColumn("h", expr(
            s"""aggregate(slice(m, 15, size(m) - 14),
                named_struct('l', l0, 'b', b0, 'ss', ss0),
                (a, x) -> named_struct(
                  'l', $lNew,
                  'b', 0.25D * (($lNew) - a.l) + 0.75D * a.b,
                  'ss', concat(slice(a.ss, 2, 6), array(
                    0.25D * (x.v - ($lNew)) + 0.75D * element_at(a.ss, 1)))))"""))
          .select(col("event_type"), col("n_days"),
            (round(col("h.l"), 4) + 0.0).as("level"),
            (round(col("h.b"), 4) + 0.0).as("trend"),
            (round(expr("element_at(h.ss, 1)"), 4) + 0.0).as("season_next"),
            (round(expr("h.l + h.b + element_at(h.ss, 1)"), 4) + 0.0).as("forecast_next"))
          .orderBy("event_type")
      },
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
            CAST(COUNT(*) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2),
        idx AS (
          SELECT event_type, v,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM daily),
        grp AS (
          SELECT event_type, MAX(n) AS n, list(v ORDER BY i) AS vs
          FROM idx GROUP BY event_type HAVING MAX(n) >= 15),
        base AS (
          SELECT event_type, n, vs,
            list_sum(vs[1:7]) / 7 AS pre,
            list_sum(vs[8:14]) / 7 AS l0
          FROM grp),
        rec AS (
          SELECT event_type, 14 AS i, n, vs,
            l0 AS l, (l0 - pre) / 7 AS b,
            list_transform(vs[8:14], x -> x - l0) AS ss
          FROM base
          UNION ALL
          SELECT event_type, i + 1, n, vs,
            0.5 * (vs[i + 1] - ss[1]) + 0.5 * (l + b) AS l,
            0.25 * ((0.5 * (vs[i + 1] - ss[1]) + 0.5 * (l + b)) - l) + 0.75 * b AS b,
            list_append(ss[2:7],
              0.25 * (vs[i + 1] - (0.5 * (vs[i + 1] - ss[1]) + 0.5 * (l + b)))
                + 0.75 * ss[1]) AS ss
          FROM rec WHERE i < n)
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
          CAST(ROUND(CAST(CAST(l AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS level,
          CAST(ROUND(CAST(CAST(b AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS trend,
          CAST(ROUND(CAST(CAST(ss[1] AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS season_next,
          CAST(ROUND(CAST(CAST(l + b + ss[1] AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS forecast_next
        FROM rec WHERE i = n ORDER BY event_type
      """.trim)),

    // (event_type, weekday) — the per-cell traffic shape a forecaster or
    // anomaly detector conditions on. Two-level aggregation: the daily
    // rollup shrinks raw events to |types|×|days| before the profile agg,
    // so at 100 TB the window of heavy compute is one partial-aggregating
    // pass over events and the profile itself is metadata-sized.
    // weekday(): 0=Monday..6 — matched by DuckDB's isodow - 1.
    Op("ts_dow_profile",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        daily
          .withColumn("dow", weekday(col("d")))
          .groupBy("event_type", "dow")
          .agg(count(lit(1)).as("days_n"),
            round(sum("n").cast("double") / count(lit(1)), 3).as("avg_n"),
            round(stddev_samp(col("n").cast("double")), 3).as("sd_n"))
          .orderBy("event_type", "dow")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
            COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT event_type, CAST(isodow(d) - 1 AS INT) AS dow,
          COUNT(*) AS days_n,
          CAST(ROUND(CAST(CAST(CAST(SUM(n) AS DOUBLE) / COUNT(*) AS VARCHAR)
            AS DECIMAL(38,15)), 3) AS DOUBLE) AS avg_n,
          CAST(ROUND(CAST(CAST(stddev_samp(CAST(n AS DOUBLE)) AS VARCHAR)
            AS DECIMAL(38,15)), 3) AS DOUBLE) AS sd_n
        FROM daily GROUP BY 1, 2 ORDER BY 1, 2
      """.trim)),

    // Year-over-year growth on the multi-year table (orders; events spans
    // only 30 days). Monthly revenue in exact DECIMAL, then lag(12 months)
    // expressed as lag(1 year) over a window PARTITIONED BY month-of-year —
    // 12 independent partitions instead of one global ordered pass, and the
    // windowed frame is the month-level aggregate (|years|×12 rows), never
    // raw orders. Growth pct is a double quotient → repr-ROUND (§2.0 r9)
    // and + 0.0 (negative growth can round to -0.0).
    Op("ts_yoy_growth",
      (s, dir) => {
        val monthly = Tables.t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
          .agg(sum(dec2(col("o_totalprice"))).cast(DecimalType(18, 2)).as("rev"))
        val w = Window.partitionBy("mo").orderBy("yr")
        monthly
          .withColumn("prev_rev", lag(col("rev"), 1).over(w))
          .withColumn("yoy_pct",
            round((col("rev") - col("prev_rev")).cast("double") * 100.0
              / col("prev_rev").cast("double"), 2) + 0.0)
          .select(col("yr"), col("mo"), col("rev").cast("double").as("rev"),
            col("prev_rev").cast("double").as("prev_rev"), col("yoy_pct"))
          .orderBy("yr", "mo")
      },
      Some("""
        WITH m AS (
          SELECT CAST(year(o_orderdate) AS INT) AS yr,
            CAST(month(o_orderdate) AS INT) AS mo,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
          FROM orders GROUP BY 1, 2),
        l AS (
          SELECT yr, mo, rev,
            lag(rev) OVER (PARTITION BY mo ORDER BY yr) AS prev_rev
          FROM m)
        SELECT yr, mo, CAST(rev AS DOUBLE) AS rev,
          CAST(prev_rev AS DOUBLE) AS prev_rev,
          CAST(ROUND(CAST(CAST(CAST(rev - prev_rev AS DOUBLE) * 100.0
            / CAST(prev_rev AS DOUBLE) AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE)
            + 0.0 AS yoy_pct
        FROM l ORDER BY yr, mo
      """.trim)),

    // Trailing-7-day rolling MEDIAN of daily counts per type — the robust
    // smoother (vs ts_ewma's mean-based one). Exact percentile over a
    // 7-row frame on the DAILY aggregate: the expensive pass is the first
    // rollup; the window sorts |types|×|days| rows partitioned by type.
    // Median of ≤7 integers is an integer or .5 — exact in double, no
    // rounding needed.
    Op("ts_rolling_median",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
        daily
          .withColumn("med7", expr("percentile(n, 0.5d)").over(w))
          .select("event_type", "d", "n", "med7")
          .orderBy("event_type", "d")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
            COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT event_type, d, n,
          CAST(median(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY d
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7
        FROM daily ORDER BY event_type, d
      """.trim)),

    // Autocorrelation function (lags 1..3) of the DAILY count series per
    // event_type — the seasonality detector behind lag-picking for
    // ts_forecast_eval_naive. All sums (Σx, Σy, Σx², Σy², Σxy) are exact
    // BIGINT over the |types|×|days| daily aggregate; the Pearson r is
    // one double quotient at the very end (repr-ROUND rule 9, + 0.0 for
    // negative r). The raw-event pass is one partial-aggregating rollup;
    // everything after runs on aggregate rows.
    Op("ts_acf",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("d")
        daily
          .withColumn("x1", lag("n", 1).over(w))
          .withColumn("x2", lag("n", 2).over(w))
          .withColumn("x3", lag("n", 3).over(w))
          .selectExpr("event_type", "n", "stack(3, 1, x1, 2, x2, 3, x3) AS (k, x)")
          .where(col("x").isNotNull)
          .groupBy("event_type", "k")
          .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("n").as("sy"),
            sum(col("x") * col("x")).as("sxx"), sum(col("n") * col("n")).as("syy"),
            sum(col("x") * col("n")).as("sxy"))
          .withColumn("acf", round(
            (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
              / expr("nullif(sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)), 0d)"),
            4) + 0.0)
          .select("event_type", "k", "m", "acf")
          .orderBy("event_type", "k")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
            COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        lg AS (
          SELECT event_type, n,
            lag(n, 1) OVER w AS x1, lag(n, 2) OVER w AS x2, lag(n, 3) OVER w AS x3
          FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        pairs AS (
          SELECT event_type, n, 1 AS k, x1 AS x FROM lg WHERE x1 IS NOT NULL
          UNION ALL SELECT event_type, n, 2, x2 FROM lg WHERE x2 IS NOT NULL
          UNION ALL SELECT event_type, n, 3, x3 FROM lg WHERE x3 IS NOT NULL),
        a AS (
          SELECT event_type, k, COUNT(*) AS m, SUM(x) AS sx, SUM(n) AS sy,
            SUM(x * x) AS sxx, SUM(n * n) AS syy, SUM(x * n) AS sxy
          FROM pairs GROUP BY 1, 2)
        SELECT event_type, k, m,
          CAST(ROUND(CAST(CAST(CAST(m * sxy - sx * sy AS DOUBLE)
            / NULLIF(sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)), 0) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS acf
        FROM a ORDER BY event_type, k
      """.trim)),

    // First-order Markov transition matrix over each user's ordered event
    // stream: counts and row-normalized probabilities for every
    // (event_type → next event_type) pair. One window partitioned by
    // user_id (high-cardinality, even) + one partial-aggregating count;
    // the probability normalization windows over the |types|² aggregate.
    // Order pinned to (µs ts, event_id) on BOTH engines — the oracle must
    // truncate its native ns timestamps before ordering or same-µs events
    // could order differently.
    Op("ts_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("dst", lead("event_type", 1).over(w))
          .where(col("dst").isNotNull)
          .groupBy(col("event_type").as("src"), col("dst"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", round(
            col("n").cast("double")
              / sum("n").over(Window.partitionBy("src")).cast("double"), 4))
          .orderBy("src", "dst")
      },
      Some("""
        WITH t AS (
          SELECT event_type AS src,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS dst
          FROM events),
        c AS (
          SELECT src, dst, COUNT(*) AS n FROM t WHERE dst IS NOT NULL GROUP BY 1, 2)
        SELECT src, dst, n,
          CAST(ROUND(CAST(CAST(CAST(n AS DOUBLE)
            / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) AS p
        FROM c ORDER BY src, dst
      """.trim)),

    // Interval union (coverage): treat each event as a [ts, ts+30min)
    // activity interval, merge overlapping/touching intervals per user
    // with the classic sweep (new island when the start exceeds the
    // running max of prior ends), report merged-interval count and total
    // covered time. All arithmetic in exact integer µs. One user_id
    // shuffle serves both windows and the island aggregate — the same
    // single-shuffle shape as every ts_* op.
    Op("ts_interval_union",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("s0"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            Tables.ntzMicros("ts").as("s0"))
          .withColumn("e0", col("s0") + lit(1800000000L))
          .withColumn("pmax",
            max("e0").over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_iv",
            when(col("pmax").isNull || col("s0") > col("pmax"), 1L).otherwise(0L))
          .withColumn("island",
            sum("new_iv").over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island")
          .agg(min("s0").as("st"), max("e0").as("en"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_busy_intervals"),
            sum(col("en") - col("st")).as("busy_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH iv AS (
          SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s0,
            epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e0
          FROM events),
        f AS (
          SELECT user_id, event_id, s0, e0,
            CASE WHEN max(e0) OVER w IS NULL OR s0 > max(e0) OVER w
                 THEN 1 ELSE 0 END AS new_iv
          FROM iv
          WINDOW w AS (PARTITION BY user_id ORDER BY s0, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        g AS (
          SELECT user_id, s0, e0,
            SUM(new_iv) OVER (PARTITION BY user_id ORDER BY s0, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM f),
        i AS (
          SELECT user_id, island, MIN(s0) AS st, MAX(e0) AS en
          FROM g GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_busy_intervals,
          CAST(SUM(en - st) AS BIGINT) AS busy_us
        FROM i GROUP BY 1 ORDER BY 1
      """.trim)),

    // Kaplan-Meier survival curve for signup→first-purchase conversion,
    // with REAL right-censoring: users who never purchase are censored at
    // the dataset horizon (max ts — derived from the data, so the query
    // stays deterministic). Subjects collapse to per-user rows, then to
    // per-day (d_t, c_t) counts — the curve math runs on the bounded
    // day-domain aggregate, never the raw stream. S(t) is the running
    // product Π(1-d/n), computed as exp of an ORDERED running ln-sum
    // (fixed add order both engines — the agg_entropy determinism stance).
    Op("ts_survival_km",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // One stream scan: the horizon (max ts) is derived from the
        // per-user aggregate, which is materialized once for its two
        // consumers (subjects + horizon).
        val perUser = ev.groupBy("user_id")
          .agg(min(col("ts")).as("t0"),
            min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
            max(col("ts")).as("tl"))
          .cut
        val horizon = perUser.agg(max(col("tl")).as("tend"))
        val subj = perUser.crossJoin(broadcast(horizon))
          .select(
            when(col("tp").isNotNull, 1L).otherwise(0L).as("e"),
            when(col("tp").isNotNull, datediff(to_date(col("tp")), to_date(col("t0"))))
              .otherwise(datediff(to_date(col("tend")), to_date(col("t0"))))
              .cast("long").as("t"))
        val byt = subj.groupBy("t")
          .agg(sum(col("e")).as("d"), sum(lit(1L) - col("e")).as("cns"))
        val wOrd = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byt
          .withColumn("ntot", sum(col("d") + col("cns")).over(wAll))
          .withColumn("rem",
            sum(col("d") + col("cns")).over(wOrd) - (col("d") + col("cns")))
          .withColumn("n_risk", col("ntot") - col("rem"))
          // A fully-consumed risk set (d = n, only possible at the last
          // event time) is an exact zero factor: flag it instead of
          // feeding ln(0) (DuckDB raises, Spark yields NULL — neither is
          // the curve value).
          .withColumn("lnf", expr(
            "CASE WHEN d = n_risk THEN 0.0d ELSE ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) END"))
          .withColumn("dead", max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wOrd))
          .withColumn("sv", expr(
            "CASE WHEN dead = 1 THEN 0.0d ELSE 1.0d END") * exp(sum(col("lnf")).over(wOrd)))
          .where(col("d") > 0)
          .selectExpr("t AS t_days", "d AS n_events", "cns AS n_censored",
            "n_risk", "round(sv, 4) + 0.0 AS survival")
          .orderBy("t_days")
      },
      Some("""
        WITH pu AS (
          SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0,
            MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS tp
          FROM events GROUP BY 1),
        h AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS tend FROM events),
        subj AS (
          SELECT CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e,
            CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                 ELSE date_diff('day', CAST(t0 AS DATE), CAST(tend AS DATE)) END AS t
          FROM pu CROSS JOIN h),
        byt AS (
          SELECT t, CAST(SUM(e) AS BIGINT) AS d, CAST(SUM(1 - e) AS BIGINT) AS cns
          FROM subj GROUP BY 1),
        k AS (
          SELECT t, d, cns,
            SUM(d + cns) OVER () AS ntot,
            SUM(d + cns) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - (d + cns) AS rem
          FROM byt),
        r AS (
          SELECT t, d, cns, CAST(ntot - rem AS BIGINT) AS n_risk,
            CASE WHEN d = ntot - rem THEN 0.0
                 ELSE ln(CAST(ntot - rem - d AS DOUBLE) / CAST(ntot - rem AS DOUBLE)) END AS lnf,
            CASE WHEN d = ntot - rem THEN 1 ELSE 0 END AS z
          FROM k),
        c AS (
          SELECT t, d, cns, n_risk,
            (CASE WHEN MAX(z) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
              THEN 0.0 ELSE 1.0 END)
            * exp(SUM(lnf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
          FROM r)
        SELECT t AS t_days, d AS n_events, cns AS n_censored, n_risk,
          CAST(ROUND(CAST(CAST(sv AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS survival
        FROM c WHERE d > 0 ORDER BY t_days
      """.trim)),

    // Lead-lag cross-correlation between two event streams: does today's
    // click volume predict purchase volume k days later (k = 0..7)? Built
    // on a gap-free date spine (absent days are REAL zeros, not missing
    // rows — dropping them biases r toward the busy days). All moment
    // sums are exact integers/decimals on the day-level aggregate; one
    // Pearson quotient per lag at the end (repr-ROUND rule 9). Zero
    // variance → NULL via an exact integer predicate, not a NaN surface.
    Op("ts_xcorr",
      (s, dir) => {
        // The day-level aggregate feeds three consumers (spine bounds, x
        // series, y series) — materialize it once; one stream scan total.
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("d"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
          .cut
        val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        val sx = spine.join(daily.select(col("d"), col("x")), Seq("d"), "left")
          .select(col("d"), coalesce(col("x"), lit(0L)).as("x"))
        val sy = spine.join(daily.select(col("d"), col("y")), Seq("d"), "left")
          .select(col("d").as("dy"), coalesce(col("y"), lit(0L)).as("y"))
        val lags = s.range(0, 8).select(col("id").cast("int").as("lag"))
        sx.crossJoin(broadcast(lags))
          .join(sy, expr("dy = date_add(d, lag)"))
          .groupBy("lag")
          .agg(
            count(lit(1)).as("n_days"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum((col("x").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("sxy"),
            sum((col("x").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0)))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("sxx"),
            sum((col("y").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("syy"))
          .withColumn("vx", expr("CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"))
          .withColumn("vy", expr("CAST(n_days AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))"))
          .selectExpr("lag", "n_days",
            """CASE WHEN vx <= 0 OR vy <= 0 THEN CAST(NULL AS DOUBLE)
               ELSE round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 4) + 0.0 END AS r_xy""")
          .orderBy("lag")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY 1),
        spine AS (
          SELECT CAST(UNNEST(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY)) AS DATE) AS d
          FROM daily),
        sx AS (
          SELECT s.d, COALESCE(dl.x, 0) AS x FROM spine s LEFT JOIN daily dl USING (d)),
        sy AS (
          SELECT s.d AS dy, COALESCE(dl.y, 0) AS y FROM spine s LEFT JOIN daily dl USING (d)),
        lg AS (SELECT UNNEST(range(0, 8)) AS lag),
        j AS (
          SELECT lg.lag, sx.x, sy.y
          FROM sx CROSS JOIN lg JOIN sy ON sy.dy = sx.d + CAST(lg.lag AS INT)),
        a AS (
          SELECT CAST(lag AS INT) AS lag, COUNT(*) AS n_days,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy
          FROM j GROUP BY 1),
        v AS (
          SELECT lag, n_days, sx, sy, sxy,
            CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS vx,
            CAST(n_days AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS vy
          FROM a)
        SELECT lag, n_days,
          CASE WHEN vx <= 0 OR vy <= 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(ROUND(CAST(CAST((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) AS VARCHAR)
              AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 END AS r_xy
        FROM v ORDER BY lag
      """.trim)),

    // Robust anomaly detection: MAD-based z-score over a trailing-7-day
    // frame of the daily count series (the breakdown-resistant version of
    // ts_anomaly_zscore — one wild day can't inflate its own threshold
    // the way it inflates a stddev). Median and MAD are EXACT: integer
    // counts → medians are integers or halves, deviations are half-steps,
    // picked from a sorted ≤7-element frame array on both engines — no
    // float-sum surface at all; only the final 0.6745·dev/MAD quotient is
    // double (repr-ROUND rule 9). The window runs on the day-level
    // aggregate, partitioned by event_type.
    Op("ts_anomaly_mad",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
        daily
          .withColumn("med7", expr("percentile(n, 0.5d)").over(w))
          .withColumn("arr", collect_list(col("n")).over(w))
          .withColumn("devs", expr(
            "array_sort(transform(arr, v -> abs(CAST(v AS DOUBLE) - med7)))"))
          .withColumn("k", size(col("arr")))
          .withColumn("mad7", expr("""
            CASE WHEN k % 2 = 1 THEN element_at(devs, CAST(k DIV 2 + 1 AS INT))
                 ELSE (element_at(devs, CAST(k DIV 2 AS INT))
                     + element_at(devs, CAST(k DIV 2 + 1 AS INT))) / 2.0d END"""))
          .withColumn("rz_raw", expr(
            "CASE WHEN mad7 > 0.0d THEN 0.6745d * (CAST(n AS DOUBLE) - med7) / mad7 END"))
          .selectExpr("event_type", "d", "n", "med7", "mad7",
            "round(rz_raw, 3) + 0.0 AS robust_z",
            "coalesce(abs(rz_raw) > 3.5d, false) AS is_anomaly")
          .orderBy("event_type", "d")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        win AS (
          SELECT event_type, d, n,
            median(CAST(n AS DOUBLE)) OVER w AS med7,
            list(n) OVER w AS arr
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY d
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        m AS (
          SELECT event_type, d, n, med7,
            list_sort(list_transform(arr, v -> abs(CAST(v AS DOUBLE) - med7))) AS devs,
            len(arr) AS k
          FROM win),
        z AS (
          SELECT event_type, d, n, med7,
            CASE WHEN k % 2 = 1 THEN devs[k // 2 + 1]
                 ELSE (devs[k // 2] + devs[k // 2 + 1]) / 2.0 END AS mad7
          FROM m),
        rz AS (
          SELECT event_type, d, n, med7, mad7,
            CASE WHEN mad7 > 0.0 THEN 0.6745 * (CAST(n AS DOUBLE) - med7) / mad7 END AS rz_raw
          FROM z)
        SELECT event_type, d, n, med7, mad7,
          CAST(ROUND(CAST(CAST(rz_raw AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS robust_z,
          COALESCE(abs(rz_raw) > 3.5, false) AS is_anomaly
        FROM rz ORDER BY event_type, d
      """.trim)),

    // DAU/WAU engagement curve with stickiness — THE product-health
    // metric. Rolling DISTINCT can't ride a window aggregate (distinct
    // isn't a monoid over frames), so each (user, day) support row is
    // EXPLODED into the ≤7 trailing window days it supports and the
    // count-distinct runs per day as an ordinary two-level hash
    // aggregate — linear ×7 in |user-days| (not |events|), fully
    // partial-aggregatable, no window over users at all. Horizon clipping
    // only prevents PHANTOM post-horizon days (support exploded past
    // dmax); the first six days of the series still report over partial,
    // shorter-than-7-day frames — identical on both engines. Stickiness
    // is the one double quotient (repr-ROUND).
    Op("ts_active_users_rolling",
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
          .cut
        val span = ud.agg(max(col("day")).as("dmax"))
        val dau = ud.groupBy("day").agg(count_distinct(col("user_id")).as("dau"))
        val wau = ud
          .select(col("user_id"),
            explode(expr("sequence(day, date_add(day, 6), interval 1 day)")).as("day"))
          .crossJoin(broadcast(span))
          .where(col("day") <= col("dmax"))
          .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
        dau.join(wau, Seq("day"))
          .selectExpr("CAST(day AS TIMESTAMP_NTZ) AS day", "dau", "wau",
            "round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 4) + 0.0 AS stickiness")
          .orderBy("day")
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
          FROM events),
        span AS (SELECT MAX(day) AS dmax FROM ud),
        dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        sup AS (
          SELECT user_id, CAST(UNNEST(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE) AS day
          FROM ud),
        wau AS (
          SELECT day, COUNT(DISTINCT user_id) AS wau
          FROM sup CROSS JOIN span WHERE day <= dmax GROUP BY 1)
        SELECT CAST(dau.day AS TIMESTAMP) AS day,
          CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
          CAST(ROUND(CAST(CAST(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS stickiness
        FROM dau JOIN wau ON dau.day = wau.day
        ORDER BY day
      """.trim)),

    // Burstiness profile of each event stream: index of dispersion
    // (variance/mean of daily counts — 1 = Poisson, >1 = bursty) and the
    // Goh-Barabási burstiness coefficient B = (σ−µ)/(σ+µ) ∈ (−1, 1).
    // Sufficient statistics (n, Σx, Σx²) are exact BIGINT over the
    // |types|×|days| daily aggregate — one partial-aggregating rollup of
    // the raw stream, then a |types|-row frame; σ enters through one
    // sqrt and two quotients at the very end (identical double tree,
    // repr-ROUND rule 9).
    Op("ts_burstiness",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sum(col("n")).as("sx"),
            sum((col("n").cast(DecimalType(19, 0)) * col("n").cast(DecimalType(19, 0)))
              .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as("sxx"))
          .withColumn("mu", expr("CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)"))
          .withColumn("v", expr(
            """(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE)"""))
          .selectExpr("event_type", "n_days",
            "round(mu, 4) + 0.0 AS mean_daily",
            "round(v / mu, 4) + 0.0 AS dispersion",
            "round((sqrt(v) - mu) / (sqrt(v) + mu), 4) + 0.0 AS burstiness")
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        a AS (
          SELECT event_type, COUNT(*) AS n_days,
            CAST(SUM(n) AS BIGINT) AS sx,
            CAST(SUM(CAST(n AS HUGEINT) * n) AS DECIMAL(38,0)) AS sxx
          FROM daily GROUP BY 1),
        b AS (
          SELECT event_type, n_days,
            CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mu,
            (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
              / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE) AS v
          FROM a)
        SELECT event_type, n_days,
          CAST(ROUND(CAST(CAST(mu AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS mean_daily,
          CAST(ROUND(CAST(CAST(v / mu AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS dispersion,
          CAST(ROUND(CAST(CAST((sqrt(v) - mu) / (sqrt(v) + mu) AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS burstiness
        FROM b ORDER BY event_type
      """.trim)),

    // Mann-Kendall trend test per priority over the monthly revenue
    // series (orders is the multi-year table). S = Σ_{i<j} sign(x_j−x_i)
    // over month pairs — the pair stage is quadratic in MONTHS, a
    // time-bounded domain (~84 here), NOT in row count, so it holds at
    // any corpus scale; the expensive pass is the one monthly rollup.
    // S, n, and the tie-correction Σ t_j(t_j−1)(2t_j+5) are all exact
    // integers (revenue in cents); var(S) and the continuity-corrected z
    // are one identical single-row double tree at the end (rule 9).
    Op("ts_mann_kendall",
      (s, dir) => {
        val m = mkMonthly(s, dir)
        val a = m.select(col("grp"), col("t").as("ta"), col("cents").as("xa"))
        val b = m.select(col("grp"), col("t").as("tb"), col("cents").as("xb"))
        val sf = a.join(b, Seq("grp")).where(col("ta") < col("tb"))
          .groupBy("grp")
          .agg(sum(expr("CAST(sign(xb - xa) AS BIGINT)")).as("s_stat"))
        val tf = m.groupBy("grp", "cents").agg(count(lit(1)).as("tj"))
          .groupBy("grp")
          .agg(sum(col("tj")).as("n"),
            sum(expr("tj * (tj - 1) * (2 * tj + 5)")).as("tcorr"))
        tf.join(sf, Seq("grp"))
          .selectExpr("grp AS priority", "CAST(n AS BIGINT) AS n_months",
            "s_stat",
            "round(CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0d, 4) + 0.0 AS var_s",
            """round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0d)
                 / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0d)
               WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0d)
                 / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0d)
               ELSE 0.0d END, 4) + 0.0 AS z_stat""")
          .orderBy("priority")
      },
      Some("""
        WITH m AS (
          SELECT o_orderpriority AS grp,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS t,
            CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1, 2),
        sf AS (
          SELECT a.grp, CAST(SUM(CAST(SIGN(b.cents - a.cents) AS BIGINT)) AS BIGINT) AS s_stat
          FROM m a JOIN m b ON a.grp = b.grp AND a.t < b.t GROUP BY 1),
        tg AS (SELECT grp, cents, COUNT(*) AS tj FROM m GROUP BY 1, 2),
        tf AS (
          SELECT grp, CAST(SUM(tj) AS BIGINT) AS n,
            CAST(SUM(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT) AS tcorr
          FROM tg GROUP BY 1)
        SELECT tf.grp AS priority, n AS n_months, s_stat,
          CAST(ROUND(CAST(CAST(CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0
            AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS var_s,
          CAST(ROUND(CAST(CAST(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
              / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0)
            WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
              / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0)
            ELSE 0.0 END AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS z_stat
        FROM tf JOIN sf ON tf.grp = sf.grp
        ORDER BY priority
      """.trim)),

    // Theil-Sen robust trend slope per priority on the same monthly
    // frame (shared checkpoint with ts_mann_kendall): the LOWER median of
    // all pairwise slopes (x_j−x_i)/(t_j−t_i). The median is a specific
    // ELEMENT of the slope multiset picked by row_number — never an
    // interpolation between floats — so both engines select the identical
    // double regardless of their quantile interpolation formulas; each
    // slope itself is one division of identical integer operands. Same
    // months² pair bound as Mann-Kendall; the per-group window sorts
    // pair rows, a time²-bounded frame at any corpus scale.
    Op("ts_theil_sen",
      (s, dir) => {
        val m = mkMonthly(s, dir)
        val a = m.select(col("grp"), col("t").as("ta"), col("cents").as("xa"))
        val b = m.select(col("grp"), col("t").as("tb"), col("cents").as("xb"))
        val pr = a.join(b, Seq("grp")).where(col("ta") < col("tb"))
          .select(col("grp"),
            ((col("xb") - col("xa")).cast("double")
              / (col("tb") - col("ta")).cast("double")).as("slope"))
        pr.withColumn("rn",
            row_number().over(Window.partitionBy("grp").orderBy("slope")))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("grp")))
          .where(col("rn") * 2 === col("cnt") || col("rn") * 2 === col("cnt") + 1)
          .selectExpr("grp AS priority", "CAST(cnt AS BIGINT) AS n_pairs",
            "round(slope, 4) + 0.0 AS median_slope_cents")
          .orderBy("priority")
      },
      Some("""
        WITH m AS (
          SELECT o_orderpriority AS grp,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS t,
            CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1, 2),
        p AS (
          SELECT a.grp,
            CAST(b.cents - a.cents AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
          FROM m a JOIN m b ON a.grp = b.grp AND a.t < b.t),
        r AS (
          SELECT grp, slope,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY slope) AS rn,
            COUNT(*) OVER (PARTITION BY grp) AS cnt
          FROM p)
        SELECT grp AS priority, CAST(cnt AS BIGINT) AS n_pairs,
          CAST(ROUND(CAST(CAST(slope AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0
            AS median_slope_cents
        FROM r WHERE rn * 2 = cnt OR rn * 2 = cnt + 1
        ORDER BY priority
      """.trim)),

    // STL-lite strength profile per event_type (the tsfeatures trend/
    // seasonal strengths): trend = centered 7-day MA over daily counts,
    // detrended = 7·n − Σ₇ (×7 keeps it INTEGER — no /7 float), computed
    // only on full 7-day frames; seasonal strength = η² of day-of-week on
    // the detrended series (the anova decomposition), trend strength =
    // 1 − Var(detrended)/Var(7·n). Everything is exact integer moments on
    // the |types|×|days| daily frame (time-bounded at any corpus scale);
    // one events scan total, two tiny rollups after the window; the only
    // floats are the final single-row-per-type ratios (rule 9).
    Op("ts_seasonal_strength",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
          .agg(count(lit(1)).as("n"))
        val w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
        val det = daily
          .withColumn("s7", sum("n").over(w7))
          .withColumn("c7", count(lit(1)).over(w7))
          .where(col("c7") === 7)
          .select(col("event_type"), weekday(col("d")).as("dow"),
            (col("n") * 7).as("orig7"), (col("n") * 7 - col("s7")).as("det7"))
        // Squares go through DECIMAL(38,0) BEFORE the multiply: a raw
        // LONG det7² wraps silently past ~3e9 daily events (the oracle's
        // HUGEINT product errors loudly instead) — the agg_corr_matrix
        // discipline.
        val byDow = det.groupBy("event_type", "dow")
          .agg(count(lit(1)).as("cnt"),
            sum(col("det7")).as("sx"),
            sum(col("det7").cast(DecimalType(38, 0)) * col("det7")).as("sxx"),
            sum(col("orig7")).as("so"),
            sum(col("orig7").cast(DecimalType(38, 0)) * col("orig7")).as("soo"))
          .withColumn("tg", expr(
            "CAST(round(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE), 4) AS DECIMAL(38,4))"))
        byDow.groupBy("event_type")
          .agg(sum(col("cnt")).as("nn"),
            sum(col("sx")).as("sxt"), sum(col("sxx")).as("sxxt"),
            sum(col("so")).as("sot"), sum(col("soo")).as("soot"),
            sum(col("tg")).cast(DecimalType(38, 4)).as("sumt"))
          .selectExpr("event_type", "CAST(nn AS BIGINT) AS n_days",
            """round(greatest(0.0d,
               1.0d - (CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nn AS DOUBLE))
                 / (CAST(soot AS DOUBLE) - CAST(sot AS DOUBLE) * CAST(sot AS DOUBLE) / CAST(nn AS DOUBLE))), 4)
               + 0.0 AS trend_strength""",
            """round(greatest(0.0d,
               (CAST(sumt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nn AS DOUBLE))
                 / (CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nn AS DOUBLE))), 4)
               + 0.0 AS seasonal_strength""")
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
            COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        win AS (
          SELECT event_type, d, n,
            SUM(n) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
            COUNT(*) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
          FROM daily),
        det AS (
          SELECT event_type, CAST(isodow(d) - 1 AS INT) AS dow,
            CAST(n * 7 AS BIGINT) AS orig7, CAST(n * 7 - s7 AS BIGINT) AS det7
          FROM win WHERE c7 = 7),
        bydow AS (
          SELECT event_type, dow, COUNT(*) AS cnt,
            CAST(SUM(det7) AS BIGINT) AS sx,
            CAST(SUM(CAST(det7 AS HUGEINT) * det7) AS BIGINT) AS sxx,
            CAST(SUM(orig7) AS BIGINT) AS so,
            CAST(SUM(CAST(orig7 AS HUGEINT) * orig7) AS BIGINT) AS soo
          FROM det GROUP BY 1, 2),
        tgd AS (
          SELECT event_type, dow, cnt, sx, sxx, so, soo,
            CAST(ROUND(CAST(CAST(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE)
              AS VARCHAR) AS DECIMAL(38,15)), 4) AS DECIMAL(38,4)) AS tg
          FROM bydow),
        t AS (
          SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS nn,
            CAST(SUM(sx) AS BIGINT) AS sxt, CAST(SUM(sxx) AS BIGINT) AS sxxt,
            CAST(SUM(so) AS BIGINT) AS sot, CAST(SUM(soo) AS BIGINT) AS soot,
            CAST(SUM(tg) AS DECIMAL(38,4)) AS sumt
          FROM tgd GROUP BY 1)
        SELECT event_type, nn AS n_days,
          CAST(ROUND(CAST(CAST(GREATEST(0.0,
            1.0 - (CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nn AS DOUBLE))
              / (CAST(soot AS DOUBLE) - CAST(sot AS DOUBLE) * CAST(sot AS DOUBLE) / CAST(nn AS DOUBLE)))
            AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS trend_strength,
          CAST(ROUND(CAST(CAST(GREATEST(0.0,
            (CAST(sumt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nn AS DOUBLE))
              / (CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nn AS DOUBLE)))
            AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) + 0.0 AS seasonal_strength
        FROM t ORDER BY event_type
      """.trim))
  )
}
