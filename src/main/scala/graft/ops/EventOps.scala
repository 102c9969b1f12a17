package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` table. The reference is batch
  * only (SURVEY.md §2.11) — these are the batch equivalents of the
  * streaming surface (tumbling/session windows) plus the temporal joins
  * (as-of, range) a caption-time ↔ frame-time alignment needs
  * (README.md:51 `music_caption.time` ranges).
  *
  * Scale notes: tumbling windows are a single hash aggregate (bucket key
  * is derived row-locally — no pre-shuffle); sessionization and as-of are
  * one shuffle on user_id each (window functions, no self-join blowup);
  * the range join is an equi-join on user_id with a residual time
  * predicate — Catalyst plans a hash join + filter, never a nested-loop
  * cross product.
  */
object EventOps {

  /** The per-user time order every sessionizing window rides. */
  private val wUserTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))

  /** The 30-minute sessionization of q97, q103 and q112 (q18's
    * gaps-and-islands rule in integer µs): `new_sess` is 1 on a user's
    * first event and on every event at least 30 minutes after the
    * previous one, `sid` its running sum — both on the one (user_id,
    * ts) sort that the callers' leads share. */
  private[graft] def sessionize(ev: DataFrame): DataFrame =
    ev.withColumn("new_sess",
        when(lag(col("ts"), 1).over(wUserTs).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUserTs))
            >= 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_sess")).over(
        wUserTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** The running session id of every sessionizing oracle. */
  private val sidDuck = """SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid"""

  /** DuckDB twin of [[sessionize]] over (user_id, ts, event_type): the
    * `flagged` CTE and the CTE `name` carrying `cols` plus `sid`. */
  private def sessDuck(name: String, cols: String): String =
    s"""flagged AS (
        SELECT user_id, ts, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
               THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      $name AS (
        SELECT $cols,
          $sidDuck
        FROM flagged)"""

  /** The `flagged` CTE of the q18/q156 oracles: the 30-minute rule as a
    * timestamp INTERVAL over `cols` of the events. */
  private def intervalFlaggedDuck(cols: String): String =
    s"""flagged AS (
        SELECT $cols,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_sess
        FROM events)"""

  /** The error side of the q20-family interval joins, batch or stream:
    * (user_id, error_id, a_ts). */
  private[graft] def errorSide(errors: DataFrame): DataFrame =
    errors.select(col("user_id"), col("event_id").as("error_id"),
      col("ts").as("a_ts"))

  /** The purchase side: (`user`, purchase_id, b_ts). */
  private[graft] def purchaseSide(purchases: DataFrame, user: Column)
      : DataFrame =
    purchases.select(user, col("event_id").as("purchase_id"),
      col("ts").as("b_ts"))

  /** A purchase within `minutes` after the error. */
  private[graft] def purchaseWithin(minutes: Int): Column =
    col("b_ts") >= col("a_ts") &&
      col("b_ts") < col("a_ts") + expr(s"INTERVAL $minutes MINUTES")

  /** The error → purchase lag in µs. */
  private[graft] val lagUs: Column =
    (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("lag_us")

  /** The (event_type, weekday) `cells` CTE of q135/q196 with the
    * per-cell aggregates `aggs` — weekday as integer days since a known
    * Monday, mod 7. */
  private def dowCellsDuck(aggs: String): String =
    s"""cells AS (
        SELECT event_type,
          CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
               AS BIGINT) AS dow,
          $aggs
        FROM events GROUP BY 1, 2)"""

  /** Tumbling 10-minute window aggregate — Spark's `window()` (epoch-
    * aligned) with the bucket start emitted as a canonical string. */
  val q17TumblingWindow = OpSpec(
    "q17_tumbling_window",
    (s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(fmtTsSec(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("total"))
    },
    Some("""
      SELECT substr(strftime(ts, '%Y-%m-%d %H:%M'), 1, 15) || '0:00' AS win_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events
      GROUP BY 1, 2"""))

  /** Session windows (30-minute inactivity gap) per user —
    * `session_window` groupBy; oracle is the classic gaps-and-islands
    * rewrite (new session when the gap from the previous event is >= the
    * gap duration, matching Spark's exclusive session end). */
  val q18SessionWindow = OpSpec(
    "q18_session_window",
    (s, dir) => {
      table(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("total"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .select(col("user_id"),
          fmtTs(col("first_ts")).as("session_start"),
          col("n_events"), col("total"),
          (unix_micros(col("last_ts")) - unix_micros(col("first_ts")))
            .as("span_us"))
    },
    Some(s"""
      WITH ${intervalFlaggedDuck("user_id, ts, value")},
      sess AS (
        SELECT user_id, ts, value,
          $sidDuck
        FROM flagged)
      SELECT user_id,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
      FROM sess GROUP BY user_id, sid"""))

  /** As-of join: each purchase matched to the user's latest signup at or
    * before it. Implemented the scalable way — union both sides, one
    * window over (user_id, ts) with `last(..., ignoreNulls)` — a single
    * shuffle, no per-row probe join. DuckDB's native ASOF JOIN is the
    * oracle. (user_id, ts) is unique in the testdata, so no tie rules
    * are exercised. */
  val q19AsofJoin = OpSpec(
    "q19_asof_join",
    (s, dir) => {
      val ev = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isB = col("event_type") === "signup"
      ev
        .withColumn("b_ts", last(when(isB, col("ts")), ignoreNulls = true).over(w))
        .withColumn("b_id", last(when(isB, col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("ts"),
          fmtTs(col("b_ts")).as("signup_ts"),
          col("b_id").as("signup_id"))
    },
    Some("""
      SELECT a.event_id, a.user_id,
             strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
             strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
             b.event_id AS signup_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') a
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') b
        ON a.user_id = b.user_id AND a.ts >= b.ts"""))

  /** Range (interval) join: purchases within 5 minutes after an error by
    * the same user. The user_id equality keys a hash join; the time
    * predicate is a residual filter — scales as the per-user density, not
    * |A|×|B|. */
  val q20RangeJoin = OpSpec(
    "q20_range_join",
    (s, dir) => {
      val ev = table(s, dir, "events")
      errorSide(ev.filter(col("event_type") === "error"))
        .join(purchaseSide(ev.filter(col("event_type") === "purchase"),
          col("user_id")), Seq("user_id"))
        .filter(purchaseWithin(5))
        .select(col("user_id"), col("error_id"), col("purchase_id"), lagUs)
    },
    Some("""
      SELECT a.user_id, a.event_id AS error_id, b.event_id AS purchase_id,
             epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
      FROM (SELECT * FROM events WHERE event_type = 'error') a
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        ON a.user_id = b.user_id
       AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 5 MINUTE"""))

  /** Per-key aggregate STATE of an event slice — the mergeable partial
    * shape (count, exact decimal sum, min, max): counts add, decimal
    * sums add exactly (order-independent), min/max combine. */
  private def aggState(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast(Tables.dec)).as("total_dec"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value"))

  /** Incremental aggregate maintenance (the daily-ingest shape at
    * 100 TB: yesterday's per-key stats are a stored STATE table; a new
    * batch contributes only its OWN partial state, and the two merge by
    * key — the full history is never rescanned). Here event_id % 10 = 0
    * stands in for today's delta; the oracle recomputes from scratch,
    * so the gate proves merged-state == full-recompute exactly — which
    * only holds because the sum state is exact decimal (a double sum
    * state would drift by accumulation order). */
  val q61IncrementalStats = OpSpec(
    "q61_incremental_stats",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val prev = aggState(ev.filter(col("event_id") % 10 =!= 0))
      val delta = aggState(ev.filter(col("event_id") % 10 === 0))
      prev.unionByName(delta)
        .groupBy(col("user_id")).agg(
          sum(col("n_events")).as("n_events"),
          sum(col("total_dec")).cast("double").as("total"),
          min(col("min_value")).as("min_value"),
          max(col("max_value")).as("max_value"))
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        min(value) AS min_value, max(value) AS max_value
      FROM events
      GROUP BY user_id"""))

  /** Ordered conversion funnel (view → click → purchase): for each user
    * the first view, the first click strictly after it, and the first
    * purchase strictly after that — order matters, so this is NOT three
    * independent mins. Implemented with RUNNING windows over one
    * (user_id, ts) sort: `fv_run` at any row is the user's first view so
    * far, so "click after the first view" is the row-local test
    * ts > fv_run (strict — (user_id, ts) is unique in the data);
    * likewise purchases against the running first qualifying click. The
    * two windows and the final groupBy share the same partitioning and
    * order, so the WHOLE funnel costs ONE shuffle + ONE sort of the
    * type-filtered events — vs the naive per-stage aggregate-and-join
    * cascade, which re-shuffles (and under broadcast plans re-scans)
    * events once per stage. Per-user state stays O(1): no collected
    * event lists, no hot-user blowup. */
  val q84Funnel = OpSpec(
    "q84_funnel",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("fv_run",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c_ts",
          when(col("event_type") === "click" && col("ts") > col("fv_run"),
            col("ts")))
        .withColumn("fc_run", min(col("c_ts")).over(w))
        .withColumn("p_ts",
          when(col("event_type") === "purchase" && col("ts") > col("fc_run"),
            col("ts")))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("fv"),
          min(col("c_ts")).as("fc"),
          min(col("p_ts")).as("fp"))
        .filter(col("fv").isNotNull) // funnel population: users who viewed
        .select(col("user_id"),
          (lit(1) + when(col("fc").isNotNull, 1).otherwise(0)
            + when(col("fp").isNotNull, 1).otherwise(0))
            .cast("long").as("stage"),
          fmtTs(col("fv")).as("first_view"),
          fmtTs(col("fc")).as("first_click"),
          fmtTs(col("fp")).as("first_purchase"))
    },
    Some("""
      WITH fv AS (
        SELECT user_id, min(ts) AS fv FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      fc AS (
        SELECT e.user_id, min(e.ts) AS fc
        FROM events e JOIN fv ON e.user_id = fv.user_id AND e.ts > fv.fv
        WHERE e.event_type = 'click' GROUP BY e.user_id),
      fp AS (
        SELECT e.user_id, min(e.ts) AS fp
        FROM events e JOIN fc ON e.user_id = fc.user_id AND e.ts > fc.fc
        WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      SELECT fv.user_id,
        CAST(1 + (CASE WHEN fc.fc IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS stage,
        strftime(fv.fv, '%Y-%m-%d %H:%M:%S.%f') AS first_view,
        strftime(fc.fc, '%Y-%m-%d %H:%M:%S.%f') AS first_click,
        strftime(fp.fp, '%Y-%m-%d %H:%M:%S.%f') AS first_purchase
      FROM fv
      LEFT JOIN fc ON fv.user_id = fc.user_id
      LEFT JOIN fp ON fv.user_id = fp.user_id"""))

  /** Cohort retention: users grouped by first-activity day; for every
    * (cohort_day, day_offset) the count of distinct users active that
    * many days later. Shape: one aggregate keys the user's first ts
    * (shuffle on user_id), the activity join reuses that partitioning,
    * and the final (cohort, offset) rollup is the second shuffle —
    * output is bounded by days², independent of event volume. The day
    * offset is pure integer date arithmetic (no timestamp subtraction
    * enters the compare). */
  val q85Retention = OpSpec(
    "q85_retention",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
      ev.select(col("user_id"), col("ts"))
        .join(first, Seq("user_id"))
        .select(
          date_format(col("first_ts"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("ts").cast("date"), col("first_ts").cast("date"))
            .cast("long").as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    Some("""
      WITH first AS (
        SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
      SELECT strftime(f.first_ts, '%Y-%m-%d') AS cohort_day,
        CAST(datediff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE))
          AS BIGINT) AS day_offset,
        COUNT(DISTINCT e.user_id) AS n_users
      FROM events e JOIN first f ON e.user_id = f.user_id
      GROUP BY 1, 2"""))

  /** Hopping (sliding) window aggregate — 30-minute windows every
    * 10 minutes, so each event lands in exactly 3 overlapping buckets.
    * Spark's window(duration, slide) derives all bucket keys row-locally
    * (a 3× row expansion, NO extra shuffle vs the tumbling case); the
    * oracle makes the same expansion explicit with generate_series. */
  val q86HoppingWindow = OpSpec(
    "q86_hopping_window",
    (s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "10 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(fmtTsSec(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("total"))
    },
    Some("""
      SELECT strftime(make_timestamp(
               (epoch_us(ts) // 600000000 - k) * 600000000),
               '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events, (SELECT unnest(generate_series(0, 2)) AS k)
      GROUP BY 1, 2"""))

  /** Shared z-score text: for exact integer cents x and per-group exact
    * sums (n, s1=Σx, s2=Σx²), the population z-score algebraically
    * reduces to (n·x − s1)/√(n·s2 − s1²) — the n in (x−μ) and the n in
    * σ cancel, leaving ONE double division and ONE sqrt over exactly-
    * representable integers, identical IEEE ops in both engines. */
  private val zSql =
    """CAST(CAST(n AS DECIMAL(38,0)) * cents - s1 AS DOUBLE)
       / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE))"""

  /** Per-type outlier events (|z| > 3 against the event_type's own
    * value distribution) — the score-sanity audit every ingest needs
    * (a bad scorer shard shows up as a z-score cliff). The SELECTION is
    * all-integer: |z| > 3 ⟺ (n·x−s1)² > 9·(n·s2−s1²) in exact
    * DECIMAL(38,0) arithmetic, so no float comparison ever decides
    * membership (a z exactly at the boundary cannot flip between
    * engines); z itself is emitted afterwards, only for survivors —
    * whose σ > 0 is implied by the predicate, keeping the division
    * ANSI-safe. Exactness bound: |n·x| < 10^19 holds through 10^12 rows
    * of 10-digit cents, far past any per-group slice of 100 TB.
    *
    * Scale shape: one partial-aggregated groupBy over event_type (the
    * stats), one broadcast join back (|event_type| rows), row-local
    * predicate + projection — the scan dominates, as it should. */
  val q90Anomaly = OpSpec(
    "q90_anomaly",
    (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("cents", expr("CAST(round(value * 1e2) AS BIGINT)"))
      val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(cents AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("s2"))
      ev.join(broadcast(stats), Seq("event_type"))
        .filter(expr(
          """(CAST(n AS DECIMAL(38,0)) * cents - s1)
             * (CAST(n AS DECIMAL(38,0)) * cents - s1)
             > 9 * (CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1)"""))
        .select(col("event_type"), col("event_id"), col("value"),
          expr(zSql).as("z"))
    },
    Some(s"""
      WITH ev AS (
        SELECT event_type, event_id, value,
          CAST(round(value * 1e2) AS BIGINT) AS cents
        FROM events),
      stats AS (
        SELECT event_type, COUNT(*) AS n,
          SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
          SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
        FROM ev GROUP BY event_type)
      SELECT event_type, event_id, value, $zSql AS z
      FROM (SELECT ev.*, stats.n, stats.s1, stats.s2
            FROM ev JOIN stats USING (event_type)
            WHERE (CAST(n AS DECIMAL(38,0)) * cents - s1)
                  * (CAST(n AS DECIMAL(38,0)) * cents - s1)
                  > 9 * (CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1))"""))

  /** Latest row per user (ts is unique per user, so rn=1 is total). */
  private def latestPerUser(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** CDC MERGE (upsert + tombstone) semantics: the event log is a
    * changelog keyed by user_id — any event upserts the user's row;
    * 'error' is the delete marker. The engine path maintains the state
    * INCREMENTALLY: a base snapshot is materialized at a cutoff
    * (last-writer-wins, tombstones dropped — a tombstone only matters
    * if it stays the global latest, and then the merge re-derives it
    * from the delta), then the post-cutoff delta merges against the
    * one-row-per-key base, NOT the full history. The oracle recomputes
    * the final state from the whole log in one pass — so the gate
    * proves merge(snapshot(t), delta(t..)) == snapshot(now) exactly,
    * the invariant that lets a 100 TB state table absorb daily
    * changelogs without ever rescanning itself (the row-state twin of
    * q61's aggregate-state maintenance).
    *
    * Shape: both snapshot passes are one (user_id, ts desc) window; the
    * merge unions |keys| base rows with the delta and re-runs the same
    * window — every step one shuffle on the state key. */
  val q92CdcMerge = OpSpec(
    "q92_cdc_merge",
    (s, dir) => {
      val cutoff = lit("2024-02-01 00:00:00").cast("timestamp")
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val base = latestPerUser(ev.filter(col("ts") <= cutoff))
        .filter(col("event_type") =!= "error")
      val delta = ev.filter(col("ts") > cutoff)
      latestPerUser(base.unionByName(delta))
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), fmtTs(col("ts")).as("snap_ts"),
          col("event_type").as("last_op"), col("value"))
    },
    Some("""
      SELECT user_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS snap_ts,
        event_type AS last_op, value
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC) AS rn
            FROM events)
      WHERE rn = 1 AND event_type <> 'error'"""))

  /** Attribution lookback. */
  private val AttrWindowUs = 3600000000L // 1 hour in microseconds

  /** Last-touch attribution: each purchase credited to the user's most
    * recent click/view within the 1-hour lookback, else 'direct'. Same
    * single-shuffle union+running-window shape as the q19 as-of join
    * (no per-purchase probe join): last_value(... IGNORE NULLS) over
    * (user_id, ts) carries the latest touch forward, and the lookback
    * test is exact integer microseconds. */
  val q93Attribution = OpSpec(
    "q93_attribution",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isSrc = col("event_type").isin("click", "view")
      table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click", "view"))
        .withColumn("src_ts",
          last(when(isSrc, col("ts")), ignoreNulls = true).over(w))
        .withColumn("src_type",
          last(when(isSrc, col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("src_ts").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("src_ts"))
              <= AttrWindowUs,
            col("src_type")).otherwise("direct").as("channel"),
          fmtTs(col("ts")).as("ts"))
    },
    Some(s"""
      SELECT event_id AS purchase_id, user_id,
        CASE WHEN src_ts IS NOT NULL
               AND epoch_us(ts) - epoch_us(src_ts) <= $AttrWindowUs
             THEN src_type ELSE 'direct' END AS channel,
        strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
      FROM (
        SELECT event_id, user_id, ts, event_type,
          last_value(CASE WHEN event_type IN ('click', 'view')
            THEN ts END IGNORE NULLS) OVER w AS src_ts,
          last_value(CASE WHEN event_type IN ('click', 'view')
            THEN event_type END IGNORE NULLS) OVER w AS src_type
        FROM events
        WHERE event_type IN ('purchase', 'click', 'view')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      WHERE event_type = 'purchase'"""))

  /** Top event-type paths (trigrams) within 30-minute sessions — the
    * behavioral-sequence mining behind "what do users do before X".
    * Sessionization is the q18 gaps-and-islands recipe; the trigram is
    * then ROW-LOCAL: two `lead`s over the SAME (user_id, ts) sort
    * deliver the next two types and their session ids, and a trigram
    * counts only when all three rows share a session. Every window
    * (lag flag, running session id, both leads) rides one shuffle + one
    * sort; the count is partial-aggregated and the top-20 cut is
    * TakeOrderedAndProject (per-partition heaps), never a full sort. */
  val q97PathMining = OpSpec(
    "q97_path_mining",
    (s, dir) => {
      sessionize(table(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type")))
        .withColumn("t2", lead(col("event_type"), 1).over(wUserTs))
        .withColumn("s2", lead(col("sid"), 1).over(wUserTs))
        .withColumn("t3", lead(col("event_type"), 2).over(wUserTs))
        .withColumn("s3", lead(col("sid"), 2).over(wUserTs))
        .filter(col("s2") === col("sid") && col("s3") === col("sid"))
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc)
        .limit(20)
    },
    Some(s"""
      WITH ${sessDuck("sess", "user_id, ts, event_type")},
      tri AS (
        SELECT event_type || '>' || lead(event_type, 1) OVER w
            || '>' || lead(event_type, 2) OVER w AS path,
          sid, lead(sid, 1) OVER w AS s2, lead(sid, 2) OVER w AS s3
        FROM sess
        WINDOW w AS (PARTITION BY user_id ORDER BY ts))
      SELECT path, COUNT(*) AS n
      FROM tri WHERE s2 = sid AND s3 = sid
      GROUP BY path
      ORDER BY n DESC, path ASC
      LIMIT 20"""))

  /** First-order Markov transition estimates over within-session event
    * bigrams — the behavioral model fit behind next-action prediction
    * and anomaly scoring (q97's trigram mining reduced to estimation):
    * P(next | cur) as exact integer transition counts over one shared
    * (user, ts) sort, the probability being the single division
    * count/row-total. Output is |types|² rows max, independent of
    * event volume. */
  val q103MarkovTransitions = OpSpec(
    "q103_markov_transitions",
    (s, dir) => {
      val trans = sessionize(table(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type")))
        .withColumn("nxt", lead(col("event_type"), 1).over(wUserTs))
        .withColumn("s2", lead(col("sid"), 1).over(wUserTs))
        .filter(col("s2") === col("sid"))
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("cur"))
        .orderBy(col("nxt")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
      trans
        .withColumn("row_n", sum(col("n")).over(w))
        .select(col("cur"), col("nxt"), col("n"), col("row_n"),
          (col("n").cast("double") / col("row_n").cast("double")).as("p"))
    },
    Some(s"""
      WITH ${sessDuck("sess", "user_id, ts, event_type")},
      trans AS (
        SELECT cur, nxt, COUNT(*) AS n FROM (
          SELECT event_type AS cur, lead(event_type, 1) OVER w AS nxt,
            sid, lead(sid, 1) OVER w AS s2
          FROM sess
          WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        WHERE s2 = sid GROUP BY cur, nxt)
      SELECT cur, nxt, n,
        CAST(SUM(n) OVER (PARTITION BY cur) AS BIGINT) AS row_n,
        CAST(n AS DOUBLE)
          / CAST(CAST(SUM(n) OVER (PARTITION BY cur) AS BIGINT) AS DOUBLE)
          AS p
      FROM trans"""))

  /** Rolling 7-day distinct users per day (trailing WAU) — the rolling-
    * cardinality metric a frame-bound COUNT(DISTINCT) cannot express
    * (window frames don't support DISTINCT aggregates in either
    * engine). Shape: dedup to (day, user) pairs FIRST (the big
    * reduction — day-level activity is tiny vs events), then each pair
    * row-locally explodes into the ≤ 7 report days it contributes to
    * (integer day arithmetic), and one distinct-count per report day
    * finishes. No self-join of the fact table, no per-day rescan;
    * report days beyond the last activity day are clipped so every
    * window is fully defined. */
  val q105RollingDistinct = OpSpec(
    "q105_rolling_distinct",
    (s, dir) => {
      val days = table(s, dir, "events")
        .select(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"), col("user_id"))
        .distinct()
      val maxDay = days.agg(max(col("day")).as("max_day"))
      days
        .withColumn("report_day", explode(expr("sequence(day, day + 6)")))
        .crossJoin(broadcast(maxDay))
        .filter(col("report_day") <= col("max_day"))
        .groupBy(col("report_day"))
        .agg(countDistinct(col("user_id")).as("wau"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT
          CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
            AS BIGINT) AS day,
          user_id
        FROM events),
      m AS (SELECT max(day) AS max_day FROM days)
      SELECT report_day, COUNT(DISTINCT user_id) AS wau
      FROM (SELECT day + k AS report_day, user_id
            FROM days, (SELECT unnest(generate_series(0, 6)) AS k)), m
      WHERE report_day <= m.max_day
      GROUP BY report_day"""))

  /** Week-over-week deltas per event type — the period-comparison
    * report every metrics dashboard leads with. Weekly exact-cents
    * totals (one small aggregate), then lag() within each type gives
    * prior week; absolute delta stays exact integer cents, and the
    * relative change is the single division of exact integers (emitted
    * NULL for the first week — no prior). ISO-independent week key:
    * integer days-since-epoch DIV 7, so both engines bucket
    * identically with no WEEK() locale semantics in play.
    *
    * Gap weeks: lag() over observed weeks alone would compare a week
    * after a zero-activity gap against the last OBSERVED week — not
    * week-over-week. The prior week qualifies only when it is the
    * immediately preceding calendar week (wk - prev_wk = 1); across a
    * gap both deltas are NULL, the honest answer ("no prior week to
    * compare against" — the prior week's true total, 0, would make
    * rel_change a division by zero anyway). */
  val q108WeekOverWeek = OpSpec(
    "q108_week_over_week",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("wk"))
      table(s, dir, "events")
        .select(col("event_type"),
          expr("""datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7""")
            .cast("long").as("wk"),
          expr("CAST(round(value * 1e2) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("wk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("tot_c"))
        .withColumn("prev_c",
          when(col("wk") - lag(col("wk"), 1).over(w) === 1,
            lag(col("tot_c"), 1).over(w)))
        .select(col("event_type"), col("wk"), col("n"),
          (col("tot_c").cast("double") / 100.0).as("total"),
          (col("tot_c") - col("prev_c")).as("delta_cents"),
          ((col("tot_c") - col("prev_c")).cast("double") /
            col("prev_c").cast("double")).as("rel_change"))
    },
    Some("""
      SELECT event_type, wk, n,
        CAST(tot_c AS DOUBLE) / 1e2 AS total,
        tot_c - prev_c AS delta_cents,
        CAST(tot_c - prev_c AS DOUBLE) / CAST(prev_c AS DOUBLE)
          AS rel_change
      FROM (
        SELECT event_type, wk, n, tot_c,
          CASE WHEN wk - lag(wk, 1) OVER
                 (PARTITION BY event_type ORDER BY wk) = 1
               THEN lag(tot_c, 1) OVER
                 (PARTITION BY event_type ORDER BY wk) END AS prev_c
        FROM (SELECT event_type,
                CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  // 7 AS BIGINT) AS wk,
                COUNT(*) AS n,
                CAST(SUM(CAST(round(value * 1e2) AS BIGINT)) AS BIGINT)
                  AS tot_c
              FROM events GROUP BY 1, 2))"""))

  /** A/B experiment readout over a DETERMINISTIC assignment: users
    * split 50/50 by salted md5 (the q53 recipe — retries, reruns and
    * late-arriving events always land a user in the same arm, which
    * rand() cannot promise), conversion = did the user purchase.
    * Per-arm counts are exact; the conversion rate is one division,
    * and the B-vs-A lift is computed from the exact integer cross
    * product (conv_b·users_a) / (conv_a·users_b) — one division of two
    * exactly-representable products, not a ratio of ratios (which
    * would stack four rounding steps). */
  val q109AbReadout = OpSpec(
    "q109_ab_readout",
    (s, dir) => {
      val assigned = table(s, dir, "events")
        .select(col("user_id"), col("event_type"))
        .withColumn("hx",
          md5(concat(lit("exp1:"), col("user_id")).cast("binary")))
        .withColumn("arm", expr(
          s"CASE WHEN ${graft.ops.DedupOps.hexToLong("hx", 1, 12)} % 2 = 0" +
            " THEN 'A' ELSE 'B' END"))
      val perArm = assigned
        .groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("users"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("converters"))
      val wide = perArm.groupBy()
        .agg(
          max(when(col("arm") === "A", col("users"))).as("users_a"),
          max(when(col("arm") === "A", col("converters"))).as("conv_a"),
          max(when(col("arm") === "B", col("users"))).as("users_b"),
          max(when(col("arm") === "B", col("converters"))).as("conv_b"))
      wide.select(col("users_a"), col("conv_a"), col("users_b"),
        col("conv_b"),
        (col("conv_a").cast("double") / col("users_a").cast("double"))
          .as("rate_a"),
        (col("conv_b").cast("double") / col("users_b").cast("double"))
          .as("rate_b"),
        ((col("conv_b") * col("users_a")).cast("double") /
          (col("conv_a") * col("users_b")).cast("double")).as("lift_b"))
    },
    Some(s"""
      WITH assigned AS (
        SELECT user_id, event_type,
          CASE WHEN ${graft.ops.DedupOps.hexToLong("hx", 1, 12)} % 2 = 0
               THEN 'A' ELSE 'B' END AS arm
        FROM (SELECT user_id, event_type, md5('exp1:' || user_id) AS hx
              FROM events)),
      per_arm AS (
        SELECT arm, COUNT(DISTINCT user_id) AS users,
          COUNT(DISTINCT CASE WHEN event_type = 'purchase'
            THEN user_id END) AS converters
        FROM assigned GROUP BY arm)
      SELECT
        MAX(CASE WHEN arm = 'A' THEN users END) AS users_a,
        MAX(CASE WHEN arm = 'A' THEN converters END) AS conv_a,
        MAX(CASE WHEN arm = 'B' THEN users END) AS users_b,
        MAX(CASE WHEN arm = 'B' THEN converters END) AS conv_b,
        CAST(MAX(CASE WHEN arm = 'A' THEN converters END) AS DOUBLE)
          / CAST(MAX(CASE WHEN arm = 'A' THEN users END) AS DOUBLE)
          AS rate_a,
        CAST(MAX(CASE WHEN arm = 'B' THEN converters END) AS DOUBLE)
          / CAST(MAX(CASE WHEN arm = 'B' THEN users END) AS DOUBLE)
          AS rate_b,
        CAST(MAX(CASE WHEN arm = 'B' THEN converters END)
             * MAX(CASE WHEN arm = 'A' THEN users END) AS DOUBLE)
          / CAST(MAX(CASE WHEN arm = 'A' THEN converters END)
             * MAX(CASE WHEN arm = 'B' THEN users END) AS DOUBLE)
          AS lift_b
      FROM per_arm"""))

  /** Per-entry-type bounce rate: sessions (q18's 30-minute gap rule)
    * that end after a single event, grouped by what that event was —
    * the engagement metric behind landing-page triage. The whole
    * sessionization + classification is the one (user_id, ts) window
    * pass (session id via running sum, session length via a count over
    * the session partition would need a second shuffle — instead the
    * single-event test is lead/lag session-id inequality, row-local on
    * the SAME sort); the rate is the one division of exact counts. */
  val q112BounceRate = OpSpec(
    "q112_bounce_rate",
    (s, dir) => {
      sessionize(table(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type")))
        // first event of a session whose NEXT row starts a new session
        // (or doesn't exist) == a single-event session; row-local on
        // the same sort
        .withColumn("nxt_sid", lead(col("sid"), 1).over(wUserTs))
        .filter(col("new_sess") === 1)
        .groupBy(col("event_type").as("entry_type"))
        .agg(count(lit(1)).as("sessions"),
          sum(when(col("nxt_sid").isNull ||
            col("nxt_sid") =!= col("sid"), 1L).otherwise(0L))
            .as("bounces"))
        .select(col("entry_type"), col("sessions"), col("bounces"),
          (col("bounces").cast("double") / col("sessions").cast("double"))
            .as("bounce_rate"))
    },
    Some(s"""
      WITH ${sessDuck("sess0", "user_id, ts, event_type, new_sess")},
      sess AS (
        SELECT *, lead(sid, 1) OVER (PARTITION BY user_id ORDER BY ts)
          AS nxt_sid
        FROM sess0)
      SELECT event_type AS entry_type,
        COUNT(*) AS sessions,
        CAST(SUM(CASE WHEN nxt_sid IS NULL OR nxt_sid <> sid
          THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        CAST(SUM(CASE WHEN nxt_sid IS NULL OR nxt_sid <> sid
          THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS bounce_rate
      FROM sess WHERE new_sess = 1
      GROUP BY event_type"""))

  /** SCD2 (slowly-changing-dimension, type 2) history build — the
    * warehouse op that turns an event stream into validity intervals:
    * per user, each CHANGE of state (event_type here standing in for
    * the tracked attribute) opens a row valid from its timestamp until
    * the next change; the last row per user is open-ended
    * (`valid_to` NULL, `is_current` true). Two window passes over ONE
    * (user_id, ts) sort — change detection via lag, interval close via
    * lead over the filtered changes — so the whole history build is a
    * single shuffle; consecutive repeats of the same state collapse
    * into one interval (the SCD2 contract). */
  val q119Scd2History = OpSpec(
    "q119_scd2_history",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("to_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"),
          fmtTs(col("ts")).as("valid_from"),
          fmtTs(col("to_ts")).as("valid_to"),
          col("event_type").as("state"),
          col("to_ts").isNull.as("is_current"))
    },
    Some("""
      SELECT user_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        strftime(to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        event_type AS state,
        to_ts IS NULL AS is_current
      FROM (
        SELECT user_id, ts, event_type,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS to_ts
        FROM (
          SELECT user_id, ts, event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
              AS prev
          FROM events)
        WHERE prev IS NULL OR prev <> event_type)"""))

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands reduction: distinct active days, island id =
    * day − row_number (constant within a consecutive run), then the
    * longest island with an (length desc, start asc) pinned tie rule.
    * Pure integer date arithmetic throughout; two windows and the
    * final pick share ONE (user_id, day) sort. */
  val q125Streaks = OpSpec(
    "q125_streaks",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wPick = Window.partitionBy(col("user_id"))
        .orderBy(col("len").desc, col("start_day").asc)
      table(s, dir, "events")
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("day"))
        .distinct()
        .withColumn("isl", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("isl"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
        .withColumn("pick", row_number().over(wPick))
        .filter(col("pick") === 1)
        .select(col("user_id"), col("len").as("best_streak"),
          col("start_day").as("streak_start"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
          CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
            AS BIGINT) AS day
        FROM events),
      isl AS (
        SELECT user_id, day,
          day - row_number() OVER (PARTITION BY user_id ORDER BY day)
            AS isl
        FROM days),
      runs AS (
        SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len,
          min(day) AS start_day
        FROM isl GROUP BY 1, 2)
      SELECT user_id, len AS best_streak, start_day AS streak_start
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY len DESC, start_day ASC) AS pick
            FROM runs)
      WHERE pick = 1"""))

  /** Temporal (point-in-time) lookup against an SCD2 dimension — the
    * q119 history build consumed the way a warehouse consumes it: each
    * purchase event is matched to the user's journey state (the SCD2
    * intervals built from NON-purchase events) valid AT the purchase
    * timestamp. The join is user_id equality + half-open interval
    * residual (valid_from ≤ ts < valid_to, NULL-open tail) — the q20
    * hash-join shape, scaling with per-user interval density, never
    * |facts|×|dim|. Purchases before the user's first state row pass
    * through with a NULL state (LEFT join — a fact must never be
    * silently dropped by slowly-arriving dimension history). */
  val q126TemporalLookup = OpSpec(
    "q126_temporal_lookup",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val dim = table(s, dir, "events")
        .filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("to_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id").as("d_user"), col("ts").as("from_ts"),
          col("to_ts"), col("event_type").as("state"))
      val facts = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      facts.join(dim,
          col("user_id") === col("d_user") &&
            col("from_ts") <= col("ts") &&
            (col("to_ts").isNull || col("to_ts") > col("ts")),
          "left")
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("ts"), col("state"),
          fmtTs(col("from_ts")).as("state_since"))
    },
    Some("""
      WITH dim AS (
        SELECT user_id AS d_user, ts AS from_ts,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS to_ts,
          event_type AS state
        FROM (
          SELECT user_id, ts, event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
              AS prev
          FROM events WHERE event_type <> 'purchase')
        WHERE prev IS NULL OR prev <> event_type)
      SELECT f.event_id, f.user_id,
        strftime(f.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        d.state,
        strftime(d.from_ts, '%Y-%m-%d %H:%M:%S.%f') AS state_since
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') f
      LEFT JOIN dim d
        ON d.d_user = f.user_id AND d.from_ts <= f.ts
       AND (d.to_ts IS NULL OR d.to_ts > f.ts)"""))

  /** Shared closed-form OLS/Pearson tail over the five exact sums —
    * one SQL text per output so both engines stage identical IEEE
    * ops. Inputs: n (BIGINT), num/denx/deny and sx/sy (exact
    * DECIMAL(38,0) combinations). */
  private val trendExprs = Seq(
    "CAST(n AS BIGINT) AS n",
    "CAST(num AS DOUBLE) / CAST(denx AS DOUBLE) AS slope",
    """(CAST(sy AS DOUBLE)
       - (CAST(num AS DOUBLE) / CAST(denx AS DOUBLE))
         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept""",
    """CAST(num AS DOUBLE)
       / (sqrt(CAST(denx AS DOUBLE)) * sqrt(CAST(deny AS DOUBLE)))
       AS r""")
  private val trendSql = trendExprs.mkString(",\n        ")

  /** Per-type linear TREND + Pearson correlation of value against the
    * day index — the regression-in-one-aggregate analytics staple:
    * the five moment sums (Σx, Σy, Σx², Σxy, Σy²) accumulate as EXACT
    * DECIMAL integers in a single map-side-combined aggregate (x =
    * integer day, y = integer cents — no float ever enters a sum), and
    * slope/intercept/r are closed forms evaluated once per group from
    * those exact integers, so the only IEEE ops are the identical
    * final divisions/sqrts in both engines. One shuffle, five numbers
    * per group — the 100 TB shape for any moment-based statistic. */
  val q134Trend = OpSpec(
    "q134_trend",
    (s, dir) => {
      table(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"),
          expr("CAST(round(value * 1e2) AS BIGINT)").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
            .as("sxy"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
            .as("syy"))
        .withColumn("num", expr("n * sxy - sx * sy"))
        .withColumn("denx", expr("n * sxx - sx * sx"))
        .withColumn("deny", expr("n * syy - sy * sy"))
        .selectExpr("event_type" +: trendExprs: _*)
    },
    Some(s"""
      SELECT event_type, $trendSql
      FROM (
        SELECT event_type, n, sx, sy, sxx, sxy, syy,
          n * sxy - sx * sy AS num,
          n * sxx - sx * sx AS denx,
          n * syy - sy * sy AS deny
        FROM (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS DECIMAL(38,0))) AS sx,
            SUM(CAST(y AS DECIMAL(38,0))) AS sy,
            SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
            SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
            SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
          FROM (SELECT event_type,
                  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x,
                  CAST(round(value * 1e2) AS BIGINT) AS y
                FROM events)
          GROUP BY event_type))"""))

  /** Chi-square independence statistic for event_type × day-of-week —
    * the contingency audit behind "is traffic mix shifting by
    * weekday". Observed counts and marginals are exact integers; each
    * cell's (obs − exp)²/exp term uses the identical IEEE sequence in
    * both engines, and the final Σ over cells is a SORTED fold (cells
    * ordered by type, dow — the q116 discipline), so the statistic is
    * bit-exact. Output is one row: cells, degrees of freedom, χ². The
    * contingency table is bounded by the category domains — marginals
    * broadcast, nothing scales with row count after the first
    * aggregate. */
  val q135ChiSquare = OpSpec(
    "q135_chi_square",
    (s, dir) => {
      val cells = table(s, dir, "events")
        .select(col("event_type"),
          expr("""(datediff(CAST(ts AS DATE), DATE '2024-01-01') % 7)""")
            .cast("long").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("obs"))
        .persist()
      val rowT = cells.groupBy(col("event_type")).agg(sum(col("obs")).as("rt"))
      val colT = cells.groupBy(col("dow")).agg(sum(col("obs")).as("ct"))
      val tot = cells.agg(sum(col("obs")).as("nn"))
      val nr = cells.select(countDistinct(col("event_type")).as("n_types"))
      val nc = cells.select(countDistinct(col("dow")).as("n_dows"))
      cells
        .join(rowT, "event_type").join(colT, "dow")
        .crossJoin(broadcast(tot))
        .withColumn("term", expr(
          """(CAST(obs AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
             * (CAST(obs AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))"""))
        .agg(count(lit(1)).as("n_cells"),
          expr("""aggregate(
              transform(sort_array(collect_list(
                struct(event_type, dow, term))), s -> s.term),
              0D, (acc, x) -> acc + x)""").as("chi2"))
        .crossJoin(broadcast(nr)).crossJoin(broadcast(nc))
        .select(col("n_cells"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"),
          col("chi2"))
    },
    Some(s"""
      WITH ${dowCellsDuck("CAST(COUNT(*) AS BIGINT) AS obs")},
      rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt
             FROM cells GROUP BY 1),
      ct AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct
             FROM cells GROUP BY 1),
      tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS nn FROM cells),
      terms AS (
        SELECT cells.event_type, cells.dow,
          (CAST(obs AS DOUBLE)
           - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
          * (CAST(obs AS DOUBLE)
           - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
            AS term
        FROM cells JOIN rt USING (event_type) JOIN ct USING (dow)
        CROSS JOIN tot)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        (SELECT CAST((COUNT(DISTINCT event_type) - 1) AS BIGINT)
         FROM cells)
        * (SELECT CAST((COUNT(DISTINCT dow) - 1) AS BIGINT) FROM cells)
          AS dof,
        list_reduce(list(term ORDER BY event_type, dow),
          (a, b) -> a + b) AS chi2
      FROM terms"""))

  /** Gini concentration of per-user spend within each event type —
    * the inequality audit ("is revenue concentrated in whales").
    * Exact rank formulation over integer cents:
    * G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx), with ranks pinned by
    * (value, user) so ties are deterministic; numerator/denominator
    * accumulate as exact DECIMAL integers and the single division is
    * the only float op. One shuffle keys the user aggregate, one
    * window ranks within the type. */
  val q139Gini = OpSpec(
    "q139_gini",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("x").asc, col("user_id").asc)
      table(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(expr("CAST(SUM(CAST(round(value * 1e2) AS BIGINT)) AS BIGINT)")
          .as("x"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(rk AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("srx"))
        .select(col("event_type"), col("n"),
          col("sx").cast("long").as("total_cents"),
          expr("""CAST(2 * srx - (n + 1) * sx AS DOUBLE)
                  / CAST(n * sx AS DOUBLE)""").as("gini"))
    },
    Some("""
      SELECT event_type, n, CAST(sx AS BIGINT) AS total_cents,
        CAST(2 * srx - (n + 1) * sx AS DOUBLE)
        / CAST(n * sx AS DOUBLE) AS gini
      FROM (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(x AS DECIMAL(38,0))) AS sx,
          SUM(CAST(rk AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS srx
        FROM (
          SELECT event_type, x,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY x ASC, user_id ASC) AS BIGINT) AS rk
          FROM (
            SELECT event_type, user_id,
              CAST(SUM(CAST(round(value * 1e2) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2))
        GROUP BY event_type)"""))

  /** Median/MAD robust outlier gate per event type — the
    * heavy-tail-safe alternative to q90's z-score (one whale moves a
    * mean+stddev gate; the median absolute deviation shrugs): lower
    * median of integer cents at rank ⌊(n+1)/2⌋ (pinned ties via
    * event_id), MAD = same-rank median of |x − med|, outliers =
    * |x − med| > 3·MAD — every compare pure integers. Two rank
    * windows and the final count share ONE event_type partitioning. */
  val q140MadOutliers = OpSpec(
    "q140_mad_outliers",
    (s, dir) => {
      val base = table(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 1e2) AS BIGINT)").as("x"))
      val w1 = Window.partitionBy(col("event_type"))
        .orderBy(col("x").asc, col("event_id").asc)
      val counts = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val med = base
        .withColumn("rk", row_number().over(w1).cast("long"))
        .join(broadcast(counts), "event_type")
        .filter(col("rk") === expr("(n + 1) DIV 2"))
        .select(col("event_type"), col("x").as("med"), col("n"))
      val dev = base.join(med, "event_type")
        .withColumn("d", abs(col("x") - col("med")))
      val w2 = Window.partitionBy(col("event_type"))
        .orderBy(col("d").asc, col("event_id").asc)
      val mad = dev
        .withColumn("rk", row_number().over(w2).cast("long"))
        .filter(col("rk") === expr("(n + 1) DIV 2"))
        .select(col("event_type"), col("d").as("mad"))
      dev.join(mad, "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("med")).as("med_cents"),
          max(col("mad")).as("mad_cents"),
          sum(when(col("d") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    },
    Some("""
      WITH base AS (
        SELECT event_type, event_id,
          CAST(round(value * 1e2) AS BIGINT) AS x
        FROM events),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY x ASC, event_id ASC) AS BIGINT) AS rk,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM base),
      med AS (SELECT event_type, x AS med, n FROM ranked
              WHERE rk = (n + 1) // 2),
      dev AS (
        SELECT b.event_type, b.event_id, b.x, m.med, m.n,
          abs(b.x - m.med) AS d
        FROM base b JOIN med m USING (event_type)),
      dranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY d ASC, event_id ASC) AS BIGINT) AS rk
        FROM dev),
      mad AS (SELECT event_type, d AS mad FROM dranked
              WHERE rk = (n + 1) // 2)
      SELECT d.event_type, max(d.n) AS n, max(d.med) AS med_cents,
        max(m.mad) AS mad_cents,
        CAST(SUM(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM dev d JOIN mad m USING (event_type)
      GROUP BY d.event_type"""))

  /** Per-type ECDF rank normalization — quantile-normalize a metric
    * before cross-domain mixing (the feature-engineering twin of
    * q37's banding): norm = (rank − 1)/(n − 1) over integer cents
    * with pinned ties, so the normalized score is distribution-free
    * and identical across engines (one division of exact integers per
    * row). One window + one broadcast count join, both on the same
    * event_type partitioning. Scale note: event_type is
    * low-cardinality, so the exact per-type rank sort concentrates on
    * few partitions — at 100 TB the q37 recipe applies (bounded
    * histogram for approximate band edges, exact ranks only within
    * bands); this query is the exact form the banded one must match. */
  val q142RankNormalize = OpSpec(
    "q142_rank_normalize",
    (s, dir) => {
      val base = table(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 1e2) AS BIGINT)").as("x"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("x").asc, col("event_id").asc)
      val counts = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      base
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(counts), "event_type")
        .select(col("event_id"), col("event_type"), col("x"), col("rk"),
          when(col("n") === 1, lit(0.0))
            .otherwise((col("rk") - 1).cast("double")
              / (col("n") - 1).cast("double")).as("norm"))
    },
    Some("""
      SELECT event_id, event_type, x, rk,
        CASE WHEN n = 1 THEN 0e0
             ELSE CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END
          AS norm
      FROM (
        SELECT event_id, event_type, x,
          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY x ASC, event_id ASC) AS BIGINT) AS rk,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM (SELECT event_id, event_type,
                CAST(round(value * 1e2) AS BIGINT) AS x
              FROM events))"""))

  /** TIME-weighted average value per user — the right mean for
    * irregular samples (a value that held for an hour must outweigh
    * one that held a second; the plain mean q61 reports can't say
    * that): each value is weighted by how long it was current (micros
    * until the next event; the last, open-ended observation carries
    * no weight). Weights and values are exact integers, the weighted
    * sum accumulates as DECIMAL, and the single division happens at
    * emit. One (user, ts) sort serves the lead and the aggregate.
    * Users with a single event (no closed interval) are omitted from
    * the output entirely — their only row is dropped by the dt_us
    * filter before the groupBy. */
  val q147TimeWeightedAvg = OpSpec(
    "q147_time_weighted_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      table(s, dir, "events")
        .select(col("user_id"), col("ts"),
          expr("CAST(round(value * 1e2) AS BIGINT)").as("cents"))
        .withColumn("dt_us",
          unix_micros(lead(col("ts"), 1).over(w)) -
            unix_micros(col("ts")))
        .filter(col("dt_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(expr("CAST(dt_us AS DECIMAL(38,0))")).as("span_us"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * CAST(dt_us AS DECIMAL(38,0))"))
            .as("wsum"))
        .select(col("user_id"), col("n_intervals"),
          col("span_us").cast("long").as("span_us"),
          expr("CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE) / 1e2")
            .as("twa"))
    },
    Some("""
      SELECT user_id, n_intervals, CAST(span_us AS BIGINT) AS span_us,
        CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE) / 1e2 AS twa
      FROM (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
          SUM(CAST(dt_us AS DECIMAL(38,0))) AS span_us,
          SUM(CAST(cents AS DECIMAL(38,0)) * CAST(dt_us AS DECIMAL(38,0)))
            AS wsum
        FROM (
          SELECT user_id,
            CAST(round(value * 1e2) AS BIGINT) AS cents,
            epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
              - epoch_us(ts) AS dt_us
          FROM events)
        WHERE dt_us IS NOT NULL
        GROUP BY user_id)"""))

  /** Cross-user session-OVERLAP join — the interval⨝interval shape
    * (q19/q20 are point-probe joins; "which users were active at the
    * same time" needs interval×interval): 30-minute-gap sessions per
    * user, then every pair of overlapping sessions between DIFFERENT
    * users with the overlap duration. The Spark side blocks the
    * quadratic predicate into an EQUI-join: each session explodes to
    * the hour buckets it covers (fan-out = duration/bucket, bounded),
    * buckets equi-join, the true overlap predicate filters, and
    * distinct collapses multi-bucket hits — never an inequality-only
    * nested loop. The oracle is deliberately the NAIVE inequality
    * join, so the hash gate PROVES the bucket blocking loses no pair.
    * Output: (user_a, user_b, n_overlaps, overlap_us). */
  val q156SessionOverlap = OpSpec(
    "q156_session_overlap",
    (s, dir) => {
      val bucketUs = 3600L * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val sess = table(s, dir, "events")
        .select(col("user_id"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) >=
              30L * 60L * 1000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(unix_micros(col("ts"))).as("s_us"),
          max(unix_micros(col("ts"))).as("e_us"))
      val bucketed = sess.select(col("user_id"), col("sid"),
          col("s_us"), col("e_us"),
          explode(expr(s"sequence(s_us div $bucketUs, e_us div $bucketUs)"))
            .as("bk"))
      bucketed.as("a").join(bucketed.as("b"),
          col("a.bk") === col("b.bk") &&
            col("a.user_id") < col("b.user_id") &&
            col("a.s_us") <= col("b.e_us") &&
            col("b.s_us") <= col("a.e_us"))
        .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
          col("a.sid").as("sid_a"), col("b.sid").as("sid_b"),
          greatest(col("a.s_us"), col("b.s_us")).as("os"),
          least(col("a.e_us"), col("b.e_us")).as("oe"))
        .distinct()
        .groupBy(col("user_a"), col("user_b"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("oe") - col("os")).as("overlap_us"))
    },
    Some(s"""
      WITH ${intervalFlaggedDuck("user_id, ts")},
      sess AS (
        SELECT user_id, sid,
          epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
        FROM (
          SELECT user_id, ts,
            $sidDuck
          FROM flagged)
        GROUP BY user_id, sid),
      pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
          greatest(a.s_us, b.s_us) AS os, least(a.e_us, b.e_us) AS oe
        FROM sess a JOIN sess b
          ON a.user_id < b.user_id
         AND a.s_us <= b.e_us AND b.s_us <= a.e_us)
      SELECT user_a, user_b, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
        CAST(SUM(oe - os) AS BIGINT) AS overlap_us
      FROM pairs GROUP BY 1, 2"""))

  /** Daily RESAMPLING with forward-fill — the gap-filling transform
    * time-series features need (a user's "current value" must exist
    * for every day, not just days with events): per user, a dense
    * day grid spans first→last event day (row-local sequence
    * explode, fan-out = the user's own span); each day takes the
    * user's LAST event value that day (max ts, event_id tie), and
    * empty days forward-fill via last(..., ignoreNulls) over one
    * user-partitioned day order. Carried values are untouched
    * doubles — no arithmetic, so the gate is exact. Output:
    * (user_id, day, value, is_observed). */
  val q164GapFill = OpSpec(
    "q164_gap_fill",
    (s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"),
          col("event_id"), to_date(col("ts")).as("day"))
      val wD = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = ev.withColumn("rn", row_number().over(wD))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("value"))
      val grid = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val wF = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("is_observed", col("value").isNotNull)
        .withColumn("value", last(col("value"), ignoreNulls = true).over(wF))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("value"), col("is_observed"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, ts, value, event_id, CAST(ts AS DATE) AS day
        FROM events),
      daily AS (
        SELECT user_id, day, value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, day
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev)
        WHERE rn = 1),
      grid AS (
        SELECT user_id, unnest(generate_series(d0, d1,
          INTERVAL 1 DAY))::DATE AS day
        FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM ev GROUP BY user_id))
      SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        last_value(d.value IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        d.value IS NOT NULL AS is_observed
      FROM grid g
      LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day"""))

  /** q188: winsorized mean — the robust location estimate that keeps
    * every row (unlike a MAD gate, q140, which drops them): per event
    * type, values are CLIPPED to the exact empirical [p10, p90] before
    * averaging. Percentile boundaries are picked by RANK (value at
    * rank ceil(q·n), computed as pure integer arithmetic `(9n+9) DIV
    * 10` — a 0.9·n double multiply would land on 54.000…01 and ceil
    * off-by-one), ties broken by event_id so the boundary VALUE is
    * unique; the clipped sum runs through the exact-decimal
    * [[Tables.dsum]] so accumulation order cannot move the hash.
    * Scale: one partitioned rank window + a broadcast 5-row boundary
    * join. */
  val q188WinsorizedMean = OpSpec(
    "q188_winsorized_mean",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val ranked = table(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .persist()
      val ns = ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val bounds = ranked.join(ns, "event_type")
        .filter(col("rn") ===
            expr("CAST(floor((n + 9) / 10.0) AS BIGINT)") ||
          col("rn") === expr("CAST(floor((9 * n + 9) / 10.0) AS BIGINT)"))
        .groupBy(col("event_type"), col("n"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ranked.join(broadcast(bounds), "event_type")
        .withColumn("cv", least(greatest(col("value"), col("lo")),
          col("hi")))
        .groupBy(col("event_type"), col("n"), col("lo"), col("hi"))
        .agg((Tables.dsum(col("cv")) / col("n")).as("winsorized_mean"),
          (Tables.dsum(col("value")) / col("n")).as("raw_mean"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          col("winsorized_mean"), col("raw_mean"))
    },
    Some("""
      WITH ranked AS (
        SELECT event_type, event_id, value,
          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events),
      bounds AS (
        SELECT event_type, n, MIN(value) AS lo, MAX(value) AS hi
        FROM ranked
        WHERE rn = CAST(floor((n + 9) / 10.0) AS BIGINT)
           OR rn = CAST(floor((9 * n + 9) / 10.0) AS BIGINT)
        GROUP BY 1, 2)
      SELECT r.event_type, b.n, b.lo, b.hi,
        CAST(SUM(CAST(least(greatest(r.value, b.lo), b.hi)
                 AS DECIMAL(12,2))) AS DOUBLE) / b.n AS winsorized_mean,
        CAST(SUM(CAST(r.value AS DECIMAL(12,2))) AS DOUBLE) / b.n
          AS raw_mean
      FROM ranked r JOIN bounds b ON b.event_type = r.event_type
      GROUP BY 1, 2, 3, 4"""))

  /** q199: conversion-window sweep — the q20 error→purchase pairing
    * parameterized over the business question nobody agrees on ("how
    * long after the error still counts?"): for windows of 1/5/30/120
    * minutes, the count and share of errors with at least one purchase
    * inside the window. ONE interval join at the WIDEST window
    * computes each error's minimum conversion lag (integer µs); the
    * sweep is then a 4× threshold explode over that per-error row —
    * the q178 pattern of paying the join once and reading the curve
    * many times. Exact integer counts, one ratio per row. */
  val q199ConversionSweep = OpSpec(
    "q199_conversion_sweep",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val a = errorSide(ev.filter(col("event_type") === "error"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("b_ts"))
      val nErr = a.agg(count(lit(1)).as("n_errors"))
      val minLag = a.join(b, Seq("user_id"))
        .filter(purchaseWithin(120))
        .groupBy(col("error_id"))
        .agg(min(unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
          .as("min_lag_us"))
      minLag
        .select(col("min_lag_us"),
          explode(expr("array(1L, 5L, 30L, 120L)")).as("window_minutes"))
        .filter(col("min_lag_us") < col("window_minutes") * 60000000L)
        .groupBy(col("window_minutes"))
        .agg(count(lit(1)).as("n_converted"))
        .crossJoin(broadcast(nErr))
        .select(col("window_minutes"), col("n_converted"),
          col("n_errors"),
          (col("n_converted").cast("double") /
            col("n_errors").cast("double")).as("conversion_rate"))
    },
    Some("""
      WITH a AS (SELECT user_id, event_id AS error_id, ts AS a_ts
                 FROM events WHERE event_type = 'error'),
      b AS (SELECT user_id, ts AS b_ts
            FROM events WHERE event_type = 'purchase'),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_errors FROM a),
      minlag AS (
        SELECT a.error_id,
          MIN(epoch_us(b.b_ts) - epoch_us(a.a_ts)) AS min_lag_us
        FROM a JOIN b ON b.user_id = a.user_id
          AND b.b_ts >= a.a_ts
          AND b.b_ts < a.a_ts + INTERVAL 120 MINUTES
        GROUP BY 1)
      SELECT w.window_minutes,
        CAST(COUNT(*) AS BIGINT) AS n_converted,
        CAST(MAX(n.n_errors) AS BIGINT) AS n_errors,
        CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n.n_errors) AS DOUBLE)
          AS conversion_rate
      FROM minlag m,
        (SELECT CAST(UNNEST([1, 5, 30, 120]) AS BIGINT)
           AS window_minutes) w,
        n
      WHERE m.min_lag_us < w.window_minutes * 60000000
      GROUP BY 1"""))

  /** q197: Poisson bootstrap confidence intervals — THE distributed
    * bootstrap (per-row independent Poisson(1) replicate weights, so
    * resampling never needs global coordination), made deterministic:
    * ONE md5 per row supplies all 32 replicates — replicate b's weight
    * is hex digit b quantized against Poisson(1) in sixteenths
    * (6/16, 6/16, 3/16, 1/16 on 0..3 ≈ .368/.368/.184/.080 tail-merged
    * — the digit-granularity pmf; one hash per row instead of 32 cuts
    * the dominant md5 cost 30×). 32 replicate means per event type —
    * each an exact-decimal weighted sum over one 32× row-local
    * explode, partial-aggregated — and the CI is the [2nd, (m−1)th]
    * of the m SORTED replicate means that drew any mass (n_eff > 0;
    * positional, no interpolation).
    * Everything the gate compares is either integer, exact decimal, or
    * one double division. */
  val q197PoissonBootstrap = OpSpec(
    "q197_poisson_bootstrap",
    (s, dir) => {
      // one pass, 32 conditional aggregate PAIRS instead of a 32×
      // row explode: the shuffle ships 64 aggregated columns per type,
      // and the 19M generated rows (+ their hash-agg) never exist —
      // decimal sums are order-independent so the unpivoted values are
      // bit-identical to the grouped-explode form the oracle runs
      def wExpr(b: Int): String = {
        val v = s"(instr('0123456789abcdef', substring(h, ${b + 1}, 1)) - 1)"
        s"""(CASE WHEN $v < 6 THEN 0 WHEN $v < 12 THEN 1
             WHEN $v < 15 THEN 2 ELSE 3 END)"""
      }
      val aggs = (0 until 32).flatMap { b =>
        Seq(expr(s"SUM(${wExpr(b)})").as(s"ne_$b"),
          sum(col("value").cast(Tables.dec) * expr(wExpr(b)))
            .cast("double").as(s"ws_$b"))
      }
      val stackArgs = (0 until 32)
        .map(b => s"CAST($b AS BIGINT), ne_$b, ws_$b").mkString(", ")
      val reps = table(s, dir, "events")
        .withColumn("h",
          md5(concat(lit("boot:"), col("event_id")).cast("binary")))
        .groupBy(col("event_type"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("event_type"),
          expr(s"stack(32, $stackArgs) AS (b, n_eff, wsum)"))
        .withColumn("mean_b",
          when(col("n_eff") > 0, col("wsum") / col("n_eff")))
      // replicates with n_eff = 0 have no mean (NULL): drop them BEFORE
      // ranking — Spark windows order NULLS FIRST and DuckDB NULLS LAST,
      // so ranking over the NULLs would pick different rows per engine on
      // any corpus with a small event-type group. With the survivors m,
      // the CI is the [2nd, (m-1)th]; the high rank is taken as the 2nd
      // of the exact REVERSE order so neither engine needs to know m.
      val live = reps.where(col("n_eff") > 0)
      val wAsc = Window.partitionBy(col("event_type"))
        .orderBy(col("mean_b").asc, col("b").asc)
      val wDesc = Window.partitionBy(col("event_type"))
        .orderBy(col("mean_b").desc, col("b").desc)
      val ci = live.withColumn("rn", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .groupBy(col("event_type"))
        .agg(min(when(col("rn") === 2, col("mean_b"))).as("ci_lo"),
          min(when(col("rd") === 2, col("mean_b"))).as("ci_hi"))
      val point = table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.davg(col("value")).as("mean"))
      point.join(ci, "event_type")
        .select(col("event_type"), col("n"), col("mean"), col("ci_lo"),
          col("ci_hi"))
    },
    Some("""
      WITH reps AS (
        SELECT event_type, b,
          CAST(SUM(w) AS BIGINT) AS n_eff,
          CAST(SUM(CAST(value AS DECIMAL(12,2)) * w) AS DOUBLE) AS wsum
        FROM (
          SELECT event_type, value, b,
            CASE WHEN v < 6 THEN 0 WHEN v < 12 THEN 1
                 WHEN v < 15 THEN 2 ELSE 3 END AS w
          FROM (
            SELECT event_type, value, g.b,
              instr('0123456789abcdef',
                    substring(h, CAST(g.b + 1 AS INT), 1)) - 1 AS v
            FROM (SELECT event_type, event_id, value,
                    md5('boot:' || event_id) AS h FROM events),
              (SELECT CAST(UNNEST(range(0, 32)) AS BIGINT) AS b) g))
        GROUP BY 1, 2),
      means AS (
        SELECT event_type, b, wsum / n_eff AS mean_b
        FROM reps WHERE n_eff > 0),
      ranked AS (
        SELECT event_type, mean_b,
          ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY mean_b ASC, b ASC) AS rn,
          ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY mean_b DESC, b DESC) AS rd
        FROM means),
      ci AS (
        SELECT event_type,
          MIN(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
          MIN(CASE WHEN rd = 2 THEN mean_b END) AS ci_hi
        FROM ranked GROUP BY 1),
      point AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
            AS mean
        FROM events GROUP BY 1)
      SELECT p.event_type, p.n, p.mean, c.ci_lo, c.ci_hi
      FROM point p JOIN ci c ON c.event_type = p.event_type"""))

  /** q196: day-of-week seasonality profile — the periodic decomposition
    * a forecast/alerting pipeline subtracts before q90's z-scores make
    * sense: per (event type, weekday) volume and exact-decimal value
    * mass, each cell's share of its type, and the type's peak weekday
    * (max share with a weekday tie-break). Weekday is computed as pure
    * integer date arithmetic from a known Monday (`datediff % 7` —
    * engine dayofweek() conventions disagree on week start and are
    * never compared). One partial-aggregated group-by + a 7-row-per-
    * type totals/peak join. */
  val q196DowProfile = OpSpec(
    "q196_dow_profile",
    (s, dir) => {
      val cells = table(s, dir, "events")
        .select(col("event_type"), col("value"),
          expr("""CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') % 7
                  AS BIGINT)""").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("total"))
      val tot = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_type"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("dow").asc)
      val peak = cells.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("dow").as("peak_dow"))
      cells.join(tot, "event_type").join(broadcast(peak), "event_type")
        .select(col("event_type"), col("dow"), col("n"), col("total"),
          (col("n").cast("double") / col("n_type").cast("double"))
            .as("share"),
          col("peak_dow"))
    },
    Some(s"""
      WITH ${dowCellsDuck("CAST(COUNT(*) AS BIGINT) AS n,\n" +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total")},
      tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type
              FROM cells GROUP BY 1),
      peak AS (
        SELECT event_type, dow AS peak_dow FROM (
          SELECT event_type, dow, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY n DESC, dow ASC) AS rk
          FROM cells) WHERE rk = 1)
      SELECT c.event_type, c.dow, c.n, c.total,
        CAST(c.n AS DOUBLE) / CAST(t.n_type AS DOUBLE) AS share,
        p.peak_dow
      FROM cells c
      JOIN tot t ON t.event_type = c.event_type
      JOIN peak p ON p.event_type = c.event_type"""))

  /** q189: Theil–Sen robust trend — the median of all pairwise daily
    * slopes per event type, the outlier-immune complement to q134's
    * OLS fit (one anomalous day drags a least-squares slope; it moves
    * a pairwise median not at all). Slopes are single divisions of
    * exact integers (deterministic doubles); the median picks fixed
    * SORTED positions — lower/upper middle via row_number, averaged
    * when the pair count is even (one commutative two-term add) — so
    * ties among equal slope values cannot move the selected values.
    * Scale: pair generation is per-group O(days²) on the DAILY
    * aggregate (bounded: days per window, never event rows); the rank
    * window is partitioned by event type. */
  val q189TheilSen = OpSpec(
    "q189_theil_sen",
    (s, dir) => {
      val daily = table(s, dir, "events")
        .select(col("event_type"),
          expr("""CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')
                  AS BIGINT)""").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("y"))
        .persist()
      val nDays = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"))
      val slopes = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          ((col("b.y") - col("a.y")).cast("double") /
            (col("b.day") - col("a.day")).cast("double")).as("slope"))
      val np = slopes.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("slope"))
      slopes.withColumn("rn", row_number().over(w).cast("long"))
        .join(np, "event_type")
        .filter(col("rn") === expr("CAST(floor((n_pairs + 1) / 2.0) AS BIGINT)") ||
          col("rn") === expr("CAST(floor(n_pairs / 2.0) AS BIGINT) + 1"))
        .groupBy(col("event_type"), col("n_pairs"))
        .agg(avg(col("slope")).as("theil_sen"))
        .join(nDays, "event_type")
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("theil_sen"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type,
          CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS day,
          CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
             FROM daily GROUP BY 1),
      slopes AS (
        SELECT a.event_type,
          CAST(b.y - a.y AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
            AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
      np AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM slopes GROUP BY 1),
      ranked AS (
        SELECT event_type, slope, CAST(ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY slope) AS BIGINT) AS rn
        FROM slopes)
      SELECT r.event_type, nd.n_days, np.n_pairs,
        AVG(r.slope) AS theil_sen
      FROM ranked r
      JOIN np ON np.event_type = r.event_type
      JOIN nd ON nd.event_type = r.event_type
      WHERE r.rn = CAST(floor((np.n_pairs + 1) / 2.0) AS BIGINT)
         OR r.rn = CAST(floor(np.n_pairs / 2.0) AS BIGINT) + 1
      GROUP BY 1, 2, 3"""))

  /** q184: out-of-order / lateness audit — the measurement that SIZES
    * a watermark before anyone writes `withWatermark("ts", delay)`:
    * taking event_id as arrival order (the ingest sequence proxy), a
    * row is LATE if its event time precedes the running max of
    * everything that arrived before it, and its skew is that deficit.
    * Per event type: volume, late count/rate, and the max/mean skew in
    * µs — max skew IS the minimum watermark delay that would have lost
    * zero rows (q56/q175's 1-hour choice is validated against exactly
    * this number). One partitioned running-max window, integer µs
    * arithmetic, two exact-ratio doubles at emit. */
  val q184LatenessAudit = OpSpec(
    "q184_lateness_audit",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      table(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_max", max(col("us")).over(w))
        .withColumn("skew",
          when(col("prev_max") > col("us"), col("prev_max") - col("us"))
            .otherwise(lit(0L)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("skew") > 0, 1L).otherwise(0L)).as("n_late"),
          max(col("skew")).as("max_skew_us"),
          sum(col("skew")).as("sum_skew_us"))
        .select(col("event_type"), col("n_events"), col("n_late"),
          (col("n_late").cast("double") / col("n_events").cast("double"))
            .as("late_rate"),
          col("max_skew_us"),
          when(col("n_late") > 0,
            col("sum_skew_us").cast("double") /
              col("n_late").cast("double")).as("mean_skew_us"))
    },
    Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CASE WHEN skew > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_late,
        CAST(SUM(CASE WHEN skew > 0 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS late_rate,
        MAX(skew) AS max_skew_us,
        CASE WHEN SUM(CASE WHEN skew > 0 THEN 1 ELSE 0 END) > 0 THEN
          CAST(SUM(skew) AS DOUBLE)
            / CAST(SUM(CASE WHEN skew > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        END AS mean_skew_us
      FROM (
        SELECT event_type,
          CASE WHEN prev_max > us THEN prev_max - us ELSE 0 END AS skew
        FROM (
          SELECT event_type, epoch_us(ts) AS us,
            MAX(epoch_us(ts)) OVER (PARTITION BY event_type
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS prev_max
          FROM events))
      GROUP BY event_type"""))

  val all: Seq[OpSpec] = Seq(
    q17TumblingWindow, q18SessionWindow, q19AsofJoin, q20RangeJoin,
    q61IncrementalStats, q84Funnel, q85Retention, q86HoppingWindow,
    q90Anomaly, q92CdcMerge, q93Attribution, q97PathMining,
    q103MarkovTransitions, q105RollingDistinct, q108WeekOverWeek,
    q109AbReadout, q112BounceRate, q119Scd2History, q125Streaks,
    q126TemporalLookup, q134Trend, q135ChiSquare, q139Gini,
    q140MadOutliers, q142RankNormalize, q147TimeWeightedAvg,
    q156SessionOverlap, q164GapFill, q184LatenessAudit,
    q188WinsorizedMean, q189TheilSen, q196DowProfile,
    q197PoissonBootstrap, q199ConversionSweep)
}
