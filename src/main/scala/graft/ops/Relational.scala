package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational core of the engine.
  *
  * The reference pipeline (litwellchi/lvm_datapipe) has no relational
  * algebra of its own — its needs (shard scan+union, predicate filters,
  * resume anti-joins, per-video rollups, score-ranked curation, duration
  * histograms; SURVEY.md §2.2-§2.6) map directly onto Catalyst operators.
  * Each op below is the idiomatic Spark form, sized for 100 TB: filters
  * and projections sit directly on the parquet scan (pushdown), dimension
  * joins are broadcast, wide aggregations pre-aggregate map-side via
  * partial aggregation, and every window/top-k has a total ordering so
  * results are deterministic under any partitioning.
  */
object Relational {

  /** A2/analyze_vids analog: pushed-down filter + grouped exact aggregate.
    * Mirrors TPC-H Q1 shape (scan → filter → partial agg → final agg):
    * the canonical "does partial aggregation + pushdown survive scale"
    * probe. Reference: analyze/analyze_vids.py:42 (sum/mean durations).
    */
  val q01AggPushdown = OpSpec(
    "q01_agg_pushdown",
    (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_discount) AS DOUBLE) AS avg_disc,
        COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""))

  /** P1/P2 analog: predicate + projection, both pushed into the parquet
    * scan (PushedFilters + ReadSchema pruning — verified in tests).
    * Reference: utils/scenecut.py:109-112 (ext filter),
    * coca_caption.py:70-72 (min-duration filter). */
  val q02FilterProject = OpSpec(
    "q02_filter_project",
    (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") && col("l_quantity") > 45.0)
        .select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"),
          col("l_extendedprice"),
          concat_ws("#", col("l_orderkey"), col("l_linenumber")).as("line_key"))
    },
    Some("""
      SELECT l_orderkey,
        CAST(l_linenumber AS BIGINT) AS l_linenumber,
        l_quantity, l_extendedprice,
        l_orderkey || '#' || l_linenumber AS line_key
      FROM lineitem
      WHERE l_returnflag IN ('A','R') AND l_quantity > 45e0"""))

  /** Clip↔video denormalization analog (SURVEY §2.3): star join where the
    * dimension chain region→nation→customer is broadcast (no shuffle of
    * the fact side for those joins); fact-fact join lineitem↔orders
    * shuffles once on the join key. */
  val q03StarJoin = OpSpec(
    "q03_star_join",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      // Pre-aggregate the fact table per order BEFORE the join: the
      // orders join then keys on the same hash partitioning the groupBy
      // produced (no extra fact shuffle), the join input shrinks ~4x,
      // and COUNT(DISTINCT o_orderkey) — a two-phase expand aggregate
      // over every joined row — becomes a plain count of pre-aggregated
      // order rows. Decimal partial sums re-sum exactly (associative).
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(
          sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev_o"),
          count(lit(1)).as("nl"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderstatus") =!= "P")
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("rev_o")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"),
          sum(col("nl")).as("n_lines"))
    },
    Some("""
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_orderkey) AS n_orders,
        COUNT(*) AS n_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE o_orderstatus <> 'P'
      GROUP BY r_name, n_name"""))

  /** P3 resume filter: anti-join of the work set against the done set.
    * Reference: aesthetic_score.py:98, ocr_score.py:64 (skip clips whose
    * output file already exists). Here: customers with no orders. */
  val q04ResumeAntiJoin = OpSpec(
    "q04_resume_anti_join",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val done = table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-01-01 00:00:00").cast("timestamp"))
      c.join(done, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate < TIMESTAMP '1995-01-01 00:00:00')"""))

  /** Semi-join twin of q04 (set-membership filter; scene_cut.py:237-238
    * computes the same via Python set difference/intersection). */
  val q05SemiJoin = OpSpec(
    "q05_semi_join",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderstatus") === "O")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_acctbal"))
    },
    Some("""
      SELECT c_custkey, c_acctbal
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')"""))

  /** P4 per-video completion rollup: per-parent aggregate compared against
    * the parent's own total (scene_cut.py:175-187: video finished when
    * video_duration − Σ clip_duration < 0.5 s). Orders↔lineitem analog:
    * per-order line rollup joined back to the order header. */
  val q06CompletionRollup = OpSpec(
    "q06_completion_rollup",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val rolled = li.groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_quantity")).as("sum_qty"))
      rolled.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("sum_qty") > 150.0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("n_lines"),
          col("sum_qty"), col("o_totalprice"))
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, n_lines, sum_qty, o_totalprice
      FROM (SELECT l_orderkey, COUNT(*) AS n_lines,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_orderkey) r
      JOIN orders ON l_orderkey = o_orderkey
      WHERE sum_qty > 15e1"""))

  /** §2.5 score-ranked curation ("best clips per video",
    * macvid.py:113-115 selected_target/best_ocr_only): top-k per group
    * with a TOTAL tie-break order so ranks are engine-independent. At
    * scale this is the partial-top-k pattern: rank inside each partition
    * group, no global sort. */
  val q07TopkPerGroup = OpSpec(
    "q07_topk_per_group",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      table(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"))
    },
    Some("""
      SELECT l_suppkey, rn, l_orderkey,
             CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
      FROM (SELECT *, CAST(ROW_NUMBER() OVER (
              PARTITION BY l_suppkey
              ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC)
            AS BIGINT) AS rn
            FROM lineitem)
      WHERE rn <= 3"""))

  /** A2 fixed-bin histogram (analyze_vids.py:43-45, bins
    * [0,5,10,60,300,600,1800,3600,inf] over durations — same shape over
    * order totals). The CASE bucketing is identical text in both engines.
    */
  val q08Histogram = OpSpec(
    "q08_histogram",
    (s, dir) => {
      val b = col("o_totalprice")
      table(s, dir, "orders")
        .withColumn("bucket",
          when(b < 50000, "00_lt50k")
            .when(b < 100000, "01_50k_100k")
            .when(b < 150000, "02_100k_150k")
            .when(b < 200000, "03_150k_200k")
            .when(b < 300000, "04_200k_300k")
            .otherwise("05_ge300k"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    },
    Some("""
      SELECT bucket, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM (SELECT o_totalprice,
              CASE WHEN o_totalprice < 50000  THEN '00_lt50k'
                   WHEN o_totalprice < 100000 THEN '01_50k_100k'
                   WHEN o_totalprice < 150000 THEN '02_100k_150k'
                   WHEN o_totalprice < 200000 THEN '03_150k_200k'
                   WHEN o_totalprice < 300000 THEN '04_200k_300k'
                   ELSE '05_ge300k' END AS bucket
            FROM orders)
      GROUP BY bucket"""))

  /** §2.6 set difference (scene_cut.py:238 `set(files)-set(finished)`):
    * customers holding a finished order but no open order. */
  val q09SetOps = OpSpec(
    "q09_set_ops",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
      val open = o.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")).distinct()
      f.except(open).select(col("o_custkey").as("custkey"))
    },
    Some("""
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'"""))

  /** §2.5 running aggregate over a totally-ordered window (the exact
    * decimal sum keeps the running values engine-identical at every row).
    * l_quantity joins the sort key because (orderkey, linenumber) is NOT
    * unique in the testdata (sf0.1 has a duplicate with different
    * quantities); with a ROWS frame, tie order among duplicates is
    * engine-defined, and rows that also tie on quantity are
    * interchangeable — the output multiset is then order-independent.
    */
  val q10WindowRunning = OpSpec(
    "q10_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_quantity").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Exact integer cents instead of DECIMAL inside WindowExec: the
      // running state is then a plain long add per row (no per-row
      // Decimal allocation — measured ~30% faster), and the quotient of
      // an exact < 2^53 integer by 100.0 is the same IEEE double in both
      // engines.
      table(s, dir, "lineitem")
        .withColumn("qc", round(col("l_quantity") * 100.0).cast("long"))
        .withColumn("running_qty",
          sum(col("qc")).over(w).cast("double") / 100.0)
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("running_qty"))
    },
    Some("""
      SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        CAST(SUM(CAST(round(l_quantity * 1e2) AS BIGINT)) OVER (
          PARTITION BY l_suppkey
          ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e2 AS running_qty
      FROM lineitem"""))

  /** §2.4 grouping-sets slicing (the ad-hoc analysis surface implied by
    * analyze_vids.py:38's TODO filter hook): ROLLUP over status×priority.
    */
  val q11Rollup = OpSpec(
    "q11_rollup",
    (s, dir) => {
      table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
    },
    Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""))

  /** PIVOT: one row per user, event types spread into columns (the
    * wide feature-vector shape model-training exports want). The value
    * list is EXPLICIT — `pivot(col, values)` with enumerated values
    * compiles to plain conditional aggregation in one pass; the
    * values-less overload runs a separate distinct-scan job first and
    * caps at spark.sql.pivotMaxValues, which is both a second pass and
    * a nondeterministic schema at 100 TB. UNPIVOT is the inverse
    * (`unpivot`/`melt`, stack() in SQL) — exercised in the spec by
    * round-tripping this output back to long form. */
  val q91Pivot = OpSpec(
    "q91_pivot",
    (s, dir) => {
      table(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("error"), lit(0L)).as("n_error"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("view"), lit(0L)).as("n_view"))
    },
    Some("""
      SELECT user_id,
        COUNT(*) FILTER (event_type = 'click') AS n_click,
        COUNT(*) FILTER (event_type = 'error') AS n_error,
        COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
        COUNT(*) FILTER (event_type = 'signup') AS n_signup,
        COUNT(*) FILTER (event_type = 'view') AS n_view
      FROM events
      GROUP BY user_id"""))

  /** Explicit GROUPING SETS (the general form q11's ROLLUP and q39's
    * CUBE are sugar for): the hour-of-day × event-type heatmap plus
    * BOTH one-dimensional margins and the grand total, in ONE pass —
    * Spark plans a single Expand (4 replicas) + one aggregate, exactly
    * the shape a dashboard's "all the subtotals" query needs without
    * re-scanning per slice. Spark 4's Dataset.groupingSets API. */
  val q96GroupingSets = OpSpec(
    "q96_grouping_sets",
    (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("hod", hour(col("ts")).cast("long"))
      ev.groupingSets(
          Seq(Seq(col("hod"), col("event_type")), Seq(col("hod")),
            Seq(col("event_type")), Seq()),
          col("hod"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(coalesce(col("hod"), lit(-1L)).as("hod"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n"), col("total"))
    },
    Some("""
      SELECT coalesce(hod, -1) AS hod,
             coalesce(event_type, 'ALL') AS event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM (SELECT CAST(hour(ts) AS BIGINT) AS hod, event_type, value
            FROM events)
      GROUP BY GROUPING SETS ((hod, event_type), (hod), (event_type), ())"""))

  /** Exact per-group median WITHOUT sorting rows: aggregate to
    * (group, value) counts first — the count table is bounded by
    * DISTINCT values, not row count — then pick the rank-⌈n/2⌉ value
    * with one ordered window over that small table (percentile_disc
    * 0.5 semantics: lower median, deterministic). At 100 TB the row
    * data crosses the wire once as partial-aggregated counts; a
    * sort-based median would shuffle every row. Values go through
    * exact integer cents (the q10 recipe) so the emitted double is the
    * same IEEE quotient in both engines. */
  val q101ExactMedian = OpSpec(
    "q101_exact_median",
    (s, dir) => {
      val counts = table(s, dir, "lineitem")
        .withColumn("pc", round(col("l_extendedprice") * 100.0).cast("long"))
        .groupBy(col("l_returnflag"), col("pc"))
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy(col("l_returnflag")).orderBy(col("pc"))
      // group total rides the SAME ordered window with an explicit full
      // frame (the q72 trick): one Window operator, one sort
      val wAll = wOrd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      counts
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        // first value whose cumulative count reaches rank (n+1) DIV 2
        .filter(col("cum") - col("c") < expr("(n + 1) DIV 2") &&
          expr("(n + 1) DIV 2") <= col("cum"))
        .select(col("l_returnflag"), col("n"),
          (col("pc").cast("double") / 100.0).as("median_price"))
    },
    Some("""
      SELECT l_returnflag, n, CAST(pc AS DOUBLE) / 1e2 AS median_price
      FROM (
        SELECT l_returnflag, pc, c,
          CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY pc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum,
          CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        FROM (SELECT l_returnflag,
                CAST(round(l_extendedprice * 1e2) AS BIGINT) AS pc,
                COUNT(*) AS c
              FROM lineitem GROUP BY 1, 2))
      WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum"""))

  /** Library form of q102 over arbitrary fact/dim/dim2 frames —
    * OperatorSpec exercises it on deliberately broken data (the corpus
    * tables are clean, so the gated run's zeros alone would prove
    * nothing about the checks' semantics). */
  def integrityAudit(li: DataFrame, o: DataFrame, c: DataFrame)
      : DataFrame = {
    def one(name: String, n: DataFrame) =
      n.select(lit(name).as("check"), col("n"))
    one("lineitem_orphan_orderkey",
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")))
      .unionByName(one("orders_orphan_custkey",
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n"))))
      .unionByName(one("orders_dup_orderkey",
        o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("k"))
          .filter(col("k") > 1).agg(count(lit(1)).as("n"))))
      .unionByName(one("lineitem_null_orderkey",
        li.filter(col("l_orderkey").isNull).agg(count(lit(1)).as("n"))))
  }

  /** Referential-integrity / key-quality audit suite — the relational
    * data-quality checks every warehouse runs before publishing a
    * table set: orphaned FKs (anti-joins), duplicate PKs, null keys.
    * One row per check so the suite extends by union; each check is a
    * single partial-aggregated anti-join or aggregate — no check ever
    * rescans another's work. */
  val q102IntegrityAudit = OpSpec(
    "q102_integrity_audit",
    (s, dir) => integrityAudit(table(s, dir, "lineitem"),
      table(s, dir, "orders"), table(s, dir, "customer")),
    Some("""
      SELECT 'lineitem_orphan_orderkey' AS check, COUNT(*) AS n
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'orders_orphan_custkey', COUNT(*)
      FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'orders_dup_orderkey', COUNT(*)
      FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey
            HAVING COUNT(*) > 1)
      UNION ALL
      SELECT 'lineitem_null_orderkey', COUNT(*)
      FROM lineitem WHERE l_orderkey IS NULL"""))

  /** Order-independent table fingerprint — the replication/migration
    * audit that answers "are these two copies of a 100 TB table
    * identical?" without moving rows: each row is serialized with an
    * INJECTIVE, NULL-aware encoding, hashed, folded to a BIGINT, and
    * combined with commutative aggregates (Mersenne-mod sum, xor,
    * count). ANY row order / partitioning / engine yields the same
    * triple, so two sites compare three numbers. Only integer/string
    * columns enter the serialization — float-to-string formatting is
    * engine-specific, exactly what a portable fingerprint must avoid
    * (doubles would go through exact integer cents first).
    *
    * Field encoding: `N` for NULL, else `V<len>:<value>` — the length
    * prefix makes the row serialization injective even when values
    * contain the join delimiter, and the explicit N/V tag keeps NULL
    * distinct from every real string (including "N"). A naive
    * concat_ws would silently SKIP null fields (collapsing
    * (NULL,'x') with ('x',NULL)) and `||` in the oracle would null
    * the whole row — both non-options for a replication audit. */
  private def chkField(c: String): String =
    s"""CASE WHEN $c IS NULL THEN 'N'
        ELSE 'V' || CAST(LENGTH(CAST($c AS STRING)) AS STRING)
             || ':' || CAST($c AS STRING) END"""

  private[graft] val chkSer = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_orderpriority").map(chkField)
    .mkString(" || '|' || ")

  val q104TableChecksum = OpSpec(
    "q104_table_checksum",
    (s, dir) => {
      table(s, dir, "orders")
        .withColumn("hx", md5(expr(chkSer).cast("binary")))
        .withColumn("hv", expr(
          s"CAST(${DedupOps.hexToLong("hx", 1, 15)} AS BIGINT)"))
        .agg(count(lit(1)).as("n_rows"),
          // sum folded into the 2^61-1 Mersenne field: exact decimal
          // accumulation (a raw BIGINT sum overflows ANSI at ~2^13 rows
          // of 60-bit hashes), one exact mod at the end — commutative,
          // so still order/partitioning-independent
          expr("""CAST(SUM(CAST(hv AS DECIMAL(38,0)))
                  % 2305843009213693951 AS BIGINT)""").as("sum_h"),
          expr("CAST(bit_xor(hv) AS BIGINT)").as("xor_h"))
    },
    Some(s"""
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CAST(hv AS DECIMAL(38,0)))
             % 2305843009213693951 AS BIGINT) AS sum_h,
        CAST(bit_xor(hv) AS BIGINT) AS xor_h
      FROM (SELECT CAST(${DedupOps.hexToLong("hx", 1, 15)} AS BIGINT) AS hv
            FROM (SELECT md5($chkSer) AS hx
                  FROM orders))"""))

  /** Grouped MODE (most frequent value per group) with a PINNED tie
    * rule — engines' built-in mode() leaves ties unspecified (DuckDB
    * documents "first encountered", which is scan-order-dependent), so
    * the deterministic form is the two-level aggregate: count per
    * (group, value), then rank by (count desc, value asc). Both levels
    * partial-aggregate; the shuffle carries one row per distinct
    * (group, value). The mode share is the one exact division. */
  val q111GroupedMode = OpSpec(
    "q111_grouped_mode",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("cnt").desc, col("c_nationkey").asc)
      val wAll = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "customer")
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .withColumn("grp_n", sum(col("cnt")).over(wAll))
        .filter(col("rn") === 1)
        .select(col("c_mktsegment"),
          col("c_nationkey").cast("long").as("mode_nation"),
          col("cnt").as("mode_n"), col("grp_n"),
          (col("cnt").cast("double") / col("grp_n").cast("double"))
            .as("mode_share"))
    },
    Some("""
      SELECT c_mktsegment,
        CAST(c_nationkey AS BIGINT) AS mode_nation,
        cnt AS mode_n, grp_n,
        CAST(cnt AS DOUBLE) / CAST(grp_n AS DOUBLE) AS mode_share
      FROM (
        SELECT c_mktsegment, c_nationkey, cnt,
          ROW_NUMBER() OVER (PARTITION BY c_mktsegment
            ORDER BY cnt DESC, c_nationkey ASC) AS rn,
          CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT)
            AS grp_n
        FROM (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
              FROM customer GROUP BY 1, 2))
      WHERE rn = 1"""))

  /** Partition-level Merkle diff — q104's whole-table fingerprint
    * refined to BUCKET granularity so two 100 TB replicas can LOCALIZE
    * a divergence without moving rows: each site aggregates (count,
    * Mersenne-mod hash sum, hash xor) per `o_orderkey % 64` bucket
    * (the same injective [[chkSer]] row serialization), the 64-row
    * summaries are exchanged, and only buckets whose triples differ
    * need row-level repair. Replica B is simulated by mutating
    * `o_orderstatus` on keys ≡ 0 (mod 997); a NULL-safe full-outer
    * compare keeps buckets that exist on one side only. */
  val q118MerkleDiff = OpSpec(
    "q118_merkle_diff",
    (s, dir) => {
      def sums(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("hx", md5(expr(chkSer).cast("binary")))
        .withColumn("hv", expr(
          s"CAST(${DedupOps.hexToLong("hx", 1, 15)} AS BIGINT)"))
        .withColumn("bucket", col("o_orderkey") % 64)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          expr("""CAST(SUM(CAST(hv AS DECIMAL(38,0)))
                  % 2305843009213693951 AS BIGINT)""").as("sum_h"),
          expr("CAST(bit_xor(hv) AS BIGINT)").as("xor_h"))
      val a = sums(table(s, dir, "orders"))
      val b = sums(table(s, dir, "orders")
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 997 === 0, lit("X"))
            .otherwise(col("o_orderstatus"))))
      a.select(col("bucket"), col("n").as("n_a"),
          col("sum_h").as("sum_a"), col("xor_h").as("xor_a"))
        .join(b.select(col("bucket"), col("n").as("n_b"),
          col("sum_h").as("sum_b"), col("xor_h").as("xor_b")),
          Seq("bucket"), "full_outer")
        .filter(!(col("n_a") <=> col("n_b")) ||
          !(col("sum_a") <=> col("sum_b")) ||
          !(col("xor_a") <=> col("xor_b")))
    },
    Some(s"""
      WITH a AS (
        SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n,
          CAST(SUM(CAST(hv AS DECIMAL(38,0)))
               % 2305843009213693951 AS BIGINT) AS sum_h,
          CAST(bit_xor(hv) AS BIGINT) AS xor_h
        FROM (SELECT o_orderkey,
                CAST(${DedupOps.hexToLong("hx", 1, 15)} AS BIGINT) AS hv
              FROM (SELECT o_orderkey, md5($chkSer) AS hx FROM orders))
        GROUP BY 1),
      b AS (
        SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n,
          CAST(SUM(CAST(hv AS DECIMAL(38,0)))
               % 2305843009213693951 AS BIGINT) AS sum_h,
          CAST(bit_xor(hv) AS BIGINT) AS xor_h
        FROM (SELECT o_orderkey,
                CAST(${DedupOps.hexToLong("hx", 1, 15)} AS BIGINT) AS hv
              FROM (SELECT o_orderkey, md5($chkSer) AS hx
                    FROM (SELECT o_orderkey, o_custkey,
                            CASE WHEN o_orderkey % 997 = 0 THEN 'X'
                                 ELSE o_orderstatus END AS o_orderstatus,
                            o_orderpriority
                          FROM orders)))
        GROUP BY 1)
      SELECT COALESCE(a.bucket, b.bucket) AS bucket,
        a.n AS n_a, a.sum_h AS sum_a, a.xor_h AS xor_a,
        b.n AS n_b, b.sum_h AS sum_b, b.xor_h AS xor_b
      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
      WHERE a.n IS DISTINCT FROM b.n
         OR a.sum_h IS DISTINCT FROM b.sum_h
         OR a.xor_h IS DISTINCT FROM b.xor_h"""))

  /** Six-table revenue rollup (the TPC-H Q5 shape): lineitem ⨝ orders
    * ⨝ customer ⨝ supplier ⨝ nation ⨝ region with the LOCAL-supplier
    * constraint (customer and supplier in the same nation), one region
    * + two-year date slice, revenue per nation. The flagship
    * multi-join: date and region filters push to the scans, nation/
    * region broadcast explicitly, the fact tables shuffle once on
    * orderkey and the supplier join reuses AQE's choice. Revenue is
    * EXACT: price cents × (100 − discount cents) accumulates as
    * DECIMAL integer 4dp units; the single double division happens at
    * emit. */
  val q129RevenueRollup = OpSpec(
    "q129_revenue_rollup",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)").as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                  AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
        .select(col("n_name"), col("n_items"),
          (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
             AS BIGINT) AS DOUBLE) / 1e4 AS revenue
      FROM (SELECT l_orderkey, l_suppkey,
              CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
              CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
            FROM lineitem) l
      JOIN (SELECT o_orderkey, o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') o
        ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY n_name"""))

  /** Order-priority count with a correlated-EXISTS semi join (the
    * TPC-H Q4 shape, late-shipment predicate adapted to this schema's
    * columns): orders in a one-year slice having at least one lineitem
    * shipped more than 60 days after the order date. The EXISTS
    * compiles to a LeftSemi hash join on orderkey with the lateness
    * comparison as a residual touching BOTH sides — the shape Catalyst
    * decorrelates subqueries into. */
  val q130LateOrders = OpSpec(
    "q130_late_orders",
    (s, dir) => {
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >=
            lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1998-01-01 00:00:00").cast("timestamp"))
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
    Some("""
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority"""))

  /** Customer order-count distribution (the TPC-H Q13 shape): LEFT
    * join so zero-order customers stay, count per customer, then the
    * distribution of counts — the double aggregation whose first
    * shuffle keys the customer and whose second is bounded by the
    * count domain, not the row count. */
  val q131CustDist = OpSpec(
    "q131_custdist",
    (s, dir) => {
      table(s, dir, "customer").select(col("c_custkey"))
        .join(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    Some("""
      SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (SELECT c.c_custkey,
              CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey)
      GROUP BY c_count"""))

  /** Benford first-significant-digit audit over order totals — the
    * classic fraud/synthetic-data screen. The digit is extracted with
    * PURE INTEGER arithmetic over exact cents (a CASE ladder by
    * magnitude — no log10, whose rounding engines need not share, and
    * no double-to-string formatting, which they definitely don't);
    * counts are exact, the share is one division. */
  val q136Benford = OpSpec(
    "q136_benford",
    (s, dir) => {
      // cents < 10^k ladder: first digit = cents DIV 10^(k-1)
      val ladder = (18 to 1 by -1).map(k =>
        s"WHEN c >= ${"1" + "0" * (k - 1)}L THEN " +
          s"CAST(c DIV ${"1" + "0" * (k - 1)}L AS BIGINT)")
        .mkString("CASE ", " ", " ELSE 0L END")
      val digits = table(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 1e2) AS BIGINT)").as("c"))
        .filter(col("c") > 0)
        .withColumn("digit", expr(ladder))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = digits.agg(sum(col("n")).as("total"))
      digits.crossJoin(broadcast(total)) // 1-row scalar, ≤9-row left side
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("total").cast("double"))
            .as("share"))
    },
    Some {
      val ladder = (18 to 1 by -1).map(k =>
        s"WHEN c >= ${"1" + "0" * (k - 1)} THEN " +
          s"CAST(c // ${"1" + "0" * (k - 1)} AS BIGINT)")
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""
      WITH d AS (
        SELECT $ladder AS digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT CAST(round(o_totalprice * 1e2) AS BIGINT) AS c
              FROM orders)
        WHERE c > 0
        GROUP BY 1),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d)
      SELECT digit, n,
        CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
      FROM d CROSS JOIN t"""
    })

  /** Top-N-with-OTHERS report: the three highest-revenue nations keep
    * their names, everything else folds into one OTHER row — the
    * long-tail rollup every dashboard leads with. The top-3 cut is a
    * sort+limit over the ~25-row nation aggregate (TakeOrdered, no
    * global window), rebadged via a broadcast LEFT join; revenue is
    * exact integer cents end to end. */
  val q141TopNOthers = OpSpec(
    "q141_topn_others",
    (s, dir) => {
      val perNation = table(s, dir, "orders")
        .join(table(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          expr("""CAST(SUM(CAST(round(o_totalprice * 1e2) AS BIGINT))
                  AS BIGINT)""").as("rev_c"))
      val top = perNation
        .orderBy(col("rev_c").desc, col("n_name").asc).limit(3)
        .select(col("n_name"), lit(true).as("is_top"))
      perNation.join(broadcast(top), Seq("n_name"), "left")
        .select(
          when(col("is_top"), col("n_name")).otherwise("OTHER")
            .as("bucket"),
          col("n_orders"), col("rev_c"))
        .groupBy(col("bucket"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("rev_c")).as("rev_c"))
        .select(col("bucket"), col("n_orders"),
          (col("rev_c").cast("double") / 1e2).as("revenue"))
    },
    Some("""
      WITH per_nation AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(CAST(round(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
            AS rev_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name),
      top AS (SELECT n_name FROM per_nation
              ORDER BY rev_c DESC, n_name ASC LIMIT 3)
      SELECT bucket, CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        CAST(CAST(SUM(rev_c) AS BIGINT) AS DOUBLE) / 1e2 AS revenue
      FROM (SELECT CASE WHEN t.n_name IS NOT NULL THEN p.n_name
                        ELSE 'OTHER' END AS bucket,
                   p.n_orders, p.rev_c
            FROM per_nation p LEFT JOIN top t ON t.n_name = p.n_name)
      GROUP BY bucket"""))

  /** Join-key skew diagnostics — the report an operator consults
    * BEFORE choosing salting (ops.Skew) or AQE hints: per-key counts
    * for the supplier key, the global key/row totals, the skew factor
    * max/avg (exact integer cross-product), and the five heaviest
    * keys. One aggregate + one sort-limit head + one 1-row scalar
    * broadcast; output bounded at 5 rows regardless of fact size. */
  val q144SkewReport = OpSpec(
    "q144_skew_report",
    (s, dir) => {
      val counts = table(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"), max(col("cnt")).as("max_cnt"))
      counts.orderBy(col("cnt").desc, col("l_suppkey").asc).limit(5)
        .crossJoin(broadcast(stats))
        .select(col("l_suppkey").cast("long").as("hot_key"), col("cnt"),
          col("n_keys"), col("n_rows"),
          expr("""CAST(max_cnt * n_keys AS DOUBLE)
                  / CAST(n_rows AS DOUBLE)""").as("skew_factor"))
    },
    Some("""
      WITH counts AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(cnt) AS BIGINT) AS n_rows,
          CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM counts)
      SELECT CAST(l_suppkey AS BIGINT) AS hot_key, cnt, n_keys, n_rows,
        CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
          AS skew_factor
      FROM (SELECT * FROM counts ORDER BY cnt DESC, l_suppkey ASC
            LIMIT 5) h
      CROSS JOIN stats"""))

  /** Join-cardinality forecast — predict |A ⨝ B| from per-key counts
    * BEFORE running the join (the 100 TB guard against key-explosion:
    * Σ_k cnt_A(k)·cnt_B(k), computed from two key aggregates whose
    * size is |keys|, not |rows|). The forecast is EXACT for an
    * equi-join, so the query also runs the real join count and the
    * gate proves predicted == actual — the property that makes the
    * forecast trustworthy as a pre-flight check. */
  val q145JoinForecast = OpSpec(
    "q145_join_forecast",
    (s, dir) => {
      val ca = table(s, dir, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val cb = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      val predicted = ca.join(cb, "k")
        .agg(count(lit(1)).as("n_shared_keys"),
          expr("""CAST(SUM(CAST(ca AS DECIMAL(38,0))
                  * CAST(cb AS DECIMAL(38,0))) AS BIGINT)""")
            .as("predicted_rows"))
      val actual = table(s, dir, "orders")
        .join(table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("actual_rows"))
      predicted.crossJoin(broadcast(actual))
    },
    Some("""
      WITH ca AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS ca
                  FROM orders GROUP BY 1),
      cb AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
             FROM lineitem GROUP BY 1),
      p AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
          CAST(SUM(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)))
            AS BIGINT) AS predicted_rows
        FROM ca JOIN cb USING (k)),
      a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
      SELECT * FROM p CROSS JOIN a"""))

  /** Cross-nation shipping volume by year — the TPC-H Q7 shape: the
    * six-table join (lineitem→orders→customer + lineitem→supplier,
    * nation on BOTH legs) restricted to cross-shipments within a
    * four-nation trading bloc, revenue per (supp_nation, cust_nation,
    * year). The two nation dimensions broadcast; the bloc predicate
    * rides the broadcast joins as a residual filter, so the big
    * tables still join on their natural keys only. Revenue
    * accumulates in exact cents·(100−disc) DECIMAL (the q129
    * recipe); the year comes from the SHIP date (the event's time,
    * not the order's). */
  val q155NationVolume = OpSpec(
    "q155_nation_volume",
    (s, dir) => {
      val bloc = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") <
            lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)").as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n1 = table(s, dir, "nation")
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = table(s, dir, "nation")
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter(col("supp_nation").isin(bloc: _*) &&
          col("cust_nation").isin(bloc: _*) &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(count(lit(1)).as("n_items"),
          expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                  AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
        .select(col("supp_nation"), col("cust_nation"), col("l_year"),
          col("n_items"), (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(CAST(SUM(CAST(
              CAST(round(l.l_extendedprice * 1e2) AS BIGINT)
              * (100 - CAST(round(l.l_discount * 1e2) AS BIGINT))
            AS DECIMAL(38,0))) AS BIGINT) AS DOUBLE) / 1e4 AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
        AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
        AND n1.n_name <> n2.n_name
      GROUP BY 1, 2, 3"""))

  /** Frequently-bought-together pairs — market-basket co-occurrence
    * over order lines: distinct (order, part) rows self-join on the
    * ORDER key (bucket size = parts per order, single digits — never
    * a corpus-scale bucket), each ordered part pair counts its
    * supporting orders, top 20 by support. The final top-k is
    * orderBy+limit = TakeOrderedAndProject (per-partition heads,
    * driver merge) — no global sort of the pair table. The q106
    * collocation shape on transactional data. */
  val q161Copurchase = OpSpec(
    "q161_copurchase",
    (s, dir) => {
      val lines = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      lines.as("a").join(lines.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"),
          col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("part_a").asc, col("part_b").asc)
        .limit(20)
    },
    Some("""
      WITH lines AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        CAST(COUNT(*) AS BIGINT) AS support
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY support DESC, part_a ASC, part_b ASC
      LIMIT 20"""))

  /** The FULL TPC-H Q1 pricing summary (q01 carries only the sum-qty
    * shape): per (returnflag, linestatus) over shipped-by-cutoff
    * lines — quantities, base price, discounted price, charge
    * (price·(1−disc)·(1+tax)), three means, and the row count. Every
    * monetary sum accumulates as exact integer cents products in
    * DECIMAL(38,0) (disc/tax are 2-dp, so price·(100−d) and
    * price·(100−d)·(100+t) are exact at 10⁴/10⁶ scale); means divide
    * the exact sums by the exact count once at emit, so both engines
    * round identically. One scan, one partial-aggregated shuffle on a
    * 6-value group key — the canonical columnar-scan aggregate. */
  val q165PricingSummary = OpSpec(
    "q165_pricing_summary",
    (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <=
          lit("2000-09-02 00:00:00").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_quantity * 1e2) AS BIGINT)").as("qty_c"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)").as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"),
          expr("CAST(round(l_tax * 1e2) AS BIGINT)").as("tax_c"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("CAST(SUM(qty_c) AS DOUBLE) / 1e2").as("sum_qty"),
          expr("CAST(SUM(price_c) AS DOUBLE) / 1e2").as("sum_base_price"),
          expr("""CAST(CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT) AS DOUBLE) / 1e4""")
            .as("sum_disc_price"),
          expr("""CAST(CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0)) * (100 + tax_c)) AS BIGINT) AS DOUBLE)
                / 1e6""").as("sum_charge"),
          expr("CAST(SUM(qty_c) AS DOUBLE) / 1e2 / COUNT(*)").as("avg_qty"),
          expr("CAST(SUM(price_c) AS DOUBLE) / 1e2 / COUNT(*)")
            .as("avg_price"),
          expr("CAST(SUM(disc_c) AS DOUBLE) / 1e2 / COUNT(*)").as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(qty_c) AS DOUBLE) / 1e2 AS sum_qty,
        CAST(SUM(price_c) AS DOUBLE) / 1e2 AS sum_base_price,
        CAST(CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
          AS BIGINT) AS DOUBLE) / 1e4 AS sum_disc_price,
        CAST(CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))
          * (100 + tax_c)) AS BIGINT) AS DOUBLE) / 1e6 AS sum_charge,
        CAST(SUM(qty_c) AS DOUBLE) / 1e2 / COUNT(*) AS avg_qty,
        CAST(SUM(price_c) AS DOUBLE) / 1e2 / COUNT(*) AS avg_price,
        CAST(SUM(disc_c) AS DOUBLE) / 1e2 / COUNT(*) AS avg_disc,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM (
        SELECT l_returnflag, l_linestatus,
          CAST(round(l_quantity * 1e2) AS BIGINT) AS qty_c,
          CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
          CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c,
          CAST(round(l_tax * 1e2) AS BIGINT) AS tax_c
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00')
      GROUP BY l_returnflag, l_linestatus"""))

  /** q193: association rules with confidence and lift — the q161
    * co-occurrence counts upgraded to the metrics a recommender
    * actually ranks by: confidence(a→b) = s_ab/s_a and lift =
    * s_ab·N/(s_a·s_b), every factor an exact integer count (pair
    * support from the order self-join, item supports from one
    * distinct-pass, N = basket count), divided once at emit. Both rule
    * directions are emitted per qualifying pair (confidence is
    * asymmetric); support floor ≥ 2 keeps noise rules out; top 20 by
    * lift with a total tie-break. Scale: q161's equi-join shapes plus
    * two broadcast support joins — never an all-pairs structure. */
  val q193LiftRules = OpSpec(
    "q193_lift_rules",
    (s, dir) => {
      val lines = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct().persist()
      val nOrders = lines.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val supp = lines.groupBy(col("l_partkey").as("item"))
        .agg(count(lit(1)).as("s_item"))
      val pairs = lines.as("a").join(lines.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("s_ab")).filter(col("s_ab") >= 2)
      val rules = pairs
        .select(col("pa").as("antecedent"), col("pb").as("consequent"),
          col("s_ab"))
        .union(pairs.select(col("pb"), col("pa"), col("s_ab")))
      rules
        .join(supp.select(col("item").as("antecedent"),
          col("s_item").as("s_a")), "antecedent")
        .join(supp.select(col("item").as("consequent"),
          col("s_item").as("s_b")), "consequent")
        .crossJoin(broadcast(nOrders))
        .select(col("antecedent"), col("consequent"), col("s_ab"),
          col("s_a"), col("s_b"),
          (col("s_ab").cast("double") / col("s_a").cast("double"))
            .as("confidence"),
          expr("""CAST(s_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
                  / (CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE))""")
            .as("lift"))
        .orderBy(col("lift").desc, col("antecedent").asc,
          col("consequent").asc)
        .limit(20)
    },
    Some("""
      WITH lines AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lines),
      supp AS (SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT)
                 AS s_item
               FROM lines GROUP BY 1),
      pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
          CAST(COUNT(*) AS BIGINT) AS s_ab
        FROM lines a JOIN lines b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      rules AS (
        SELECT pa AS antecedent, pb AS consequent, s_ab FROM pairs
        UNION ALL
        SELECT pb, pa, s_ab FROM pairs)
      SELECT r.antecedent, r.consequent, r.s_ab,
        sa.s_item AS s_a, sb.s_item AS s_b,
        CAST(r.s_ab AS DOUBLE) / CAST(sa.s_item AS DOUBLE) AS confidence,
        CAST(r.s_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
          / (CAST(sa.s_item AS DOUBLE) * CAST(sb.s_item AS DOUBLE))
          AS lift
      FROM rules r
      JOIN supp sa ON sa.item = r.antecedent
      JOIN supp sb ON sb.item = r.consequent
      CROSS JOIN n
      ORDER BY lift DESC, antecedent ASC, consequent ASC
      LIMIT 20"""))

  /** Shipping-priority top-10 (the TPC-H Q3 shape, minus the schema's
    * absent o_shippriority): one market segment's customers SEMI-join
    * into the pre-cutoff orders, the post-cutoff lineitems shuffle
    * once on orderkey, and revenue accumulates as exact 4-dp DECIMAL
    * integer units. The top-10 ORDERS ON THE EXACT INTEGER revenue
    * (tie to orderkey), so the limit boundary can never depend on
    * double rounding; the double is emitted after selection. Both
    * date filters push to the scans; the plan is scan→scan→one
    * shuffle→TakeOrdered. */
  val q222ShippingPriority = OpSpec(
    "q222_shipping_priority",
    (s, dir) => {
      val cutoff = lit("1997-03-15 00:00:00").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"),
          "left_semi")
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
        .orderBy(col("rev_4dp").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      WITH r AS (
        SELECT l.l_orderkey, o.o_orderdate,
          CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
            AS BIGINT) AS rev_4dp
        FROM (SELECT l_orderkey,
                CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
                CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
              FROM lineitem
              WHERE l_shipdate > TIMESTAMP '1997-03-15 00:00:00') l
        JOIN (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
              WHERE o_orderdate < TIMESTAMP '1997-03-15 00:00:00') o
          ON l.l_orderkey = o.o_orderkey
        WHERE EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_mktsegment = 'BUILDING')
        GROUP BY 1, 2)
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        CAST(rev_4dp AS DOUBLE) / 1e4 AS revenue
      FROM r
      ORDER BY rev_4dp DESC, l_orderkey ASC
      LIMIT 10"""))

  /** Returned-item revenue top-20 (the TPC-H Q10 shape): one quarter's
    * orders join their RETURNED lineitems, roll up per customer with
    * the nation dim broadcast, and rank by exact integer revenue
    * (tie to custkey) before the double is emitted. The returnflag
    * and date filters push to the scans; the customer join precedes
    * the aggregation because the customer IS the group key. */
  val q223ReturnedItems = OpSpec(
    "q223_returned_items",
    (s, dir) => {
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >=
            lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1997-04-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
      val n = table(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
        .orderBy(col("rev_4dp").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("c_acctbal"),
          (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      WITH r AS (
        SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
          CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
            AS BIGINT) AS rev_4dp
        FROM (SELECT l_orderkey,
                CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
                CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
              FROM lineitem WHERE l_returnflag = 'R') l
        JOIN (SELECT o_orderkey, o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00') o
          ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2, 3, 4)
      SELECT c_custkey, c_name, n_name, c_acctbal,
        CAST(rev_4dp AS DOUBLE) / 1e4 AS revenue
      FROM r
      ORDER BY rev_4dp DESC, c_custkey ASC
      LIMIT 20"""))

  /** Suppliers-who-kept-waiting (the TPC-H Q21 shape, lateness adapted
    * to this schema as q130's ship-more-than-60-days-after-order):
    * for finalized orders, a supplier's late lineitem counts only if
    * the order has ANOTHER supplier's lineitem (semi join) and NO
    * other supplier's late lineitem (anti join) — the double
    * correlated EXISTS/NOT EXISTS on the SAME fact table that makes
    * Q21 the canonical anti+semi planning stress. Both the semi and
    * anti sides are equi-joins on orderkey with the supplier
    * inequality as a hash-join residual; the late set's DEFINITION is
    * shared between the probe and the anti side (the physical plan may
    * recompute the unpersisted subtree for each reference — Catalyst
    * exchange reuse decides, not this code); nation filters
    * via a broadcast semi join. Count ranks on exact integers. */
  val q224SuppliersWaiting = OpSpec(
    "q224_suppliers_waiting",
    (s, dir) => {
      val ord = table(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val late = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val anyOther = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("a_orderkey"),
          col("l_suppkey").as("a_suppkey"))
      val waiting = late
        .join(anyOther,
          col("l_orderkey") === col("a_orderkey") &&
            col("a_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(late.select(col("l_orderkey").as("b_orderkey"),
          col("l_suppkey").as("b_suppkey")),
          col("l_orderkey") === col("b_orderkey") &&
            col("b_suppkey") =!= col("l_suppkey"), "left_anti")
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      val n = table(s, dir, "nation")
        .filter(col("n_name") === "NATION_3")
      waiting
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    },
    Some("""
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
                   AND o.o_orderstatus = 'F'
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
                   AND n.n_name = 'NATION_3'
      WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate >
                              o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name ASC
      LIMIT 100"""))

  /** Nation-pair trade volume (the TPC-H Q7 shape): revenue shipped
    * between two nations in each direction, per ship year. Both
    * nation dims filter to the TWO named nations BEFORE the fact
    * joins (2-row broadcasts — the supplier and customer joins then
    * prune to the two nations' rows), and only the direction
    * predicate remains post-join. Ship-date slice pushes to the
    * lineitem scan; revenue is the exact 4-dp DECIMAL recipe. */
  val q225NationTrade = OpSpec(
    "q225_nation_trade",
    (s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") <
            lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val n1 = table(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
      val n2 = table(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))
      li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(count(lit(1)).as("n_items"),
          expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
        .select(col("supp_nation"), col("cust_nation"), col("l_year"),
          col("n_items"),
          (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(CAST(SUM(CAST(
            CAST(round(l.l_extendedprice * 1e2) AS BIGINT)
            * (100 - CAST(round(l.l_discount * 1e2) AS BIGINT))
          AS DECIMAL(38,0))) AS BIGINT) AS DOUBLE) / 1e4 AS revenue
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
      GROUP BY 1, 2, 3"""))

  /** National market share (the TPC-H Q8 shape): among one part
    * type's lineitems sold to one region's customers over two order
    * years, the share of revenue supplied by one nation, per year.
    * Share = exact-integer nation revenue / exact-integer total, one
    * correctly-rounded double division at emit — both engines agree
    * bit-for-bit because the operands are exact BIGINTs. The part
    * type filter broadcasts as a semi join; the region restriction
    * semi-joins customers through the broadcast nation→region dims;
    * supplier nations ride a broadcast dim for the CASE. */
  val q226MarketShare = OpSpec(
    "q226_market_share",
    (s, dir) => {
      val p = table(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val nat = table(s, dir, "nation")
      val reg = table(s, dir, "region").filter(col("r_name") === "ASIA")
      val custAsia = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nat.select(col("n_nationkey"),
          col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"),
          "left_semi")
        .select(col("c_custkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .join(custAsia, col("o_custkey") === col("c_custkey"),
          "left_semi")
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val sn = nat.select(col("n_nationkey").as("sn_nk"),
        col("n_name").as("supp_nation"))
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_nk"))
        .groupBy(col("o_year"))
        .agg(
          expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT)""").as("total_4dp"),
          expr("""CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                THEN CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT)""")
            .as("nation_4dp"))
        .select(col("o_year"), col("total_4dp"), col("nation_4dp"),
          (col("nation_4dp").cast("double")
            / col("total_4dp").cast("double")).as("mkt_share"))
    },
    Some("""
      WITH f AS (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)
            AS o_year,
          CAST(round(l.l_extendedprice * 1e2) AS BIGINT) AS price_c,
          CAST(round(l.l_discount * 1e2) AS BIGINT) AS disc_c,
          n1.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey
                        AND p.p_type = 'PROMO')
          AND EXISTS (SELECT 1 FROM customer c
                      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
                      JOIN region r ON r.r_regionkey = n2.n_regionkey
                      WHERE c.c_custkey = o.o_custkey
                        AND r.r_name = 'ASIA'))
      SELECT o_year,
        CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
          AS BIGINT) AS total_4dp,
        CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
          THEN CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))
          ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS nation_4dp,
        CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
          THEN CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))
          ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS DOUBLE)
        / CAST(CAST(SUM(CAST(price_c * (100 - disc_c)
          AS DECIMAL(38,0))) AS BIGINT) AS DOUBLE) AS mkt_share
      FROM f
      GROUP BY o_year"""))

  /** Discounted-revenue with DISJUNCTIVE part predicates (the TPC-H
    * Q19 shape): one lineitem⨝part equi-join whose residual is an OR
    * of three (brand, size-band, quantity-band) conjuncts — the plan
    * class where the optimizer must extract the COMMON subexpressions
    * of a disjunction for pushdown (each side keeps its own pushable
    * conjuncts: quantity bounds on the lineitem scan, size floor on
    * the part scan) while the cross-table OR stays a join residual.
    * Part side broadcasts; revenue is the exact 4-dp recipe. The
    * quantity bands COMPARE raw doubles against exactly-representable
    * literals — comparisons involve no arithmetic, so they are
    * engine-exact AND parquet-pushable (an exact-cents rewrite would
    * be equally exact but unpushable, the wrong trade for a scan
    * predicate). */
  val q233DisjunctiveRevenue = OpSpec(
    "q233_disjunctive_revenue",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .filter(col("l_quantity") >= 1.0 && col("l_quantity") <= 30.0)
        .select(col("l_partkey"), col("l_quantity"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      val p = table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .filter(col("p_size") >= 1)
      val arm1 = col("p_brand") === "Brand#11" &&
        col("p_size") <= 15 && col("l_quantity") <= 11.0
      val arm2 = col("p_brand") === "Brand#22" &&
        col("p_size") <= 25 && col("l_quantity") >= 5.0 &&
        col("l_quantity") <= 20.0
      val arm3 = col("p_brand") === "Brand#33" &&
        col("p_size") <= 35 && col("l_quantity") >= 9.0
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(count(lit(1)).as("n_items"),
          expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
        .select(col("n_items"),
          (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
          AS BIGINT) AS DOUBLE) / 1e4 AS revenue
      FROM (SELECT l_partkey, l_quantity,
              CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
              CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
            FROM lineitem) l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity >= 1e0 AND l.l_quantity <= 3e1
        AND p.p_size >= 1
        AND ((p.p_brand = 'Brand#11' AND p.p_size <= 15
              AND l.l_quantity <= 11e0)
          OR (p.p_brand = 'Brand#22' AND p.p_size <= 25
              AND l.l_quantity >= 5e0 AND l.l_quantity <= 2e1)
          OR (p.p_brand = 'Brand#33' AND p.p_size <= 35
              AND l.l_quantity >= 9e0))"""))

  /** Small-order revenue for one brand (the TPC-H Q17 shape): lines
    * whose quantity is below a fifth of their PART's average — the
    * correlated-aggregate class Catalyst decorrelates into a per-part
    * aggregate joined back to the fact. The threshold test is PURE
    * INTEGER: qty < (Σqty/n)/5 ⟺ 5·qty_c·n < Σqty_c over exact
    * quantity cents, so no double ever enters the predicate. The
    * per-part aggregate runs over the brand-restricted lines only
    * (broadcast semi join before BOTH sides — at 100 TB the
    * decorrelated aggregate must not scan every part). */
  val q234SmallOrderRevenue = OpSpec(
    "q234_small_order_revenue",
    (s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"),
          expr("CAST(round(l_quantity * 1e2) AS BIGINT)").as("qty_c"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"),
          "left_semi")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n_part"),
          sum(col("qty_c")).as("sum_qc"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(lit(5L) * col("qty_c") * col("n_part") < col("sum_qc"))
        .agg(count(lit(1)).as("n_small"),
          expr("CAST(SUM(price_c) AS BIGINT)").as("rev_2dp"))
        .select(col("n_small"),
          (col("rev_2dp").cast("double") / 1e2).as("revenue"))
    },
    Some("""
      WITH li AS (
        SELECT l_partkey,
          CAST(round(l_quantity * 1e2) AS BIGINT) AS qty_c,
          CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c
        FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey
                        AND p.p_brand = 'Brand#23')),
      pp AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS n_part,
               CAST(SUM(qty_c) AS BIGINT) AS sum_qc
             FROM li GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
        CAST(CAST(SUM(li.price_c) AS BIGINT) AS DOUBLE) / 1e2
          AS revenue
      FROM li JOIN pp ON pp.pk = li.l_partkey
      WHERE 5 * li.qty_c * pp.n_part < pp.sum_qc"""))

  /** Idle high-balance customers (the TPC-H Q22 shape, nation instead
    * of the schema's absent phone country code): customers whose
    * balance exceeds the average POSITIVE balance and who placed no
    * RECENT orders (none since 2000 — this corpus leaves almost no
    * customer entirely order-free, so the classic no-orders-ever form
    * would gate on an empty result) — a 1-row scalar-aggregate
    * broadcast plus an anti join with a pushed date filter, rolled up
    * per nation. The threshold compare is raw-double vs an
    * exactly-derived average (exact cent sum / exact count, one
    * correctly-rounded division), so both engines admit identical
    * customers. */
  val q235IdleCustomers = OpSpec(
    "q235_idle_customers",
    (s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          expr("CAST(round(c_acctbal * 1e2) AS BIGINT)").as("bal_c"))
      val avgPos = c.filter(col("bal_c") > 0L)
        .agg((sum(col("bal_c")).cast("double")
          / (count(lit(1)) * lit(100L)).cast("double")).as("avg_bal"))
      val idle = c
        .crossJoin(broadcast(avgPos))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(table(s, dir, "orders")
          .filter(col("o_orderdate") >=
            lit("2000-01-01 00:00:00").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
      idle.groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          expr("CAST(SUM(bal_c) AS BIGINT)").as("bal_2dp"))
        .select(col("nationkey"), col("n_cust"),
          (col("bal_2dp").cast("double") / 1e2).as("total_bal"))
    },
    Some("""
      WITH c AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
          CAST(round(c_acctbal * 1e2) AS BIGINT) AS bal_c
        FROM customer),
      a AS (
        SELECT CAST(SUM(bal_c) AS DOUBLE)
             / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_bal
        FROM c WHERE bal_c > 0)
      SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
        CAST(COUNT(*) AS BIGINT) AS n_cust,
        CAST(CAST(SUM(c.bal_c) AS BIGINT) AS DOUBLE) / 1e2
          AS total_bal
      FROM c, a
      WHERE c.c_acctbal > a.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >=
                              TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY 1"""))

  /** Top-revenue supplier (the TPC-H Q15 shape): the revenue "view" —
    * one quarter's exact 4-dp revenue per supplier — is referenced
    * twice, once as the ranking base and once under a scalar MAX, and
    * the winner(s) are selected by EQUALITY against that 1-row
    * broadcast scalar: the view-max decorrelation class (Q15's
    * CREATE VIEW + WHERE total = (SELECT MAX...)). The equality
    * compares EXACT INTEGERS (4-dp revenue units), so the winner set
    * can never depend on double rounding — the double is emitted
    * after selection. Ship-date bounds push to the scan. */
  val q243TopSupplier = OpSpec(
    "q243_top_supplier",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            lit("1998-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") <
            lit("1998-04-01 00:00:00").cast("timestamp"))
        .select(col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      val rev = li.groupBy(col("l_suppkey"))
        .agg(expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
                AS DECIMAL(38,0))) AS BIGINT)""").as("rev_4dp"))
      val mx = rev.agg(max(col("rev_4dp")).as("mx"))
      rev.join(broadcast(mx), col("rev_4dp") === col("mx"))
        .join(table(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_4dp").cast("double") / 1e4).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey,
          CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
            AS BIGINT) AS rev_4dp
        FROM (SELECT l_suppkey,
                CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
                CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00')
        GROUP BY 1)
      SELECT s.s_suppkey, s.s_name,
        CAST(r.rev_4dp AS DOUBLE) / 1e4 AS total_revenue
      FROM rev r
      JOIN supplier s ON s.s_suppkey = r.l_suppkey
      WHERE r.rev_4dp = (SELECT MAX(rev_4dp) FROM rev)
      ORDER BY s.s_suppkey"""))

  /** Minimum-cost supplier per part (the TPC-H Q2 shape, lineitem
    * price standing in for the schema's absent partsupp supplycost):
    * for each STANDARD size-5 part, the ASIA-region supplier(s)
    * offering it cheapest — the correlated per-group scalar-MIN
    * decorrelated into a grouped MIN joined back by EQUALITY on the
    * measure. The min and the equality are COMPARES of raw parquet
    * doubles (no arithmetic), so both engines admit identical rows;
    * region restriction lands BEFORE the min (the correlation's own
    * filter), part filters push to the part scan and semi-prune the
    * fact scan. DISTINCT because several lineitems can tie at the
    * min for the same (part, supplier). */
  val q244MinCostSupplier = OpSpec(
    "q244_min_cost_supplier",
    (s, dir) => {
      val rsup = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
          .join(broadcast(table(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"), "left_semi")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val pp = table(s, dir, "part")
        .filter(col("p_size") === 5 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      val el = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
        .join(broadcast(pp.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(rsup.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
      val mc = el.groupBy(col("l_partkey"))
        .agg(min(col("l_extendedprice")).as("min_cost"))
      el.join(mc.select(col("l_partkey").as("m_partkey"),
          col("min_cost")),
          col("l_partkey") === col("m_partkey") &&
            col("l_extendedprice") === col("min_cost"))
        .join(broadcast(rsup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          col("l_extendedprice").as("supply_cost"))
        .distinct()
        .orderBy(col("s_acctbal").desc, col("n_name").asc,
          col("s_name").asc, col("p_partkey").asc)
        .limit(100)
    },
    Some("""
      WITH rsup AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
                     AND r.r_name = 'ASIA'),
      pp AS (SELECT p_partkey, p_name FROM part
             WHERE p_size = 5 AND p_type = 'STANDARD'),
      el AS (
        SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
        FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM rsup s
                      WHERE s.s_suppkey = l.l_suppkey)
          AND EXISTS (SELECT 1 FROM pp
                      WHERE pp.p_partkey = l.l_partkey)),
      mc AS (SELECT l_partkey, MIN(l_extendedprice) AS min_cost
             FROM el GROUP BY 1)
      SELECT DISTINCT s.s_acctbal, s.s_name, s.n_name,
        p.p_partkey, p.p_name, e.l_extendedprice AS supply_cost
      FROM el e
      JOIN mc ON mc.l_partkey = e.l_partkey
             AND e.l_extendedprice = mc.min_cost
      JOIN rsup s ON s.s_suppkey = e.l_suppkey
      JOIN pp p ON p.p_partkey = e.l_partkey
      ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
      LIMIT 100"""))

  /** Dominant part suppliers (the TPC-H Q20 shape, shipped share
    * standing in for the schema's absent availqty-vs-shipments test):
    * NATION_3 suppliers who, for SOME part, shipped more than a
    * quarter of that part's 1997 volume — the nested semi-join whose
    * inner block carries a CORRELATED AGGREGATE (Q20's HAVING-over-
    * correlated-SUM decorrelation class; q224/q234 cover EXISTS and
    * scalar-avg, this is the grouped-threshold variant). Decorrelated
    * as per-(supplier, part) sums equi-joined to per-part totals; the
    * threshold compares EXACT integer quantities (4·sup > total), and
    * the outer block is a semi join so a supplier dominating several
    * parts emits once. Date bounds push to both scans of the fact. */
  val q245DominantSuppliers = OpSpec(
    "q245_dominant_suppliers",
    (s, dir) => {
      val lo = lit("1997-01-01 00:00:00").cast("timestamp")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp")
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_suppkey"), col("l_partkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty_i"))
      val sp = li.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("qty_i")).as("sup_qty"))
      val pt = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty_i")).as("part_qty"))
      val dom = sp.join(pt, "l_partkey")
        .filter(col("sup_qty") * 4 > col("part_qty"))
        .select(col("l_suppkey"))
      table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },
    Some("""
      SELECT s.s_name, s.s_acctbal
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
                   AND n.n_name = 'NATION_3'
      WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING 4 * SUM(CAST(round(l.l_quantity) AS BIGINT)) >
          (SELECT SUM(CAST(round(l2.l_quantity) AS BIGINT))
           FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey
             AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l2.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
      ORDER BY s.s_name"""))

  /** Large-volume orders (the TPC-H Q18 shape): orders whose total
    * lineitem quantity exceeds a threshold — the IN-over-grouped-
    * HAVING subquery on the SAME fact the outer block joins (Q18's
    * signature double use of lineitem). Decorrelated as ONE grouped
    * exact-integer quantity sum that serves both as the IN-filter and
    * the output's sum_qty column (the optimizer-friendly form of the
    * self-referencing subquery); customer dim joined after the
    * restriction; top-100 on raw o_totalprice (compare only, orderkey
    * tie) so the limit boundary is engine-exact. */
  val q249LargeOrders = OpSpec(
    "q249_large_orders",
    (s, dir) => {
      val big = table(s, dir, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty_i"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("qty_i")).as("sum_qty"))
        .filter(col("sum_qty") > 300L)
      table(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer")
            .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
    },
    Some("""
      WITH big AS (
        SELECT l_orderkey,
          CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
            AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 300)
      SELECT c.c_name, c.c_custkey, o.o_orderkey,
        strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        o.o_totalprice, b.sum_qty
      FROM orders o
      JOIN big b ON b.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
      LIMIT 100"""))

  /** Supplier-variety count (the TPC-H Q16 shape, lineitem supplier
    * links standing in for the absent partsupp): per (brand, type,
    * size) over a size slice, how many DISTINCT suppliers ship the
    * part — excluding "complaint" suppliers (negative balance) via
    * NOT IN, the anti-join class q04 covers for resume but here
    * feeding a distinct-aggregate. The exclusion set is a broadcast
    * anti join (suppkeys are non-null, so NOT IN == anti join);
    * p_size IN (...) and the brand exclusion push to the part scan. */
  val q250SupplierVariety = OpSpec(
    "q250_supplier_variety",
    (s, dir) => {
      val pp = table(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 3, 5, 7))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"))
      val bad = table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
      table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"),
          col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    Some("""
      SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
        CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#1'
        AND p.p_size IN (1, 3, 5, 7)
        AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0e0)
      GROUP BY 1, 2, 3"""))

  /** Promo revenue share (the TPC-H Q14 shape): one month's revenue
    * split by part type through a conditional aggregate — the
    * CASE-inside-SUM class. Both the promo slice and the total
    * accumulate as exact 4-dp integers; the share is exact-int × 100
    * (still < 2^53, so the double is exact) over exact-int in ONE
    * correctly-rounded division — no double accumulation anywhere.
    * Part dim broadcast; date bounds pushed to the fact scan. */
  val q251PromoShare = OpSpec(
    "q251_promo_share",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            lit("1997-06-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") <
            lit("1997-07-01 00:00:00").cast("timestamp"))
        .select(col("l_partkey"),
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
      li.join(broadcast(table(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          expr("""CAST(SUM(CASE WHEN p_type = 'PROMO'
              THEN CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))
              ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT)""")
            .as("promo_4dp"),
          expr("""CAST(SUM(CAST(price_c * (100 - disc_c)
              AS DECIMAL(38,0))) AS BIGINT)""").as("total_4dp"))
        .select(
          (col("promo_4dp").cast("double") * 1e2
            / col("total_4dp").cast("double")).as("promo_share"),
          (col("promo_4dp").cast("double") / 1e4).as("promo_revenue"),
          (col("total_4dp").cast("double") / 1e4).as("total_revenue"))
    },
    Some("""
      SELECT CAST(promo_4dp AS DOUBLE) * 1e2 / CAST(total_4dp AS DOUBLE)
          AS promo_share,
        CAST(promo_4dp AS DOUBLE) / 1e4 AS promo_revenue,
        CAST(total_4dp AS DOUBLE) / 1e4 AS total_revenue
      FROM (
        SELECT
          CAST(SUM(CASE WHEN p.p_type = 'PROMO'
            THEN CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))
            ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS promo_4dp,
          CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0)))
            AS BIGINT) AS total_4dp
        FROM (SELECT l_partkey,
                CAST(round(l_extendedprice * 1e2) AS BIGINT) AS price_c,
                CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00') l
        JOIN part p ON p.p_partkey = l.l_partkey)"""))

  /** Priority split per return flag (the TPC-H Q12 shape, returnflag
    * standing in for the schema's absent shipmode): for a ship-year
    * window, per flag, how many lineitems belong to high- vs
    * low-priority orders — the dual CASE-count aggregate over a fact ⋈
    * dim join. Pure integer counts; the priority predicate is a
    * residual on the hash join, the date bounds push to the fact
    * scan. */
  val q252PrioritySplit = OpSpec(
    "q252_priority_split",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") <
            lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"))
      li.join(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("""CAST(SUM(CASE WHEN o_orderpriority IN
              ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)""")
            .as("high_line_count"),
          expr("""CAST(SUM(CASE WHEN o_orderpriority NOT IN
              ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)""")
            .as("low_line_count"))
    },
    Some("""
      SELECT l.l_returnflag,
        CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1"""))

  /** Forecast revenue change (the TPC-H Q6 shape): the pure pushed-
    * range-filter aggregate — one ship-year, a discount band, a
    * quantity ceiling, SUM(extendedprice · discount), no join at all.
    * Trivial relationally, load-bearing physically: EVERY predicate
    * must reach the parquet scan (row-group pruning is the entire
    * cost model at 100 TB), and the revenue accumulates as the exact
    * integer product price_c · disc_c (1e-4 units) so the single
    * output double is engine-identical. The discount band compares the
    * derived integer cents (disc_c IN 5..7) — equivalent to the
    * classic BETWEEN 0.05 AND 0.07 on 2-dp data without a raw-double
    * range compare. */
  val q254ForecastRevenue = OpSpec(
    "q254_forecast_revenue",
    (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
            lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") <
            lit("1998-01-01 00:00:00").cast("timestamp") &&
          col("l_quantity") < 24.0)
        .select(
          expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 1e2) AS BIGINT)").as("disc_c"))
        .filter(col("disc_c") >= 5L && col("disc_c") <= 7L)
        .agg(count(lit(1)).as("n_items"),
          expr("""CAST(SUM(CAST(price_c * disc_c AS DECIMAL(38,0)))
              AS BIGINT)""").as("rev_4dp"))
        .select(col("n_items"),
          (col("rev_4dp").cast("double") / 1e4).as("revenue"))
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(CAST(SUM(CAST(price_c * disc_c AS DECIMAL(38,0)))
          AS BIGINT) AS DOUBLE) / 1e4 AS revenue
      FROM (SELECT CAST(round(l_extendedprice * 1e2) AS BIGINT)
                AS price_c,
              CAST(round(l_discount * 1e2) AS BIGINT) AS disc_c
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_quantity < 24e0)
      WHERE disc_c BETWEEN 5 AND 7"""))

  val all: Seq[OpSpec] = Seq(
    q01AggPushdown, q02FilterProject, q03StarJoin, q04ResumeAntiJoin,
    q05SemiJoin, q06CompletionRollup, q07TopkPerGroup, q08Histogram,
    q09SetOps, q10WindowRunning, q11Rollup, q91Pivot, q96GroupingSets,
    q101ExactMedian, q102IntegrityAudit, q104TableChecksum,
    q111GroupedMode, q118MerkleDiff, q129RevenueRollup, q130LateOrders,
    q131CustDist, q136Benford, q141TopNOthers, q144SkewReport,
    q145JoinForecast, q155NationVolume, q161Copurchase,
    q165PricingSummary, q193LiftRules, q222ShippingPriority,
    q223ReturnedItems, q224SuppliersWaiting, q225NationTrade,
    q226MarketShare, q233DisjunctiveRevenue, q234SmallOrderRevenue,
    q235IdleCustomers, q243TopSupplier, q244MinCostSupplier,
    q245DominantSuppliers, q249LargeOrders, q250SupplierVariety,
    q251PromoShare, q252PrioritySplit, q254ForecastRevenue)
}
