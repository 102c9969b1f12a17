package graft.ops

import graft.OpSpec
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators. The reference never aggregates beyond
  * exact counts (SURVEY §2.4), but a 100 TB engine needs cardinality
  * summaries whose shuffle cost is O(sketch), not O(distinct values) —
  * the role HLL plays in warehouse engines. Here the sketch is KMV
  * ([[graft.functions.KmvAgg]]): unlike HLL registers, the k smallest
  * distinct md5 values are an engine-independent SET property of the
  * data, so the whole estimate sits under the bit-exact DuckDB gate.
  */
object SketchOps {

  private val K = 128

  /** Both engines fold the k-th smallest hash's first 15 hex digits
    * (60 bits) to a BIGINT with the same text. */
  private val kthV = s"CAST(${DedupOps.hexToLong("kh", 1, 15)} AS BIGINT)"

  /** Shared estimator text: below k distinct the sketch IS the exact
    * answer; at capacity, est = (k-1)/R with R = kth_v/2^60 the k-th
    * smallest hash as a fraction of hash space, algebraically flipped to
    * one multiply (exact: 127·2^60 has 7 significant bits) and one
    * divide of identically-rounded doubles. GREATEST guards the
    * theoretical all-zero-digit hash from an ANSI division-by-zero; the
    * branch keeps it unreachable. */
  private val estSql = s"""
    CASE WHEN n_seen < $K THEN CAST(n_seen AS DOUBLE)
         ELSE ${K - 1}e0 * 1152921504606846976
              / CAST(GREATEST(kth_v, 1) AS DOUBLE) END"""

  /** KMV estimation tail over DISTINCT (grp, h) md5-hex rows: sketch,
    * exact anchor, k-th hash, estimate. Exposed for the below-capacity
    * spec — groups with fewer than [[K]] distinct hashes must flow
    * through the NULL-kh branch (est = exact count), not crash. */
  private[graft] def kmvEstimate(distinctHashes: DataFrame): DataFrame = {
    val kmv = udaf(new graft.functions.KmvAgg(K))
    distinctHashes
      .groupBy(col("grp"))
      .agg(kmv(col("h")).as("sketch"),
        count(lit(1)).as("n_exact"))
      .withColumn("n_seen", size(col("sketch")).cast("long"))
      // guard: under ANSI mode element_at throws on out-of-range, so a
      // below-capacity sketch (n_seen < K) must short-circuit to NULL —
      // the same NULL kh the oracle's `CASE WHEN rn = K` produces.
      .withColumn("kh",
        when(size(col("sketch")) >= K, element_at(col("sketch"), lit(K))))
      .withColumn("kth_v", expr(kthV))
      .select(col("grp"), col("n_exact"), col("n_seen"),
        col("kth_v"), expr(estSql).as("est"))
  }

  /** Distinct parts per returnflag, estimated from a K=128 KMV sketch,
    * with the exact COUNT(DISTINCT) alongside (gate anchor + visible
    * estimation error; a production rollup drops it — the sketch column
    * is the point). Scale shape: the Aggregator partial-aggregates per
    * task, so each group contributes one 128-string array per task to
    * the shuffle regardless of input rows; sketches of disjoint shards
    * merge associatively (unit-tested), which is what makes the sketch
    * storable per-partition and rolled up later — the pattern exact
    * distinct counting cannot follow. */
  val q88KmvDistinct = OpSpec(
    "q88_kmv_distinct",
    (s, dir) => {
      // the exact anchor forces a distinct pass anyway — running it
      // FIRST (instead of countDistinct's Expand alongside the sketch)
      // halves the shuffled rows and feeds the Aggregator |distinct|
      // rows instead of |raw| (measured 30x fewer here). The pure
      // production sketch path is q99's: raw rows straight into the
      // map-side-combined Aggregator, no distinct shuffle at all.
      kmvEstimate(table(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          md5(concat(lit("kmv:"), col("l_partkey")).cast("binary")).as("h"))
        .distinct())
        .withColumnRenamed("grp", "l_returnflag")
    },
    Some(s"""
      WITH h AS (
        SELECT DISTINCT l_returnflag, md5('kmv:' || l_partkey) AS h
        FROM lineitem),
      r AS (
        SELECT l_returnflag, h,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
          COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
        FROM h),
      g AS (
        SELECT l_returnflag,
          CAST(max(nd) AS BIGINT) AS n_exact,
          CAST(LEAST(max(nd), $K) AS BIGINT) AS n_seen,
          max(CASE WHEN rn = $K THEN h END) AS kh
        FROM r GROUP BY l_returnflag)
      SELECT l_returnflag, n_exact, n_seen, kth_v, $estSql AS est
      FROM (SELECT *, $kthV AS kth_v FROM g)"""))

  /** Sketch MERGE under the gate — the property that makes q88 a real
    * distributed summary: per-shard sketches (4 disjoint event_id % 4
    * shards standing in for stored per-partition summaries), re-merged
    * by feeding their elements through a second KMV pass, must equal a
    * single whole-corpus sketch. The oracle computes only the latter —
    * so the gate proves merge(shard sketches) == sketch(corpus) exactly,
    * the invariant that lets 100 TB keep one tiny sketch row per
    * partition and answer global distinct queries without rescanning
    * (the sketch twin of q61/q92's state-merge gates). Emits the k-min
    * elements themselves (as rows), not just the estimate — a stricter
    * equality than any estimator comparison. */
  val q99KmvMerge = OpSpec(
    "q99_kmv_merge",
    (s, dir) => {
      val kmv = udaf(new graft.functions.KmvAgg(K))
      table(s, dir, "lineitem")
        .select((col("l_orderkey") % 4).as("shard"),
          md5(concat(lit("kmv:"), col("l_partkey")).cast("binary")).as("h"))
        .groupBy(col("shard"))
        .agg(kmv(col("h")).as("sketch"))
        .select(explode(col("sketch")).as("h")) // shard-sketch elements
        .agg(kmv(col("h")).as("sketch"))        // merge = second pass
        .select(posexplode(col("sketch")).as(Seq("pos", "h")))
        .select((col("pos") + 1).cast("long").as("rnk"), col("h"))
    },
    Some(s"""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS rnk, h
      FROM (SELECT DISTINCT md5('kmv:' || l_partkey) AS h FROM lineitem)
      ORDER BY h
      LIMIT $K"""))

  /** Sliding 7-day distinct users (WAU) from MERGED per-day sketches —
    * the rollup that makes q105's exact WAU affordable at 100 TB: each
    * day keeps one K-row KMV sketch (stored once, immutable), and any
    * window's estimate comes from merging the member days' sketches —
    * k-min(∪ per-day k-mins) EQUALS k-min of the window's true
    * distinct set (the q99 mergeability invariant, here applied across
    * a sliding window), so history is never rescanned. The exact WAU
    * runs alongside as the gate anchor (visible estimation error);
    * production drops it. Day sketches fan out to their ≤7 report
    * days via the q105 sequence-explode and re-aggregate through the
    * same KMV Aggregator — a second pass IS the merge. */
  val q143KmvWau = OpSpec(
    "q143_kmv_wau",
    (s, dir) => {
      val kmv = udaf(new graft.functions.KmvAgg(K))
      val days = table(s, dir, "events")
        .select(
          expr("""CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')
                  AS BIGINT)""").as("day"),
          col("user_id"))
        .distinct()
        .persist()
      val maxDay = days.agg(max(col("day")).as("max_day"))
      val daySketch = days
        .select(col("day"),
          md5(concat(lit("kmv:"), col("user_id")).cast("binary")).as("h"))
        .groupBy(col("day")).agg(kmv(col("h")).as("sketch"))
      val merged = daySketch
        .withColumn("report_day", explode(expr("sequence(day, day + 6)")))
        .crossJoin(broadcast(maxDay))
        .filter(col("report_day") <= col("max_day"))
        .select(col("report_day"), explode(col("sketch")).as("h"))
        .groupBy(col("report_day")).agg(kmv(col("h")).as("sketch"))
        .withColumn("n_seen", size(col("sketch")).cast("long"))
        .withColumn("kh",
          when(size(col("sketch")) >= K, element_at(col("sketch"), lit(K))))
        .withColumn("kth_v", expr(kthV))
      val exact = days
        .withColumn("report_day", explode(expr("sequence(day, day + 6)")))
        .crossJoin(broadcast(maxDay))
        .filter(col("report_day") <= col("max_day"))
        .groupBy(col("report_day"))
        .agg(countDistinct(col("user_id")).as("wau_exact"))
      merged.join(exact, "report_day")
        .select(col("report_day"), col("wau_exact"), col("n_seen"),
          col("kth_v"), expr(estSql).as("est"))
    },
    Some(s"""
      WITH days AS (
        SELECT DISTINCT
          CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
            AS BIGINT) AS day,
          user_id
        FROM events),
      m AS (SELECT max(day) AS max_day FROM days),
      win AS (
        SELECT day + k AS report_day, user_id
        FROM days, (SELECT unnest(generate_series(0, 6)) AS k), m
        WHERE day + k <= m.max_day),
      h AS (
        SELECT DISTINCT report_day, md5('kmv:' || user_id) AS h
        FROM win),
      r AS (
        SELECT report_day, h,
          ROW_NUMBER() OVER (PARTITION BY report_day ORDER BY h) AS rn,
          COUNT(*) OVER (PARTITION BY report_day) AS nd
        FROM h),
      g AS (
        SELECT report_day,
          CAST(LEAST(max(nd), $K) AS BIGINT) AS n_seen,
          max(CASE WHEN rn = $K THEN h END) AS kh
        FROM r GROUP BY report_day),
      ex AS (
        SELECT report_day,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau_exact
        FROM win GROUP BY report_day)
      SELECT report_day, ex.wau_exact, n_seen, kth_v, $estSql AS est
      FROM (SELECT *, $kthV AS kth_v FROM g) gg
      JOIN ex USING (report_day)"""))

  // ---- Mergeable quantile sketch (bottom-k priority sample) ----------

  /** Sample size of the quantile sketch. */
  private val QK = 128
  /** Reported quantiles as (label, numerator, denominator): the rank
    * ceil(p·n) is computed ONLY in exact integer form
    * `(num·n + den − 1) div den` — the double multiply `p * n` lands ε
    * above an integer whenever n divides den (0.9·60 = 54.000…01) and
    * would shift the selected order statistic by one. */
  private val QPs = Seq((0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4), (0.9, 9, 10))

  /** Spark-side exploded (p, num, den) literal structs for [[QPs]]. */
  private def qpStructs: Column =
    explode(array(QPs.map { case (p, a, b) =>
      struct(lit(p).as("p"), lit(a.toLong).as("num"), lit(b.toLong).as("den"))
    }: _*)).as("q")

  /** DuckDB-side (p, num, den) VALUES domain for [[QPs]]. */
  private def qpDuck: String =
    QPs.map { case (p, a, b) => s"(${p}e0, $a, $b)" }
      .mkString("(SELECT * FROM (VALUES ", ", ", ") q(p, num, den))")

  /** Exact-integer rank expression for ceil(p·n), shared SQL dialect. */
  private val rankExpr = "CAST((num * n + den - 1) // den AS BIGINT)"

  /** Deterministic bottom-[[QK]] priority sample of (id, value) rows —
    * the k rows with the smallest salted-md5 priorities. A SET
    * property of the data (the q115 principle), so per-shard samples
    * merge into the global sample by re-ranking k·shards rows:
    * that makes it a mergeable QUANTILE sketch — the sketch family's
    * missing member next to KMV cardinality (q88/q99). The plan is
    * TakeOrderedAndProject: per-partition bottom-k, driver merges k·P
    * rows; no global sort, no global window. */
  def quantileSketch(df: DataFrame, idCol: String, valCol: String,
      salt: String, k: Int = QK): DataFrame =
    df.select(col(idCol).as("sid"), col(valCol).as("v"))
      .withColumn("rk",
        md5(concat(lit(s"$salt:"), col("sid")).cast("binary")))
      .orderBy(col("rk"), col("sid")).limit(k)

  /** Merge per-shard sketches: union the candidate rows, keep the
    * global bottom-k — associative and exact (spec: merging two
    * half-corpus sketches reproduces the whole-corpus sketch
    * row-for-row). */
  def mergeQuantileSketches(sketches: Seq[DataFrame], k: Int = QK)
      : DataFrame =
    sketches.reduce(_ unionByName _).orderBy(col("rk"), col("sid")).limit(k)

  /** Empirical quantiles of a sketch: order statistics of the sampled
    * values at ranks ceil(p·n). The k-row rank assignment is a
    * bounded post-limit fold (sorted collect + posexplode — the q98
    * recipe), NOT a partition-less window; the only nested-loop is
    * the 1-row sample-count scalar. Estimates are sampled VALUES —
    * no interpolation arithmetic, so both engines agree bit-for-bit
    * and the estimate is always an actually-occurring value. */
  def sketchQuantiles(sketch: DataFrame): DataFrame = {
    val cnt = sketch.agg(count(lit(1)).as("n"))
    sketch
      .agg(sort_array(collect_list(struct(col("v"), col("sid")))).as("ss"))
      .select(posexplode(col("ss")).as(Seq("idx", "s")))
      .select((col("idx") + 1).cast("long").as("rn"), col("s.v").as("v"))
      .crossJoin(broadcast(cnt))
      .select(col("rn"), col("v"), col("n"), qpStructs)
      .filter(col("rn") ===
        expr("CAST((q.num * n + q.den - 1) DIV q.den AS BIGINT)"))
      .select(col("q.p").as("p"), col("v").as("est"),
        col("n").as("n_sample"))
  }

  /** Distributed quantile estimation over event values via the
    * mergeable bottom-k sketch, gated end-to-end: the engine builds
    * per-shard bottom-k samples and MERGES them (the storable-
    * per-partition shape — a 100 TB table keeps one k-row sample per
    * partition and refreshes global quantiles without a rescan); the
    * oracle computes the global bottom-k directly, so the hash gate
    * proves merge(shard sketches) == sketch(corpus) AND the order-
    * statistic arithmetic, in one compare. The error-band spec pins
    * the estimator's accuracy against exact percentiles. */
  val q152QuantileSketch = OpSpec(
    "q152_quantile_sketch",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("rk"), col("sid"))
      val sample = table(s, dir, "events")
        .select(col("event_id").as("sid"), col("value").as("v"))
        .withColumn("rk",
          md5(concat(lit("qsk:"), col("sid")).cast("binary")))
        .withColumn("shard", col("sid") % 8)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= QK)                    // shard sketches
        .select(col("sid"), col("v"), col("rk"))
        .orderBy(col("rk"), col("sid")).limit(QK)   // merge = re-rank
      sketchQuantiles(sample)
    },
    Some(s"""
      WITH sample AS (
        SELECT sid, v, rk
        FROM (SELECT event_id AS sid, value AS v,
                md5('qsk:' || event_id) AS rk
              FROM events)
        ORDER BY rk, sid LIMIT $QK),
      ranked AS (
        SELECT v,
          CAST(ROW_NUMBER() OVER (ORDER BY v, sid) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM sample)
      SELECT p, v AS est, n AS n_sample
      FROM ranked, $qpDuck
      WHERE rn = $rankExpr"""))

  /** Per-GROUP quantile sketches — q152's bottom-k sampler rolled up
    * per key, the grouped form a metrics pipeline stores (per-type
    * latency quantiles, per-source doc-length quantiles): one sketch
    * row set per group, each mergeable independently (the per-key
    * twin of q143's per-window KMV). All ranking is window-partitioned
    * BY THE GROUP — there is no global sort or global window at any
    * size, and per-group state is k rows regardless of group skew.
    * Output: (event_type, p, est, n_sample). */
  val q154GroupQuantiles = OpSpec(
    "q154_group_quantiles",
    (s, dir) => {
      val k = 64
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("rk"), col("sid"))
      val sample = table(s, dir, "events")
        .select(col("event_type"), col("event_id").as("sid"),
          col("value").as("v"))
        .withColumn("rk",
          md5(concat(lit("gq:"), col("sid")).cast("binary")))
        .withColumn("srn", row_number().over(wS))
        .filter(col("srn") <= k)
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("v"), col("sid"))
      // group sizes via an aggregate + broadcast join, not a count-
      // over-partition window (an orderless window prints with the
      // same bracket shape as a GLOBAL window, which the plan sweep
      // rightly refuses to allowlist) — the aggregate is one row per
      // group key, domain-bounded
      val sizes = sample.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
      sample
        .withColumn("rn", row_number().over(wV).cast("long"))
        .join(broadcast(sizes), "event_type")
        .select(col("event_type"), col("rn"), col("v"), col("n"),
          qpStructs)
        .filter(col("rn") ===
          expr("CAST((q.num * n + q.den - 1) DIV q.den AS BIGINT)"))
        .select(col("event_type"), col("q.p").as("p"),
          col("v").as("est"), col("n").as("n_sample"))
    },
    Some(s"""
      WITH sample AS (
        SELECT event_type, sid, v
        FROM (SELECT event_type, event_id AS sid, value AS v,
                md5('gq:' || event_id) AS rk,
                ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY md5('gq:' || event_id), event_id) AS srn
              FROM events)
        WHERE srn <= 64),
      ranked AS (
        SELECT event_type, v,
          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY v, sid) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM sample)
      SELECT event_type, p, v AS est, n AS n_sample
      FROM ranked, $qpDuck
      WHERE rn = $rankExpr"""))

  /** Spark side of the same bit fields over an md5-hex column `h`: one
    * codegen'd conv() each (DuckDB has no conv, so the oracle keeps the
    * digit arithmetic — equivalent on lowercase md5 hex, and the gate
    * proves it). */
  private[graft] val hllBitCols: Seq[Column] = Seq(
    (expr("CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT)") % 64).as("b"),
    expr("CAST(conv(substring(h, 3, 15), 16, 10) AS BIGINT)").as("w"))

  /** The HLL registers of (…, b, w) rows: rho = 61 − bit length of w
    * (61 for w = 0), register = MAX(rho) per (`key`, b) — q167 per
    * group, q216's stream per window. */
  private[graft] def hllRegisters(bits: DataFrame, key: Column): DataFrame =
    bits
      .withColumn("rho", when(col("w") === 0, lit(61L))
        .otherwise(expr("CAST(61 - length(bin(w)) AS BIGINT)")))
      .groupBy(key, col("b"))
      .agg(max(col("rho")).as("register"))

  /** DuckDB twin of [[hllRegisters]]: the `r` CTE over `bits`. */
  private[graft] def hllRegDuck(key: String): String =
    s"""r AS (
        SELECT $key, b,
          CAST(MAX(CASE WHEN w = 0 THEN 61
                        ELSE 61 - length(format('{:b}', w)) END)
               AS BIGINT) AS register
        FROM bits GROUP BY 1, 2)"""

  /** The raw-estimate CTEs over `r`: `dense` gives every key of
    * `keys` (aliased `alias`) all 64 registers, absent ones 0, and `z`
    * folds 2^−register in bucket order per key. */
  private[graft] def hllDenseZDuck(key: String, keys: String,
      alias: String): String =
    s"""dense AS (
        SELECT $alias.$key, g.b, COALESCE(r.register, 0) AS register
        FROM $keys
        CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS BIGINT) AS b) g
        LEFT JOIN r ON r.$key = $alias.$key AND r.b = g.b),
      z AS (
        SELECT $key,
          list_reduce(
            list_transform(list(register ORDER BY b),
              x -> 1.0 / CAST(CAST(1 AS BIGINT) << CAST(x AS INT)
                              AS DOUBLE)),
            (a, x) -> a + x) AS z
        FROM dense GROUP BY 1)"""

  /** α·m² of the 64-register raw estimate α·m²/Z. The e0 suffixes force
    * DOUBLE literals — a bare 0.7213 parses as DECIMAL in both engines
    * and their decimal division rounding rules differ (α would come out
    * 2.5e-8 off). */
  private[graft] val hllAlphaM2 = "7213e-4 / (1e0 + 1079e-3 / 64e0) * 64e0 * 64e0"

  /** q167: HyperLogLog register sketch under the bit-exact gate — the
    * other half of the sketch family (KMV keeps the k smallest hashes;
    * HLL keeps m=64 max leading-zero registers, constant 64 bytes per
    * group no matter the cardinality). Every piece is engine-exact:
    * bucket = 8 md5 hex bits mod 64, rho = 61 − bitlength of the next
    * 60 bits (integer, no log), register = MAX(rho) — a set property,
    * order-independent and trivially mergeable (max of maxes), which is
    * what lets 100 TB keep one 64-register row per partition and OR
    * them up later. The raw estimate αm²/Z is gated too: each 2^−M_j
    * is an exact dyadic double and Z folds the 64 registers in bucket
    * order left-to-right, so both engines round identically (no libm —
    * the small-range ln correction is deliberately omitted; registers
    * are the stored truth, the estimator is derived). Emits one row per
    * (group, bucket) with the group's exact count and raw estimate
    * alongside — the registers ARE the gate, not just the estimate. */
  val q167HllRegisters = OpSpec(
    "q167_hll_registers",
    (s, dir) => {
      val h = table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          md5(concat(lit("hll:"), col("l_partkey")).cast("binary")).as("h"))
      val regs = hllRegisters(h.select(col("l_returnflag") +: hllBitCols: _*),
        col("l_returnflag"))
      val exact = h.select(col("l_returnflag"), col("h")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_exact"))
      val dense = exact.select(col("l_returnflag"))
        .select(col("l_returnflag"),
          explode(expr("sequence(CAST(0 AS BIGINT), CAST(63 AS BIGINT))"))
            .as("b"))
        .join(regs, Seq("l_returnflag", "b"), "left")
        .withColumn("register", coalesce(col("register"), lit(0L)))
      val est = dense.groupBy(col("l_returnflag"))
        .agg(expr("""
          aggregate(
            transform(sort_array(collect_list(struct(b, register))),
              x -> 1.0D / CAST(shiftleft(CAST(1 AS BIGINT),
                               CAST(x.register AS INT)) AS DOUBLE)),
            CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("z"))
        .withColumn("est", expr(s"$hllAlphaM2 / z"))
        .select(col("l_returnflag"), col("est"))
      dense.join(broadcast(est), "l_returnflag")
        .join(broadcast(exact), "l_returnflag")
        .select(col("l_returnflag"), col("b"), col("register"),
          col("n_exact"), col("est"))
    },
    Some(s"""
      WITH h AS (
        SELECT l_returnflag, md5('hll:' || l_partkey) AS h FROM lineitem),
      bits AS (
        SELECT l_returnflag,
          ${hllBDuck("h")} AS b,
          ${hllWDuck("h")} AS w
        FROM h),
      ${hllRegDuck("l_returnflag")},
      exact AS (
        SELECT l_returnflag, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
        FROM h GROUP BY 1),
      ${hllDenseZDuck("l_returnflag", "exact e", "e")}
      SELECT d.l_returnflag, d.b, d.register, e.n_exact,
        $hllAlphaM2 / z.z AS est
      FROM dense d
      JOIN exact e ON e.l_returnflag = d.l_returnflag
      JOIN z ON z.l_returnflag = d.l_returnflag"""))

  // ---- Count-min frequency sketch (heavy hitters) --------------------

  /** Count-min geometry: [[CmD]] hash rows × [[CmW]] columns = 256
    * cells — constant state no matter the vocabulary (the frequency
    * member of the sketch family next to KMV/HLL cardinality and the
    * bottom-k quantiles). Rows are md5-derived ("cm<r>:<word>"), so
    * the sketch is deterministic and oracle-able cell-for-cell. */
  private[graft] val CmD = 4
  private[graft] val CmW = 64L

  /** Append the count-min cell address columns (r, col) to every row —
    * a [[CmD]]-way fan-out with the md5-derived column hash
    * "<salt><r>:<key>". The ONE addressing definition shared by the
    * batch cell builder, the readout, and the streaming windowed
    * sketch (divergent addressing between build and serve would make
    * every estimate silently wrong). */
  private[graft] def cmAddress(df: DataFrame, keyCol: String,
      salt: String = "cm"): DataFrame =
    df.select(df.columns.map(col) :+
        explode(array((0 until CmD).map(i => lit(i.toLong)): _*)).as("r"): _*)
      .withColumn("hx",
        md5(concat(lit(salt), col("r").cast("string"), lit(":"),
          col(keyCol)).cast("binary")))
      .withColumn("col",
        expr(s"CAST(${DedupOps.hexToLong("hx", 1, 8)} % $CmW AS BIGINT)"))
      .drop("hx")

  /** DuckDB twin of [[cmAddress]]'s column hash over an md5-hex column
    * — exposed so the streaming twin's oracle shares the exact
    * addressing arithmetic. */
  private[graft] def cmColDuck(hxCol: String): String =
    s"CAST(${DedupOps.hexToLong(hxCol, 1, 8)} % $CmW AS BIGINT)"

  /** DuckDB twins of q167's HLL bit fields over an md5-hex column —
    * exposed so the streaming windowed-HLL oracle (q216) shares the
    * register arithmetic with the batch sketch, digit for digit. */
  private[graft] def hllBDuck(hxCol: String): String =
    s"CAST(${DedupOps.hexToLong(hxCol, 1, 2)} % 64 AS BIGINT)"
  private[graft] def hllWDuck(hxCol: String): String =
    s"CAST(${DedupOps.hexToLong(hxCol, 3, 15)} AS BIGINT)"

  /** Build the count-min cell table (r, col, cnt) from a (word, n)
    * frequency frame. Cells are SUMS — additively mergeable, so
    * per-shard sketches fold into the corpus sketch by cell-wise
    * addition (spec-proven), the property that lets every partition of
    * a 100 TB corpus keep its own 256-cell sketch and answer global
    * heavy-hitter queries without a rescan. Empty cells are absent
    * (the merge treats them as 0). */
  def countMinCells(wordCounts: DataFrame): DataFrame =
    cmAddress(wordCounts, "word")
      .groupBy(col("r"), col("col"))
      .agg(sum(col("n")).as("cnt"))

  /** Point estimate per word from a cell table: min over the D row
    * hashes — the classic CM readout, never an underestimate. */
  def countMinEstimate(words: DataFrame, cells: DataFrame): DataFrame =
    cmAddress(words.select(col("word")), "word")
      .join(cells, Seq("r", "col"))
      .groupBy(col("word"))
      .agg(min(col("cnt")).as("est"))

  /** Shared DuckDB CTEs: corpus word counts + the CM cell table. */
  private val cmDuck = s"""
      wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT lower(unnest(${TextOps.wordsDuck})) AS word
              FROM documents)
        GROUP BY word),
      cmcells AS (
        SELECT r, c AS col, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (
          SELECT n, r,
            CAST(${DedupOps.hexToLong("hx", 1, 8)} % $CmW AS BIGINT) AS c
          FROM (SELECT word, n, g.r,
                  md5('cm' || CAST(g.r AS VARCHAR) || ':' || word) AS hx
                FROM wc,
                  (SELECT CAST(unnest(range(0, $CmD)) AS BIGINT) AS r) g))
        GROUP BY r, c)"""

  /** q207: the count-min sketch itself under the bit-exact gate — all
    * ≤ ${4 * 64} populated cells, cell-for-cell. The build
    * pre-aggregates the corpus to (word, n) first (map-side combined),
    * so the D-way explode fans out per DISTINCT word, never per token.
    * Reference tie: the q66 vocabulary-mining pass kept as constant
    * state instead of an exact |vocab|-row table. */
  val q207CountminCells = OpSpec(
    "q207_countmin_cells",
    (s, dir) => {
      val wc = table(s, dir, "documents")
        .select(explode(expr(TextOps.wordsSpark)).as("w"))
        .select(lower(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      countMinCells(wc)
    },
    Some(s"""
      WITH $cmDuck
      SELECT r, col, cnt FROM cmcells"""))

  /** q208: the CM readout audited against exact truth — q66's exact
    * top-100 word counts side by side with their sketch estimates
    * (min over the D cells). est ≥ n always (CM never undercounts);
    * the error band vs the exact counts is spec-asserted. One join of
    * 100·D rows against the 256-cell table — the serving path never
    * rescans the corpus. */
  val q208CountminEstimate = OpSpec(
    "q208_countmin_est",
    (s, dir) => {
      val wc = table(s, dir, "documents")
        .select(explode(expr(TextOps.wordsSpark)).as("w"))
        .select(lower(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val top = wc.orderBy(col("n").desc, col("word")).limit(100)
      top.join(
        countMinEstimate(top.select(col("word")),
          broadcast(countMinCells(wc))), "word")
        .select(col("word"), col("n"), col("est"))
    },
    Some(s"""
      WITH $cmDuck,
      top AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 100),
      est AS (
        SELECT q.word, CAST(MIN(cmcells.cnt) AS BIGINT) AS est
        FROM (
          SELECT word, r,
            CAST(${DedupOps.hexToLong("hx", 1, 8)} % $CmW AS BIGINT) AS c
          FROM (SELECT t.word, g.r,
                  md5('cm' || CAST(g.r AS VARCHAR) || ':' || t.word) AS hx
                FROM top t,
                  (SELECT CAST(unnest(range(0, $CmD)) AS BIGINT) AS r) g))
          q
        JOIN cmcells ON cmcells.r = q.r AND cmcells.col = q.c
        GROUP BY q.word)
      SELECT t.word, t.n, e.est
      FROM top t JOIN est e ON e.word = t.word"""))

  val all: Seq[OpSpec] = Seq(q88KmvDistinct, q99KmvMerge, q143KmvWau,
    q152QuantileSketch, q154GroupQuantiles, q167HllRegisters,
    q207CountminCells, q208CountminEstimate)
}
