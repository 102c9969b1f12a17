package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured-Streaming surface. The reference is restartable batch
  * (SURVEY §2.11 — no true streaming), but every per-row scoring op is
  * map-shaped, so the same stages run unchanged over `readStream`; only
  * aggregations need watermarked windows. This module exposes the
  * streaming twins of the batch event ops (q17/q18) plus a generic
  * stream-scoring hook, so the engine covers the "continuous ingestion"
  * deployment the reference handles by re-running stages (D6).
  */
object StreamingStages {

  /** events.parquet stream with the same ts normalization as
    * graft.Tables (file streams require an explicit schema — taken from
    * the cached static schema of the same files, Tables.parquetSchema,
    * so the stream schema always agrees with whatever timestamp encoding
    * the files carry). Accepts a directory of parquet files OR one plain
    * .parquet file — the file source's inferred basePath must be a
    * directory, so for a file path the parent is pinned explicitly. */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val f = new java.io.File(dir)
    val staticPath = if (f.isFile) dir else dir + "/*.parquet"
    val schema = graft.Tables.parquetSchema(spark, staticPath)
    val r0 = spark.readStream.schema(schema)
    val r = maxFilesPerTrigger.fold(r0)(n =>
      r0.option("maxFilesPerTrigger", n))
    // single file: address it as a {name} glob — for a NON-glob path the
    // file source force-overrides basePath with the path itself, which
    // then fails "basePath must be a directory"; a glob path keeps the
    // explicit parent-directory basePath
    val src =
      if (f.isFile)
        r.option("basePath", f.getParent).parquet(s"${f.getParent}/{${f.getName}}")
      else r.parquet(dir)
    schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as long (nanosAsLong)
        src.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        src.withColumn("ts", col("ts").cast(TimestampType))
      case _ => src
    }
  }

  /** Streaming twin of q17: watermarked tumbling 10-minute counts. The
    * total goes through the same exact-decimal sum (Tables.dsum) as the
    * batch twin — a plain double sum is accumulation-order-dependent,
    * so the twin equivalence would fail on it. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("value")).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("win_start"), col("event_type"), col("n"), col("total"))

  /** Streaming twin of q86: watermarked HOPPING 30-minute windows every
    * 10 minutes — the row-local 3× bucket expansion works identically
    * over a stream; only the watermark decides when a window closes. */
  def hoppingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("value")).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("win_start"), col("event_type"), col("n"), col("total"))

  /** Streaming twin of q18: watermarked session windows per user, with
    * the batch twin's full output shape (start, exact-decimal total,
    * span) so the streaming run sits under q18's oracle. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.Tables.dsum(col("value")).as("total"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        graft.Tables.fmtTs(col("first_ts")).as("session_start"),
        col("n_events"), col("total"),
        (unix_micros(col("last_ts")) - unix_micros(col("first_ts")))
          .as("span_us"))

  /** Any map-shaped stage (scoring, enrichment) applies to a stream
    * as-is — this just documents/types the contract. */
  def mapStage(stream: DataFrame, stage: DataFrame => DataFrame): DataFrame =
    stage(stream)

  /** Stream-static enrichment join: every micro-batch hash-joins
    * against the static dimension (broadcast when small — the streaming
    * twin of the clip↔video denormalization join, J3). LEFT join so an
    * unmatched stream row passes through with nulls instead of being
    * silently dropped mid-ingest. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(dim, keys, "left")

  /** Streaming twin of exact dedup (X1/q25): drop rows whose key columns
    * were already seen. With a watermark the state store evicts keys
    * older than the horizon — bounded state at unbounded input, the only
    * shape that survives a continuous 100 TB ingest (an unwatermarked
    * dropDuplicates grows state forever). */
  def streamingDedup(stream: DataFrame, tsCol: String,
      keyCols: Seq[String], horizon: String = "1 hour"): DataFrame =
    stream
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Per-user running aggregate via mapGroupsWithState — the custom-
    * state hook (SURVEY §2.11) for semantics the built-in windows can't
    * express (running counts/means that survive across micro-batches;
    * the reference's per-video completion counters, P4, are this shape).
    * State is one (count, sum) pair per key — O(keys), not O(rows). */
  def runningUserStats(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id").as[Long],
        expr("CAST(round(value * 1e2) AS BIGINT)").as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          // state is (count, exact integer cents): a double running sum
          // would make the emitted total depend on arrival order across
          // micro-batches — integer cents keep the state (and q127's
          // hash) order-independent, the q61 exact-sum discipline
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, c) => n += 1; cents += c }
          state.update((n, cents))
          val total = cents.toDouble / 1e2
          (user, n, total, total / n)
      }
      .toDF("user_id", "n_events", "total", "mean_value")
  }

  /** Streaming twin of the q84 funnel: per-user (first_view,
    * first_click_after, first_purchase_after) carried as
    * mapGroupsWithState state — three longs per user, the O(1)-state
    * property the batch twin's running windows rely on, here surviving
    * across micro-batches. Rows are sorted by ts WITHIN each batch
    * (micro-batch group iterators are unordered); stages only ever
    * latch forward, so with batch boundaries that respect event time
    * (file-per-period ingestion) the end state equals the batch funnel
    * — asserted by StreamingSpec. Emits micros (-1 = unreached). */
  def runningFunnel(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as[Long], col("event_type").as[String],
        unix_micros(col("ts")).as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long)]) =>
          var (fv, fc, fp) = state.getOption.getOrElse((-1L, -1L, -1L))
          rows.toSeq.sortBy(_._3).foreach { case (_, t, ts) =>
            t match {
              case "view" if fv < 0 => fv = ts
              case "click" if fv >= 0 && ts > fv && fc < 0 => fc = ts
              case "purchase" if fc >= 0 && ts > fc && fp < 0 => fp = ts
              case _ =>
            }
          }
          state.update((fv, fc, fp))
          val stage = 1L + (if (fc >= 0) 1L else 0L) + (if (fp >= 0) 1L else 0L)
          (user, if (fv >= 0) stage else 0L, fv, fc, fp)
      }
      .toDF("user_id", "stage", "fv_us", "fc_us", "fp_us")
      .filter(col("stage") >= 1) // funnel population: users who viewed
  }

  /** Watermarked STREAM-STREAM interval join — the q20 range join with
    * both sides unbounded: purchases within 5 minutes after an error by
    * the same user. The time-range predicate plus both watermarks is
    * exactly what lets the engine BOUND the join state (errors older
    * than watermark + 5 min can never match a future purchase and are
    * evicted) — an unbounded-state stream-stream equi-join without the
    * range condition would grow forever. Equality on user_id keys the
    * state store; the interval is a residual, mirroring the batch
    * plan's hash-join + filter shape. */
  def streamStreamRangeJoin(errors: DataFrame, purchases: DataFrame)
      : DataFrame =
    intervalJoin(errors, purchases, "inner")
      .select(col("user_id"), col("error_id"), col("purchase_id"),
        graft.ops.EventOps.lagUs)

  /** The q20 sides ([[graft.ops.EventOps.errorSide]]/`purchaseSide`),
    * each watermarked at 1 hour, joined on user and the 5-minute
    * window with `joinType`. */
  private def intervalJoin(errors: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame = {
    import graft.ops.EventOps
    EventOps.errorSide(errors).withWatermark("a_ts", "1 hour")
      .join(EventOps.purchaseSide(purchases, col("user_id").as("b_user"))
          .withWatermark("b_ts", "1 hour"),
        col("user_id") === col("b_user") && EventOps.purchaseWithin(5),
        joinType)
  }

  /** Run `join` over ONE events stream, self-joined (a stream-stream
    * SELF join — a second readStream would scan the file twice per
    * micro-batch), error side × purchase side, to an append memory sink
    * for query `q`. Each shuffle partition carries a join state store
    * whose per-batch commit is file I/O; 32 stores/side is pure setup
    * cost at this key cardinality, so the stateful shuffle is narrowed
    * for the query's duration (measured 5.3 s → the q56/q65 band). */
  private def drainIntervalJoin(s: SparkSession, dir: String, q: String,
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val ev = eventsStream(s, s"$dir/events.parquet")
      drainToMemory(s, q, join(ev.filter(col("event_type") === "error"),
        ev.filter(col("event_type") === "purchase")), "append")
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Production sink: append the stream to sharded parquet with a
    * checkpoint (the streaming twin of `Sinks.shardedParquet`). The file
    * sink's write-ahead log gives exactly-once files-per-batch, so a
    * restart from the same checkpoint resumes AFTER the last committed
    * input — the D6 restartability the reference implements by hand with
    * done-lists, here provided by the engine. Blocks until all currently
    * available input is processed (callers wanting a daemon keep the
    * returned query running instead). */
  def runToShardedParquet(df: DataFrame, outDir: String,
      checkpointDir: String, maxRecordsPerFile: Long = 1000000L)
      : StreamingQuery = {
    val q = df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q
  }

  /** Drive a streaming DF to a named in-memory table and wait until all
    * available input is processed (test/local harness; production uses a
    * real sink + checkpointLocation). */
  def runToMemory(df: DataFrame, name: String,
      outputMode: String = "complete"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q
  }

  /** Sink runs per gated streaming query, for [[drainToMemory]]. */
  private val sinkRuns = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  /** Drive `df` to a memory sink for gated query `q` ([[runToMemory]]),
    * stop it, and return the sink table. Each run gets a fresh name (a
    * memory sink cannot be re-attached), but the PREVIOUS run's temp
    * view is dropped so repeated bench/verify invocations don't
    * accumulate result sets on the driver. */
  private def drainToMemory(s: SparkSession, q: String, df: DataFrame,
      outputMode: String): DataFrame = {
    val id = sinkRuns.computeIfAbsent(q,
      _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
    if (id > 1) s.catalog.dropTempView(s"${q}_mem_${id - 1}")
    val name = s"${q}_mem_$id"
    runToMemory(df, name, outputMode).stop()
    s.table(name)
  }

  /** q56: the streaming surface under the driver's DuckDB gate — the
    * watermarked tumbling aggregate ([[tumblingAgg]]) executed as a REAL
    * Structured Streaming query (file source → stateful agg → memory
    * sink, complete mode so pre-watermark windows also emit), then
    * returned as the materialized batch table. Batch equivalence is the
    * oracle: same 10-minute bucketing and the same order-independent
    * exact decimal sum as q17, so the streaming run must hash-match
    * q17's DuckDB SQL — which is reused verbatim below. */
  val q56StreamingTumbling: graft.OpSpec = graft.OpSpec(
    "q56_streaming_tumbling",
    (s, dir) => {
      drainToMemory(s, "q56",
        tumblingAgg(eventsStream(s, s"$dir/events.parquet")), "complete")
    },
    graft.ops.EventOps.q17TumblingWindow.oracle)

  /** q65: [[streamingDedup]] as a REAL streaming query under the gate
    * (file source → watermarked dropDuplicatesWithinWatermark → append
    * memory sink). Only the key columns are projected, so WHICH
    * duplicate survives (arrival-order-dependent in a file stream)
    * cannot affect the hash; the horizon exceeds the testdata's event
    * span so every key emits exactly once and the batch oracle is a
    * plain DISTINCT. Production callers use a real horizon — the
    * watermark then bounds state at O(keys-per-horizon), the only shape
    * that survives continuous ingest (see [[streamingDedup]]). */
  val q65StreamingDedup: graft.OpSpec = graft.OpSpec(
    "q65_streaming_dedup",
    (s, dir) => {
      val deduped = streamingDedup(
        eventsStream(s, s"$dir/events.parquet"),
        "ts", Seq("user_id", "event_type"), horizon = "3650 days")
        .select(col("user_id"), col("event_type"))
      drainToMemory(s, "q65", deduped, "append")
    },
    Some("SELECT DISTINCT user_id, event_type FROM events"))

  /** q113: [[runningFunnel]] as a REAL streaming query under the gate
    * (file source → mapGroupsWithState → update-mode memory sink),
    * hash-checked against the BATCH funnel's oracle (q84's DuckDB SQL,
    * reused verbatim). The single input file arrives as one micro-batch
    * and the stage sorts rows by ts within a batch, so the latched
    * per-user state equals the batch funnel exactly; each user emits
    * once, and the micros state is formatted to the oracle's timestamp
    * strings (-1 = unreached → NULL) only at the sink edge. */
  val q113StreamingFunnel: graft.OpSpec = graft.OpSpec(
    "q113_streaming_funnel",
    (s, dir) => {
      val out = drainToMemory(s, "q113",
        runningFunnel(s, eventsStream(s, s"$dir/events.parquet")), "update")
      def fmt(c: String) = graft.Tables.fmtTs(
        when(col(c) >= 0, timestamp_micros(col(c))))
      out.select(col("user_id"), col("stage"),
        fmt("fv_us").as("first_view"),
        fmt("fc_us").as("first_click"),
        fmt("fp_us").as("first_purchase"))
    },
    graft.ops.EventOps.q84Funnel.oracle)

  /** q114: [[streamStreamRangeJoin]] as a REAL streaming query under
    * the gate — BOTH join sides are unbounded file streams over the
    * same events file, and the inner interval join emits matches in
    * append mode as state fills. The batch q20 range join's oracle is
    * reused verbatim: stream-stream inner-join results are
    * arrival-insensitive (every error×purchase pair within the
    * interval emits exactly once regardless of micro-batching), so the
    * hash must match the batch plan's. */
  val q114StreamingRangeJoin: graft.OpSpec = graft.OpSpec(
    "q114_streaming_range_join",
    (s, dir) => {
      drainIntervalJoin(s, dir, "q114", streamStreamRangeJoin)
    },
    graft.ops.EventOps.q20RangeJoin.oracle)

  /** Watermarked stream-stream LEFT OUTER interval join — the
    * [[streamStreamRangeJoin]] shape plus the stateful null-emission
    * path: an error with no purchase inside its 5-minute window is
    * held in state until the watermark proves no future match can
    * arrive, then emitted once with NULL purchase columns. The
    * "which errors never converted" stream a funnel alert consumes. */
  def streamStreamLeftJoin(errors: DataFrame, purchases: DataFrame)
      : DataFrame =
    intervalJoin(errors, purchases, "left_outer")
      .select(col("user_id"), col("error_id"), col("purchase_id"),
        graft.ops.EventOps.lagUs, col("a_ts"))

  /** q175: [[streamStreamLeftJoin]] as a REAL streaming query under the
    * gate. Matches are arrival-insensitive (the q114 property); the
    * null-extended rows are NOT — they emit only once the final
    * watermark (min over both inputs of max-event-time − 1h) passes a
    * row's match window, and the exact eviction boundary is an engine
    * implementation detail. The gate therefore compares inside the
    * PROVABLY-EMITTED region only: both engines drop unmatched rows
    * with a_ts above safe = min(maxE, maxP) − 1h − 5min − 1s (every
    * unmatched error below it is watermark-expired under any eviction
    * rule variant; the 1 s guard absorbs the boundary-strictness
    * ambiguity). Verified empirically at two SFs: Spark emits every
    * sub-bound unmatched row and withholds only above-watermark ones. */
  val q175StreamingLeftJoin: graft.OpSpec = graft.OpSpec(
    "q175_streaming_left_join",
    (s, dir) => {
      val out = drainIntervalJoin(s, dir, "q175", streamStreamLeftJoin)
      val bounds = graft.Tables.table(s, dir, "events").agg(
        max(when(col("event_type") === "error", unix_micros(col("ts"))))
          .as("me"),
        max(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("mp")).collect()(0)
      val safe = math.min(bounds.getLong(0), bounds.getLong(1)) -
        3600000000L - 300000000L - 1000000L
      out.filter(col("purchase_id").isNotNull ||
          unix_micros(col("a_ts")) < safe)
        .select(col("user_id"), col("error_id"), col("purchase_id"),
          col("lag_us"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_id AS error_id, ts AS a_ts
                 FROM events WHERE event_type = 'error'),
      p AS (SELECT user_id, event_id AS purchase_id, ts AS b_ts
            FROM events WHERE event_type = 'purchase'),
      mx AS (SELECT least(
          (SELECT max(epoch_us(ts)) FROM events
           WHERE event_type = 'error'),
          (SELECT max(epoch_us(ts)) FROM events
           WHERE event_type = 'purchase'))
          - 3600000000 - 300000000 - 1000000 AS safe)
      SELECT e.user_id, e.error_id, p.purchase_id,
        epoch_us(p.b_ts) - epoch_us(e.a_ts) AS lag_us
      FROM e JOIN p ON p.user_id = e.user_id
        AND p.b_ts >= e.a_ts AND p.b_ts < e.a_ts + INTERVAL 5 MINUTES
      UNION ALL
      SELECT e.user_id, e.error_id, CAST(NULL AS BIGINT) AS purchase_id,
        CAST(NULL AS BIGINT) AS lag_us
      FROM e, mx
      WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = e.user_id
          AND p.b_ts >= e.a_ts AND p.b_ts < e.a_ts + INTERVAL 5 MINUTES)
        AND epoch_us(e.a_ts) < mx.safe"""))

  /** q122: [[sessionAgg]] as a REAL streaming query under the gate —
    * stateful SESSION windows (merging state, not fixed buckets) driven
    * through the q56 recipe and hash-checked against the batch q18
    * oracle. Complete mode emits pre-watermark sessions too; the
    * exact-decimal total keeps the sum order-independent, so streaming
    * merge order cannot move the hash. */
  val q122StreamingSession: graft.OpSpec = graft.OpSpec(
    "q122_streaming_session",
    (s, dir) => {
      drainToMemory(s, "q122",
        sessionAgg(eventsStream(s, s"$dir/events.parquet")), "complete")
    },
    graft.ops.EventOps.q18SessionWindow.oracle)

  /** q123: [[hoppingAgg]] as a REAL streaming query under the gate —
    * the 3× overlapping-bucket expansion against the batch q86 oracle. */
  val q123StreamingHopping: graft.OpSpec = graft.OpSpec(
    "q123_streaming_hopping",
    (s, dir) => {
      drainToMemory(s, "q123",
        hoppingAgg(eventsStream(s, s"$dir/events.parquet")), "complete")
    },
    graft.ops.EventOps.q86HoppingWindow.oracle)

  /** q127: [[runningUserStats]] as a REAL streaming query under the
    * gate — custom mapGroupsWithState state (count + exact integer
    * cents per user) whose end-of-input emission must equal the batch
    * groupBy exactly; the single input file arrives as one micro-batch
    * and update mode emits each user once. */
  val q127StreamingUserStats: graft.OpSpec = graft.OpSpec(
    "q127_streaming_user_stats",
    (s, dir) => {
      drainToMemory(s, "q127",
        runningUserStats(s, eventsStream(s, s"$dir/events.parquet")),
        "update")
    },
    Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(round(value * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
          AS total,
        CAST(SUM(CAST(round(value * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
          / COUNT(*) AS mean_value
      FROM events GROUP BY user_id"""))

  /** q128: [[enrichWithStatic]] as a REAL streaming query under the
    * gate — every micro-batch broadcast-joins the static nation
    * dimension (the J3 clip↔video denormalization shape on a stream);
    * LEFT join so unmatched stream rows pass through. Map-shaped, so
    * arrival order cannot affect the row set. */
  val q128StreamingEnrich: graft.OpSpec = graft.OpSpec(
    "q128_streaming_enrich",
    (s, dir) => {
      val dim = broadcast(graft.Tables.table(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_name").as("nation_name")))
      val enriched = enrichWithStatic(
        eventsStream(s, s"$dir/events.parquet")
          .withColumn("nk", col("user_id") % 25),
        dim, Seq("nk"))
        .select(col("event_id"), col("user_id"), col("nation_name"),
          col("event_type"))
      drainToMemory(s, "q128", enriched, "append")
    },
    Some("""
      SELECT e.event_id, e.user_id, n.n_name AS nation_name,
             e.event_type
      FROM events e
      LEFT JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = e.user_id % 25"""))

  /** Composed streaming PIPELINE: per-micro-batch stream-static
    * enrichment (q128's stage) feeding a watermarked tumbling
    * aggregate (q56's stage) in ONE query — the enrich-then-rollup
    * shape continuous metrics pipelines actually deploy (raw events
    * are keyed by ids; the dashboard groups by the dimension's name).
    * The stateless join adds no state; the aggregate's state stays
    * O(windows × dims). */
  def enrichedRollup(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim, Seq("nk"), "left")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("nation_name"))
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("value")).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("win_start"), col("nation_name"), col("n"), col("total"))

  /** q158: [[enrichedRollup]] as a REAL streaming query under the gate
    * — a MULTI-STAGE streaming plan (broadcast join + stateful window
    * agg) hash-checked against the equivalent batch join+group. The
    * exact-decimal sum keeps totals arrival-order-independent, so the
    * composition cannot move the hash. */
  val q158StreamingEnrichedRollup: graft.OpSpec = graft.OpSpec(
    "q158_streaming_enriched_rollup",
    (s, dir) => {
      val dim = broadcast(graft.Tables.table(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_name").as("nation_name")))
      val ev = eventsStream(s, s"$dir/events.parquet")
        .withColumn("nk", col("user_id") % 25)
      drainToMemory(s, "q158", enrichedRollup(ev, dim), "complete")
    },
    Some("""
      SELECT substr(strftime(e.ts, '%Y-%m-%d %H:%M'), 1, 15) || '0:00'
          AS win_start,
        n.n_name AS nation_name, COUNT(*) AS n,
        CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events e
      LEFT JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = e.user_id % 25
      GROUP BY 1, 2"""))

  /** Per-user event SEQUENCING via flatMapGroupsWithState — the
    * MULTI-EMIT custom-state hook (q127's mapGroupsWithState emits one
    * row per key per batch; sessionized feature extraction needs one
    * row PER EVENT with state carried across batches): each event gets
    * its per-user sequence number and the gap to the user's previous
    * event. State is (count, last_ts) — two longs per key. Rows are
    * sorted by (ts, event_id) within each batch (group iterators are
    * unordered); gap = -1 marks a user's first event and becomes NULL
    * at the sink edge. */
  def eventSequence(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").as[Long], col("event_id").as[Long],
        unix_micros(col("ts")).as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          var (n, last) = state.getOption.getOrElse((0L, -1L))
          val out = rows.toSeq.sortBy(r => (r._3, r._2)).map {
            case (_, eid, ts) =>
              n += 1
              val gap = if (last < 0) -1L else ts - last
              last = ts
              (user, eid, n, gap)
          }
          state.update((n, last))
          out.iterator
      }
      .toDF("user_id", "event_id", "seq", "gap_us")
  }

  /** q159: [[eventSequence]] as a REAL streaming query under the gate
    * — flatMapGroupsWithState multi-emission hash-checked against the
    * batch ROW_NUMBER/lag windows. The single input file arrives as
    * one micro-batch and rows sort by (ts, event_id) inside the
    * stage, so emission equals the batch ordering exactly. */
  val q159StreamingEventSeq: graft.OpSpec = graft.OpSpec(
    "q159_streaming_event_seq",
    (s, dir) => {
      drainToMemory(s, "q159",
          eventSequence(s, eventsStream(s, s"$dir/events.parquet")),
          "append")
        .select(col("user_id"), col("event_id"), col("seq"),
          when(col("gap_us") >= 0, col("gap_us")).as("gap_us"))
    },
    Some("""
      SELECT user_id, event_id,
        CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
        epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  /** documents.parquet stream with a synthesized deterministic event
    * time (ts = doc_id seconds): the documents table carries no
    * timestamp, and band-dedup state needs SOME event-time axis for
    * watermark eviction. Row-local and arrival-free — the oracle never
    * sees ts. */
  def documentsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val f = new java.io.File(path)
    val staticPath = if (f.isFile) path else path + "/*.parquet"
    val schema = graft.Tables.parquetSchema(spark, staticPath)
    val r0 = spark.readStream.schema(schema)
    val r = maxFilesPerTrigger
      .fold(r0)(n => r0.option("maxFilesPerTrigger", n))
    val src =
      if (f.isFile)
        r.option("basePath", f.getParent)
          .parquet(s"${f.getParent}/{${f.getName}}")
      else r.parquet(path)
    // +1 s: a row whose event time EQUALS the initial watermark (epoch
    // 0 — i.e. doc_id 0) would be dropped as late by every stateful
    // operator before any state exists
    src.withColumn("ts",
      timestamp_micros((col("doc_id") + 1) * 1000000L))
  }

  /** Streaming MinHash-band NEAR-dup dedup — the probabilistic tier
    * [[streamingDedup]]'s exact-key drop cannot cover (a near-identical
    * doc has a different content hash but collides in >= 1 LSH band).
    * Band signatures are computed ROW-LOCALLY
    * ([[graft.ops.DedupOps.bandRowsRowLocal]] — Structured Streaming
    * forbids an aggregation upstream of a stateful operator, so the
    * per-doc signature min cannot be a groupBy), then each (band_idx,
    * band_val) bucket is a flatMapGroupsWithState group whose state is
    * ONE long: the smallest doc_id ever seen. First-writer-wins BY KEY
    * ORDER (not arrival order): when a LATER batch delivers a smaller
    * id than the stored bucket min (legal out-of-order arrival within
    * the watermark horizon), the displaced former min is emitted
    * RETROACTIVELY as a dup alongside the batch's non-min ids — so the
    * final dup set is exactly "shares a band with a smaller-id doc"
    * no matter how arrivals interleave, micro-batch-partition-free and
    * batch-checkable. State is evicted by
    * event-time timeout once the watermark passes the bucket's last
    * activity + horizon — bounded state at unbounded ingest, the
    * reference's resume/done-set discipline (aesthetic_score.py:98)
    * done as true streaming. A doc colliding in several bands emits
    * from each group; sinks dedupe by key. */
  def streamingBandDedup(spark: SparkSession, docs: DataFrame,
      horizonMs: Long = 3600L * 1000): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    graft.ops.DedupOps.bandRowsRowLocal(
        docs.select(col("doc_id"), col("text"), col("ts")))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(concat_ws("#", col("band_idx"), col("band_val")).as("bkey"),
        col("doc_id"), col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.map(r => (r._2, r._3.getTime)).toArray
            // overall min across persisted state and this batch: every
            // other id in the bucket has a smaller-id partner => dup
            val stored = state.getOption
            val mn = math.min(stored.getOrElse(Long.MaxValue),
              batch.iterator.map(_._1).min)
            state.update(mn)
            state.setTimeoutTimestamp(
              batch.iterator.map(_._2).max + horizonMs)
            // a batch min that DISPLACES the stored min retroactively
            // turns the former keep into a dup — it must be re-emitted
            // here or the dup set would depend on arrival order
            (batch.iterator.map(_._1) ++ stored.iterator)
              .filter(_ > mn).toArray.distinct.sorted.iterator
          }
      }
      .toDF("doc_id")
  }

  /** q206: [[streamingBandDedup]] as a REAL streaming query under the
    * gate (file source → row-local band signatures → watermarked
    * flatMapGroupsWithState → update-mode memory sink). The horizon
    * exceeds the synthetic ts span so no bucket evicts mid-run and the
    * batch oracle is exact: the q27-band restriction "shares a band
    * with any smaller doc_id" (first-writer-wins near-dup ingest).
    * Production callers set a real horizon and state becomes
    * O(buckets-per-horizon). */
  val q206StreamingBandDedup: graft.OpSpec = graft.OpSpec(
    "q206_streaming_band_dedup",
    (s, dir) => {
      drainToMemory(s, "q206",
          streamingBandDedup(s,
            documentsStream(s, s"$dir/documents.parquet"),
            horizonMs = 30L * 86400 * 1000),
          "update")
        .select(col("doc_id")).distinct()
    },
    Some(graft.ops.DedupOps.bandDupBatchOracle))

  /** Streaming windowed count-min sketch: per tumbling 1-hour window,
    * the 4×64-cell frequency sketch over user_id — the heavy-hitter
    * surface of a live ingest (abusive-client / hot-key detection)
    * without per-key state. The cell address fan-out is row-local
    * ([[graft.ops.SketchOps.cmAddress]], the SAME addressing as the
    * batch q207/q208 family, so a batch readout can serve estimates
    * from stream-built cells), and the cells are plain windowed COUNT
    * state: ≤ 256 rows per open window no matter how many distinct
    * users arrive — the property that makes the sketch the right
    * streaming-state shape where an exact per-user windowed count
    * would hold O(users/window) state. Additivity means micro-batch
    * boundaries can't change the result: each batch's increments SUM
    * into the same cells. */
  def windowedCountMin(events: DataFrame): DataFrame =
    graft.ops.SketchOps.cmAddress(
        events
          .withWatermark("ts", "1 hour")
          .select(col("ts"), col("user_id").cast("string").as("k")),
        "k", salt = "cmu")
      .groupBy(window(col("ts"), "1 hour"), col("r"), col("col"))
      .agg(count(lit(1)).as("cnt"))
      .select(graft.Tables.fmtTsSec(col("window.start")).as("win_start"),
        col("r"), col("col"), col("cnt"))

  /** q213: [[windowedCountMin]] as a REAL streaming query under the
    * gate (file source → watermarked windowed agg → complete-mode
    * memory sink, the q56 drive). The oracle rebuilds every populated
    * cell in batch SQL: 1-hour Spark windows are epoch-aligned, so
    * DuckDB's date_trunc('hour') names the same buckets, and the cell
    * address is the same md5 arithmetic — cell-for-cell equality, not
    * just matching estimates. */
  val q213StreamingCountmin: graft.OpSpec = graft.OpSpec(
    "q213_streaming_countmin",
    (s, dir) => {
      drainToMemory(s, "q213",
        windowedCountMin(eventsStream(s, s"$dir/events.parquet")),
        "complete")
    },
    Some(s"""
      SELECT win_start, r, c AS col, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
            AS win_start,
          r, ${graft.ops.SketchOps.cmColDuck("hx")} AS c
        FROM (
          SELECT ts, g.r,
            md5('cmu' || CAST(g.r AS VARCHAR) || ':'
              || CAST(user_id AS VARCHAR)) AS hx
          FROM events,
            (SELECT CAST(unnest(range(0, ${graft.ops.SketchOps.CmD}))
               AS BIGINT) AS r) g))
      GROUP BY 1, 2, 3"""))

  /** Streaming windowed HyperLogLog: per tumbling 1-hour window, the
    * 64-register distinct-user sketch — live unique-visitor counting
    * with ≤ 64 rows of state per open window no matter the user
    * cardinality (the exact-distinct alternative, q65-style key dedup,
    * holds one state row PER USER). The register fields are q167's bit
    * arithmetic row-local (b = first md5 byte mod 64, rho = leading-
    * zero rank of the next 60 bits), and the registers are windowed
    * MAX state — max is mergeable, so micro-batch boundaries are
    * invisible: each batch folds its rho values into the same
    * registers. Registers only (the harmonic-mean estimate is a
    * 64-value batch fold over the sink — kept out of the stream so the
    * state stays 64 longs). */
  def windowedHll(events: DataFrame): DataFrame =
    graft.ops.SketchOps.hllRegisters(
        events
          .withWatermark("ts", "1 hour")
          .select(col("ts"),
            md5(concat(lit("hllu:"), col("user_id").cast("string"))
              .cast("binary")).as("h"))
          .select(col("ts") +: graft.ops.SketchOps.hllBitCols: _*),
        window(col("ts"), "1 hour"))
      .select(graft.Tables.fmtTsSec(col("window.start")).as("win_start"),
        col("b"), col("register"))

  /** q216: [[windowedHll]] as a REAL streaming query under the gate,
    * plus the batch readout: the sink's sparse registers are densified
    * per window (collected to a b→register map, probed over the full
    * 0..63 domain) and folded in register order into the q167
    * harmonic-mean estimate — the serve path a live uniques dashboard
    * runs over stream-built registers. ONE scan of the sink: the
    * registers are exploded back out of the same collected list the
    * estimate folds over, because the memory sink's relation
    * (`MemoryPlan`) is a leaf Catalyst can't re-instance — a self-join
    * of the sink table fails analysis with conflicting attributes.
    * The oracle rebuilds registers AND estimate from scratch in batch
    * SQL with the same bit arithmetic
    * ([[graft.ops.SketchOps.hllBDuck]]), so the gate pins the sketch
    * cell-for-cell and the estimate bit-for-bit. */
  val q216StreamingHll: graft.OpSpec = graft.OpSpec(
    "q216_streaming_hll",
    (s, dir) => {
      drainToMemory(s, "q216",
          windowedHll(eventsStream(s, s"$dir/events.parquet")), "complete")
        .groupBy(col("win_start"))
        .agg(collect_list(struct(col("b"), col("register"))).as("rs"))
        .withColumn("z", expr("""
          aggregate(
            transform(sequence(CAST(0 AS BIGINT), CAST(63 AS BIGINT)),
              i -> 1.0D / CAST(shiftleft(CAST(1 AS BIGINT),
                CAST(coalesce(element_at(map_from_entries(rs), i),
                              CAST(0 AS BIGINT)) AS INT)) AS DOUBLE)),
            CAST(0 AS DOUBLE), (a, x) -> a + x)"""))
        .withColumn("est",
          expr(s"${graft.ops.SketchOps.hllAlphaM2} / z"))
        .select(col("win_start"), explode(col("rs")).as("p"), col("est"))
        .select(col("win_start"), col("p.b").as("b"),
          col("p.register").as("register"), col("est"))
    },
    Some(s"""
      WITH bits AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
            AS win_start,
          ${graft.ops.SketchOps.hllBDuck("hx")} AS b,
          ${graft.ops.SketchOps.hllWDuck("hx")} AS w
        FROM (SELECT ts, md5('hllu:' || CAST(user_id AS VARCHAR)) AS hx
              FROM events)),
      ${graft.ops.SketchOps.hllRegDuck("win_start")},
      ${graft.ops.SketchOps.hllDenseZDuck("win_start",
        "(SELECT DISTINCT win_start FROM r) w", "w")}
      SELECT r.win_start, r.b, r.register,
        ${graft.ops.SketchOps.hllAlphaM2} / z.z AS est
      FROM r JOIN z ON z.win_start = r.win_start"""))

  /** The one foreachBatch driver of the persisted-state ingest sinks:
    * every non-empty micro-batch runs `step` (given its id, which the
    * idempotent appends commit with their rows), then the serving
    * session's relation cache is refreshed for each of `tables` that
    * exists — micro-batch writes run in a CLONED session, which
    * invalidates only its own cache, so the serving session would keep
    * the stale pre-append file listing (the q219 lesson). Blocks until
    * all currently available input is processed; the caller stops (or
    * keeps) the query. */
  private def ingestEachBatch(s: SparkSession, rows: DataFrame,
      checkpointDir: String, tables: Seq[String])(
      step: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = rows.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          step(batch, batchId)
          tables.filter(t => s.catalog.tableExists(t))
            .foreach(t => s.catalog.refreshTable(t))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q
  }

  /** A parquet file stream over `dir`, one file per micro-batch, with
    * the schema of the files staged there. */
  private def oneFilePerTrigger(s: SparkSession, dir: String): DataFrame =
    s.readStream
      .schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Stage `df` as ONE parquet file `name` in `streamDir` with
    * modification time `mtime`: a file stream delivers files in mtime
    * order, so staged generations arrive in the order their mtimes
    * give. */
  private def stageStreamFile(df: DataFrame, streamDir: java.nio.file.Path,
      name: String, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("streamstage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = java.nio.file.Files.list(tmp)
    val part = try ls.toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head finally ls.close()
    val dst = streamDir.resolve(name)
    java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
    dst.toFile.setLastModified(mtime); ()
  }

  /** foreachBatch ingest into a persisted
    * [[graft.ops.VectorIndexOps.VectorIndex]]: each arriving micro-batch
    * of (vec_id, embedding) rows is coded against the FROZEN stored
    * codebooks and appended to the codes table — the streaming half of
    * the index lifecycle (q206 dedups a document stream; this indexes
    * a vector stream). Coding is per-row deterministic against frozen
    * artifacts, so the stream-built index equals a batch rebuild no
    * matter how the micro-batch boundaries fall (spec-proven), and the
    * appends are EFFECTIVELY exactly-once: foreachBatch replays are
    * at-least-once, so each append commits its micro-batch id
    * atomically with its rows and a replayed id is skipped
    * ([[graft.io.Sinks.appendBucketedTableIdempotent]] — a crash after
    * the append commits but before the checkpoint offset commits
    * re-runs the batch, which must NOT double-append codes). Per-batch
    * cost ∝ batch, never corpus. Blocks until all currently available
    * input is processed; the caller stops (or keeps) the query. */
  def streamIntoVectorIndex(s: SparkSession, vecs: DataFrame,
      prefix: String, path: String,
      checkpointDir: String): StreamingQuery =
    ingestEachBatch(s, vecs, checkpointDir, Seq(s"${prefix}_codes")) {
      (batch, batchId) =>
        graft.ops.VectorIndexOps.appendToVectorIndex(s, batch, prefix,
          path, batchId = Some(batchId))
    }

  /** q219: the stream-built index under the bit-exact gate. Codebooks
    * are trained once (batch, frozen); the corpus arrives as a FILE
    * STREAM in four micro-batches, each coded + appended by
    * [[streamIntoVectorIndex]]; serving then reads only the stored
    * tables. The oracle is q150's inline trajectory verbatim — a
    * stream-ingested index must serve exactly what a batch build
    * serves, which is the whole point of freezing the codebooks. */
  val q219StreamIndexIngest: graft.OpSpec = graft.OpSpec(
    "q219_stream_index_ingest",
    (s, dir) => {
      import graft.ops.EmbeddingOps
      val e = graft.Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val base = s"${graft.Tables.scratchDir}/vsi_q219"
      val prefix = "vsi_q219"
      graft.io.IndexLifecycle.resetPrefix(s, prefix, base)
      val (streamDir, idxPath, ckpt) =
        (s"$base/stream", s"$base/idx", s"$base/ckpt")
      // train on the full corpus, start with ZERO codes — ingest is
      // the stream's job
      graft.ops.VectorIndexOps.buildVectorIndex(s, e, e.limit(0), prefix, idxPath)
      e.repartition(4, col("vec_id")).write.parquet(streamDir)
      streamIntoVectorIndex(s, oneFilePerTrigger(s, streamDir), prefix,
        idxPath, ckpt).stop()
      graft.ops.VectorIndexOps.searchVectorIndex(
        graft.Tables.table(s, dir, "embeddings")
          .filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")),
        graft.ops.VectorIndexOps.readVectorIndex(s, prefix),
        EmbeddingOps.IvfPqNprobe)
    },
    graft.ops.EmbeddingOps.q150IvfPqSearch.oracle)

  /** foreachBatch ingest into an incrementally-maintained rollup
    * ([[graft.io.Sinks.appendRollup]]): each micro-batch appends its
    * exact-decimal partial aggregates — additive, so micro-batch
    * boundaries are invisible to the fold, and the running corpus
    * stats are maintained with per-batch cost while history is never
    * rescanned. The batch q227 and this stream produce the SAME
    * table. Replay-safe: each append commits its micro-batch id with
    * its partial rows and a replayed id is skipped (an at-least-once
    * re-run of a committed batch would otherwise double-count every
    * sum — [[graft.io.Sinks.appendBucketedTableIdempotent]]). */
  def streamIntoRollup(s: SparkSession, rows: DataFrame,
      keys: Seq[String], measures: Seq[String], tableName: String,
      buckets: Int, path: String,
      checkpointDir: String): StreamingQuery =
    ingestEachBatch(s, rows, checkpointDir, Seq(tableName)) {
      (batch, batchId) =>
        graft.io.Sinks.appendRollup(batch, keys, measures, tableName,
          buckets, path, batchId = Some(batchId))
    }

  /** Reset rollup `tableName` (its table and its scratch directory),
    * stage `rows` there as a four-file stream (repartitioned on `part`)
    * and fold the stream into the rollup through [[streamIntoRollup]]. */
  private def streamedRollup(s: SparkSession, rows: DataFrame, part: String,
      keys: Seq[String], measures: Seq[String], tableName: String): Unit = {
    val base = s"${graft.Tables.scratchDir}/$tableName"
    s.sql(s"DROP TABLE IF EXISTS $tableName")
    graft.io.IndexLifecycle.rmDir(base)
    rows.repartition(4, col(part)).write.parquet(s"$base/stream")
    streamIntoRollup(s, oneFilePerTrigger(s, s"$base/stream"), keys,
      measures, tableName, 4, s"$base/tbl", s"$base/ckpt").stop()
  }

  /** q228: the stream-maintained rollup under the bit-exact gate. The
    * events table arrives as a four-file stream; each micro-batch
    * appends partials; serving folds the stored partials. The oracle
    * aggregates the raw table — stream-maintained state must equal
    * the scratch aggregate bit-for-bit (q227's contract, fed by a
    * stream instead of batch appends). */
  val q228StreamingRollup: graft.OpSpec = graft.OpSpec(
    "q228_streaming_rollup",
    (s, dir) => {
      streamedRollup(s, graft.Tables.table(s, dir, "events"), "event_id",
        Seq("event_type"), Seq("value"), "roll_q228")
      graft.ops.CurationOps.eventRollup(s, "roll_q228")
    },
    graft.ops.CurationOps.q227IncrementalRollup.oracle)

  /** q295: STREAMING MIXING WEIGHTS — q291's temperature-scaled
    * domain-sampling rule maintained ONLINE (the 23rd gated streaming
    * query): an unbounded documents stream folds per-lang count
    * partials into the persisted rollup (idempotent per micro-batch,
    * cost ∝ batch), and the weight readout — p_g^(1/2) renormalized,
    * plus the upsampling boost — is pure arithmetic over the folded
    * domain-bounded counts. Counts are additive, so micro-batch
    * boundaries are invisible and q291's batch oracle gates the
    * streamed output VERBATIM: the mixing policy a 100 TB ingest
    * republishes after every arriving shard generation, without ever
    * rescanning the corpus. */
  val q295StreamingMixture: graft.OpSpec = graft.OpSpec(
    "q295_streaming_mixture",
    (s, dir) => {
      streamedRollup(s, graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")), "doc_id",
        Seq("lang"), Seq("n_chars"), "mix_q295")
      graft.ops.SampleOps.mixingWeights(
        graft.io.Sinks.readRollup(s, "mix_q295", Seq("lang"), Seq("n_chars"))
          .select(col("lang"), col("n").as("n_docs")))
    },
    graft.ops.SampleOps.q291MixingWeights.oracle)

  /** foreachBatch ingest into a persisted
    * [[graft.ops.DedupOps.CorpusIndex]]: each micro-batch's per-doc
    * artifacts (hashes/shingles/bands/sizes) and additive bandcount
    * partials are appended — insert-only, cost ∝ batch, corpus text
    * never rescanned — so the text-dedup index gets the same
    * streaming half the vector index got in [[streamIntoVectorIndex]].
    * Micro-batch boundaries are invisible: every artifact is
    * row-local to its doc or additively mergeable, so stream-built ==
    * batch-built table-for-table. Replay-safe per table: the five
    * appends each commit the micro-batch id with their rows, so an
    * at-least-once re-run (crash between append and checkpoint
    * commit, or partway through the five tables) fills exactly what
    * is missing and never double-appends
    * ([[graft.ops.DedupOps.appendToCorpusIndex]]'s torn-batch
    * contract). */
  def streamIntoCorpusIndex(s: SparkSession, docs: DataFrame,
      prefix: String, path: String, buckets: Int,
      checkpointDir: String): StreamingQuery =
    ingestEachBatch(s, docs, checkpointDir,
      graft.io.IndexLifecycle.CorpusIndexTables.suffixes
        .map(t => s"${prefix}_$t")) { (batch, batchId) =>
      graft.ops.DedupOps.appendToCorpusIndex(batch, prefix, path,
        buckets, batchId = Some(batchId))
    }

  /** q230: ingest dedup served from a STREAM-BUILT corpus index. The
    * corpus side (doc_id % 10 <> 0) arrives as a four-file stream and
    * accretes into the persisted index; the probe batch (doc_id % 10
    * = 0) then dedups against the stored tables. The oracle is q55's
    * verbatim: a stream-accreted index must answer ingest queries
    * exactly like the batch-derived corpus side. */
  val q230StreamingCorpusIngest: graft.OpSpec = graft.OpSpec(
    "q230_streaming_corpus_ingest",
    (s, dir) => {
      val prefix = "sci_q230"
      val base = s"${graft.Tables.scratchDir}/sci_q230"
      graft.io.IndexLifecycle.resetPrefix(s, prefix, base)
      val docs = graft.Tables.table(s, dir, "documents")
      docs.filter(col("doc_id") % 10 =!= 0)
        .repartition(4, col("doc_id"))
        .write.parquet(s"$base/stream")
      streamIntoCorpusIndex(s, oneFilePerTrigger(s, s"$base/stream"),
        prefix, s"$base/idx", 8, s"$base/ckpt").stop()
      graft.ops.DedupOps.incrementalDedup(
        docs.filter(col("doc_id") % 10 === 0),
        graft.ops.DedupOps.readCorpusIndex(s, prefix))
    },
    graft.ops.DedupOps.q55IncrementalDedup.oracle)

  /** foreachBatch ingest into a persisted SEMANTIC-DEDUP index
    * ([[graft.ops.SemanticDedupOps.ingestSemanticIndex]]): each arriving
    * micro-batch of (vec_id, embedding, nrm) rows is assigned against
    * the FROZEN stored centroids, appended to the members table, and
    * its verdicts land in `<prefix>_verdicts` — both appends
    * replay-safe per micro-batch id (a torn batch whose members
    * committed but verdicts didn't recomputes identical verdicts from
    * the stored members and fills only the verdict table). Ordering:
    * the smaller-id-wins contract needs generations to ARRIVE in
    * vec_id order, which a file stream delivers when files are staged
    * in modification-time order (q247 stages them so; the reference's
    * shard convention, README.md:66-89). */
  def streamIntoSemanticIndex(s: SparkSession, docs: DataFrame,
      prefix: String, path: String, buckets: Int,
      checkpointDir: String, nprobe: Int = 1): StreamingQuery =
    ingestEachBatch(s, docs, checkpointDir,
      Seq(s"${prefix}_members", s"${prefix}_verdicts")) { (batch, batchId) =>
      val verdicts = graft.ops.SemanticDedupOps.ingestSemanticIndex(
        s, batch, prefix, path, buckets, batchId = Some(batchId),
        nprobe = nprobe)
      graft.io.Sinks.appendBucketedTableIdempotent(s, verdicts,
        batchId, s"${prefix}_verdicts", "vec_id", buckets,
        s"$path/verdicts")
    }

  /** The q247/q288 trajectory body, parameterized by the probe
    * fan-out: base half builds the index (batch), the two later
    * generations arrive as an mtime-ordered file stream (one
    * micro-batch each), and the unioned verdicts are read back from
    * the verdict table. */
  private def semdedupStreamTrajectory(s: SparkSession, dir: String,
      prefix: String, nprobe: Int): DataFrame = {
    val base = s"${graft.Tables.scratchDir}/$prefix"
    graft.io.IndexLifecycle.resetPrefix(s, prefix, base)
    val e = graft.Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("""CASE WHEN aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
          ELSE sqrt(aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
    val total = e.count()
    val v0 = graft.ops.SemanticDedupOps.buildSemanticIndex(s,
      e.filter(col("vec_id") * 2 < total), prefix, s"$base/idx",
      nprobe = nprobe)
    // stage the two generations as files whose MTIME order is their
    // id order — the arrival-order contract the ingest needs
    val streamDir = java.nio.file.Paths.get(s"$base/stream")
    java.nio.file.Files.createDirectories(streamDir)
    stageStreamFile(e.filter(col("vec_id") * 2 >= total &&
      col("vec_id") * 4 < total * 3), streamDir, "00_g1.parquet", 100000L)
    stageStreamFile(e.filter(col("vec_id") * 4 >= total * 3), streamDir,
      "01_g2.parquet", 200000L)
    streamIntoSemanticIndex(s, oneFilePerTrigger(s, s"$base/stream"),
      prefix, s"$base/idx", 8, s"$base/ckpt", nprobe = nprobe).stop()
    v0.unionByName(s.table(s"${prefix}_verdicts")
      .select(col("cid"), col("vec_id"), col("verdict")))
  }

  /** q247: incremental SemDeDup fed by a STREAM — q242's trajectory
    * with the two post-base generations arriving as a file stream in
    * mtime (= vec_id) order, one micro-batch each. The base builds the
    * index (batch); the stream pays only per-batch ingest; the unioned
    * verdicts (base + streamed, read back from the verdict table) must
    * equal the scratch frozen-centroid SemDeDup — q242's oracle
    * verbatim. This gives the semantic index the same streaming half
    * the vector index (q219) and the n-gram corpus index (q230) have. */
  val q247StreamingSemdedup: graft.OpSpec = graft.OpSpec(
    "q247_streaming_semdedup",
    (s, dir) => semdedupStreamTrajectory(s, dir, "sem_q247", 1),
    graft.ops.SemanticDedupOps.q242IncrementalSemdedup.oracle)

  /** q288: q247's streaming trajectory at nprobe = 2 — the STREAMING
    * twin of q287, closing the multi-probe knob across every
    * production surface (batch build/ingest q287, streaming ingest
    * here, masked serve q289). Same oracle as q287: the scratch
    * frozen-centroid multi-probe rule over the full corpus. The
    * stored member layout stays byte-identical to single-probe, so
    * the stream's idempotent member appends and WAL replay semantics
    * are untouched by the knob. */
  val q288StreamingMultiprobe: graft.OpSpec = graft.OpSpec(
    "q288_streaming_multiprobe",
    (s, dir) => semdedupStreamTrajectory(s, dir, "sem_q288", 2),
    graft.ops.SemanticDedupOps.q287MultiprobeSemdedup.oracle)

  /** q259: the EXACTLY-ONCE sharded-parquet sink under the bit-exact
    * gate — [[runToShardedParquet]] (the K-class production sink) was
    * the last streaming surface with only unit coverage. The events
    * table is staged as four mtime-ordered stream files, but the sink
    * runs TWICE against one checkpoint: the first run commits two
    * files and stops (a planned shutdown mid-corpus), two more files
    * land, and the restarted run must resume AFTER the committed
    * offsets — the file sink's write-ahead log is what makes the
    * readback exactly-once across the restart. The gated result is the
    * full readback of the sink's output directory: any dropped or
    * double-written micro-batch hash-mismatches the raw table oracle.
    * (The torn-manifest/replay edge cases live in the spec; this gates
    * the happy-path restart every production stream takes daily.) */
  val q259StreamingShardSink: graft.OpSpec = graft.OpSpec(
    "q259_streaming_shard_sink",
    (s, dir) => {
      val base = s"${graft.Tables.scratchDir}/shard_q259"
      graft.io.IndexLifecycle.rmDir(base)
      val ev = graft.Tables.table(s, dir, "events")
      val streamDir = java.nio.file.Paths.get(s"$base/stream")
      java.nio.file.Files.createDirectories(streamDir)
      def stage(p: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit =
        stageStreamFile(ev.filter(p), streamDir, name, mtime)
      def run(): Unit = runToShardedParquet(
        s.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$base/stream"),
        s"$base/out", s"$base/ckpt", maxRecordsPerFile = 1000L).stop()
      stage(col("event_id") % 4 === 0, "00_g0.parquet", 100000L)
      stage(col("event_id") % 4 === 1, "01_g1.parquet", 200000L)
      run() // commits the first two files, then shuts down
      stage(col("event_id") % 4 === 2, "02_g2.parquet", 300000L)
      stage(col("event_id") % 4 === 3, "03_g3.parquet", 400000L)
      run() // restart: the WAL resumes AFTER the committed input
      s.read.parquet(s"$base/out")
        .select(col("event_id"),
          graft.Tables.fmtTs(col("ts")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
    },
    Some("""
      SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        user_id, event_type, value, props
      FROM events"""))

  /** q271: STREAMING CLASSIFIER SERVING — train the q267 logistic
    * model on the batch corpus, then score an unbounded documents
    * stream with the frozen weights (file source → stateless row-local
    * featurize+score → append memory sink). The deployment shape every
    * classifier-curated ingest runs: the model is a handful of frozen
    * literals, so serving adds NO state store and no shuffle — scoring
    * rides the scan. Row-local maps are arrival-insensitive, so q267's
    * batch oracle (which RE-TRAINS in DuckDB from zeros) gates the
    * streamed output verbatim: the gate spans train → freeze → stream
    * in one compare. */
  val q271StreamingClassifier: graft.OpSpec = graft.OpSpec(
    "q271_streaming_classifier",
    (s, dir) => {
      drainToMemory(s, "q271", graft.ops.ClassifierOps.scoreStream(s, dir,
        documentsStream(s, s"$dir/documents.parquet").drop("ts")), "append")
    },
    graft.ops.ClassifierOps.q267LogisticTrain.oracle)

  /** foreachBatch ingest into the persisted NOVELTY INDEX
    * ([[graft.ops.TextOps.ingestNovelty]]): each arriving micro-batch
    * of documents is scored against the gram-df table AT its ingest
    * point (verdicts sealed before the batch's grams fold in — the
    * first-ingested-wins contract), its per-doc report lands in
    * `<prefix>_verdicts`, and both appends are replay-safe per
    * micro-batch id: the gram append is skip/heal idempotent, and a
    * replay's re-score EXCLUDES its own batch's already-committed
    * gram rows, so the recomputed verdicts are identical whether or
    * not the crashed attempt's append survived. */
  def streamIntoNoveltyIndex(s: SparkSession, docs: DataFrame,
      prefix: String, buckets: Int,
      checkpointDir: String): StreamingQuery =
    ingestEachBatch(s, docs, checkpointDir,
      Seq(s"${prefix}_gramdf", s"${prefix}_verdicts")) { (batch, batchId) =>
      val report = graft.ops.TextOps.ingestNovelty(
        s, batch, prefix, buckets, batchId = Some(batchId))
      graft.io.Sinks.appendBucketedTableIdempotent(s, report,
        batchId, s"${prefix}_verdicts", "doc_id", buckets,
        s"${graft.Tables.scratchDir}/${prefix}_verdicts")
    }

  /** q284: incremental novelty fed by a STREAM — q283's trajectory
    * with the batch docs arriving as TWO mtime-ordered generations
    * (doc_id % 20 = 0, then % 20 = 10), one micro-batch each, so the
    * gate also proves the CROSS-GENERATION contract q283's single
    * batch cannot: a gram novel at generation 1's ingest stays novel
    * for its gen-1 owner even after generation 2 repeats it, and the
    * gen-2 twin scores non-novel. The oracle says exactly that in
    * arrival terms: per (gram, generation) counts, a gram is novel for
    * a gen-k doc iff its in-generation count is 1 and the cumulative
    * count over generations < k is 0 (one partitioned window over the
    * 3-value generation domain). This is the 21st gated streaming
    * query and gives the novelty index the streaming half the corpus
    * (q230) and semantic (q247) indexes have. */
  val q284StreamingNovelty: graft.OpSpec = graft.OpSpec(
    "q284_streaming_novelty",
    (s, dir) => {
      import graft.ops.TextOps
      val prefix = "nvx_q284"
      val base = s"${graft.Tables.scratchDir}/nvx_q284"
      graft.io.IndexLifecycle.resetPrefix(s, prefix, base)
      val docs = graft.Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      TextOps.writeNoveltyIndex(docs.filter(col("doc_id") % 10 =!= 0),
        prefix, s"$base/idx")
      val streamDir = java.nio.file.Paths.get(s"$base/stream")
      java.nio.file.Files.createDirectories(streamDir)
      stageStreamFile(docs.filter(col("doc_id") % 20 === 0), streamDir,
        "00_g1.parquet", 100000L)
      stageStreamFile(docs.filter(col("doc_id") % 20 === 10), streamDir,
        "01_g2.parquet", 200000L)
      streamIntoNoveltyIndex(s, oneFilePerTrigger(s, s"$base/stream"),
        prefix, 8, s"$base/ckpt").stop()
      s.table(s"${prefix}_verdicts")
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          col("novelty"), col("verdict"))
    },
    Some(s"""
      WITH base AS (
        ${graft.ops.TextOps.gramBaseDuck}),
      gl AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 <> 0 THEN 0
               WHEN doc_id % 20 = 0 THEN 1 ELSE 2 END AS gen, gsh
        FROM base),
      grows AS (SELECT doc_id, gen, unnest(gsh) AS g FROM gl),
      pg AS (
        SELECT g, gen, COUNT(*) AS c, MIN(doc_id) AS doc_id
        FROM grows GROUP BY 1, 2),
      cum AS (
        SELECT g, gen, c, doc_id,
          COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY gen
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS prior
        FROM pg),
      novel AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
        FROM cum WHERE gen >= 1 AND c = 1 AND prior = 0
        GROUP BY 1)
      ${graft.ops.TextOps.noveltyTailDuck("gl")}
      WHERE b.gen >= 1"""))

  /** The oracle-checked streaming ops (SparkEntry registry hook). */
  val oracleOps: Seq[graft.OpSpec] =
    Seq(q56StreamingTumbling, q65StreamingDedup,
      q113StreamingFunnel, q114StreamingRangeJoin,
      q175StreamingLeftJoin,
      q122StreamingSession, q123StreamingHopping,
      q127StreamingUserStats, q128StreamingEnrich,
      q158StreamingEnrichedRollup, q159StreamingEventSeq,
      q206StreamingBandDedup, q213StreamingCountmin, q216StreamingHll,
      q219StreamIndexIngest, q228StreamingRollup,
      q230StreamingCorpusIngest, q247StreamingSemdedup,
      q259StreamingShardSink, q271StreamingClassifier,
      q284StreamingNovelty, q288StreamingMultiprobe,
      q295StreamingMixture)
}
