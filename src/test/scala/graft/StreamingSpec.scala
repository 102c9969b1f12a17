package graft

import graft.streaming.StreamingStages
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming twins produce the same answers as their batch ops when fed
  * the same (finite) input — the contract that keeps every scoring stage
  * deployable over readStream (SURVEY §2.11).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** File streams need a directory source; stage the single parquet. */
  lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming tumbling agg == batch q17 (counts per window/type)") {
    val stream = StreamingStages.eventsStream(spark, eventsDir)
    val q = StreamingStages.runToMemory(
      StreamingStages.tumblingAgg(stream), "tumbling_out")
    try {
      // total included: it rides the exact-decimal sum, so the twin
      // compare is bit-exact, not just count-exact
      val streamed = spark.table("tumbling_out")
        .select("win_start", "event_type", "n", "total")
      val batch = SparkEntry.queries("q17_tumbling_window")(spark, sf)
        .select("win_start", "event_type", "n", "total")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming hopping agg == batch q86 (3x bucket expansion)") {
    val stream = StreamingStages.eventsStream(spark, eventsDir)
    val q = StreamingStages.runToMemory(
      StreamingStages.hoppingAgg(stream), "hopping_out")
    try {
      val streamed = spark.table("hopping_out")
        .select("win_start", "event_type", "n", "total")
      val batch = SparkEntry.queries("q86_hopping_window")(spark, sf)
        .select("win_start", "event_type", "n", "total")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming session windows cover all events") {
    val stream = StreamingStages.eventsStream(spark, eventsDir)
    val q = StreamingStages.runToMemory(
      StreamingStages.sessionAgg(stream), "session_out")
    try {
      val total = spark.table("session_out")
        .agg(org.apache.spark.sql.functions.sum("n_events")).head.getLong(0)
      assert(total == Tables.table(spark, sf, "events").count())
    } finally q.stop()
  }

  test("streaming dedup == batch distinct on the key within the horizon") {
    import org.apache.spark.sql.functions._
    val stream = StreamingStages.eventsStream(spark, eventsDir)
      .select(col("ts"), col("user_id"), col("event_type"))
    val q = StreamingStages.runToMemory(
      StreamingStages.streamingDedup(stream, "ts",
        Seq("user_id", "event_type"), horizon = "10 days"),
      "dedup_out", outputMode = "append")
    try {
      // horizon >> data span, so streaming state never evicts and the
      // result must equal the batch distinct key set exactly
      val streamed = spark.table("dedup_out")
        .select("user_id", "event_type").distinct().count()
      val batch = Tables.table(spark, sf, "events")
        .select("user_id", "event_type").distinct().count()
      assert(spark.table("dedup_out").count() == batch)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-static enrichment join == the batch join, rows preserved") {
    import org.apache.spark.sql.functions._
    val events = Tables.table(spark, sf, "events")
    val dim = events.select(col("user_id")).distinct()
      .withColumn("tier", when(col("user_id") % 3 === 0, "gold")
        .otherwise("basic"))
    val stream = StreamingStages.eventsStream(spark, eventsDir)
      .select(col("event_id"), col("user_id"))
    val q = StreamingStages.runToMemory(
      StreamingStages.enrichWithStatic(stream, dim, Seq("user_id")),
      "enrich_out", outputMode = "append")
    try {
      val streamed = spark.table("enrich_out")
      assert(streamed.count() == events.count()) // left join drops nothing
      val batch = events.select(col("event_id"), col("user_id"))
        .join(dim, Seq("user_id"), "left")
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("parquet sink + checkpoint: restart resumes exactly-once") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft_sink_in")
    val out = java.nio.file.Files.createTempDirectory("graft_sink_out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("part1.parquet"))
    def stage() = StreamingStages.mapStage(
      StreamingStages.eventsStream(spark, in.toString),
      df => df.select(col("event_id"), (col("value") * 2.0).as("v2")))
    val nBatch = Tables.table(spark, sf, "events").count()
    // first run: one input file
    StreamingStages.runToShardedParquet(
      stage(), out.toString, ckpt.toString).stop()
    assert(spark.read.parquet(out.toString).count() == nBatch)
    // second input file arrives while the query is DOWN; a restart from
    // the same checkpoint must process ONLY the new file (no re-emit of
    // part1's rows — exactly-once across restarts, D6)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("part2.parquet"))
    StreamingStages.runToShardedParquet(
      stage(), out.toString, ckpt.toString).stop()
    assert(spark.read.parquet(out.toString).count() == 2 * nBatch)
  }

  test("stateful streaming funnel == batch q84 at end of input") {
    import org.apache.spark.sql.functions._
    val stream = StreamingStages.eventsStream(spark, eventsDir)
    val q = StreamingStages.runToMemory(
      StreamingStages.runningFunnel(spark, stream), "funnel_out",
      outputMode = "update")
    try {
      def us(c: String) = when(col(c) >= 0,
        Tables.fmtTs(timestamp_micros(col(c)))) // -1 => null
      val streamed = spark.table("funnel_out")
        .select(col("user_id"), col("stage"),
          us("fv_us").as("first_view"), us("fc_us").as("first_click"),
          us("fp_us").as("first_purchase"))
      val batch = SparkEntry.queries("q84_funnel")(spark, sf)
      assert(streamed.count() == batch.count()) // one state row per user
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-stream interval join == batch q20 range join") {
    import org.apache.spark.sql.functions._
    val errors = StreamingStages.eventsStream(spark, eventsDir)
      .filter(col("event_type") === "error")
    val purchases = StreamingStages.eventsStream(spark, eventsDir)
      .filter(col("event_type") === "purchase")
    val q = StreamingStages.runToMemory(
      StreamingStages.streamStreamRangeJoin(errors, purchases), "ssj_out",
      outputMode = "append")
    try {
      val streamed = spark.table("ssj_out")
      val batch = SparkEntry.queries("q20_range_join")(spark, sf)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sequencing carries state across micro-batches") {
    import org.apache.spark.sql.functions._
    // The q159 gate runs single-batch; the property it can't exercise
    // is state CARRY — split events at the median instant into two
    // files, force one file per trigger (batch boundaries respect
    // event time), and the per-user sequence/gap emission must still
    // equal the batch windows.
    val ev = Tables.table(spark, sf, "events")
    val Array(minUs, maxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val cutUs = minUs + (maxUs - minUs) / 2
    val streamDir = java.nio.file.Files.createTempDirectory("graft_seq2")
    def stage(pred: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_seq2w")
      ev.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    stage(unix_micros(col("ts")) <= cutUs, "00_early.parquet", 100000L)
    stage(unix_micros(col("ts")) > cutUs, "01_late.parquet", 200000L)
    val schema = spark.read.parquet(streamDir.toString + "/*.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val q = StreamingStages.runToMemory(
      StreamingStages.eventSequence(spark, stream), "seq2_out", "append")
    try {
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      val streamed = spark.table("seq2_out")
        .select(col("user_id"), col("event_id"), col("seq"),
          when(col("gap_us") >= 0, col("gap_us")).as("gap_us"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = ev.select(col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("seq"),
        (unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("mapGroupsWithState running stats == batch groupBy at end of input") {
    import org.apache.spark.sql.functions._
    val stream = StreamingStages.eventsStream(spark, eventsDir)
    val q = StreamingStages.runToMemory(
      StreamingStages.runningUserStats(spark, stream), "running_out",
      outputMode = "update")
    try {
      val streamed = spark.table("running_out")
        .groupBy("user_id")
        .agg(max("n_events").as("n_events")) // last update per user
      val batch = Tables.table(spark, sf, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      assert(streamed.join(batch, Seq("user_id", "n_events")).count()
        == batch.count())
    } finally q.stop()
  }

  test("streaming band dedup carries bucket state across micro-batches") {
    import org.apache.spark.sql.functions._
    // The q206 gate runs single-batch; the property it can't exercise
    // is that a band bucket's min-id state SURVIVES into later batches
    // (a doc arriving after its smaller-id near-twin must still be
    // flagged). ts = doc_id seconds, so splitting at the median doc_id
    // respects event time; one file per trigger forces two batches.
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("percentile_approx(doc_id, 0.5)"))
      .collect()(0).getLong(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_bd2")
    def stage(pred: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bd2w")
      docs.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    stage(col("doc_id") <= cut, "00_early.parquet", 100000L)
    stage(col("doc_id") > cut, "01_late.parquet", 200000L)
    val stream = StreamingStages.documentsStream(spark,
      streamDir.toString, maxFilesPerTrigger = Some(1))
    val q = StreamingStages.runToMemory(
      StreamingStages.streamingBandDedup(spark, stream,
        horizonMs = 30L * 86400 * 1000), "bd2_out", "update")
    try {
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      val streamed = spark.table("bd2_out").select("doc_id").distinct()
      val bands = graft.ops.DedupOps.bandRowsRowLocal(docs)
      val batch = bands.as("a")
        .join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id")).distinct()
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      // cross-batch specifically: at least one flagged doc is a LATE
      // arrival whose only smaller partner is EARLY (state carry)
      val lateDups = streamed.filter(col("doc_id") > cut)
      assert(lateDups.count() > 0, "no late-batch dups — cross-batch " +
        "state carry not exercised by this corpus")
    } finally q.stop()
  }

  test("streaming band dedup retroactively flags a displaced bucket min " +
    "when a smaller id arrives in a later batch") {
    import org.apache.spark.sql.functions._
    // Out-of-order arrival within the watermark horizon: doc `lo`
    // arrives AFTER its larger band-mate `hi`. Batch 1 installs hi as
    // its bucket's min (a keep); batch 2 delivers lo, which displaces
    // hi — the stage must re-emit hi as a dup or the dup set would
    // depend on arrival order. Pick a hi whose ONLY smaller band
    // partner is lo, so hi can ONLY be flagged by the retroactive path.
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val bands = graft.ops.DedupOps.bandRowsRowLocal(docs)
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("lo"), col("b.doc_id").as("hi"))
      .distinct()
    val only = pairs.groupBy(col("hi"))
      .agg(countDistinct(col("lo")).as("nlo"), min(col("lo")).as("lo"))
      .filter(col("nlo") === 1)
      .orderBy(col("hi")).limit(1).collect()
    assert(only.nonEmpty, "corpus has no doc whose only smaller band " +
      "partner is unique — cannot stage the displacement scenario")
    val (lo, hi) = (only(0).getAs[Long]("lo"), only(0).getAs[Long]("hi"))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_bd3")
    def stage(pred: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bd3w")
      docs.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    stage(col("doc_id") =!= lo, "00_first.parquet", 100000L)
    stage(col("doc_id") === lo, "01_late_lo.parquet", 200000L)
    val stream = StreamingStages.documentsStream(spark,
      streamDir.toString, maxFilesPerTrigger = Some(1))
    val q = StreamingStages.runToMemory(
      StreamingStages.streamingBandDedup(spark, stream,
        horizonMs = 30L * 86400 * 1000), "bd3_out", "update")
    try {
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      val streamed = spark.table("bd3_out").select("doc_id").distinct()
      val hits = streamed.filter(col("doc_id") === hi).count()
      assert(hits == 1, s"doc $hi (displaced by late-arriving $lo) was " +
        "not retroactively flagged")
      // and the full dup set still equals the arrival-order-free truth
      val truth = pairs.select(col("hi").as("doc_id")).distinct()
      assert(streamed.count() == truth.count())
      assert(streamed.exceptAll(truth).count() == 0)
    } finally q.stop()
  }

  test("streaming windowed count-min accumulates cells across " +
    "micro-batches and equals the batch sketch") {
    import org.apache.spark.sql.functions._
    val events = Tables.table(spark, sf, "events")
    // split INSIDE a window, between two events of the SAME user — the
    // straddle assertion below is per CELL, so a window straddling the
    // cut only guarantees a straddling cell if one user's events land
    // on both sides (same 4 cell addresses). cut = min event time of
    // the earliest (window, user) pair with ≥2 distinct timestamps:
    // batch 1 ends exactly at that user's first event, batch 2 has the
    // user's later events in the same window. Everything in batch 2 is
    // strictly newer, so nothing is late-dropped. (A median cut has no
    // such guarantee and flaked on this corpus.)
    val cut = events
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(countDistinct(col("ts")).as("nd"),
        min(unix_micros(col("ts"))).as("mn"))
      .filter(col("nd") >= 2)
      .orderBy(col("window.start"), col("user_id")).limit(1)
      .collect()(0).getAs[Long]("mn")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_cm2")
    def stage(pred: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cm2w")
      events.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    stage(unix_micros(col("ts")) <= cut, "00_early.parquet", 100000L)
    stage(unix_micros(col("ts")) > cut, "01_late.parquet", 200000L)
    val q = StreamingStages.runToMemory(
      StreamingStages.windowedCountMin(StreamingStages.eventsStream(
        spark, streamDir.toString, maxFilesPerTrigger = Some(1))),
      "cm2_out", "complete")
    try {
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      val streamed = spark.table("cm2_out")
      val batch = graft.ops.SketchOps.cmAddress(
          events.select(col("ts"),
            col("user_id").cast("string").as("k")), "k", salt = "cmu")
        .groupBy(window(col("ts"), "1 hour"), col("r"), col("col"))
        .agg(count(lit(1)).as("cnt"))
        .select(Tables.fmtTsSec(col("window.start")).as("win_start"),
          col("r"), col("col"), col("cnt"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0,
        "stream-built cells diverge from the batch sketch")
      // at least one cell straddles the cut (its count merged
      // increments from both batches)
      val straddle = streamed.join(
        graft.ops.SketchOps.cmAddress(
            events.select(col("ts"),
              col("user_id").cast("string").as("k")), "k", salt = "cmu")
          .groupBy(window(col("ts"), "1 hour"), col("r"), col("col"))
          .agg(
            sum(when(unix_micros(col("ts")) <= cut, 1L).otherwise(0L))
              .as("early"),
            sum(when(unix_micros(col("ts")) > cut, 1L).otherwise(0L))
              .as("late"))
          .filter(col("early") > 0 && col("late") > 0)
          .select(Tables.fmtTsSec(col("window.start")).as("win_start"),
            col("r"), col("col")),
        Seq("win_start", "r", "col"))
      assert(straddle.count() > 0, "no cell straddles the cut — " +
        "cross-batch additivity not exercised")
      // bounded-state shape: ≤ D×W cells per window
      val perWin = streamed.groupBy(col("win_start"))
        .agg(count(lit(1)).as("cells"))
        .agg(max(col("cells"))).collect()(0).getLong(0)
      assert(perWin <= 4 * 64, s"window holds $perWin cells")
    } finally q.stop()
  }

  test("streaming windowed HLL max-merges registers across " +
    "micro-batches and equals the batch sketch") {
    import org.apache.spark.sql.functions._
    val events = Tables.table(spark, sf, "events")
    // same-user in-window cut as the count-min test: registers are MAX
    // state, so the merge is only exercised when one window's register
    // set receives rho values from BOTH batches
    val cut = events
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(countDistinct(col("ts")).as("nd"),
        min(unix_micros(col("ts"))).as("mn"))
      .filter(col("nd") >= 2)
      .orderBy(col("window.start"), col("user_id")).limit(1)
      .collect()(0).getAs[Long]("mn")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_hll2")
    def stage(pred: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_hll2w")
      events.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    stage(unix_micros(col("ts")) <= cut, "00_early.parquet", 100000L)
    stage(unix_micros(col("ts")) > cut, "01_late.parquet", 200000L)
    val q = StreamingStages.runToMemory(
      StreamingStages.windowedHll(StreamingStages.eventsStream(
        spark, streamDir.toString, maxFilesPerTrigger = Some(1))),
      "hll2_out", "complete")
    try {
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      val streamed = spark.table("hll2_out")
      val batch = events
        .select(col("ts"),
          md5(concat(lit("hllu:"), col("user_id").cast("string"))
            .cast("binary")).as("h"))
        .select(col("ts"),
          (expr("CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT)") % 64)
            .as("b"),
          expr("CAST(conv(substring(h, 3, 15), 16, 10) AS BIGINT)")
            .as("w"))
        .withColumn("rho", when(col("w") === 0, lit(61L))
          .otherwise(expr("CAST(61 - length(bin(w)) AS BIGINT)")))
        .groupBy(window(col("ts"), "1 hour"), col("b"))
        .agg(max(col("rho")).as("register"))
        .select(Tables.fmtTsSec(col("window.start")).as("win_start"),
          col("b"), col("register"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0,
        "stream-built registers diverge from the batch sketch")
      // bounded-state shape: ≤ 64 registers per window
      val perWin = streamed.groupBy(col("win_start"))
        .agg(count(lit(1)).as("regs"))
        .agg(max(col("regs"))).collect()(0).getLong(0)
      assert(perWin <= 64, s"window holds $perWin registers")
    } finally q.stop()
  }

  test("stream-ingested vector index equals a batch rebuild across " +
    "micro-batches and serves identically") {
    import org.apache.spark.sql.functions._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    import spark.implicits._
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (pS, pB) = (tmp("vsi_s"), tmp("vsi_b"))
    def pfx(t: String, p: String) =
      t + p.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    val (pxS, pxB) = (pfx("vss", pS), pfx("vsb", pB))
    try {
      // stream side: codebooks trained once (frozen), zero codes, the
      // corpus arriving as a 3-file stream — one file per micro-batch
      VectorIndexOps.buildVectorIndex(spark, e, e.limit(0), pxS, s"$pS/idx")
      e.repartition(3, col("vec_id")).write.parquet(s"$pS/stream")
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$pS/stream").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$pS/stream")
      val q = StreamingStages.streamIntoVectorIndex(spark, stream, pxS,
        s"$pS/idx", s"$pS/ckpt")
      try assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      finally q.stop()
      // batch side: same training set, corpus coded in one pass
      VectorIndexOps.buildVectorIndex(spark, e, e, pxB, pB)
      def codes(px: String) = VectorIndexOps.readVectorIndex(spark, px)
        .codes.as[(Long, Long, Long, Long)].collect().toSet
      assert(codes(pxS) == codes(pxB),
        "stream-built codes diverge from a batch rebuild")
      val qs = e.filter(col("vec_id") < 20)
      def served(px: String) = VectorIndexOps.searchVectorIndex(qs,
        VectorIndexOps.readVectorIndex(spark, px), 2)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(served(pxS) == served(pxB),
        "stream-built index serves differently from the batch build")
    } finally {
      Seq("coarse", "codebooks", "codes").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${pxS}_$t")
        spark.sql(s"DROP TABLE IF EXISTS ${pxB}_$t")
      }
      spark.catalog.clearCache()
    }
  }

  test("rollup stream restart from checkpoint appends each batch " +
    "exactly once (no re-emit of committed input)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf, "events")
    val base = java.nio.file.Files.createTempDirectory("roll_rs")
      .toString
    val (streamDir, tbl) = (s"$base/stream", "ut_roll_rs")
    def stage(pred: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("roll_rsw")
      ev.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(streamDir))
      val dst = java.nio.file.Paths.get(streamDir).resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    try {
      stage(col("event_id") % 2 === 0, "00_a.parquet", 100000L)
      def run(): Unit = {
        val stream = spark.readStream
          .schema(spark.read.parquet(streamDir).schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir)
        StreamingStages.streamIntoRollup(spark, stream,
          Seq("event_type"), Seq("value"), tbl, 2, s"$base/tbl",
          s"$base/ckpt").stop()
      }
      run() // processes file A, commits it in the checkpoint
      stage(col("event_id") % 2 =!= 0, "01_b.parquet", 200000L)
      run() // restart: must append ONLY file B's partials
      import spark.implicits._
      val fold = graft.io.Sinks.readRollup(spark, tbl,
          Seq("event_type"), Seq("value"))
        .select(col("event_type"), col("n"),
          col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      val scratch = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("s"))
        .as[(String, Long, Double)].collect().toSet
      assert(fold == scratch,
        "restart re-emitted (or lost) a committed batch's partials")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.clearCache()
    }
  }

  test("replayed micro-batch appends are skipped: vector index and " +
    "rollup converge to exactly-once contents under at-least-once re-runs") {
    import org.apache.spark.sql.functions._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    import spark.implicits._
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("idem").toString
    val px = "ut_idem" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val tbl = s"${px}_roll"
    try {
      // vector index: codebooks trained, zero codes; the same batch
      // "arrives" three times with one micro-batch id (a foreachBatch
      // replay after a crash between append commit and checkpoint
      // commit). Contents must equal ONE append.
      VectorIndexOps.buildVectorIndex(spark, e, e.limit(0), px, s"$base/idx")
      val batch = e.filter(col("vec_id") % 3 === 0)
      (1 to 3).foreach(_ => VectorIndexOps.appendToVectorIndex(spark,
        batch, px, s"$base/idx", batchId = Some(0L)))
      val once = VectorIndexOps.codeVectors(batch,
        VectorIndexOps.readVectorIndex(spark, px).coarse,
        VectorIndexOps.readVectorIndex(spark, px).codebooks)
        .as[(Long, Long, Long, Long)].collect().toSet
      val stored = VectorIndexOps.readVectorIndex(spark, px).codes
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(stored == once, "replayed vector append double-appended")
      // a LATER batch id with new rows still appends
      VectorIndexOps.appendToVectorIndex(spark,
        e.filter(col("vec_id") % 3 === 1), px, s"$base/idx",
        batchId = Some(1L))
      assert(VectorIndexOps.readVectorIndex(spark, px).codes.count()
        > stored.size, "distinct batch id was wrongly skipped")
      // rollup: same replay discipline, sums must not double-count
      val ev = Tables.table(spark, sf, "events")
      (1 to 3).foreach(_ => graft.io.Sinks.appendRollup(ev,
        Seq("event_type"), Seq("value"), tbl, 2, s"$base/roll",
        batchId = Some(0L)))
      val fold = graft.io.Sinks.readRollup(spark, tbl,
          Seq("event_type"), Seq("value"))
        .select(col("event_type"), col("n"),
          col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      val scratch = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("s"))
        .as[(String, Long, Double)].collect().toSet
      assert(fold == scratch, "replayed rollup append double-counted")
    } finally {
      Seq(s"${px}_coarse", s"${px}_codebooks", s"${px}_codes", tbl)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("replayed novelty ingest converges: verdicts identical, gram-df " +
    "rows exactly-once, and a later twin batch scores non-novel") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextOps
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("nvrp").toString
    val px = "ut_nvrp" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    try {
      TextOps.writeNoveltyIndex(
        docs(Seq(7L -> "w1 w2 w3 w4 w5 w6")), px, s"$base/idx")
      val batch = docs(Seq(
        10L -> "w1 w2 w3 w4 w5 x9", // one corpus gram + one fresh
        40L -> "b1 b2 b3 b4 b5"))   // wholly novel
      // the same micro-batch "arrives" three times under one id — a
      // foreachBatch replay after a crash between the gram append and
      // the checkpoint commit. Verdicts must be identical every time
      // (the re-score excludes the batch's own committed rows) and the
      // gram table must hold exactly one copy of the batch.
      val runs = (1 to 3).map(_ => TextOps.ingestNovelty(spark, batch,
        px, batchId = Some(0L))
        .select(col("doc_id"), col("n_novel"), col("verdict"))
        .as[(Long, Long, String)].collect().toSet)
      assert(runs.forall(_ == runs.head),
        s"replayed novelty verdicts drifted: $runs")
      assert(runs.head == Set((10L, 1L, "novel"), (40L, 1L, "novel")),
        runs.head.toString)
      val tagRows = spark.table(s"${px}_gramdf")
        .filter(col("ingest_batch") === 0L).count()
      assert(tagRows == 3L, // x9-gram, w1..w5 (dup of corpus), b-gram
        s"gram append not exactly-once: $tagRows rows under the tag")
      // a LATER batch with a fresh id still appends, and first-
      // ingested-wins holds against the replayed batch's grams
      val twin = TextOps.ingestNovelty(spark,
        docs(Seq(50L -> "b1 b2 b3 b4 b5")), px, batchId = Some(1L))
        .select(col("doc_id"), col("n_novel")).as[(Long, Long)]
        .collect().toSet
      assert(twin == Set((50L, 0L)), twin.toString)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${px}_gramdf")
      spark.catalog.clearCache()
    }
  }

  test("torn corpus-index append: a replay fills only the missing tables " +
    "(per-table idempotence) and converges to the batch build") {
    import org.apache.spark.sql.functions._
    import graft.ops.DedupOps
    val docs = Tables.table(spark, sf, "documents")
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    val base = java.nio.file.Files.createTempDirectory("torn").toString
    val px = "ut_torn" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val pxB = px + "b"
    val tables = Seq("hashes", "shingles", "bands", "sizes", "bandcounts")
    try {
      DedupOps.writeCorpusIndex(DedupOps.buildCorpusIndex(a), px,
        s"$base/idx", buckets = 4)
      // simulate the crash: batch 0's FIRST table append (hashes)
      // committed, then the writer died before the other four
      graft.io.Sinks.appendBucketedTableIdempotent(spark,
        b.select(col("doc_id"), md5(col("text").cast("binary")).as("h")),
        0L, s"${px}_hashes", "h", 4, s"$base/idx/hashes")
      // the foreachBatch replay re-runs the whole batch
      DedupOps.appendToCorpusIndex(b, px, s"$base/idx", buckets = 4,
        batchId = Some(0L))
      DedupOps.writeCorpusIndex(DedupOps.buildCorpusIndex(docs), pxB,
        s"$base/idxb", buckets = 4)
      val (ti, bi) = (DedupOps.readCorpusIndex(spark, px),
        DedupOps.readCorpusIndex(spark, pxB))
      Seq("hashes" -> (ti.hashes, bi.hashes),
        "shingles" -> (ti.shingles, bi.shingles),
        "bands" -> (ti.bands, bi.bands),
        "sizes" -> (ti.sizes, bi.sizes),
        "bandcounts" -> (ti.bandCounts, bi.bandCounts)
      ).foreach { case (name, (ft, fb)) =>
        val (rt, rb) = (ft.collect().toSet, fb.collect().toSet)
        assert(rt == rb, s"$name diverged after torn replay: " +
          s"torn-extra=${(rt -- rb).take(3)} missing=${(rb -- rt).take(3)}")
      }
    } finally {
      tables.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${px}_$t")
        spark.sql(s"DROP TABLE IF EXISTS ${pxB}_$t")
      }
      spark.catalog.clearCache()
    }
  }

  test("fused multi-table probe: one replay resolves complete/torn/" +
    "missing tables independently — skip, heal, append") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("fused").toString
    val sfx = base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val (tA, tB, tC) = (s"ut_fa$sfx", s"ut_fb$sfx", s"ut_fc$sfx")
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    try {
      // table A: batch 7 fully committed before the crash
      graft.io.Sinks.appendBucketedTable(
        rows(1, 10).withColumn("ingest_batch", lit(7L)), tA, "k", 2,
        s"$base/a")
      // table B: batch 7 committed only HALF its rows (torn mid-job)
      graft.io.Sinks.appendBucketedTable(
        rows(1, 5).withColumn("ingest_batch", lit(7L)), tB, "k", 2,
        s"$base/b")
      // table C: the crash hit before its append — table doesn't exist
      graft.io.Sinks.appendBucketedTablesIdempotent(spark, 7L, Seq(
        (rows(1, 10), tA, "k", 2, s"$base/a"),
        (rows(1, 10), tB, "k", 2, s"$base/b"),
        (rows(1, 10), tC, "k", 2, s"$base/c")))
      val want = (1 to 10).map(i => (i.toLong, s"v$i")).toSet
      Seq(tA -> "complete", tB -> "torn", tC -> "missing").foreach {
        case (t, kind) =>
          val got = spark.table(t).select(col("k"), col("v"))
            .as[(Long, String)].collect().toSet
          assert(got == want, s"$kind table $t wrong after fused " +
            s"replay: extra=${(got -- want).take(3)} " +
            s"missing=${(want -- got).take(3)}")
          assert(spark.table(t).count() == 10L,
            s"$kind table $t has duplicates after fused replay")
      }
      // a second full replay of the now-complete batch is a no-op
      graft.io.Sinks.appendBucketedTablesIdempotent(spark, 7L, Seq(
        (rows(1, 10), tA, "k", 2, s"$base/a"),
        (rows(1, 10), tB, "k", 2, s"$base/b"),
        (rows(1, 10), tC, "k", 2, s"$base/c")))
      Seq(tA, tB, tC).foreach(t =>
        assert(spark.table(t).count() == 10L, s"$t re-appended"))
    } finally {
      Seq(tA, tB, tC).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("fused multi-table append rejects duplicate table names before " +
    "creating or appending to any table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("fuseddup").toString
    val sfx = base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val (tA, tB) = (s"ut_da$sfx", s"ut_db$sfx")
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    try {
      graft.io.Sinks.appendBucketedTable(
        rows(1, 10).withColumn("ingest_batch", lit(1L)), tA, "k", 2,
        s"$base/a")
      // tB first: a check made per part, after earlier parts' writes,
      // would already have created it
      val e = intercept[IllegalArgumentException](
        graft.io.Sinks.appendBucketedTablesIdempotent(spark, 7L, Seq(
          (rows(11, 20), tB, "k", 2, s"$base/b"),
          (rows(11, 20), tA, "k", 2, s"$base/a"),
          (rows(21, 30), tA, "k", 2, s"$base/a"))))
      assert(e.getMessage.contains(tA))
      assert(!spark.catalog.tableExists(tB))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/b")))
      assert(spark.table(tA).count() == 10L)
      assert(spark.table(tA).filter(col("ingest_batch") === 7L).isEmpty)
    } finally {
      Seq(tA, tB).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
      graft.io.IndexLifecycle.rmDir(base)
    }
  }

  test("Sinks.concurrently rethrows a failing arm's own exception only " +
    "after every arm has settled; a single arm runs on the caller") {
    import graft.io.Sinks
    final class ArmFailed extends RuntimeException("arm failed")
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val okRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    // intercept[ArmFailed] fails on any other type, the pool's
    // ExecutionException wrapper included
    val e = intercept[ArmFailed](Sinks.concurrently(Seq(
      () => throw new ArmFailed,
      () => { Thread.sleep(200); slowDone.set(true) },
      () => okRan.set(true))))
    assert(e.getMessage == "arm failed")
    assert(slowDone.get, "rethrown while the slow arm was still running")
    assert(okRan.get)
    val caller = Thread.currentThread
    val ranOn = new java.util.concurrent.atomic.AtomicReference[Thread]
    Sinks.concurrently(Seq(() => ranOn.set(Thread.currentThread)))
    assert(ranOn.get eq caller)
  }

  test("single-table idempotent append: a first attempt launches exactly " +
    "one job more than a plain append of the same frame") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.io.Sinks
    val base = java.nio.file.Files.createTempDirectory("oneprobe").toString
    val sfx = base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val (tPlain, tIdem) = (s"ut_pp$sfx", s"ut_pi$sfx")
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val sc = spark.sparkContext
    /** Jobs started while `body` runs, the listener bus drained before
      * and after. */
    def jobsDuring(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.graftx.listener.drain(sc)
      sc.addSparkListener(l)
      try { body; org.apache.spark.graftx.listener.drain(sc) }
      finally sc.removeSparkListener(l)
      jobs.get
    }
    try {
      // both tables hold two earlier batches over 4 buckets, so the tag
      // probe scans more than one partition
      Seq(tPlain -> s"$base/p", tIdem -> s"$base/i").foreach {
        case (t, p) =>
          Sinks.appendBucketedTable(
            rows(1, 40).withColumn("ingest_batch", lit(-1L)), t, "k", 4, p)
          Sinks.appendBucketedTable(
            rows(41, 80).withColumn("ingest_batch", lit(0L)), t, "k", 4, p)
      }
      assert(spark.table(tIdem).rdd.getNumPartitions > 1)
      val batch = rows(81, 100)
      val plain = jobsDuring(Sinks.appendBucketedTable(
        batch.withColumn("ingest_batch", lit(1L)), tPlain, "k", 4,
        s"$base/p"))
      var applied = false
      val idem = jobsDuring {
        applied = Sinks.appendBucketedTableIdempotent(spark, batch, 1L,
          tIdem, "k", 4, s"$base/i")
      }
      assert(applied, "a first attempt was skipped")
      assert(idem == plain + 1, s"idempotent append launched $idem " +
        s"job(s), the plain append $plain")
      assert(spark.table(tIdem).count() == 100L)
    } finally {
      Seq(tPlain, tIdem).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
      graft.io.IndexLifecycle.rmDir(base)
    }
  }

  test("sharded-parquet sink: torn uncommitted output is invisible to the " +
    "readback and a restart replays the batch exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sink").toString
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_id"), col("event_type"))
    val streamDir = java.nio.file.Paths.get(s"$base/stream")
    java.nio.file.Files.createDirectories(streamDir)
    def stage(p: org.apache.spark.sql.Column, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("sinkstage")
      ev.filter(p).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = java.nio.file.Files.list(tmp)
      val part = try ls.toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head finally ls.close()
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime); ()
    }
    def run(): Unit = StreamingStages.runToShardedParquet(
      spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/stream"),
      s"$base/out", s"$base/ckpt").stop()
    def readback = spark.read.parquet(s"$base/out")
      .as[(Long, String)].collect().toSet
    stage(col("event_id") % 2 === 0, "00_a.parquet", 100000L)
    run() // batch A committed (data + manifest)
    val afterA = readback
    // TORN WRITE: the writer died processing batch B after its task
    // wrote a data file but BEFORE the manifest (WAL) committed — on
    // disk that is exactly an orphan parquet file in the output dir.
    // The readback goes through the sink's _spark_metadata manifest,
    // so the orphan must be invisible.
    stage(col("event_id") % 2 =!= 0, "01_b.parquet", 200000L)
    val outDir = java.nio.file.Paths.get(s"$base/out")
    val ls0 = java.nio.file.Files.list(outDir)
    val committed = try ls0.toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head finally ls0.close()
    java.nio.file.Files.copy(java.nio.file.Paths.get(committed),
      outDir.resolve("part-99999-torn-attempt.snappy.parquet"))
    assert(readback == afterA,
      "uncommitted orphan file leaked into the readback")
    // RESTART: the checkpoint replays batch B from its uncommitted
    // offset; the readback must now be A ∪ B exactly once (B not
    // doubled, the orphan still ignored)
    run()
    val want = ev.as[(Long, String)].collect().toSet
    assert(readback == want,
      "restart lost or double-wrote the torn batch")
    spark.catalog.clearCache()
  }

  test("torn mid-job commit: a replay heals a PARTIAL tagged file set " +
    "instead of skipping on tag presence") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("heal").toString
    val tbl = "ut_heal" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    try {
      // batch -1 seeds the table (the batch-API tag)
      graft.io.Sinks.appendBucketedTable(
        (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
          .withColumn("ingest_batch", lit(-1L)),
        tbl, "k", 4, s"$base/t")
      // simulate the torn window: batch 0's job commit died after
      // renaming only SOME task outputs — physically, a committed
      // write that carries the tag but only half the batch's rows
      val batch = (21 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      graft.io.Sinks.appendBucketedTable(
        batch.filter(col("k") <= 30L).withColumn("ingest_batch", lit(0L)),
        tbl, "k", 4, s"$base/t")
      // the foreachBatch replay re-runs the whole batch: a presence-
      // only probe would see tag 0 and skip, silently losing k=31..40;
      // the count-compare detects the tear, retracts the partial file
      // set, and re-appends the full batch
      val applied = graft.io.Sinks.appendBucketedTableIdempotent(spark,
        batch, 0L, tbl, "k", 4, s"$base/t")
      assert(applied, "torn replay was skipped on tag presence")
      val got = spark.table(tbl).select(col("k"), col("v"))
        .as[(Long, String)].collect().toSet
      val want = (1 to 40).map(i => (i.toLong, s"v$i")).toSet
      assert(got == want, s"healed contents wrong: " +
        s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      // and a SECOND replay of the now-complete batch skips
      assert(!graft.io.Sinks.appendBucketedTableIdempotent(spark,
        batch, 0L, tbl, "k", 4, s"$base/t"),
        "complete batch was re-appended")
      assert(spark.table(tbl).count() == 40L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.clearCache()
    }
  }

  test("stream-ingested corpus index equals a batch build " +
    "table-for-table across micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.ops.DedupOps
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("doc_id") % 10 =!= 0)
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (pS, pB) = (tmp("sci_s"), tmp("sci_b"))
    def pfx(t: String, p: String) =
      t + p.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    val (pxS, pxB) = (pfx("scs", pS), pfx("scb", pB))
    val tables = Seq("hashes", "shingles", "bands", "sizes",
      "bandcounts")
    try {
      docs.repartition(3, col("doc_id")).write.parquet(s"$pS/stream")
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$pS/stream").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$pS/stream")
      val q = StreamingStages.streamIntoCorpusIndex(spark, stream, pxS,
        s"$pS/idx", 4, s"$pS/ckpt")
      try assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      finally q.stop()
      DedupOps.writeCorpusIndex(DedupOps.buildCorpusIndex(docs), pxB,
        s"$pB/idx", buckets = 4)
      val (si, bi) = (DedupOps.readCorpusIndex(spark, pxS),
        DedupOps.readCorpusIndex(spark, pxB))
      Seq("hashes" -> (si.hashes, bi.hashes),
        "shingles" -> (si.shingles, bi.shingles),
        "bands" -> (si.bands, bi.bands),
        "sizes" -> (si.sizes, bi.sizes),
        "bandcounts" -> (si.bandCounts, bi.bandCounts)
      ).foreach { case (name, (fs, fb)) =>
        val (rs, rb) = (fs.collect().toSet, fb.collect().toSet)
        assert(rs == rb, s"$name diverged: stream-extra=" +
          s"${(rs -- rb).take(3)} batch-extra=${(rb -- rs).take(3)}")
      }
    } finally {
      tables.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${pxS}_$t")
        spark.sql(s"DROP TABLE IF EXISTS ${pxB}_$t")
      }
      spark.catalog.clearCache()
    }
  }
}
