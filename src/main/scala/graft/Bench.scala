package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line for the driver.
  *
  * Methodology: a warm-up pass at sf0.001 first runs each query shape
  * once (JIT + codegen + catalog warm), so the timed pass measures
  * steady-state execution, not JVM startup. Timed runs materialize every
  * row through the `noop` sink — `count()` would let Catalyst prune
  * projections and undercount the real work.
  */
object Bench {

  /** FROZEN drift probe — DO NOT EDIT (pinned in round 9). A fixed
    * synthetic workload (range → hash → 1000-key shuffle → fold) with
    * zero file I/O and zero dependence on the query library, timed
    * min-of-3 inside the same JVM as the bench. Its sole purpose is
    * CROSS-ROUND comparability: the probe's code never changes, so a
    * probe delta between two rounds' records measures the HOST, and a
    * bench delta beyond the probe delta measures the CODE — in-band,
    * instead of the after-the-fact same-code re-run forensics round 8
    * needed (SURVEY §6). Reported as "drift_probe_sec" in the record. */
  def driftProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .select((org.apache.spark.sql.functions.col("id") % 1000)
          .as("k"),
          // bounded summand: a raw xxhash64 sum overflows Long under
          // ANSI mode; mod keeps 20M terms far inside 2^63
          (xxhash64(org.apache.spark.sql.functions.col("id")) % 1000003L)
            .as("h"))
        .groupBy("k").agg(sum("h").as("s"))
        .agg(sum("s")).collect()
      (System.nanoTime() - t0) / 1e9
    }.min
  }
  /** FROZEN I/O drift probe — DO NOT EDIT (pinned in round 11). The
    * CPU probe above cannot see DISK weather: round 11's two same-tree
    * full runs measured probe-derated 0.857 and 1.663 against the same
    * baseline because the slow session's drag sat in write+read-bound
    * lifecycle queries the shuffle probe never touches. This probe is
    * the I/O-side control: a fixed 2M-row parquet write + full
    * readback fold on the scratch volume, min-of-3, reported as
    * "io_probe_sec". Cross-round rule: compare bench totals only with
    * BOTH probes' context; I/O-heavy per-query deltas de-rate by this
    * one. */
  def ioProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val dir = s"${Tables.scratchDir}/io_probe"
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 8)
        .select(org.apache.spark.sql.functions.col("id"),
          // bounded summand: a raw xxhash64 sum overflows Long under
          // ANSI mode (the driftProbe lesson)
          (xxhash64(org.apache.spark.sql.functions.col("id"))
            % 1000003L).as("h"),
          concat(lit("io-probe-pad-io-probe-pad-io-probe-pad:"),
            org.apache.spark.sql.functions.col("id")).as("s"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).agg(sum("h")).collect()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = Graft.mainSession(defaultCpus = "32")

    def materialize(name: String, dir: String): Unit =
      try SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      // queries may persist() intermediates for intra-query reuse; drop
      // them so cached blocks never accumulate across the 40+ query run
      // — on FAILURE too, else a crashed query's cache skews the rest
      finally spark.catalog.clearCache()

    // This VM commits fresh pages at ~40-50 MB/s: the first queries that
    // grow the heap absorb the ENTIRE commit cost as multi-second GC
    // stalls (measured: a trivial scan at 135 s when the band lands on
    // it). Touch the whole heap now, while untimed — with Xms=Xmx G1
    // never uncommits, so this is a one-time cost paid in the right
    // place. (AlwaysPreTouch does the same serially at JVM start, where
    // it also taxes every sbt test fork.)
    locally {
      val chunk = 1 << 28 // 256 MiB
      val target = (Runtime.getRuntime.maxMemory * 0.72).toLong
      val held = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var committed = 0L
      while (committed < target) {
        val a = new Array[Byte](chunk)
        var i = 0
        while (i < chunk) { a(i) = 1; i += 4096 }
        held += a
        committed += chunk
      }
      held.clear()
      System.gc()
    }

    // host-speed controls, timed after the heap pretouch so they
    // measure the steady-state host, not page-commit stalls
    val probe = driftProbe(spark)
    val ioProbeSec = ioProbe(spark)

    // SPARK_GRAFT_ONLY=q50_ngram_jaccard,q51_dedup_clusters restricts the
    // run (local profiling loop); the driver sets no filter and times all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      try materialize(n, warmDir)
      catch { case _: Throwable => () }
    }

    // A failed query records -1 (and lands in "errors") — it must never
    // masquerade as a fast success by reporting its time-to-crash.
    // Two timed passes, per-query MINIMUM: the host commits/steals pages
    // in multi-second bands that land on arbitrary queries (measured: the
    // same unchanged query at 1.5 s / 7.7 s / 22.5 s across three runs);
    // min-of-2 reports the query's actual cost unless a band hits it in
    // BOTH passes. An error in one pass is masked by a success in the
    // other; -1 means it never succeeded.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-query shuffle rows/bytes for the plan-regression gate
    // (tools/plan_gate.py): snapshots bracket the timed section but the
    // bus drain runs outside it, so metrics cost no timed seconds.
    // MIN across the passes: a query's PLAN-intrinsic shuffle rows are
    // deterministic per query+SF, but partial aggregation falls back
    // under memory pressure and then emits extra (up to raw) rows —
    // measured: the same q107 plan at 45k rows in one run and 301k in
    // another. Fallback only ever INFLATES, so the per-pass min is the
    // intrinsic count the gate should diff.
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val shufRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val shufBytes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    for (_ <- 1 to 2) names.foreach { name =>
      val (r0, b0) = tally.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      try {
        materialize(name, sfDir)
        val t = (System.nanoTime() - t0) / 1e9
        if (!best.get(name).exists(_ <= t)) best(name) = t
        val (r1, b1) = tally.snapshot(spark.sparkContext)
        shufRows(name) =
          math.min(shufRows.getOrElse(name, Long.MaxValue), r1 - r0)
        shufBytes(name) =
          math.min(shufBytes.getOrElse(name, Long.MaxValue), b1 - b0)
        errors.remove(name)
      } catch { case e: Throwable =>
        if (!best.contains(name))
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    val results = names.map(n => n -> best.getOrElse(n, -1.0))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString }
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def longMap(m: scala.collection.Map[String, Long]): String =
      names.flatMap(n => m.get(n).map(v => "\"" + n + "\":" + v))
        .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"shuffle_rows":${longMap(shufRows)},"shuffle_bytes":${longMap(shufBytes)},"drift_probe_sec":$probe,"io_probe_sec":$ioProbeSec,"sf":"$sfDir"}"""
    println(line)
    // The driver keeps only a ~2000-char stdout TAIL; the full line above
    // is ~26 KB, so its front ("value", "queries") has been truncated out
    // of the captured record for three rounds running (parsed:null in
    // BENCH_r09..r11). Emit a compact totals-only line LAST so the tail
    // always contains one complete parseable JSON record; the per-query
    // map survives in the full line and in target/BENCH_local_latest.json.
    val compact =
      s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"drift_probe_sec":$probe,"io_probe_sec":$ioProbeSec,"sf":"$sfDir"}"""
    println(compact)
    // the driver captures stdout's tail, which has been observed
    // truncated — also persist the full record so the per-query timings
    // survive regardless; under target/ (build output, gitignored), so a
    // run from a checkout never modifies a tracked file
    try {
      val out = java.nio.file.Paths.get("target", "BENCH_local_latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case _: Exception => () }
    spark.stop()
  }
}
