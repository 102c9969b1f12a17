package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Physical-plan metrics for the bench record: cumulative shuffle rows
  * and bytes WRITTEN across all tasks, snapshotted around each timed
  * query so target/BENCH_local_latest.json carries a per-query
  * `shuffle_rows`/`shuffle_bytes` map. Shuffle rows are deterministic
  * for a deterministic query at a fixed scale factor — unlike seconds,
  * which drift with the host — so a plan regression (a new exchange, a
  * lost pushdown, a broadcast that silently became a shuffle join)
  * fails a mechanical diff of two records ([[BenchMetrics.gate]],
  * `tools/plan_gate.py`) instead of waiting for a human to read plans.
  */
final class ShuffleTally extends SparkListener {
  private val rows = new LongAdder
  private val bytes = new LongAdder

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      rows.add(m.shuffleWriteMetrics.recordsWritten)
      bytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Cumulative (rows, bytes) written so far; drains the (async)
    * listener bus first so a just-finished action's tail events can't
    * leak into the next query's delta. Call OUTSIDE the timed
    * section. */
  def snapshot(sc: SparkContext): (Long, Long) = {
    org.apache.spark.graftx.listener.drain(sc)
    (rows.sum(), bytes.sum())
  }
}

object BenchMetrics {

  /** The mechanical plan-regression gate: flag every query whose
    * shuffle-row count grew beyond `tol` times its baseline plus an
    * absolute `slack` (the slack keeps epsilon-sized queries from
    * tripping on a handful of rows). Queries absent from either side
    * are skipped — a NEW query has no baseline to regress against, and
    * a retired one has nothing to defend. Compare records at the SAME
    * scale factor; rows scale with data, not with host speed. Records
    * carry the MIN across timed passes because partial aggregation
    * falls back under memory pressure and inflates recordsWritten
    * (same plan measured at 45k and 301k rows) — a fallback is host
    * weather; a plan regression moves the min. */
  def gate(baseline: Map[String, Long], current: Map[String, Long],
      tol: Double = 1.25, slack: Long = 10000L): Seq[String] =
    current.toSeq.sorted.flatMap { case (q, r) =>
      baseline.get(q).collect {
        case b if b >= 0L && r > b * tol + slack =>
          s"$q: shuffle rows $r > ${tol}x baseline $b + $slack"
      }
    }
}
