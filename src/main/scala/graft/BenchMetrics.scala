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
  * fails a mechanical diff of two records (`tools/plan_gate.py`)
  * instead of waiting for a human to read plans.
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
