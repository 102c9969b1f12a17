package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: dump `.explain("formatted")` of named registered queries
  * to `<outDir>/<name>.txt` — the plan evidence the optimization-round
  * deliverables commit under plans/. Lifecycle queries execute their
  * build trajectory while the DataFrame is constructed (that is their
  * contract), and checkpoint-ending queries return a frame whose plan
  * is just a `Scan ExistingRDD` stub — so in addition to the returned
  * frame's plan, every query execution that runs DURING construction
  * (localCheckpoint materializations, lifecycle writes) is captured
  * through a QueryExecutionListener and dumped as its own labeled
  * section: the real operator trees are in the file, not hidden behind
  * the checkpoint.
  *
  * Usage: runMain graft.PlanDump <outDir> <name1,name2,...>
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.001 — plan shape only).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = Graft.mainSession(defaultCpus = "8")
    new java.io.File(outDir).mkdirs()

    // construction-time executions (checkpoint/write/collect) land here;
    // the listener bus is asynchronous, so drain before reading
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.add(funcName -> qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    names.foreach { n =>
      try {
        captured.clear()
        val df = SparkEntry.queries(n)(spark, dir)
        org.apache.spark.graftx.listener.drain(spark.sparkContext)
        val sb = new StringBuilder
        var i = 0
        captured.forEach { kv =>
          i += 1
          sb.append(s"== Construction-time execution #$i (${kv._1}) ==\n")
          sb.append(kv._2).append("\n")
        }
        sb.append("== Returned frame ==\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.txt"), sb.toString)
        println(s"[plandump] wrote $outDir/$n.txt" +
          (if (i > 0) s" (+$i construction-time plans)" else ""))
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
