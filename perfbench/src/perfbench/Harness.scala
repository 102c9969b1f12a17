package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.graftx.listener
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark harness inside the JVM. It times the benchmark's own calls
  * into the engine — `SparkEntry.queries(name)(spark, dir)` (construct)
  * and the write of the returned frame to the `noop` sink (execute) —
  * and, in traced passes, records jobs, stages, planning phases and
  * cache leaks through listeners it installs itself. The check pass
  * that opens set-up writes each result as parquet to `--check`
  * instead. It writes one JSON record when the run ends;
  * `perfbench/run.py` turns it into metrics and checks the results
  * against the DuckDB oracle.
  *
  * Usage: Harness --data DIR --plan FILE --seconds S --trace 0|1
  *                 --out FILE --check DIR
  * The plan file holds a `queries` line (short query ids), a `serve`
  * line (the ids that only read persisted state) and `pass` lines (each
  * a permutation of query indexes); passes run until `--seconds` have
  * elapsed and at least three have run; a traced run traces every
  * second pass and ends on an untraced one.
  */
object Harness {
  /** Untimed passes after the check pass. Measured at sf0.001 on 4
    * cores, the first pass after the check pass runs 15-35 % slower than
    * the passes after it, which lie within about 10 % of each other. */
  val WarmPasses = 1

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch ms with sub-ms resolution, on the same base as
    * listener event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** One span: workload, pass, query, construct or execute. Jobs and
    * stages are recorded by [[Tracer]] and point at these by id. */
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Double, end: Double)

  final case class QueryRun(name: String, span: Long, constructS: Double,
      executeS: Double, error: Option[String], cacheEntries: Int,
      persistentRdds: Int)

  final case class Pass(traced: Boolean, wallS: Double, gcS: Double,
      heapPeakMb: Double, queries: Seq[QueryRun])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val planLines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(opt("plan"))).asScala.map(_.trim.split("\\s+").toSeq)
    def ids(key: String) = planLines.find(_.head == key).map(_.tail).getOrElse(Nil)
    val registry = graft.SparkEntry.queries
    def resolve(id: String): String = registry.keys.find(_.startsWith(id + "_"))
      .getOrElse(sys.error(s"no registered query with id $id"))
    val names = ids("queries").map(resolve).toVector
    val serve = ids("serve").map(resolve)
    val order = planLines.filter(_.head == "pass").map(_.tail.map(_.toInt))

    val spark = graft.Tables.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${sys.props("java.io.tmpdir")}/spark")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/warehouse"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    pretouchHeap()

    val spans = ArrayBuffer.empty[Span]
    var nextId = 0L
    def span[T](parent: Long, kind: String, name: String)(
        body: Long => T): (T, Double) = {
      nextId += 1
      val id = nextId
      val t0 = nowMs()
      val r = body(id)
      val t1 = nowMs()
      spans += Span(id, parent, kind, name, t0, t1)
      (r, (t1 - t0) / 1e3)
    }
    def inSpan[T](id: Long)(body: => T): T = {
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try body finally sc.setLocalProperty(Tracer.SpanKey, null)
    }

    val tracer = new Tracer
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

    /** Construct and execute one query. `checkDir` set: the result is
      * written there as parquet for the oracle compare, else to the
      * `noop` sink. */
    def runQuery(parent: Long, name: String, traced: Boolean,
        checkDir: Option[String] = None): QueryRun = {
      val before = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val (run, _) = span(parent, "query", name) { qid =>
        var err: Option[String] = None
        val (df, cs) = span(qid, "construct", name) { id =>
          inSpan(id)(try Some(registry(name)(spark, data))
            catch { case e: Throwable => err = Some(message(e)); None })
        }
        val (_, es) = span(qid, "execute", name) { id =>
          df.foreach(d => inSpan(id)(
            try checkDir match {
              case Some(dir) => d.coalesce(1).write.mode("overwrite")
                .parquet(s"$dir/$name")
              case None => d.write.mode("overwrite").format("noop").save()
            }
            catch { case e: Throwable => err = Some(message(e)) }))
        }
        // construct-time analysis of the returned frame: no action runs
        // on this QueryExecution, so the listener never sees it
        if (traced) df.foreach(d => tracer.record(d.queryExecution))
        val entries = if (traced) cacheEntries(spark) else 0
        val rdds =
          if (traced) (sc.getPersistentRDDs.keySet -- before).size else 0
        QueryRun(name, qid, cs, es, err, entries, rdds)
      }
      spark.catalog.clearCache()
      run
    }

    val ((check, setupS, passes), _) = span(0, "workload", "workload") { root =>
      // setup, timed from JVM start: a check pass over every query
      // (codegen, build-once index guards) whose results are the ones
      // the oracle checks — the first execution of each query in the
      // run, on the same inputs as the timed passes — then WarmPasses
      // untimed passes while the JIT still compiles
      val (check, _) = span(root, "setup", "warm") { id =>
        val checked = names.map(n =>
          runQuery(id, n, traced = false, Some(opt("check"))))
        val later = (0 until WarmPasses).flatMap(w =>
          order(w).map(k => runQuery(id, names(k), traced = false)))
        checked.map(q => q.name -> q.error.orElse(
          later.find(r => r.name == q.name && r.error.isDefined)
            .flatMap(_.error)))
      }
      val setupS = nowMs() / 1e3 -
        ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
      val passes = ArrayBuffer.empty[Pass]
      val tStart = nowMs()
      var i = 0
      // at least three passes, for a median. A traced run traces the
      // odd passes and ends on an untraced one, so every traced pass
      // lies between two untraced ones.
      def more = passes.size < 3 || nowMs() - tStart < seconds * 1e3 ||
        (trace && passes.last.traced)
      while (more) {
        val traced = trace && i % 2 == 1
        if (traced) tracer.attach(spark)
        heapPools.foreach(_.resetPeakUsage())
        val gc0 = gcMs()
        val (qs, wall) = span(root, "pass", s"pass$i") { id =>
          order((WarmPasses + i) % order.size).map(k =>
            runQuery(id, names(k), traced))
        }
        val gcS = (gcMs() - gc0) / 1e3
        val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        if (traced) tracer.detach(spark)
        passes += Pass(traced, wall, gcS, peak, qs)
        i += 1
      }
      (check, setupS, passes.toSeq)
    }
    val scratch = dirBytes(new java.io.File(graft.Tables.scratchDir))
    write(opt("out"), names, serve, setupS, passes, spans.toSeq,
      tracer, scratch, check)
    spark.stop()
  }

  /** CacheManager entries currently held (the count is private to
    * Spark, so it is read reflectively; falls back to 0/1). */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch { case _: ReflectiveOperationException =>
      if (cm.isEmpty) 0 else 1 }
  }

  /** Commit the heap's pages up front, untimed by the passes: with
    * Xms=Xmx the collector never shrinks it again, so the first queries
    * do not absorb page-commit stalls. */
  def pretouchHeap(): Unit = {
    val chunk = 1 << 26
    val target = (Runtime.getRuntime.maxMemory * 0.72).toLong
    var held = List.empty[Array[Byte]]
    var committed = 0L
    while (committed < target) {
      val a = new Array[Byte](chunk)
      var i = 0
      while (i < chunk) { a(i) = 1; i += 4096 }
      held = a :: held
      committed += chunk
    }
    held = Nil
    System.gc()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, names: Seq[String], serve: Seq[String],
      setupS: Double, passes: Seq[Pass], spans: Seq[Span], t: Tracer,
      scratch: Long, check: Seq[(String, Option[String])]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    def arr[A](xs: Iterable[A])(f: A => String): String =
      xs.map(f).mkString("[", ",", "]")
    def opt(o: Option[String]) = o.map(str).getOrElse("null")
    w.print(s"""{"names":${arr(names)(str)},"serve":${arr(serve)(str)},""")
    // class of each query's function, which names the module that
    // registered it
    w.print(""""modules":""" + arr(names)(n =>
      s"""[${str(n)},${str(graft.SparkEntry.queries(n).getClass.getName)}]""") + ",")
    w.print(s""""setup_s":$setupS,"scratch_bytes":$scratch,""")
    w.print(""""passes":""" + arr(passes)(p =>
      s"""{"traced":${p.traced},"wall_s":${p.wallS},"gc_s":${p.gcS},""" +
      s""""heap_peak_mb":${p.heapPeakMb},"queries":""" + arr(p.queries)(q =>
        s"""{"name":${str(q.name)},"span":${q.span},""" +
        s""""construct_s":${q.constructS},"execute_s":${q.executeS},""" +
        s""""error":${opt(q.error)},"cache_entries":${q.cacheEntries},""" +
        s""""persistent_rdds":${q.persistentRdds}}""") + "}") + ",")
    w.print(""""spans":""" + arr(spans)(s =>
      s"""[${s.id},${s.parent},${str(s.kind)},${str(s.name)},""" +
      s"""${s.start},${s.end}]""") + ",")
    w.print(""""jobs":""" + arr(t.jobs.asScala)(j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${j.start},""" +
      s""""end_ms":${j.end},"ok":${j.ok},"exec":${j.exec},""" +
      s""""stages":${arr(j.stages)(_.toString)},"site":${str(j.site)}}""") + ",")
    w.print(""""stages":""" + arr(t.stages.asScala)(s =>
      s"""{"id":${s.id},"attempt":${s.attempt},"start_ms":${s.start},""" +
      s""""end_ms":${s.end},"tasks":${s.tasks},""" +
      s""""failed_tasks":${s.failedTasks},"run_ms":${s.runMs},""" +
      s""""cpu_ns":${s.cpuNs},"sw_rows":${s.swRows},""" +
      s""""sw_bytes":${s.swBytes},"spill_bytes":${s.spill},""" +
      s""""in_bytes":${s.inBytes},""" +
      s""""out_bytes":${s.outBytes}}""") + ",")
    w.print(""""executions":""" + arr(t.executions.asScala)(e =>
      s"""{"id":${e._1},"root":${e._2},"site":${str(e._3)}}""") + ",")
    w.print(""""phases":""" + arr(t.phases.asScala)(p =>
      s"""[${str(p._1)},${p._2},${p._3}]""") + ",")
    w.print(""""check":""" + arr(check)(c =>
      s"""[${str(c._1)},${opt(c._2)}]""") + ",")
    val oracle = graft.SparkEntry.oracleSql
    w.print(""""oracle":""" + arr(names.flatMap(n => oracle.get(n).map(n -> _)))(
      o => s"""[${str(o._1)},${str(o._2)}]""") + "}")
    w.close()
  }
}

/** Listener pair the benchmark installs for traced passes only. Job
  * records carry the span id the harness set as a local property (Spark
  * propagates local properties to the threads that run broadcast and
  * concurrent writes), the job's long call site, and its SQL execution
  * id; stage records carry task metrics; planning phases come from each
  * executed `QueryExecution.tracker`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val executions = new ConcurrentLinkedQueue[(Long, Long, String)]()
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val failed = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()

  def attach(spark: SparkSession): Unit = {
    listener.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    listener.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // a job over zero partitions starts with no stages at all
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
    open.put(e.jobId, Job(e.jobId,
      prop(SpanKey).map(_.toLong).getOrElse(-1L), e.time.toDouble, 0.0,
      ok = false, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.stageIds, site.getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(
      end = e.time.toDouble, ok = e.jobResult == JobSucceeded)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success)
      failed.merge((e.stageId, e.stageAttemptId), 1, Integer.sum)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def get(f: org.apache.spark.executor.TaskMetrics => Long) =
      m.map(f).getOrElse(0L)
    stages.add(Stage(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble, i.numTasks,
      Option(failed.remove((i.stageId, i.attemptNumber()))).map(_.toInt)
        .getOrElse(0),
      get(_.executorRunTime), get(_.executorCpuTime),
      get(_.shuffleWriteMetrics.recordsWritten),
      get(_.shuffleWriteMetrics.bytesWritten),
      get(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      get(_.inputMetrics.bytesRead), get(_.outputMetrics.bytesWritten)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.add((s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), s.details))
    case _ =>
  }

  private val seen = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]()))

  /** Planning phases of one QueryExecution, each execution once. */
  def record(qe: QueryExecution): Unit =
    if (seen.add(qe)) qe.tracker.phases.foreach { case (name, ph) =>
      phases.add((name, ph.startTimeMs, ph.endTimeMs)) }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

object Tracer {
  /** Local property carrying the harness span a job belongs to. */
  val SpanKey = "perfbench.span"

  final case class Job(id: Int, span: Long, start: Double, end: Double,
      ok: Boolean, exec: Long, stages: Seq[Int], site: String)

  final case class Stage(id: Int, attempt: Int, start: Double, end: Double,
      tasks: Int, failedTasks: Int, runMs: Long, cpuNs: Long,
      swRows: Long, swBytes: Long, spill: Long, inBytes: Long,
      outBytes: Long)
}
