package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for users (the mains build theirs through
  * [[mainSession]]): one call yields a session with the engine's required
  * configs (nanos-parquet read, AQE, UTC, codegen cache bound; see
  * [[Tables.configure]]) and its native SQL functions registered —
  * after this, `spark.sql("SELECT dot_product(a, b) ...")` and every
  * `graft.ops.*` operator work out of the box.
  */
object Graft {

  /** A pre-configured builder the caller can still override; the
    * native functions come from `spark.sql.extensions`, which
    * [[Tables.configure]] sets. */
  def builder(): SparkSession.Builder =
    Tables.configure(SparkSession.builder())

  /** Build (or get) the session and ensure the function registry has the
    * engine's natives even when an existing session is returned
    * (extensions only apply at construction). */
  def session(master: String = "local[*]",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val b = builder().master(master)
    shufflePartitions.foreach(n =>
      b.config("spark.sql.shuffle.partitions", n.toString))
    val s = b.getOrCreate()
    GraftExtensions.install(s)
    s
  }

  /** The session of the engine's mains (Bench, Verify, PlanDump):
    * `local[N]` with N shuffle partitions, N from
    * `SPARK_GRAFT_CPUS` (else `defaultCpus`), the UI off and WARN
    * logging. */
  private[graft] def mainSession(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val s = builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register every corpus table of `dir` as a temp view (with the same
    * ts normalization as [[Tables.table]]), so the full SQL surface —
    * `spark.sql("SELECT ... FROM lineitem JOIN orders ...")`, including
    * the registered native functions — works against a scale-factor
    * directory with one call. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(n =>
      Tables.table(spark, dir, n).createOrReplaceTempView(n))
}
