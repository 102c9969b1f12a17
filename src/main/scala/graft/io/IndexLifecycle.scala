package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE copy of the maintenance discipline every persisted index
  * family shares (corpus, gram, name, vector, semantic, novelty — six
  * families before this module each hand-rolled these): staged-swap
  * rewrites, the single-row generation pointer, tombstone masking, and
  * the idempotent pre-build reset. Keeping the discipline here means
  * the crash-safety arguments live (and are unit-tested) once:
  *
  *  - [[stagedSwap]]: a rewrite lands under a staging name and the
  *    public name is re-pointed in ONE metadata statement
  *    ([[Sinks.repointTable]]) — readers never see an unregistered
  *    instant, and a mid-rewrite crash leaves the old file set serving.
  *  - [[flipGenerationPtr]]/[[livePrefix]]: offline-retrained
  *    generations publish with one single-row pointer flip; a crash
  *    before the flip leaves the previous generation serving
  *    bit-identically, a crash after merely leaks droppable staging.
  *  - [[maskTombstones]]: deletes are LOGICAL (insert-only id sets,
  *    broadcast anti-joined at read time) until a vacuum's stagedSwap
  *    folds them in — the append-now/compact-later discipline applied
  *    to removal.
  *  - [[resetPrefix]]: gated lifecycle queries run under a fixed
  *    prefix + path and reset first, so repeated invocations (bench
  *    min-of-2, the correctness driver, specs) never accrete catalog
  *    tables, crashed stagings, or index files.
  */
object IndexLifecycle {

  /** Recursive local-filesystem delete (scratch-path hygiene for the
    * gated lifecycle trajectories). */
  def rmDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** Resolve a logical index prefix to its LIVE physical prefix
    * through the `<prefix>_ptr` generation pointer: gen 0 (or no
    * pointer yet) is the build-time tables under `prefix` itself; gen
    * N is the retrained `<prefix>_rN` family. One single-row read,
    * driver-bounded by construction. */
  def livePrefix(s: SparkSession, prefix: String): String =
    if (!s.catalog.tableExists(s"${prefix}_ptr")) prefix
    else {
      val gen = s.table(s"${prefix}_ptr").collect()(0).getLong(0)
      if (gen == 0L) prefix else s"${prefix}_r$gen"
    }

  /** The generation number a retrain should stage as: one past the
    * live generation. */
  def nextGeneration(s: SparkSession, prefix: String): Long = {
    val cur = livePrefix(s, prefix)
    if (cur == prefix) 1L
    else cur.stripPrefix(s"${prefix}_r").toLong + 1L
  }

  /** Flip the `<prefix>_ptr` generation pointer to `gen` in ONE
    * visibility-critical statement (table creation on first flip, a
    * single SET LOCATION re-point after) — the shared publication
    * primitive of every generational index. */
  def flipGenerationPtr(s: SparkSession, prefix: String,
      gen: Long, newPath: String): Unit = {
    val ptr = s"${prefix}_ptr"
    val row = s.range(1).select(lit(gen).as("gen"))
    if (!s.catalog.tableExists(ptr))
      // first retrain: the pointer table's creation IS the flip —
      // the catalog entry appears only after its single row is durable
      Sinks.bucketedTable(row, ptr, "gen", 1, s"$newPath/ptr_g$gen")
    else
      stagedSwap(s, ptr, row, "gen", 1, s"$newPath/ptr_g$gen",
        stagingSuffix = "__retrain")
  }

  /** Staged-swap rewrite of one bucketed table: `rows` land bucketed
    * on `key` under `<tableName><stagingSuffix>` at `newPath`, then
    * the public name is re-pointed there in one metadata statement
    * and the staging registration dropped ([[Sinks.repointTable]]).
    *
    * File layout: every bucket file holds only its bucket's rows, but
    * a bucket may span several files. `rows` is repartitioned on
    * `key`, yet when it already hash-partitions on `key` into
    * `buckets` partitions — a vacuum's masked read of the bucketed
    * table itself — EnsureRequirements drops that repartition as
    * redundant, and DisableUnnecessaryBucketedScan then reads the
    * input as a plain file scan. Each write task then holds rows of
    * several buckets and writes one file per bucket it holds (q262's
    * vacuum writes 20, 19 and 8 files for 8 buckets). Bucketed reads
    * stay correct; only the file count grows.
    *
    * Every crash point leaves the public name registered and
    * readable: before the re-point it serves the old file set (staging
    * is droppable leftovers the next run's DROP IF EXISTS clears);
    * after, the new one. The old path is left for the caller to retire
    * once the swap is durable (the K7 archive discipline: never
    * destroy the input in the step that writes the output). */
  def stagedSwap(s: SparkSession, tableName: String, rows: DataFrame,
      key: String, buckets: Int, newPath: String,
      stagingSuffix: String = "__vacuum"): Unit = {
    val staging = s"$tableName$stagingSuffix"
    s.sql(s"DROP TABLE IF EXISTS $staging")
    Sinks.bucketedTable(rows.repartition(buckets, col(key)),
      staging, key, buckets, newPath)
    Sinks.repointTable(s, tableName, staging, newPath)
  }

  /** Apply a logical-delete mask: anti-join `df` against the (small,
    * broadcast) tombstone id set when the table exists. A tombstoned
    * id disappears from every read path immediately — before any
    * vacuum — at the cost of one broadcast anti-join. */
  def maskTombstones(s: SparkSession, df: DataFrame,
      tombstoneTable: String, idCol: String): DataFrame =
    if (!s.catalog.tableExists(tombstoneTable)) df
    else df.join(broadcast(s.table(tombstoneTable).select(col(idCol))),
      Seq(idCol), "left_anti")

  /** The physical table prefix of generation `gen`: gen 0 is the
    * build-time family under `prefix` itself; gen N ≥ 1 is the
    * retrained `<prefix>_rN` family. The read-side inverse of
    * [[nextGeneration]]. */
  def generationPrefix(prefix: String, gen: Long): String =
    if (gen == 0L) prefix else s"${prefix}_r$gen"

  /** The live generation NUMBER (0 when no pointer exists yet) — the
    * numeric form of [[livePrefix]], for pin/GC arithmetic. */
  def liveGeneration(s: SparkSession, prefix: String): Long = {
    val live = livePrefix(s, prefix)
    if (live == prefix) 0L else live.stripPrefix(s"${prefix}_r").toLong
  }

  /** PIN a generation against retrain-time cleanup: a pinned
    * generation's tables survive the pointer flip and keep serving
    * bit-identical results to any reader that resolved them before the
    * flip — the reproducibility contract a long-running consumer (a
    * training job pinned to a corpus snapshot) needs across scheduled
    * maintenance. The registry `<prefix>_pins` is INSERT-ONLY signed
    * rows (+1 pin / −1 unpin, the novelty-index signed-df discipline):
    * pinned ⟺ the per-generation sum is positive, so pins and unpins
    * commute with crashes the way every other append in this engine
    * does, and a replayed pin is harmless. */
  def pinGeneration(s: SparkSession, prefix: String, gen: Long,
      path: String): Unit =
    Sinks.appendBucketedTable(
      s.range(1).select(lit(gen).as("gen"), lit(1L).as("w")),
      s"${prefix}_pins", "gen", 1, s"$path/pins")

  /** Release a pin — the generation becomes eligible for
    * [[gcGenerations]] (it is NOT dropped here; removal stays an
    * explicit maintenance action). */
  def unpinGeneration(s: SparkSession, prefix: String, gen: Long,
      path: String): Unit =
    Sinks.appendBucketedTable(
      s.range(1).select(lit(gen).as("gen"), lit(-1L).as("w")),
      s"${prefix}_pins", "gen", 1, s"$path/pins")

  /** The currently-pinned generation numbers: signed-sum > 0 over the
    * registry. Driver-bounded by construction — the domain is the
    * handful of retained generations, never data rows. */
  def pinnedGenerations(s: SparkSession, prefix: String): Set[Long] =
    if (!s.catalog.tableExists(s"${prefix}_pins")) Set.empty
    else s.table(s"${prefix}_pins")
      .groupBy(col("gen")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0L)
      .collect().map(_.getLong(0)).toSet

  /** Retrain-publish cleanup, shared by every generational family:
    * drop the superseded generation's tables unless it is pinned
    * ([[pinGeneration]]) — a pinned snapshot survives the flip and is
    * reclaimed only by an explicit [[gcGenerations]] after an unpin. */
  def retireSupersededUnlessPinned(s: SparkSession, prefix: String,
      newGen: Long, suffixes: Seq[String]): Unit = {
    val oldGen = newGen - 1L
    if (!pinnedGenerations(s, prefix).contains(oldGen)) {
      val old = generationPrefix(prefix, oldGen)
      suffixes.foreach(t => s.sql(s"DROP TABLE IF EXISTS ${old}_$t"))
    }
  }

  /** The generation numbers physically RETAINED for `prefix` (their
    * `marker`-suffixed table is registered), discovered from the
    * catalog — the ground truth [[gcGenerations]] retires from and an
    * inventory dashboard reports. */
  def retainedGenerations(s: SparkSession, prefix: String,
      marker: String): Seq[Long] = {
    val rPat = s"^${prefix}_r(\\d+)_$marker$$".r
    s.sessionState.catalog.listTables("default")
      .map(_.table).flatMap {
        case t if t == s"${prefix}_$marker" => Some(0L)
        case rPat(n) => Some(n.toLong)
        case _ => None
      }.distinct.sorted
  }

  /** Drop every RETIRED generation of `prefix` — registered under
    * `<generationPrefix>_<suffix>` for each family suffix — that is
    * neither live nor pinned: catalog entries dropped, their
    * registered data directories removed. The explicit
    * storage-reclamation half of the pin contract ([[pinGeneration]]
    * retains; THIS retires), run as scheduled maintenance like vacuum
    * and compaction. Generations are discovered from the catalog (not
    * a caller-tracked list), so crashed-retrain leftovers age out the
    * same way. Returns the dropped generation numbers. */
  def gcGenerations(s: SparkSession, prefix: String,
      suffixes: Seq[String]): Seq[Long] = {
    val live = liveGeneration(s, prefix)
    val pinned = pinnedGenerations(s, prefix)
    val present = retainedGenerations(s, prefix, suffixes.head)
    val victims = present.filter(g => g != live && !pinned.contains(g))
    victims.sorted.map { g =>
      val gp = generationPrefix(prefix, g)
      suffixes.map(sfx => s"${gp}_$sfx")
        .filter(s.catalog.tableExists).foreach { t =>
          val loc = Sinks.tableLocation(s, t) // already a plain path
          s.sql(s"DROP TABLE IF EXISTS $t")
          rmDir(loc)
        }
      g
    }
  }

  /** Idempotent pre-build reset for a persisted index prefix: drop
    * every catalog table the lifecycle can leave behind — retrain
    * generations (`<prefix>_rN_*`), the pointer, tombstones, and any
    * crashed staging name, found by prefix scan rather than a fixed
    * suffix list — and clear the on-disk directory. */
  def resetPrefix(s: SparkSession, prefix: String, path: String): Unit = {
    s.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(s"${prefix}_"))
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    rmDir(path)
  }
}
