package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted-index maintenance, written once for every family. Each
  * family (corpus, gram, name, vector, semantic, novelty) is DECLARED
  * here as an [[IndexTables]] value: its tombstone id column and its
  * tables as (suffix, bucket key), with which tables are masked per id
  * and which carry the `ingest_batch` tag. The steps every family
  * shares run over that declaration; a family keeps only its kernels
  * (building, ranking and coding rows, its aggregate folds, training)
  * and lists its frames by suffix.
  *
  * A table's bucket count is named once, by the write that creates
  * it ([[writeTables]], or an [[appendTables]] that seeds a missing
  * table); its catalog entry owns the layout from then on, and every
  * later append and rewrite ([[stagedSwap]], so [[vacuum]] and the
  * compactions) reads it back ([[Sinks.tableLayout]]).
  *
  *  - [[writeTables]]/[[appendTables]]: bucketed writes and appends
  *    (idempotent per micro-batch when a batch id is given), overlapped
  *    per call; the caller orders the calls, so what each family
  *    materializes first stays its own choice.
  *  - [[appendTombstones]]/[[readTable]]: deletes are LOGICAL
  *    (insert-only id sets under the logical prefix, broadcast
  *    anti-joined at read time) until a vacuum folds them in.
  *  - [[vacuum]]: the masked live rows of every per-id table (plus any
  *    family fold) staged-swapped concurrently, then the tombstones
  *    dropped. [[stagedSwap]] lands a rewrite under a staging name and
  *    re-points the public name in ONE metadata statement
  *    ([[Sinks.repointTable]]), so readers never see an unregistered
  *    instant and a mid-rewrite crash leaves the old file set serving.
  *  - [[stageGeneration]]/[[publishGeneration]]: offline-retrained
  *    generations are staged under `<prefix>_rN_*` and published with
  *    one single-row pointer flip ([[flipGenerationPtr]]); a crash
  *    before the flip leaves the previous generation serving
  *    bit-identically, a crash after merely leaks droppable staging.
  *    Generational families resolve the physical prefix through the
  *    pointer ([[livePrefix]]); tombstones stay at the logical prefix.
  *  - [[resetPrefix]]: gated lifecycle queries run under a fixed
  *    prefix + path and reset first, so repeated invocations (bench
  *    min-of-2, the correctness driver, specs) never accrete catalog
  *    tables, crashed stagings, or index files.
  */
object IndexLifecycle {

  /** One persisted table of an index family, registered as
    * `<prefix>_<suffix>` under `<path>/<suffix>` and bucketed + sorted
    * on `key`. `masked`: rows are per id, so tombstones mask them and a
    * vacuum rewrites them. `tagged`: rows carry the `ingest_batch`
    * maintenance column (-1 for build, vacuum and batch-API appends;
    * the micro-batch id for idempotent streaming appends), which reads
    * drop. `single`: a trained artifact of a handful of rows, written
    * as one bucket whatever the family's bucket count. */
  final case class IndexTable(suffix: String, key: String,
      masked: Boolean = false, tagged: Boolean = false,
      single: Boolean = false)

  /** A persisted index family: the id column its tombstones hold, and
    * its tables. */
  final case class IndexTables(idCol: String, tables: IndexTable*) {
    def suffixes: Seq[String] = tables.map(_.suffix)
    def apply(suffix: String): IndexTable =
      tables.find(_.suffix == suffix).getOrElse(throw
        new IllegalArgumentException(s"undeclared index table '$suffix'"))
  }

  /** Incremental-dedup corpus index ([[graft.ops.DedupOps.CorpusIndex]]):
    * four per-doc tables plus the additive band-count partials. */
  val CorpusIndexTables = IndexTables("doc_id",
    IndexTable("hashes", "h", masked = true, tagged = true),
    IndexTable("shingles", "doc_id", masked = true, tagged = true),
    IndexTable("bands", "band_val", masked = true, tagged = true),
    IndexTable("sizes", "doc_id", masked = true, tagged = true),
    IndexTable("bandcounts", "band_val", tagged = true))

  /** Containment index ([[graft.ops.DedupOps.GramIndex]]): three
    * per-doc tables plus the frozen gram-rarity order. */
  val GramIndexTables = IndexTables("doc_id",
    IndexTable("ranked", "g", masked = true),
    IndexTable("prefixes", "g", masked = true),
    IndexTable("docgrams", "doc_id", masked = true),
    IndexTable("gramdf", "g"))

  /** Fuzzy entity index ([[graft.ops.DedupOps.NameIndex]]): four
    * per-name tables plus the frozen bigram-rarity order. */
  val NameIndexTables = IndexTables("p_name",
    IndexTable("grams", "bg", masked = true),
    IndexTable("prefixes", "bg", masked = true),
    IndexTable("chars", "ch", masked = true),
    IndexTable("tiny", "ln", masked = true),
    IndexTable("bigramdf", "bg"))

  /** IVF-PQ vector index ([[graft.ops.VectorIndexOps.VectorIndex]]):
    * trained centroids and codebooks plus the coded corpus;
    * generational. */
  val VectorIndexTables = IndexTables("vec_id",
    IndexTable("coarse", "cid", single = true),
    IndexTable("codebooks", "sub", single = true),
    IndexTable("codes", "cell", masked = true, tagged = true))

  /** Semantic-dedup index ([[graft.ops.SemanticDedupOps]]): frozen
    * centroids plus the cell-assigned members; generational. */
  val SemanticIndexTables = IndexTables("vec_id",
    IndexTable("semcents", "cid", single = true),
    IndexTable("members", "cid", masked = true, tagged = true))

  /** Novelty index ([[graft.ops.TextOps.ingestNovelty]]): one signed
    * gram-df table. It has no tombstones — a purge appends negated
    * counts under its own tag — so no table is masked. */
  val NoveltyIndexTables = IndexTables("g",
    IndexTable("gramdf", "g", tagged = true))

  /** The tombstone table of a logical index prefix. */
  def tombstoneTable(prefix: String): String = s"${prefix}_tombstones"

  /** `df` with the build/maintenance tag, unless it already carries
    * one (a kernel that repartitions after tagging passes it tagged). */
  private def tagged(t: IndexTable, df: DataFrame): DataFrame =
    if (!t.tagged || df.columns.contains("ingest_batch")) df
    else df.withColumn("ingest_batch", lit(-1L))

  private def bucketsOf(t: IndexTable, buckets: Int): Int =
    if (t.single) 1 else buckets

  /** Write declared tables of `phys` from (suffix, rows) pairs,
    * overlapped ([[Sinks.concurrently]]; the frames must not share an
    * unmaterialized cache). */
  def writeTables(f: IndexTables, phys: String, path: String,
      buckets: Int)(rows: (String, DataFrame)*): Unit =
    Sinks.concurrently(rows.map { case (sfx, df) =>
      val t = f(sfx)
      () => Sinks.bucketedTable(tagged(t, df), s"${phys}_$sfx", t.key,
        bucketsOf(t, buckets), s"$path/$sfx")
    })

  /** Append (suffix, rows) pairs to declared tables of `phys`; `path`
    * and `buckets` only seed a table that does not exist yet (appends
    * follow the registered location and layout). With a `batchId`
    * each append is idempotent per micro-batch
    * ([[Sinks.appendBucketedTablesIdempotent]], one fused probe for all
    * of them); without one, the appends overlap and tagged tables get
    * the -1 tag. */
  def appendTables(s: SparkSession, f: IndexTables, phys: String,
      path: String, buckets: Int, batchId: Option[Long] = None)(
      rows: (String, DataFrame)*): Unit = {
    def part(sfx: String, df: DataFrame) = {
      val t = f(sfx)
      (df, s"${phys}_$sfx", t.key, bucketsOf(t, buckets), s"$path/$sfx")
    }
    batchId match {
      case Some(id) =>
        Sinks.appendBucketedTablesIdempotent(s, id,
          rows.map { case (sfx, df) => part(sfx, df) }); ()
      case None =>
        Sinks.concurrently(rows.map { case (sfx, df) =>
          val (d, name, key, nb, p) = part(sfx, df)
          () => Sinks.appendBucketedTable(tagged(f(sfx), d), name, key,
            nb, p)
        })
    }
  }

  /** Tombstone the ids in `ids` (its `idCol` column) under the
    * LOGICAL prefix: insert-only, cost ∝ the takedown batch. */
  def appendTombstones(f: IndexTables, ids: DataFrame, prefix: String,
      path: String): Unit =
    Sinks.appendBucketedTable(ids.select(col(f.idCol)),
      tombstoneTable(prefix), f.idCol, 1, s"$path/tombstones")

  /** `df` without the rows whose id the logical prefix tombstoned. */
  def maskTombstones(s: SparkSession, f: IndexTables, prefix: String,
      df: DataFrame): DataFrame =
    maskTombstones(s, df, tombstoneTable(prefix), f.idCol)

  /** Open one declared table of `phys` (the tag dropped). `live` masks
    * a per-id table with the LOGICAL prefix's tombstones, so a
    * tombstoned id disappears from every read path before any vacuum. */
  def readTable(s: SparkSession, f: IndexTables, suffix: String,
      prefix: String, phys: String, live: Boolean): DataFrame = {
    val t = f(suffix)
    val df = s.table(s"${phys}_$suffix")
    val rows = if (t.tagged) df.drop("ingest_batch") else df
    if (live && t.masked) maskTombstones(s, f, prefix, rows) else rows
  }

  /** [[readTable]] over every declared table, by suffix. */
  def readTables(s: SparkSession, f: IndexTables, prefix: String,
      phys: String, live: Boolean): Map[String, DataFrame] =
    f.suffixes.map(t => t -> readTable(s, f, t, prefix, phys, live)).toMap

  /** Fold the tombstones into the physical tables of generation
    * `phys`: every per-id table's masked live rows, and each `folded`
    * table's family-computed rows, are staged-swapped to
    * `newPath(suffix)` concurrently (re-tagged -1: vacuum runs with
    * ingest quiesced), then the tombstone set is dropped. The swaps
    * are independent — distinct tables, each its own atomic re-point —
    * so a crash leaves every not-yet-swapped table intact and still
    * masked, and the standing mask over an already-swapped table is an
    * idempotent no-op; a crash before the final drop leaves tombstones
    * masking ids that no longer exist until the next maintenance run. */
  def vacuum(s: SparkSession, f: IndexTables, prefix: String,
      phys: String, newPath: String => String,
      folded: Map[String, DataFrame] = Map.empty): Unit = {
    val rewrites = f.tables.filter(t => t.masked || folded.contains(t.suffix))
      .map(t => t -> folded.getOrElse(t.suffix,
        readTable(s, f, t.suffix, prefix, phys, live = true)))
    Sinks.concurrently(rewrites.map { case (t, df) =>
      () => stagedSwap(s, s"${phys}_${t.suffix}", tagged(t, df),
        newPath(t.suffix))
    })
    s.sql(s"DROP TABLE IF EXISTS ${tombstoneTable(prefix)}")
  }

  /** Open the staging generation of a retrain: one past the live
    * generation, with any crashed run's leftover `<prefix>_rN_*`
    * tables dropped. Returns (gen, its physical prefix). */
  def stageGeneration(s: SparkSession, f: IndexTables,
      prefix: String): (Long, String) = {
    val gen = nextGeneration(s, prefix)
    val phys = generationPrefix(prefix, gen)
    f.suffixes.foreach(t => s.sql(s"DROP TABLE IF EXISTS ${phys}_$t"))
    (gen, phys)
  }

  /** Publish a staged generation: flip the pointer to `gen` in one
    * statement (pointer file under `newPath`), drop the superseded
    * generation's tables unless it is pinned ([[pinGeneration]]), and
    * drop the tombstones the staged generation folded in. A pinned
    * snapshot keeps serving bit-identically across the flip and is
    * reclaimed only by an explicit [[gcGenerations]] after an unpin. */
  def publishGeneration(s: SparkSession, f: IndexTables, prefix: String,
      gen: Long, newPath: String): Unit = {
    flipGenerationPtr(s, prefix, gen, newPath)
    if (!pinnedGenerations(s, prefix).contains(gen - 1L)) {
      val old = generationPrefix(prefix, gen - 1L)
      f.suffixes.foreach(t => s.sql(s"DROP TABLE IF EXISTS ${old}_$t"))
    }
    s.sql(s"DROP TABLE IF EXISTS ${tombstoneTable(prefix)}")
  }

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
  def nextGeneration(s: SparkSession, prefix: String): Long =
    liveGeneration(s, prefix) + 1L

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
      stagedSwap(s, ptr, row, s"$newPath/ptr_g$gen",
        stagingSuffix = "__retrain")
  }

  /** Staged-swap rewrite of one bucketed table: `rows` land in the
    * table's REGISTERED bucket layout ([[Sinks.tableLayout]]; a table
    * with none fails closed before any write) under
    * `<tableName><stagingSuffix>` at `newPath`, then the public name
    * is re-pointed there in one metadata statement and the staging
    * registration dropped ([[Sinks.repointTable]]).
    *
    * File layout: every bucket file holds only its bucket's rows, but
    * a bucket may span several files. `rows` is repartitioned on the
    * key, yet when it already hash-partitions on the key into as many
    * partitions as buckets — a vacuum's masked read of the bucketed
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
      newPath: String, stagingSuffix: String = "__vacuum"): Unit = {
    val (_, key, buckets) = Sinks.tableLayout(s, tableName)
    val staging = s"$tableName$stagingSuffix"
    s.sql(s"DROP TABLE IF EXISTS $staging")
    Sinks.bucketedTable(rows.repartition(buckets, col(key)),
      staging, key, buckets, newPath)
    Sinks.repointTable(s, tableName, staging, newPath)
  }

  /** Apply a logical-delete mask: anti-join `df` against the (small,
    * broadcast) tombstone id set when the table exists. A tombstoned
    * id disappears from every read path immediately — before any
    * vacuum — at the cost of one broadcast anti-join. The columns keep
    * `df`'s order (a USING key would move the id column first), so a
    * live read, and the vacuum that stages it, match the plain read. */
  def maskTombstones(s: SparkSession, df: DataFrame,
      tombstoneTable: String, idCol: String): DataFrame =
    if (!s.catalog.tableExists(tombstoneTable)) df
    else {
      val dead = s.table(tombstoneTable).select(col(idCol))
      df.join(broadcast(dead), df(idCol) === dead(idCol), "left_anti")
    }

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
    appendPinRow(s, prefix, gen, 1L, path)

  /** Release a pin — the generation becomes eligible for
    * [[gcGenerations]] (it is NOT dropped here; removal stays an
    * explicit maintenance action). */
  def unpinGeneration(s: SparkSession, prefix: String, gen: Long,
      path: String): Unit =
    appendPinRow(s, prefix, gen, -1L, path)

  private def appendPinRow(s: SparkSession, prefix: String, gen: Long,
      w: Long, path: String): Unit =
    Sinks.appendBucketedTable(
      s.range(1).select(lit(gen).as("gen"), lit(w).as("w")),
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
    * `<generationPrefix>_<suffix>` for each declared suffix — that is
    * neither live nor pinned: catalog entries dropped, their
    * registered data directories removed. The explicit
    * storage-reclamation half of the pin contract ([[pinGeneration]]
    * retains; THIS retires), run as scheduled maintenance like vacuum
    * and compaction. Generations are discovered from the catalog (not
    * a caller-tracked list), so crashed-retrain leftovers age out the
    * same way. Returns the dropped generation numbers. */
  def gcGenerations(s: SparkSession, f: IndexTables,
      prefix: String): Seq[Long] = {
    val live = liveGeneration(s, prefix)
    val pinned = pinnedGenerations(s, prefix)
    val present = retainedGenerations(s, prefix, f.suffixes.head)
    val victims = present.filter(g => g != live && !pinned.contains(g))
    victims.sorted.map { g =>
      val gp = generationPrefix(prefix, g)
      f.suffixes.map(sfx => s"${gp}_$sfx")
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
