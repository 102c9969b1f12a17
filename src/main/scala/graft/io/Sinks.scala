package graft.io

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/** Sink parity with the reference's output formats (SURVEY §2.1 K1-K5).
  * Internally everything stays parquet; these exist for edge
  * compatibility with consumers of the reference's layouts.
  */
object Sinks {

  /** K1 per-clip JSON: one file per row (aesthetic_score.py:130-135).
    * Implemented with maxRecordsPerFile=1 so the commit protocol stays
    * Spark's (atomic, speculative-execution-safe) instead of hand-rolled
    * per-row file writes. */
  def perClipJson(df: DataFrame, outDir: String, keyCol: String): Unit =
    df.repartition(col(keyCol))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 1)
      .json(outDir)

  /** K2 JSONL append (utils/scenecut.py:105,119). */
  def jsonlAppend(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Append).json(outDir)

  /** K3 merged single-file JSON array (coca_caption.py:107-121's rank-0
    * gather — Spark's shuffle/commit replaces the manual rank files).
    * coalesce(1) is an edge-format concession; callers at scale keep the
    * default parallel layout. */
  def mergedJson(df: DataFrame, outDir: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(outDir)

  /** K4 CSV sink (utils/utils.py:37-40). */
  def csv(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", true).csv(outDir)

  /** K5 "<score> <clip>" text scores (run_extract_mvs.sh:8-16). */
  def textScores(df: DataFrame, scoreCol: String, keyCol: String,
      outDir: String): Unit =
    df.select(concat_ws(" ", col(scoreCol), col(keyCol)).as("value"))
      .write.mode(SaveMode.Overwrite).text(outDir)

  /** K6 clip-file sink: materialize each detected scene as its own clip
    * file (utils/scenecut.py:120-121 split_video_ffmpeg;
    * evaluations/scene_cut.py:207-208 — the pipeline's primary physical
    * output). Encoding runs executor-side inside mapPartitions, in the
    * partition where the row already lives (no shuffle, no driver
    * collect); file names are deterministic
    * (`<stem>_<pathmd5_8>_<start>_<end>.mp4` — the F3 clip-id convention
    * plus a full-path digest, since two sources may share a basename and
    * must not overwrite each other's clips) and writes truncate, so
    * speculative or retried tasks converge on identical bytes. Returns
    * the input rows plus a `clip_path` column (null + `clip_path_error`
    * on codec failure — an unreadable clip must not kill the task,
    * SURVEY §4.3). */
  def clipFiles(df: DataFrame, pathCol: String, startCol: String,
      endCol: String, outDir: String,
      codec: graft.media.MediaCodec = graft.media.FakeCodec): DataFrame = {
    val outSchema = df.schema
      .add(StructField("clip_path", StringType))
      .add(StructField("clip_path_error", StringType))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val (pi, si, ei) = (df.schema.fieldIndex(pathCol),
      df.schema.fieldIndex(startCol), df.schema.fieldIndex(endCol))
    df.mapPartitions { it =>
      val dir = java.nio.file.Paths.get(outDir)
      java.nio.file.Files.createDirectories(dir)
      it.map { row =>
        val (out, err) =
          try {
            val src = row.getString(pi)
            val (s, e) = (row.getLong(si), row.getLong(ei))
            val stem = {
              val base = src.substring(src.lastIndexOf('/') + 1)
              val dot = base.lastIndexOf('.')
              if (dot < 0) base else base.substring(0, dot)
            }
            val pathId = java.security.MessageDigest.getInstance("MD5")
              .digest(src.getBytes("UTF-8"))
              .take(4).map(x => f"$x%02x").mkString
            val target = dir.resolve(f"${stem}_${pathId}_${s}%07d_${e}%07d.mp4")
            java.nio.file.Files.write(target,
              codec.encodeClip(src, s, e))
            (target.toString, null)
          } catch { case ex: Exception =>
            (null, Option(ex.getMessage).getOrElse(ex.getClass.getName))
          }
        Row.fromSeq(row.toSeq ++ Seq(out, err))
      }
    }(enc)
  }

  /** Shard-budget writer (README.md:89: ≤1M rows / <1 TB per shard):
    * partitioned parquet with bounded records per file. */
  def shardedParquet(df: DataFrame, outDir: String,
      maxRecordsPerFile: Long = 1000000L): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(outDir)

  /** Run INDEPENDENT write/append actions concurrently from a bounded
    * thread pool — guide §2.6 "overlap independent jobs": a lifecycle
    * step that persists N per-artifact tables otherwise serializes N
    * small jobs, each leaving most executor slots idle through its
    * scheduling + commit tail; Spark's FIFO scheduler back-fills the
    * current job's tail with the next job's tasks when both are in
    * flight. Callers own two preconditions: the actions target
    * DIFFERENT tables (Spark job submission is thread-safe; catalog
    * DDL to distinct names is too), and any cached frame the actions
    * share is MATERIALIZED first (racing threads would otherwise
    * duplicate the lineage compute while the first block write wins).
    * Crash contracts are unchanged: each action stays atomic per
    * table, and the replay/mask discipline of every caller already
    * tolerates an arbitrary committed-subset at failure. Once every
    * action has settled, the first failure in action order is rethrown
    * as that action's own exception (unwrapped from the pool's
    * ExecutionException). Zero or one action runs inline on the
    * caller's thread. */
  def concurrently(actions: Seq[() => Unit]): Unit =
    if (actions.sizeIs <= 1) actions.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(actions.size, 5))
      try {
        val fs = actions.map(a => pool.submit(
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit = a()
          }))
        // settle ALL before rethrowing the first failure — a half-
        // drained pool must not leave live writer threads behind the
        // caller's unpersist/cleanup
        val errs = fs.flatMap(f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause) })
        errs.headOption.foreach(throw _)
      } finally pool.shutdown()
    }

  /** Bucketed + sorted table layout: pays the shuffle ONCE at write
    * time so every later equi-join or aggregation on `key` between
    * co-bucketed tables runs with NO exchange (and, with sortBy, no
    * re-sort) — the layout a 100 TB fact table wants when it is joined
    * on the same key every day. The reference's shard-budget rule
    * (README.md:89) partitions by convention; bucketing is the engine-
    * enforced version the optimizer can actually exploit. */
  def bucketedTable(df: DataFrame, tableName: String, key: String,
      buckets: Int, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  /** Registered layout of a bucketed catalog table: (filesystem
    * location, bucket column, bucket count), from ONE metadata lookup.
    * The write that creates a table names its layout; every later
    * append, rewrite and retrain reads it from here. Appends must
    * target this location, not a caller-remembered path: after a
    * compaction / vacuum / retrain re-pointed the table elsewhere,
    * Spark rejects an append whose `path` option disagrees with the
    * catalog (mismatched-table-location AnalysisException). A rewrite
    * with a count other than the registered one would be accepted yet
    * place rows in the wrong bucket files (a bucketed join on the key
    * then silently misses matches), so a table with no single-column
    * bucket spec fails closed here, before anything is written. */
  private[graft] def tableLayout(spark: org.apache.spark.sql.SparkSession,
      name: String): (String, String, Int) = {
    val t = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    val spec = t.bucketSpec.filter(_.bucketColumnNames.size == 1)
    require(spec.isDefined, s"table $name has no single-column bucket spec")
    (t.location.getPath, spec.get.bucketColumnNames.head, spec.get.numBuckets)
  }

  /** Registered filesystem location of a bucketed catalog table. */
  private[graft] def tableLocation(spark: org.apache.spark.sql.SparkSession,
      name: String): String = tableLayout(spark, name)._1

  /** Append a batch to an existing [[bucketedTable]]: each append
    * writes its own bucketed+sorted file set (Spark requires the spec
    * to match the table's and rejects a drifted one), so buckets
    * accumulate one file per append and the co-bucketed join property
    * is preserved — readers merge the per-append files of a bucket.
    * This is the index-maintenance primitive: folding a day's accepted
    * batch into a 100 TB corpus index costs the BATCH's shuffle, never
    * a corpus rewrite. Compaction (a periodic [[bucketedTable]]
    * rewrite) is an optional throughput optimization, not a
    * correctness requirement.
    *
    * The write follows the table's REGISTERED layout when it exists
    * ([[tableLayout]]) — so a stream resumed after a compaction /
    * vacuum moved the table keeps appending without the caller
    * tracking the move; `key`, `buckets` and `path` only seed a first
    * append against a not-yet-existing table. */
  def appendBucketedTable(df: DataFrame, tableName: String, key: String,
      buckets: Int, path: String): Unit = {
    val s = df.sparkSession
    val (loc, k, n) = if (s.catalog.tableExists(tableName))
      tableLayout(s, tableName) else (path, key, buckets)
    df.write.mode(SaveMode.Append)
      .option("path", loc)
      .bucketBy(n, k)
      .sortBy(k)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Idempotent per-batch append for streaming ingest: every appended
    * row is tagged with `ingest_batch = batchId`, and the append is
    * SKIPPED when the table already holds the COMPLETE batch under
    * that tag. The skip is gated on a row-count compare, not tag
    * presence: Spark's file commit protocol is not atomic
    * (FileOutputCommitter v1 renames task outputs one-by-one during
    * job commit; v2 publishes at task commit), so a crash mid-commit
    * can leave a PARTIAL file set already carrying the tag — a
    * presence-only probe would see it and silently drop the rest of
    * the batch. Here the replay counts the stored tag rows against the
    * batch; on a mismatch it HEALS: every table file holding the tag
    * is deleted (a file written by the batch's job contains ONLY that
    * batch's rows — appends tag every row, and maintenance rewrites
    * re-tag -1 wholesale, so tag values never mix within a file) and
    * the full batch is re-appended. Every crash point therefore
    * converges to exactly-once contents: before any rename → replay
    * appends; mid job commit → replay heals; after → replay skips.
    *
    * Cost: the FIRST-attempt path (no stored tag — every batch but a
    * replay) pays only the one-job tag probe, whose scan is pruned to
    * the tag's row groups by parquet min/max stats (old -1/lower-id
    * files are skipped on their footers; the collected histogram is
    * bounded by the batch's file count ≤ buckets) — the batch plan is
    * still evaluated exactly ONCE, by the write. Only the rare replay
    * path re-evaluates the batch for the count compare, and only the
    * torn-replay path runs the file surgery; both — like the probe —
    * assume ingest is quiesced to one writer per table.
    *
    * Contract: batchIds must be unique over the TABLE's lifetime — one
    * streaming checkpoint per table (resetting the checkpoint restarts
    * ids at 0 and would false-skip), and maintenance that folds or
    * rewrites tags away (rollup compaction writes -1) must only run
    * while the feeding stream is stopped at a committed offset.
    * Returns whether the batch was appended (false: already complete).
    * The one-table case of [[appendBucketedTablesIdempotent]]. */
  def appendBucketedTableIdempotent(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      batchId: Long, tableName: String, key: String, buckets: Int,
      path: String): Boolean =
    appendBucketedTablesIdempotent(spark, batchId,
      Seq((df, tableName, key, buckets, path))).head

  /** The shared tail of the idempotent append, after the tier-1 probe
    * decided `clean`: a clean table appends the tagged batch; a table
    * already carrying the tag runs the tier-2 per-file count compare
    * (complete → skip, torn → heal + re-append). */
  private def finishIdempotentAppend(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      batchId: Long, tableName: String, key: String, buckets: Int,
      path: String, clean: Boolean): Boolean = {
    def tagged() = spark.table(tableName)
      .filter(col("ingest_batch") === batchId)
    def append(): Boolean = {
      appendBucketedTable(df.withColumn("ingest_batch", lit(batchId)),
        tableName, key, buckets, path)
      true
    }
    if (clean) append()
    else {
      // tier-2 probe (replay path): per-file tag counts for the
      // complete/torn distinction
      val perFile = tagged()
        .select(input_file_name().as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (perFile.map(_._2).sum == df.count()) false // complete — skip
      else {
        // torn mid-job commit: retract the partial file set, then
        // re-append the whole batch
        val conf = spark.sessionState.newHadoopConf()
        perFile.foreach { case (uri, _) =>
          val p = new org.apache.hadoop.fs.Path(uri)
          p.getFileSystem(conf).delete(p, false); ()
        }
        spark.catalog.refreshTable(tableName)
        append()
      }
    }
  }

  /** Idempotent append of ONE micro-batch to SEVERAL tables with ONE
    * tier-1 probe job: the per-table tag probes are fused into one
    * scan of every table (each task still early-exits on its first
    * tagged row), so an N-table ingest pays one job of
    * driver scheduling latency per micro-batch instead of N — guide
    * §1/§2.6 applied to the probe tail the corpus-index stream paid
    * five times per batch. EVERYTHING ELSE is unchanged and per-table:
    * appends stay atomic per table (names must be distinct, else an
    * IllegalArgumentException before any write; run concurrently like
    * before), a table found carrying the tag runs
    * [[finishIdempotentAppend]]'s tier-2 count compare alone, and the
    * torn-batch recovery argument (any committed-subset of tables
    * replays to exactly-once contents) is untouched because the probe
    * is read-only. Same single-writer/quiesced-maintenance contract as
    * [[appendBucketedTableIdempotent]]. Returns, per part, whether its
    * batch was appended (false: the table already held it complete). */
  def appendBucketedTablesIdempotent(
      spark: org.apache.spark.sql.SparkSession, batchId: Long,
      parts: Seq[(DataFrame, String, String, Int, String)]): Seq[Boolean] = {
    // the per-table appends run concurrently: two parts naming one table
    // would race two writers on it, so reject them before any write
    val names = parts.map(_._2)
    require(names.distinct.size == names.size,
      s"duplicate table names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val existing = names.filter(spark.catalog.tableExists)
    // re-list before probing: the crashed attempt's append may have
    // committed through a DIFFERENT session clone, whose write only
    // invalidated its own relation cache — a stale file listing here
    // would miss the committed tag and double-append
    existing.foreach(spark.catalog.refreshTable)
    // tier-1 probe — the whole cost of the common first-attempt path
    // (the per-file job only runs when a replay found the tag): ONE
    // job with no exchange over every table's scan, each task stopping
    // at its first tagged row. (A union of LIMIT 1s costs an exchange
    // per table, each its own job under AQE, and a collect of a root
    // LIMIT scans partitions in rounds, a job each.)
    val taggedTables: Set[String] =
      if (existing.isEmpty) Set.empty
      else existing.map { t =>
        spark.table(t).filter(col("ingest_batch") === batchId)
          .select(lit(t).as("t"))
      }.reduce(_ unionAll _).rdd.mapPartitions(_.take(1))
        .map(_.getString(0)).collect().toSet
    val applied = new Array[Boolean](parts.size)
    concurrently(parts.zipWithIndex.map {
      case ((df, t, key, buckets, path), i) => () =>
        applied(i) = finishIdempotentAppend(spark, df, batchId, t, key,
          buckets, path, clean = !taggedTables.contains(t))
    })
    applied.toSeq
  }

  /** Compact an append-accumulated [[bucketedTable]] back to one file
    * set per bucket — the optional maintenance pass after many
    * [[appendBucketedTable]] batches (each append adds a file per
    * bucket; reads stay correct but open more files and re-merge more
    * sorted runs). Rows are read BY PATH (reading the table by name
    * while overwriting it is circular and rejected), rewritten
    * bucketed+sorted to `newPath`, and the table re-registered there;
    * the old path is left for the caller to retire once the swap is
    * durable (the K7 archive discipline: never destroy the input in
    * the same step that writes the output). Content is proven
    * unchanged by the spec (same rows, single file set, bucket spec
    * intact).
    *
    * Swap order matters ([[IndexLifecycle.stagedSwap]] with a
    * `__compacting` staging suffix): the rewrite lands under a
    * TEMPORARY table name first, and `tableName` is re-pointed only
    * after that write commits. A plain Overwrite-saveAsTable would
    * drop the catalog entry BEFORE writing, so a mid-compaction
    * failure would leave no registered table at all; here every
    * failure point leaves the old registration fully readable — see
    * [[repointTable]] for why the re-point itself has no unregistered
    * instant. */
  def compactBucketedTable(spark: org.apache.spark.sql.SparkSession,
      tableName: String, oldPath: String, newPath: String): Unit =
    // the path read is a plain (unbucketed) scan, so stagedSwap's
    // repartition on the registered key stays in the plan; it shares
    // bucketBy's murmur3-pmod placement, so each write task holds
    // exactly ONE bucket and emits exactly one file
    IndexLifecycle.stagedSwap(spark, tableName, spark.read.parquet(oldPath),
      newPath, stagingSuffix = "__compacting")

  /** Atomically re-point the PUBLIC `tableName` at the compacted file
    * set staged at `newPath` under `stagingTable`. The visibility-
    * critical step is ONE metadata statement — `ALTER TABLE ... SET
    * LOCATION` — so there is no instant at which the public name is
    * unregistered: a reader concurrent with the swap sees either the
    * old or the new file set, never a missing table (the
    * DROP-then-RENAME it replaces had exactly that hole between its
    * two statements). The staged and public tables share schema and
    * bucket spec by construction, so re-pointing the location is the
    * entire semantic change. A crash AFTER the re-point merely leaks
    * the staging registration (both names then read the new location,
    * staging is dropped by the next run's `DROP IF EXISTS`); a crash
    * BEFORE it leaves the public table serving the old files with the
    * new set durable and recoverable. Both tables are external — no
    * statement here deletes data; the caller retires the old path once
    * the swap is durable (the K7 archive discipline). */
  private[graft] def repointTable(spark: org.apache.spark.sql.SparkSession,
      tableName: String, stagingTable: String, newPath: String): Unit = {
    spark.sql(s"ALTER TABLE $tableName SET LOCATION '$newPath'")
    // metadata-only: drop the stale cached file listing for the name
    spark.catalog.refreshTable(tableName)
    spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
  }

  /** Stable partial-sum type: wide enough that folds of folds never
    * re-widen (Spark caps decimal precision at 38), so appends,
    * [[readRollup]] output, and [[compactRollup]] rewrites all carry
    * the SAME schema across generations. */
  private val rollDec = org.apache.spark.sql.types.DecimalType(38, 2)

  /** Partial-aggregate rows for one batch of an incrementally
    * maintained rollup: per key, the row count and the EXACT decimal
    * sum of each measure (money-like ≤2-dp doubles — the
    * [[graft.Tables.dec]] discipline). Partials are ADDITIVE — counts
    * and exact decimal sums are associative — so appending each
    * batch's partials and folding at read time equals aggregating the
    * union of the raw batches, independent of how batches were split.
    * This is the [[graft.ops.DedupOps]] band-count maintenance trick
    * exposed as a first-class primitive: a 100 TB corpus's running
    * stats cost one batch scan per ingest, never a corpus rescan. */
  def rollupPartials(df: DataFrame, keys: Seq[String],
      measures: Seq[String]): DataFrame =
    df.groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
      .agg(count(lit(1)).as("n"),
        measures.map(m =>
          sum(org.apache.spark.sql.functions.col(m)
            .cast(graft.Tables.dec)).cast(rollDec).as(s"sum_$m")): _*)

  /** Append one batch's [[rollupPartials]] to the rollup table
    * (bucketed on the first key). Cost ∝ batch. Every partial row
    * carries an `ingest_batch` tag (-1 for batch-API appends); a
    * streaming caller passes its micro-batch id in `batchId` to get
    * [[appendBucketedTableIdempotent]]'s replay-safe skip. */
  def appendRollup(df: DataFrame, keys: Seq[String],
      measures: Seq[String], tableName: String, buckets: Int,
      path: String, batchId: Option[Long] = None): Unit = batchId match {
    case Some(id) =>
      appendBucketedTableIdempotent(df.sparkSession,
        rollupPartials(df, keys, measures), id, tableName, keys.head,
        buckets, path); ()
    case None =>
      appendBucketedTable(
        rollupPartials(df, keys, measures)
          .withColumn("ingest_batch", lit(-1L)),
        tableName, keys.head, buckets, path)
  }

  /** Open-time fold of a rollup table: one aggregate over the stored
    * partials — bounded by |key domain| × appends rows, not corpus
    * size. Returns (keys..., n, sum_<measure>...) with the count as
    * BIGINT and sums still exact decimals (consumers cast to double
    * at emit). */
  def readRollup(s: org.apache.spark.sql.SparkSession, tableName: String,
      keys: Seq[String], measures: Seq[String]): DataFrame =
    s.table(tableName)
      .groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
      .agg(sum(org.apache.spark.sql.functions.col("n")).cast("long")
          .as("n"),
        measures.map(m =>
          sum(org.apache.spark.sql.functions.col(s"sum_$m"))
            .cast(rollDec).as(s"sum_$m")): _*)

  /** Compact a rollup table: fold the accumulated partials down to ONE
    * partial row per key and swap it in as the new table contents —
    * the [[compactBucketedTable]] staged-swap discipline applied to
    * aggregate state instead of raw rows. After N appends the fold
    * input is |keys|·N rows; compaction resets it to |keys| while
    * [[readRollup]] results are provably unchanged (summing a sum of
    * partials == summing the partials — associativity again). */
  def compactRollup(spark: org.apache.spark.sql.SparkSession,
      tableName: String, keys: Seq[String], measures: Seq[String],
      newPath: String): Unit =
    IndexLifecycle.stagedSwap(spark, tableName,
      readRollup(spark, tableName, keys, measures)
        // folding erases per-batch ingest tags (-1 = "maintenance
        // write") — see appendBucketedTableIdempotent's contract: only
        // compact while the feeding stream is stopped at a committed
        // offset, or a replayed batch would no longer see its tag
        .withColumn("ingest_batch", lit(-1L)),
      newPath, stagingSuffix = "__compacting")

  /** [[archiveShards]] outcome. `Refused` means nothing was touched;
    * `Archived` means the zip is durably written — a non-empty
    * `cleanupWarning` flags raw files/dir that could not be removed
    * AFTER the archive succeeded. The two must not be conflated: a
    * caller that retried a "failure" whose zip already existed would
    * then hit a misleading empty-dir count check. */
  sealed trait ArchiveResult
  final case class Archived(zipPath: String,
      cleanupWarning: Option[String] = None) extends ArchiveResult
  final case class ArchiveRefused(reason: String) extends ArchiveResult

  /** K7 archive+cleanup sink (check/check_secne.py:23-26): gate on the
    * A6 count invariant, zip the completed shard directory, and only
    * then delete the raw files. Runs against one finished shard dir — an
    * ops epilogue, not a distributed op (each shard's archive runs where
    * its sink task ran, or on the driver for a final gather).
    * [[ArchiveRefused]] leaves the raw dir untouched — the check
    * FAILING must never destroy data. */
  def archiveShards(shardDir: String, expectedFiles: Long,
      tol: Long = 3L): ArchiveResult = {
    val dir = new java.io.File(shardDir)
    val entries = Option(dir.listFiles())
      .getOrElse(return ArchiveRefused(s"$shardDir is not a directory"))
    // refuse nested directories outright: their contents would be
    // neither counted nor archived, and the later delete would
    // "succeed" while leaving unarchived data behind
    val subdirs = entries.filter(_.isDirectory)
    if (subdirs.nonEmpty)
      return ArchiveRefused(s"$shardDir contains subdirectories " +
        s"(${subdirs.take(3).map(_.getName).mkString(", ")}); " +
        "flatten or clean them before archiving")
    val files = entries.filter(_.isFile).sorted
    if (math.abs(files.length - expectedFiles) > tol)
      return ArchiveRefused(
        s"count check failed: ${files.length} files, expected $expectedFiles ± $tol")
    val zipPath = shardDir.stripSuffix("/") + ".zip"
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    try files.foreach { f =>
      zos.putNextEntry(new java.util.zip.ZipEntry(f.getName))
      java.nio.file.Files.copy(f.toPath, zos)
      zos.closeEntry()
    } finally zos.close()
    val undeleted = files.filterNot(_.delete())
    val dirGone = undeleted.isEmpty && dir.delete()
    val warning =
      if (dirGone) None
      else if (undeleted.nonEmpty) Some(s"archived to $zipPath but " +
        s"${undeleted.length} raw files could not be removed")
      else Some(s"archived to $zipPath but could not remove $shardDir")
    Archived(zipPath, warning)
  }
}
