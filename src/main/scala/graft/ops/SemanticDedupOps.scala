package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import graft.io.{IndexLifecycle, Sinks}
import graft.io.IndexLifecycle.SemanticIndexTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import EmbeddingOps.{KmK, c0Duck, coarseKmOfK, dotDuck, kmIterDuck,
  kmTrainDuck, meansDuck, normedDf, normedDuck, seedsDuck}

/** SemDeDup (Abbas et al. 2023) as a first-class persisted index family
  * — the semantic tier of the engine's dedup stack (exact keys:
  * DedupOps; n-gram containment: GramIndex; embedding cosine: here).
  * Cluster-then-prune bounds the quadratic pair scan per cell; the
  * persisted form freezes centroids at build time so every later batch
  * pays ingest cost proportional to the batch, with the full
  * maintenance lifecycle (purge tombstones, vacuum, generation-flip
  * retrain, multi-probe recall recovery) delegated to
  * [[graft.io.IndexLifecycle]]'s shared discipline. Split out of
  * EmbeddingOps, which keeps the generic ANN / evaluation operators
  * and the k-means trainer this family imports. */
object SemanticDedupOps {
  /** SemDeDup prune threshold: same-cluster pairs with cosine above
    * this are duplicates (Abbas et al. 2023, "SemDeDup" — cluster
    * first so the quadratic pair scan is bounded per cluster, then
    * prune within clusters only). 4e-1 sits in the synthetic corpus's
    * upper tail (~0.2 % of all pairs), the paper's "high but not
    * vacuous" regime. */
  private val SemDedupTau = "4e-1"

  /** The frozen-centroid oracle prefix of q242, q261, q287 and q289:
    * `e` (the normed corpus), `t`, the base half `b`, the md5-ranked
    * `seeds` and two Lloyd rounds over `b` (`c0` … `c2`) — k-means
    * trained once on the base half, as the persisted index trains it.
    * Opens a WITH. */
  private val baseCentroidsDuck = s"""WITH e AS ($normedDuck),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      b AS (SELECT e.vec_id, e.embedding, e.nrm
            FROM e, t WHERE 2 * e.vec_id < t.n),
      seeds AS (
        SELECT vec_id, embedding,
          CAST(ROW_NUMBER() OVER (ORDER BY rk, vec_id) - 1 AS BIGINT)
            AS cid
        FROM (SELECT em.vec_id, em.embedding,
                md5('ivf:' || em.vec_id) AS rk
              FROM embeddings em, t WHERE 2 * em.vec_id < t.n)
        QUALIFY cid < $KmK),
      ${c0Duck("c0", "seeds")},
      s1 AS (${kmIterDuck("c0", "b")}),
      ${meansDuck("c1", "s1")},
      s2 AS (${kmIterDuck("c1", "b")}),
      ${meansDuck("c2", "s2")}"""

  /** CTE `name`: every vector of `e` with its one best cell among the
    * centroids `cents` (single probe). */
  private def asgDuck(name: String, cents: String): String = s"""$name AS (
        SELECT cid, vec_id, embedding, nrm FROM (
          SELECT e.vec_id, e.embedding, e.nrm, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, len(e.embedding)),
                i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]),
                (x, y) -> x + y) / (e.nrm * c.cnrm) DESC, c.cid ASC) AS rn
          FROM e, $cents c)
        WHERE rn = 1)"""

  /** `rnk`: every vector of `e` with the centroids `c2` ranked by
    * cosine (multi-probe reads its top rows). */
  private val rnkDuck = """rnk AS (
        SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_reduce(list_transform(generate_series(1, len(e.embedding)),
              i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]),
              (x, y) -> x + y) / (e.nrm * c.cnrm) DESC, c.cid ASC) AS rn
        FROM e, c2 c)"""

  /** SemDeDup train→assign→within-cluster-prune at cluster count k
    * over a normed (vec_id, embedding, nrm) frame — q212's gated
    * trajectory factored out so the q220 miss audit can sweep k.
    * Returns (cid, vec_id, verdict).
    *
    * `onlyFor`: optional (vec_id) frame restricting WHOSE verdicts are
    * computed. A vector's verdict depends only on SMALLER-id vectors
    * in its own cluster, so restricting the pair scan's pruned-
    * candidate side (and the output) to the requested ids is exact —
    * and turns the cost from Σ|cluster|² into
    * Σ|cluster|·|requested ∩ cluster|: the difference between
    * re-running the dedup and answering a bounded audit at 100 TB. */
  def semDedupVerdicts(e: DataFrame, k: Int,
      onlyFor: Option[DataFrame] = None): DataFrame = {
      val cents = coarseKmOfK(e, k)
        .select(col("cid"), col("cv"), col("cnrm"))
      val asg0 = semAssign(e, cents).persist()
      val asg = onlyFor.fold(asg0)(ids => asg0.join(
        broadcast(ids.select(col("vec_id"))), Seq("vec_id"),
        "left_semi"))
      // eager localCheckpoint: the verdict frame is one bounded row per
      // (requested) vector, so materializing it here lets asg0's cached
      // assignment blocks be released BEFORE returning — a library
      // caller (q220 sweeps three k's per invocation) must not
      // accrete one persisted frame per call
      val out = semPruneVerdicts(asg0, asg).localCheckpoint()
      asg0.unpersist()
      out
  }

  /** Semantic dedup (SemDeDup): k-means-cluster the corpus with the
    * gated q98 trainer, assign every vector to its trained centroid,
    * then prune any vector that has a same-cluster neighbor with
    * SMALLER vec_id and cosine > [[SemDedupTau]] (first-writer-wins —
    * the q31 keep rule, no connected components needed: the kept set
    * is exactly the ids with no earlier near-twin, which is
    * arrival-order-free and retry-stable). Cross-cluster near-twins
    * are by-design NOT pruned — that recall loss is the knob the
    * paper trades for tractability, and q31/q48 cover the unblocked
    * pair search.
    *
    * Scale shape: training is q98's (broadcast-k assignment passes);
    * the pair scan is an equi-join on cid, so cost is Σ|cluster|² —
    * bounded by choosing k ∝ n/target-cluster-size (k is the ONLY
    * knob; the join itself shuffles each cluster to one stream and
    * never materializes cross-cluster pairs). Output: every vector
    * with its cluster and keep/prune verdict. */
  val q212SemDedup = OpSpec(
    "q212_semdedup",
    (s, dir) => semDedupVerdicts(
      normedDf(s, dir).select(col("vec_id"), col("embedding"),
        col("nrm")), KmK),
    Some(s"""
      $kmTrainDuck,
      ${meansDuck("c2", "s2")},
      ${asgDuck("asg", "c2")},
      pruned AS (
        SELECT DISTINCT b.cid, b.vec_id
        FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE ${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
          > $SemDedupTau)
      SELECT g.cid, g.vec_id,
        CASE WHEN p.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
          AS verdict
      FROM asg g LEFT JOIN pruned p
        ON p.cid = g.cid AND p.vec_id = g.vec_id"""))

  /** Cosine top-`nprobe` cell assignment of a normed (vec_id,
    * embedding, nrm) frame against a broadcast (cid, cv, cnrm)
    * centroid table — one row per (vector, probed cell) with the probe
    * rank `pr` (1 = the argmax/primary cell; ties to the lower cid,
    * fully deterministic). */
  private[graft] def semAssignTop(e: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    EmbeddingOps.localCosTop(e, cents, nprobe)
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"),
        col("pr"))

  /** Cosine-argmax cell assignment of a normed (vec_id, embedding,
    * nrm) frame against a broadcast (cid, cv, cnrm) centroid table —
    * the row shape the semantic index stores per member. */
  private[graft] def semAssign(e: DataFrame, cents: DataFrame): DataFrame =
    semAssignTop(e, cents, 1).drop("pr")

  /** Per-cell scan bound for the SemDeDup pair scan: a cell whose
    * member count exceeds this is first recursively SPLIT
    * ([[splitOversizedCells]]) and, if still oversized, its SCAN side
    * truncated to the cap smallest vec_ids — so the pair count is
    * ≤ |probe|·cap per cell no matter how badly embedding drift
    * inflates one cell (the Σ|cluster|² quadratic cliff the k knob
    * alone can't prevent once centroids are frozen). Never reached by
    * the gated flows at test scale (cells there are thousands of rows,
    * so q212/q242/q247/q253 stay bit-exact vs the uncapped oracle);
    * at 100 TB it is the backstop that keeps one drifted mega-cell
    * from going quadratic between retrains. */
  private[graft] val SemCellCap = 65536

  /** Split bound: each round 2-way splits every oversized cell, so
    * maxRounds = r handles cells up to cap·2^r (≈ 16M at the default)
    * before the truncation backstop takes over. */
  private[graft] val SemSplitRounds = 8

  /** Recursively split cells larger than `cap` into sub-cells keyed by
    * a refined `ckey` string (original `cid` column preserved): per
    * oversized cell, the 2 smallest-md5-rank members become frozen
    * sub-centroids and every row (member AND probe side, same seeds)
    * re-assigns by cosine argmax (ties to the lower sub — fully
    * deterministic, so identical vectors always co-locate and a retry
    * re-derives the same refinement). Near-twins sit on the same side
    * of any bisector almost surely, which is SemDeDup's own
    * cluster-then-prune argument applied one level down — the q81
    * best-first discipline for the semantic tier. A cell of mostly
    * IDENTICAL vectors may refuse to split (both seeds equal → all
    * rows tie to sub 0); rounds are bounded and the caller's
    * truncation backstop is EXACT for that shape (every row matches
    * the cell's min id, which truncation always keeps). Each round is
    * localCheckpoint-ed (lineage per round, the q51 discipline); the
    * common no-oversized-cell case returns after ONE bounded
    * count-by-cell probe and never checkpoints. The broadcast sides
    * are bounded by the oversized-cell count ≤ n/cap. */
  private[graft] def splitOversizedCells(members: DataFrame,
      probe: DataFrame, cap: Int, maxRounds: Int = SemSplitRounds)
      : (DataFrame, DataFrame, Boolean) = {
    // normalize to the pair-scan row shape (callers may carry extra
    // physical columns, e.g. the members table's ingest_batch tag)
    def shape(df: DataFrame): DataFrame =
      df.select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
        .withColumn("ckey", col("cid").cast("string"))
    var m = shape(members)
    var p = shape(probe)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val over = m.groupBy(col("ckey")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > cap).select(col("ckey"))
      if (over.isEmpty) done = true
      else {
        val ws = Window.partitionBy(col("ckey"))
          .orderBy(col("rk").asc, col("vec_id").asc)
        val seeds = m.join(broadcast(over), Seq("ckey"), "left_semi")
          .withColumn("rk",
            md5(concat(lit("split:"), col("vec_id").cast("string"))))
          .withColumn("srn", row_number().over(ws))
          .filter(col("srn") <= 2)
          .select(col("ckey"), (col("srn") - 1).cast("long").as("sub"),
            col("embedding").as("sv"), col("nrm").as("snrm"))
        def reassign(df: DataFrame): DataFrame = {
          val keep = df.join(broadcast(over), Seq("ckey"), "left_anti")
          val wr = Window.partitionBy(col("ckey"), col("vec_id"))
            .orderBy(col("cossub").desc, col("sub").asc)
          val moved = df.join(broadcast(over), Seq("ckey"), "left_semi")
            .join(broadcast(seeds), Seq("ckey"))
            .withColumn("cossub",
              graft.functions.VectorFunctions.dot(col("embedding"),
                col("sv")) / (col("nrm") * col("snrm")))
            .withColumn("rn", row_number().over(wr))
            .filter(col("rn") === 1)
            .withColumn("ckey",
              concat(col("ckey"), lit(":"), col("sub")))
            .select(col("cid"), col("vec_id"), col("embedding"),
              col("nrm"), col("ckey"))
          keep.unionByName(moved).localCheckpoint()
        }
        m = reassign(m)
        p = reassign(p)
        round += 1
      }
    }
    // third element: whether oversized cells may remain (the loop ran
    // out of rounds before the count probe came back clean) — lets the
    // caller skip its truncation re-probe on the clean path, so the
    // common no-oversized-cell case costs exactly ONE bounded
    // count-by-cell scan
    (m, p, !done)
  }

  /** Within-cluster smaller-id-wins prune of `probe` against `members`
    * (both (cid, vec_id, embedding, nrm)): a probe row is `prune` iff
    * some member in ITS cell has a smaller vec_id and cosine >
    * [[SemDedupTau]]. Equi-join on the (cap-refined) cell key — never
    * an all-pairs product; cost ∝ Σ_touched-cells |cell|·|probe ∩
    * cell|, and `cellCap` bounds the member factor: oversized cells
    * are recursively split ([[splitOversizedCells]]) and any residue
    * has its SCAN side truncated to the cap smallest vec_ids (sound
    * to truncate high ids only — a verdict can only come from a
    * SMALLER-id partner, and smaller ids prune the most; exact for an
    * all-identical cell, whose min id survives truncation by
    * construction). Verdicts reference the ORIGINAL cid. */
  private[graft] def semPruneVerdicts(members: DataFrame,
      probe: DataFrame, cellCap: Int = SemCellCap,
      maxRounds: Int = SemSplitRounds): DataFrame =
    semPruneVerdictsProbed(members, probe, probe, cellCap, maxRounds)

  /** The multi-probe generalization [[semPruneVerdicts]] delegates to:
    * `probeAll` may carry SEVERAL rows per vec_id (one per probed
    * cell — the nprobe > 1 path assigns the probe side to its top-n
    * cells while members stay single-assigned, so storage is
    * unchanged and the scan cost scales by nprobe, the IVF trade
    * applied to dedup); a vector is `prune` iff ANY probed cell holds
    * a smaller-id member over [[SemDedupTau]]. `probePrimary` (one
    * row per vec_id) fixes the OUTPUT keying — verdicts always
    * reference the primary (argmax) cid, so nprobe changes recall,
    * never the result shape. */
  private[graft] def semPruneVerdictsProbed(members: DataFrame,
      probeAll: DataFrame, probePrimary: DataFrame,
      cellCap: Int = SemCellCap,
      maxRounds: Int = SemSplitRounds): DataFrame = {
    val (m, p, mayOverflow) =
      splitOversizedCells(members, probeAll, cellCap, maxRounds)
    lazy val residue = m.groupBy(col("ckey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > cellCap).select(col("ckey"))
    val scan = if (!mayOverflow || residue.isEmpty) m else {
      val wt = Window.partitionBy(col("ckey")).orderBy(col("vec_id").asc)
      m.join(broadcast(residue), Seq("ckey"), "left_anti").unionByName(
        m.join(broadcast(residue), Seq("ckey"), "left_semi")
          .withColumn("trn", row_number().over(wt))
          .filter(col("trn") <= cellCap).drop("trn"))
    }
    val a = scan.select(col("ckey"), col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = p.select(col("ckey"), col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val pruned = a.join(b, Seq("ckey"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(graft.functions.VectorFunctions.dot(col("va"), col("vb"))
        / (col("na") * col("nb")) > expr(SemDedupTau))
      .select(col("vec_b").as("vec_id")).distinct()
    probePrimary.select(col("cid"), col("vec_id"))
      .join(pruned.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("cid"), col("vec_id"),
        when(col("hit").isNotNull, lit("prune")).otherwise(lit("keep"))
          .as("verdict"))
  }

  /** Build a persisted SEMANTIC-DEDUP index from the base corpus — the
    * incremental story q212 was missing (n-gram dedup has had it since
    * q55): centroids are trained ONCE on the base (the q98 recipe,
    * then FROZEN — q205's discipline applied to SemDeDup), written as
    * `<prefix>_semcents`, and every base vector's cell assignment plus
    * the floats the pair scan needs land in `<prefix>_members`,
    * bucketed on cid (the probe join key). Returns the base corpus's
    * own verdicts (q212's smaller-id-wins rule under the frozen
    * centroids). After this, each arriving generation pays
    * [[ingestSemanticIndex]]'s batch-sized cost instead of q212's full
    * re-train + corpus re-scan. */
  def buildSemanticIndex(s: SparkSession, base: DataFrame,
      prefix: String, path: String, k: Int = KmK,
      buckets: Int = 8, nprobe: Int = 1): DataFrame = {
    val m = buildSemanticIndexTables(s, base, prefix, path, k, buckets)
    val frozen = s.table(s"${prefix}_semcents")
    if (nprobe <= 1) semPruneVerdicts(m, m).localCheckpoint()
    else {
      // multi-probe (q256 promoted into the persisted path): members
      // stay single-assigned — only the PROBE side fans out to its
      // top-nprobe cells against the same frozen centroids, so the
      // stored layout is identical to nprobe=1 and the knob can be
      // turned per build/ingest without a rebuild
      val probeAll = semAssignTop(base, frozen, nprobe).drop("pr")
        .localCheckpoint()
      semPruneVerdictsProbed(m, probeAll, m).localCheckpoint()
    }
  }

  /** The TABLE-WRITING half of [[buildSemanticIndex]] — train, persist
    * centroids, persist members, return the stored members frame
    * WITHOUT computing the base's own verdicts. The lifecycle queries
    * that serve verdicts later from the stored tables (q255 retrain,
    * q261/q264 purge/vacuum, q289 multi-probe serve, q298 pinned
    * serve) discarded [[buildSemanticIndex]]'s return value — yet its
    * eager localCheckpoint forced the base members×members pair scan
    * anyway, the build's most expensive stage, computed for nothing
    * (guide §1.2: don't compute things you throw away). Stored bytes
    * are byte-identical to the full build's. */
  def buildSemanticIndexTables(s: SparkSession, base: DataFrame,
      prefix: String, path: String, k: Int = KmK,
      buckets: Int = 8): DataFrame = {
    val cents = coarseKmOfK(base, k).select(col("cid"), col("cv"),
      col("cnrm"))
    IndexLifecycle.writeTables(SemanticIndexTables, prefix, path,
      buckets)("semcents" -> cents)
    // assign against the RE-READ stored centroids — the same frozen
    // bytes every later ingest codes against
    val frozen = s.table(s"${prefix}_semcents")
    IndexLifecycle.writeTables(SemanticIndexTables, prefix, path,
      buckets)("members" ->
        semAssign(base, frozen).withColumn("ingest_batch", lit(-1L))
          .repartition(buckets, col("cid")))
    s.table(s"${prefix}_members")
  }

  /** Ingest one arriving batch into the persisted semantic index:
    * assign the batch to cells against the FROZEN stored centroids
    * (zero training in the plan), append its members (insert-only,
    * cost ∝ batch), and return the batch's verdicts from ONE
    * cid-equi-join pair scan of the stored members — only the batch's
    * touched cells' members ever pair up, and prior docs' verdicts are
    * never recomputed (q55's bipartite discipline applied to q212's
    * trajectory). A 100 TB curation loop runs THIS per shard
    * generation, not a corpus-wide SemDeDup.
    *
    * Ordering contract (mirrors q212's arrival-free smaller-id rule):
    * when generations arrive in vec_id order — the reference's shard
    * convention, README.md:66-89 — ingest verdicts equal a scratch
    * frozen-centroid SemDeDup over the unioned corpus EXACTLY
    * (q242's oracle). Out-of-order arrival degrades gracefully to
    * first-arrival-wins: a later batch carrying a smaller id does not
    * retroactively flip an already-emitted verdict. */
  def ingestSemanticIndex(s: SparkSession, batch: DataFrame,
      prefix: String, path: String,
      batchId: Option[Long] = None, nprobe: Int = 1): DataFrame = {
    // pointer-resolved: after retrainSemanticIndex flipped the live
    // generation, ingests code against ITS frozen centroids and append
    // to ITS members table (appendBucketedTable resolves the table's
    // registered location; `path` only seeds a first-build table)
    val phys = IndexLifecycle.livePrefix(s, prefix)
    val frozen = s.table(s"${phys}_semcents")
    // one assignment pass covers both halves: pr=1 is the stored
    // (primary) assignment, pr<=nprobe the probe fan-out — members
    // stay single-assigned whatever the knob, so the append below is
    // byte-identical across nprobe settings
    val asgAll = semAssignTop(batch, frozen, nprobe).localCheckpoint()
    val asgB = asgAll.filter(col("pr") === 1).drop("pr")
    // streaming callers pass their micro-batch id: the member append
    // then commits the id atomically with the rows and an at-least-
    // once replay is skipped (a replay's verdicts recompute fine from
    // the already-stored members — assignment is deterministic)
    appendMembers(s, asgB, phys, path, batchId)
    // members now include the batch itself, so within-batch smaller-id
    // pairs are covered by the same single equi-join; the tombstone
    // mask keeps purged vectors out of the witness set
    val out =
      if (nprobe <= 1)
        semPruneVerdicts(liveSemanticMembersAt(s, prefix, phys), asgB)
      else semPruneVerdictsProbed(liveSemanticMembersAt(s, prefix, phys),
        asgAll.drop("pr"), asgB)
    out.localCheckpoint()
  }

  /** The APPEND half of [[ingestSemanticIndex]] — assign the batch
    * against the frozen stored centroids and append its members,
    * WITHOUT computing the batch's verdicts. The lifecycle queries
    * that re-derive verdicts at serve time (q255/q261/q264/q289/q298)
    * discarded [[ingestSemanticIndex]]'s return value, yet its eager
    * localCheckpoints forced the assignment checkpoint AND the
    * members×members verdict pair scan per ingest — the trajectory's
    * dominant jobs, computed for nothing (guide §1.2). The stored
    * bytes are byte-identical: same deterministic assignment (pr = 1
    * of the same total-ordered argmax), same per-table append, same
    * replay contract (`batchId`). */
  def ingestSemanticIndexAppend(s: SparkSession, batch: DataFrame,
      prefix: String, path: String,
      batchId: Option[Long] = None): Unit = {
    val phys = IndexLifecycle.livePrefix(s, prefix)
    appendMembers(s, semAssign(batch, s.table(s"${phys}_semcents")), phys,
      path, batchId)
  }

  /** Append cell-assigned rows to generation `phys`'s members table,
    * one partition per registered bucket (`path` only seeds a
    * first-build table; appends follow the registered location) and
    * refresh its file listing. */
  private def appendMembers(s: SparkSession, asg: DataFrame, phys: String,
      path: String, batchId: Option[Long]): Unit = {
    val (_, _, n) = Sinks.tableLayout(s, s"${phys}_members")
    IndexLifecycle.appendTables(s, SemanticIndexTables, phys, path, n,
      batchId)("members" -> asg.repartition(n, col("cid")))
    s.catalog.refreshTable(s"${phys}_members")
  }

  /** The live generation's members with tombstones applied — the one
    * view every semantic-index read path shares. The anti-join is a
    * broadcast (takedown sets are small relative to a corpus); a
    * purged vector disappears as BOTH a verdict subject and a prune
    * WITNESS immediately — a doc that was only pruned because of a
    * now-purged near-twin flips back to keep on the next serve, which
    * is what right-to-be-forgotten means for a dedup verdict. */
  private def liveSemanticMembers(s: SparkSession,
      prefix: String): DataFrame =
    liveSemanticMembersAt(s, prefix,
      IndexLifecycle.livePrefix(s, prefix))

  /** [[liveSemanticMembers]] with the generation prefix ALREADY
    * resolved — callers that resolved the pointer for their own table
    * writes (ingest) reuse it instead of paying a second 1-row
    * pointer-read job (guide §1, coalesce the pointer reads). */
  private def liveSemanticMembersAt(s: SparkSession, prefix: String,
      phys: String): DataFrame =
    IndexLifecycle.readTable(s, SemanticIndexTables, "members", prefix,
      phys, live = true)

  /** Tombstone a batch of vec_ids out of the persisted semantic
    * index — the delete half q242 was missing (the vector index got
    * tombstones in q210/q232; the corpus index in q211). Insert-only,
    * cost ∝ takedown batch; the members table is not rewritten until
    * the next [[retrainSemanticIndex]] folds the mask in (retrain
    * trains on SURVIVORS and drops the tombstones — the vector-index
    * retrain contract). Tombstones are LOGICAL at the prefix level, so
    * they keep masking across generations until folded. */
  def purgeSemanticIndex(s: SparkSession, delIds: DataFrame,
      prefix: String, path: String): Unit =
    IndexLifecycle.appendTombstones(SemanticIndexTables,
      delIds.select(col("vec_id")).distinct(), prefix, path)

  /** Serve the persisted semantic index's CURRENT verdicts: the
    * smaller-id-wins prune over the live generation's stored members
    * (tombstone-masked) — pointer-resolved, zero training in the plan
    * (the q212 trajectory answered entirely from stored tables). */
  def semanticIndexVerdicts(s: SparkSession, prefix: String,
      nprobe: Int = 1): DataFrame =
    verdictsAt(s, prefix, IndexLifecycle.livePrefix(s, prefix), nprobe)

  /** The smaller-id-wins verdicts of generation `phys`'s
    * tombstone-masked members. */
  private def verdictsAt(s: SparkSession, prefix: String, phys: String,
      nprobe: Int): DataFrame = {
    val m = liveSemanticMembersAt(s, prefix, phys)
    if (nprobe <= 1) semPruneVerdicts(m, m)
    else {
      // multi-probe SERVE: re-probe the live members' stored floats
      // against the generation's frozen centroids — tombstoned
      // vectors are already masked out of `m`, so they stop being
      // probes AND witnesses; members stay single-assigned on disk
      val frozen = s.table(s"${phys}_semcents")
      val probeAll = semAssignTop(
        m.select(col("vec_id"), col("embedding"), col("nrm")),
        frozen, nprobe).drop("pr")
      semPruneVerdictsProbed(m, probeAll, m)
    }
  }

  /** Fold [[purgeSemanticIndex]] tombstones into the members table
    * WITHOUT a retrain — the cheap maintenance path when drift doesn't
    * yet justify [[retrainSemanticIndex]]'s training passes (q260's
    * 'hold' decision): the live generation's masked members are
    * rewritten at `newPath/members` and swapped in with one SET
    * LOCATION ([[IndexLifecycle.vacuum]] — a crash leaves the
    * old file set serving with the mask still in force), centroids
    * stay frozen, tombstones retire. Serving results are unchanged by construction
    * (the mask was already applied at read time); what vacuum buys is
    * the masked rows' scan + anti-join cost back. */
  def vacuumSemanticIndex(s: SparkSession, prefix: String,
      newPath: String): Unit =
    IndexLifecycle.vacuum(s, SemanticIndexTables, prefix,
      IndexLifecycle.livePrefix(s, prefix), sfx => s"$newPath/$sfx")

  /** Re-train the semantic index on its CURRENT stored corpus and flip
    * the generation pointer — the [[retrainVectorIndex]] maintenance
    * actuator applied to SemDeDup: q242 freezes centroids at build
    * time (ingest cost ∝ batch), so embedding drift degrades cell
    * balance exactly as it does for the vector index, and the same
    * answer applies — periodically re-train OFFLINE into
    * `<prefix>_r<gen>_*` tables nothing references, then publish with
    * ONE pointer flip ([[IndexLifecycle.publishGeneration]]). A crash
    * anywhere before
    * the flip leaves the old generation serving, bit-identical; a
    * crash after merely leaks droppable staging. Runs with ingest
    * quiesced (the snapshot-then-flip contract shared with vacuum /
    * compaction / vector retrain). Cost: one k-means train + one
    * corpus re-assign — a scheduled maintenance job priced by the
    * q231/q248 dashboards, never an ingest-path cost. */
  def retrainSemanticIndex(s: SparkSession, prefix: String,
      newPath: String, k: Int = KmK): Unit = {
    val gen = stageRetrainSemanticIndex(s, prefix, newPath, k)
    publishRetrainSemanticIndex(s, prefix, gen, newPath)
  }

  /** The staging half of [[retrainSemanticIndex]], in the live
    * generation's registered bucket layout — exposed within the
    * library so the crash spec can kill the writer between staging and
    * publication. */
  private[graft] def stageRetrainSemanticIndex(s: SparkSession,
      prefix: String, newPath: String, k: Int = KmK): Long = {
    val (gen, phys) = IndexLifecycle.stageGeneration(s,
      SemanticIndexTables, prefix)
    val (_, _, n) = Sinks.tableLayout(s,
      s"${IndexLifecycle.generationPrefix(prefix, gen - 1L)}_members")
    // the stored member floats ARE the corpus snapshot — no source
    // rescan; parquet round-trips them bit-exactly, so training here
    // equals training on the original vectors. SURVIVORS only: the
    // tombstone mask is folded into the new generation and the
    // tombstones dropped at publish (the vector-retrain contract).
    val corpus = liveSemanticMembers(s, prefix)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    buildSemanticIndexTables(s, corpus, phys, s"$newPath/g$gen", k, n)
    gen
  }

  /** The publication half of [[retrainSemanticIndex]]: one pointer
    * flip, then drop the superseded generation's tables — UNLESS that
    * generation is pinned (the [[graft.io.IndexLifecycle]] registry):
    * a pinned snapshot keeps serving its frozen-centroid verdicts
    * bit-identically across the flip, reclaimed only by an explicit
    * [[gcSemanticIndexGenerations]] after an unpin. */
  private[graft] def publishRetrainSemanticIndex(s: SparkSession,
      prefix: String, gen: Long, newPath: String): Unit =
    // the staged generation snapshotted the survivors, so the mask is
    // folded in — the tombstones retire with the old generation. NOTE
    // a retained (pinned) generation keeps masking through the
    // PREFIX-level tombstone registry until then, so a purge issued
    // before the retrain stays forgotten in the snapshot too — the
    // right-to-be-forgotten contract outranks reproducibility.
    IndexLifecycle.publishGeneration(s, SemanticIndexTables, prefix, gen,
      newPath)

  /** Serve a SPECIFIC retained generation's verdicts — the semantic
    * twin of [[graft.ops.VectorIndexOps.readVectorIndexAt]]: a
    * curation run pinned to generation G keeps getting G's
    * frozen-centroid verdicts, bit-identical, while retrains flip
    * production past it. CURRENT tombstones still mask the snapshot
    * (forgetting trumps time travel). The generation must be live or
    * pinned before the retrain that superseded it. */
  def semanticIndexVerdictsAt(s: SparkSession, prefix: String,
      gen: Long, nprobe: Int = 1): DataFrame = {
    val phys = IndexLifecycle.generationPrefix(prefix, gen)
    require(s.catalog.tableExists(s"${phys}_members"),
      s"generation $gen of semantic index '$prefix' is not retained — " +
        "pin it before the retrain that supersedes it")
    verdictsAt(s, prefix, phys, nprobe)
  }

  /** Retire every retired (non-live, unpinned) semantic-index
    * generation — tables and registered data dirs. */
  def gcSemanticIndexGenerations(s: SparkSession,
      prefix: String): Seq[Long] =
    IndexLifecycle.gcGenerations(s, SemanticIndexTables, prefix)

  /** The q242/q287 trajectory at probe fan-out `nprobe`: the base half
    * builds the index under `prefix`, the two later quarters ingest
    * against its frozen centroids in vec_id order, and the three
    * verdict sets are unioned. */
  private def incrementalSemdedup(s: SparkSession, dir: String,
      prefix: String, nprobe: Int): DataFrame = {
    val e = normedDf(s, dir)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    // bounded 1-row scalar: the id-range split threshold
    val total = e.count()
    val base = e.filter(col("vec_id") * 2 < total)
    val b1 = e.filter(col("vec_id") * 2 >= total &&
      col("vec_id") * 4 < total * 3)
    val b2 = e.filter(col("vec_id") * 4 >= total * 3)
    val path = s"${graft.Tables.scratchDir}/$prefix"
    IndexLifecycle.resetPrefix(s, prefix, path)
    val v0 = buildSemanticIndex(s, base, prefix, path, nprobe = nprobe)
    val v1 = ingestSemanticIndex(s, b1, prefix, path, nprobe = nprobe)
    val v2 = ingestSemanticIndex(s, b2, prefix, path, nprobe = nprobe)
    v0.unionByName(v1).unionByName(v2)
  }

  /** q242: INCREMENTAL SemDeDup under the bit-exact gate. The corpus
    * arrives as three vec_id-ordered generations (base = first half by
    * a count-scalar range split, then two quarter batches — the
    * reference's shard-generation pattern); the base builds the
    * persisted index, each batch pays only its ingest, and the unioned
    * verdicts must equal a SCRATCH frozen-centroid SemDeDup over the
    * full corpus (the oracle re-derives q212's trajectory with
    * training restricted to the base subset). Training happens exactly
    * once, in the build — the ingest plans contain no k-means stage
    * (spec-audited) and never rescan prior members as probes. */
  val q242IncrementalSemdedup = OpSpec(
    "q242_incremental_semdedup",
    (s, dir) => incrementalSemdedup(s, dir, "sem_q242", 1),
    Some(s"""
      $baseCentroidsDuck,
      ${asgDuck("asg", "c2")},
      pruned AS (
        SELECT DISTINCT p.cid, p.vec_id
        FROM asg a JOIN asg p
          ON a.cid = p.cid AND a.vec_id < p.vec_id
        WHERE ${dotDuck("a.embedding", "p.embedding")} / (a.nrm * p.nrm)
          > $SemDedupTau)
      SELECT g.cid, g.vec_id,
        CASE WHEN p.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
          AS verdict
      FROM asg g LEFT JOIN pruned p
        ON p.cid = g.cid AND p.vec_id = g.vec_id"""))

  /** q287: MULTI-PROBE INCREMENTAL SemDeDup under the bit-exact
    * gate — q256's audit promoted into the PERSISTED path. q242's
    * exact trajectory (base build + two vec_id-ordered batch ingests
    * against the frozen base-trained centroids) runs at nprobe = 2,
    * so the production incremental path stops inheriting the
    * structural cross-cluster misses q256 proved recoverable. Members
    * stay single-assigned — the stored index layout is identical to
    * nprobe = 1 and the knob turns per build/ingest without a
    * rebuild; only the probe side fans out to its top-2 cells, ~2x
    * scan cost (the IVF nprobe trade applied to dedup). Oracle: the
    * scratch frozen-centroid MULTI-PROBE rule — a vector is pruned
    * iff ANY of its top-2 probed cells holds a smaller-id PRIMARY
    * member over tau (q242's oracle with q256's asg2 reachability);
    * verdicts keyed by the primary cid, so the output shape equals
    * q242's and the single-probe gates stay untouched. */
  val q287MultiprobeSemdedup = OpSpec(
    "q287_multiprobe_semdedup",
    (s, dir) => incrementalSemdedup(s, dir, "sem_q287", 2),
    Some(s"""
      $baseCentroidsDuck,
      $rnkDuck,
      asg AS (SELECT cid, vec_id, embedding, nrm FROM rnk WHERE rn = 1),
      asg2 AS (SELECT cid, vec_id FROM rnk WHERE rn <= 2),
      pruned AS (
        SELECT DISTINCT p.vec_id
        FROM asg a
        JOIN asg2 p ON p.cid = a.cid AND a.vec_id < p.vec_id
        JOIN asg q ON q.vec_id = p.vec_id
        WHERE ${dotDuck("a.embedding", "q.embedding")} / (a.nrm * q.nrm)
          > $SemDedupTau)
      SELECT g.cid, g.vec_id,
        CASE WHEN p.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
          AS verdict
      FROM asg g LEFT JOIN pruned p ON p.vec_id = g.vec_id"""))

  /** DuckDB CTE chain for one coarse-training arm: seeds + two Lloyd
    * rounds trained on `trainPred`'s rows, full-corpus assignment,
    * per-cell counts — suffixed so q248 can run two arms in one
    * query. */
  private def coarseArmSql(sfx: String, trainPred: String): String = s"""
      b$sfx AS (SELECT vec_id, embedding, nrm FROM e WHERE $trainPred),
      ${seedsDuck(s"seeds$sfx", s"embeddings WHERE $trainPred", KmK)},
      ${c0Duck(s"c0$sfx", s"seeds$sfx")},
      s1$sfx AS (${kmIterDuck(s"c0$sfx", s"b$sfx")}),
      ${meansDuck(s"c1$sfx", s"s1$sfx")},
      s2$sfx AS (${kmIterDuck(s"c1$sfx", s"b$sfx")}),
      ${meansDuck(s"c2$sfx", s"s2$sfx")},
      asg$sfx AS (
        SELECT cid FROM (
          SELECT e.vec_id, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, len(e.embedding)),
                i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]),
                (x, y) -> x + y) / (e.nrm * c.cnrm) DESC, c.cid ASC) AS rn
          FROM e, c2$sfx c)
        WHERE rn = 1),
      cnt$sfx AS (SELECT cid AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
                  FROM asg$sfx GROUP BY 1)"""

  /** q248: the RETRAIN PAYOFF readout — q231's load-factor dashboard
    * evaluated on BOTH sides of the actuator in one gated query: the
    * full corpus assigned to DRIFTED centroids (trained on the first
    * shard generation only, vec_id % 4 = 0 — exactly the state an
    * append-only index reaches) versus the same corpus assigned to
    * RETRAINED centroids (trained on everything). An operator reads
    * the per-cell load-factor deltas to decide whether q241's
    * maintenance run is worth its two training passes — the number
    * that connects the q231 dashboard to the q241 actuator. Pure
    * assignment arithmetic (no index tables needed): two broadcast-k
    * trainings + two argmax passes, one scan family. */
  val q248RetrainPayoff = OpSpec(
    "q248_retrain_payoff",
    (s, dir) => {
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val total = e.count()
      def balance(cents: DataFrame, phase: String): DataFrame = {
        val counts = semAssign(e, cents)
          .groupBy(col("cid").as("cell"))
          .agg(count(lit(1)).as("n_vecs"))
        s.range(KmK).select(col("id").as("cell"))
          .join(counts, Seq("cell"), "left")
          .na.fill(0L, Seq("n_vecs"))
          .select(lit(phase).as("phase"), col("cell"), col("n_vecs"),
            (col("n_vecs").cast("double") * lit(KmK.toDouble)
              / lit(total.toDouble)).as("load_factor"))
      }
      val drifted = coarseKmOfK(e.filter(col("vec_id") % 4 === 0), KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      val retrained = coarseKmOfK(e, KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      balance(drifted, "drifted")
        .unionByName(balance(retrained, "retrained"))
    },
    Some(s"""
      WITH e AS ($normedDuck),
      ${coarseArmSql("d", "vec_id % 4 = 0")},
      ${coarseArmSql("r", "TRUE")},
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e),
      dom AS (SELECT CAST(unnest(range(0, $KmK)) AS BIGINT) AS cell)
      SELECT 'drifted' AS phase, d.cell,
        COALESCE(c.n_vecs, CAST(0 AS BIGINT)) AS n_vecs,
        CAST(COALESCE(c.n_vecs, 0) AS DOUBLE) * ${KmK}e0
          / CAST(t.total AS DOUBLE) AS load_factor
      FROM dom d LEFT JOIN cntd c ON c.cell = d.cell CROSS JOIN tot t
      UNION ALL
      SELECT 'retrained' AS phase, d.cell,
        COALESCE(c.n_vecs, CAST(0 AS BIGINT)) AS n_vecs,
        CAST(COALESCE(c.n_vecs, 0) AS DOUBLE) * ${KmK}e0
          / CAST(t.total AS DOUBLE) AS load_factor
      FROM dom d LEFT JOIN cntr c ON c.cell = d.cell CROSS JOIN tot t"""))

  /** q260: the RETRAIN GO/NO-GO POLICY row — q231 measures cell load,
    * q248 prices the payoff, q241/q255 actuate; this closes the loop
    * with the DECISION, gated. Both arms' per-cell counts (drifted =
    * centroids trained on the first shard generation only; retrained =
    * trained on everything — q248's construction) reduce to two
    * integer health stats: `hot` cells (load factor > 1.5, evaluated
    * as the integer cross-product n·k·10 > total·15 — no float
    * thresholds, so the decision is bit-deterministic in any engine)
    * and the max−min `spread`. Policy: retrain iff drift added hot
    * cells, or widened the spread by ≥ 30 % (spread_d·10 >
    * spread_r·13). One row out: the operator's entire
    * measurement → decision trail, auditable and hash-gated. */
  val q260RetrainPolicy = OpSpec(
    "q260_retrain_policy",
    (s, dir) => {
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val total = e.count()
      def stats(cents: DataFrame): DataFrame = {
        val counts = semAssign(e, cents)
          .groupBy(col("cid").as("cell")).agg(count(lit(1)).as("n"))
        s.range(KmK).select(col("id").as("cell"))
          .join(counts, Seq("cell"), "left")
          .na.fill(0L, Seq("n"))
          .agg(max(col("n")).as("max_n"), min(col("n")).as("min_n"),
            sum(when(col("n") * KmK * 10 > lit(total) * 15, 1L)
              .otherwise(0L)).as("hot"))
      }
      val drifted = coarseKmOfK(e.filter(col("vec_id") % 4 === 0), KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      val retrained = coarseKmOfK(e, KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      stats(drifted).select(col("hot").as("hot_d"),
          (col("max_n") - col("min_n")).as("spread_d"))
        .crossJoin(stats(retrained).select(col("hot").as("hot_r"),
          (col("max_n") - col("min_n")).as("spread_r")))
        .select(col("hot_d").as("hot_drifted"),
          col("hot_r").as("hot_retrained"),
          col("spread_d").as("spread_drifted"),
          col("spread_r").as("spread_retrained"),
          when(col("hot_d") > col("hot_r") ||
            col("spread_d") * 10 > col("spread_r") * 13, lit("retrain"))
            .otherwise(lit("hold")).as("decision"))
    },
    Some(s"""
      WITH e AS ($normedDuck),
      ${coarseArmSql("d", "vec_id % 4 = 0")},
      ${coarseArmSql("r", "TRUE")},
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e),
      dom AS (SELECT CAST(unnest(range(0, $KmK)) AS BIGINT) AS cell),
      fd AS (SELECT d.cell, COALESCE(c.n_vecs, CAST(0 AS BIGINT)) AS n
             FROM dom d LEFT JOIN cntd c ON c.cell = d.cell),
      fr AS (SELECT d.cell, COALESCE(c.n_vecs, CAST(0 AS BIGINT)) AS n
             FROM dom d LEFT JOIN cntr c ON c.cell = d.cell),
      sd AS (SELECT MAX(f.n) - MIN(f.n) AS spread,
               CAST(SUM(CASE WHEN f.n * $KmK * 10 > t.total * 15
                 THEN 1 ELSE 0 END) AS BIGINT) AS hot
             FROM fd f CROSS JOIN tot t),
      sr AS (SELECT MAX(f.n) - MIN(f.n) AS spread,
               CAST(SUM(CASE WHEN f.n * $KmK * 10 > t.total * 15
                 THEN 1 ELSE 0 END) AS BIGINT) AS hot
             FROM fr f CROSS JOIN tot t)
      SELECT sd.hot AS hot_drifted, sr.hot AS hot_retrained,
        sd.spread AS spread_drifted, sr.spread AS spread_retrained,
        CASE WHEN sd.hot > sr.hot OR sd.spread * 10 > sr.spread * 13
             THEN 'retrain' ELSE 'hold' END AS decision
      FROM sd CROSS JOIN sr"""))

  /** q255: SEMANTIC-INDEX RETRAIN under the bit-exact gate — the
    * maintenance actuator q242 was missing (the vector index got its
    * in q241). Trajectory: the q242 lifecycle runs first (base build
    * on the first half, two frozen-centroid ingests — exactly the
    * drifted append-only state a long-lived index reaches), then
    * [[retrainSemanticIndex]] re-trains on the stored members and
    * flips the generation pointer, and the RETURNED plan is
    * [[semanticIndexVerdicts]] — the smaller-id prune served from the
    * retrained generation's stored tables only. The oracle is q212's
    * full-corpus trajectory verbatim: a retrained index must serve
    * exactly what a scratch full-train SemDeDup computes, which is the
    * whole point of the retrain (the frozen base-half centroids it
    * replaces would NOT match it — the spec proves that separation,
    * plus crash-before-flip leaving gen 0 serving). */
  val q255SemanticRetrain = OpSpec(
    "q255_semantic_retrain",
    (s, dir) => {
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val total = e.count()
      val prefix = "sem_q255"
      val path = s"${graft.Tables.scratchDir}/sem_q255"
      IndexLifecycle.resetPrefix(s, prefix, path)
      // tables-only build + append-only ingests: this trajectory never
      // reads the per-step verdicts (the serve below re-derives them
      // from the stored tables), so don't compute them (guide §1.2)
      buildSemanticIndexTables(s, e.filter(col("vec_id") * 2 < total),
        prefix, s"$path/idx")
      ingestSemanticIndexAppend(s, e.filter(col("vec_id") * 2 >= total &&
        col("vec_id") * 4 < total * 3), prefix, s"$path/idx")
      ingestSemanticIndexAppend(s, e.filter(col("vec_id") * 4 >= total * 3),
        prefix, s"$path/idx")
      retrainSemanticIndex(s, prefix, s"$path/retrain")
      semanticIndexVerdicts(s, prefix)
    },
    q212SemDedup.oracle)

  /** The q261/q264/q289 index state under `prefix`: a tables-only
    * build on the base half and an append-only ingest of the rest
    * (verdicts re-derived at serve time; the per-step ones were
    * discarded — guide §1.2), then a fifth of the corpus tombstoned.
    * Returns the index's scratch path. */
  private def purgedSemanticIndex(s: SparkSession, dir: String,
      prefix: String): String = {
    val e = normedDf(s, dir)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val total = e.count()
    val path = s"${graft.Tables.scratchDir}/$prefix"
    IndexLifecycle.resetPrefix(s, prefix, path)
    buildSemanticIndexTables(s, e.filter(col("vec_id") * 2 < total),
      prefix, s"$path/idx")
    ingestSemanticIndexAppend(s, e.filter(col("vec_id") * 2 >= total),
      prefix, s"$path/idx")
    purgeSemanticIndex(s,
      e.filter(col("vec_id") % 5 === 2).select(col("vec_id")),
      prefix, s"$path/idx")
    path
  }

  /** q261: SEMANTIC-INDEX PURGE under the bit-exact gate — the
    * right-to-be-forgotten proof for the semantic-dedup index
    * (tombstones + masked serve; retrain folds them — spec'd). The
    * q242 lifecycle runs (base build, one ingest), then a fifth of the
    * corpus is tombstoned and the serve re-asked. The oracle is the
    * frozen-centroid SemDeDup computed over the SURVIVORS ONLY —
    * training still on the full base half (the centroids were learned
    * before the takedown; purge must not secretly retrain) — so the
    * gate proves the subtle half: a doc that was pruned only because
    * of a now-purged near-twin comes back KEEP. Forgotten means
    * forgotten, including as evidence against others. */
  val q261SemanticPurge = OpSpec(
    "q261_semantic_purge",
    (s, dir) => {
      purgedSemanticIndex(s, dir, "sem_q261")
      semanticIndexVerdicts(s, "sem_q261")
    },
    Some(s"""
      $baseCentroidsDuck,
      ${asgDuck("asg", "c2")},
      lasg AS (SELECT * FROM asg WHERE vec_id % 5 <> 2),
      pruned AS (
        SELECT DISTINCT p.cid, p.vec_id
        FROM lasg a JOIN lasg p
          ON a.cid = p.cid AND a.vec_id < p.vec_id
        WHERE ${dotDuck("a.embedding", "p.embedding")} / (a.nrm * p.nrm)
          > $SemDedupTau)
      SELECT g.cid, g.vec_id,
        CASE WHEN p.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
          AS verdict
      FROM lasg g LEFT JOIN pruned p
        ON p.cid = g.cid AND p.vec_id = g.vec_id"""))

  /** q289: MULTI-PROBE SERVE over the tombstone-masked live view —
    * the third production surface to carry the nprobe knob (q287
    * gated build/ingest, q288 the streaming twin; this is the serve
    * path q261 exercises, re-probed at top-2). The serve re-probes
    * the live members' STORED floats against the frozen centroids, so
    * a tombstoned vector disappears both as a probe and as a witness,
    * and the multi-probe recall recovery composes with
    * right-to-be-forgotten in one trajectory. Oracle: q261's
    * survivor-masked scratch rule with q256's asg2 reachability —
    * pruned iff ANY of a survivor's top-2 cells holds a smaller-id
    * surviving PRIMARY member over tau. */
  val q289MultiprobeServe = OpSpec(
    "q289_multiprobe_serve",
    (s, dir) => {
      purgedSemanticIndex(s, dir, "sem_q289")
      semanticIndexVerdicts(s, "sem_q289", nprobe = 2)
    },
    Some(s"""
      $baseCentroidsDuck,
      $rnkDuck,
      lasg AS (
        SELECT cid, vec_id, embedding, nrm FROM rnk
        WHERE rn = 1 AND vec_id % 5 <> 2),
      lasg2 AS (
        SELECT cid, vec_id FROM rnk
        WHERE rn <= 2 AND vec_id % 5 <> 2),
      pruned AS (
        SELECT DISTINCT p.vec_id
        FROM lasg a
        JOIN lasg2 p ON p.cid = a.cid AND a.vec_id < p.vec_id
        JOIN lasg q ON q.vec_id = p.vec_id
        WHERE ${dotDuck("a.embedding", "q.embedding")} / (a.nrm * q.nrm)
          > $SemDedupTau)
      SELECT g.cid, g.vec_id,
        CASE WHEN p.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
          AS verdict
      FROM lasg g LEFT JOIN pruned p ON p.vec_id = g.vec_id"""))

  /** q264: SEMANTIC-INDEX VACUUM — q261's trajectory with
    * [[vacuumSemanticIndex]] folding the tombstones into the physical
    * members table before the serve (centroids frozen, no retrain):
    * the oracle is q261's verbatim, so the gate proves the fold
    * changes nothing a reader can see while the masked rows' storage
    * cost is reclaimed (physical-drop + post-vacuum ingest spec'd). */
  val q264SemanticVacuum = OpSpec(
    "q264_semantic_vacuum",
    (s, dir) => {
      val path = purgedSemanticIndex(s, dir, "sem_q264")
      vacuumSemanticIndex(s, "sem_q264", s"$path/vac")
      semanticIndexVerdicts(s, "sem_q264")
    },
    q261SemanticPurge.oracle)

  /** q256: MULTI-PROBE SemDeDup — the recovery knob for q220's
    * structural misses. q220 measures the near-dup pairs SemDeDup can
    * NEVER catch at any tau because their endpoints land in different
    * cells; assigning the PROBE side to its top-2 cells (members stay
    * single-assigned — storage unchanged) makes a pair comparable
    * whenever the smaller id's primary cell appears anywhere in the
    * larger id's top-2, for ~2× scan cost (the IVF nprobe trade
    * applied to dedup). Gated as the side-by-side audit: one row per
    * phase (single / multiprobe) with the truth-pair counts under that
    * phase's OWN verdicts and its OWN reachability rule — n_structural
    * must fall (spec-asserted), which is the whole point. Scale: one
    * broadcast-k training + the cid-equi-join pair scan at ≤2× q212's
    * volume; the audit joins are truth-pair-sized. */
  val q256MultiprobeAudit = OpSpec(
    "q256_multiprobe_audit",
    (s, dir) => {
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val truth = graft.ops.DedupOps.q50NgramJaccard.query(s, dir)
        .select(least(col("doc_a"), col("doc_b")).as("doc_s"),
          greatest(col("doc_a"), col("doc_b")).as("doc_l")).persist()
      val cents = coarseKmOfK(e, KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      val asg2 = semAssignTop(e, cents, 2).persist()
      // the lossless-ppjoin truth arm and the train+assign arm are
      // independent until the audit join — materialize them
      // concurrently (guide §2.6, the q220 pool treatment)
      graft.io.Sinks.concurrently(Seq(
        () => { truth.count(); () }, () => { asg2.count(); () }))
      val asg1 = asg2.filter(col("pr") === 1).drop("pr")
      def prunedIds(probe: DataFrame): DataFrame =
        asg1.select(col("cid"), col("vec_id").as("vec_a"),
            col("embedding").as("va"), col("nrm").as("na"))
          .join(probe.select(col("cid"), col("vec_id").as("vec_b"),
            col("embedding").as("vb"), col("nrm").as("nb")), Seq("cid"))
          .filter(col("vec_a") < col("vec_b"))
          .filter(graft.functions.VectorFunctions.dot(col("va"),
            col("vb")) / (col("na") * col("nb")) > expr(SemDedupTau))
          .select(col("vec_b").as("vec_id")).distinct()
      def verdicts(pruned: DataFrame): DataFrame =
        asg1.select(col("vec_id"))
          .join(pruned.withColumn("hit", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("hit").isNotNull, lit("prune"))
              .otherwise(lit("keep")).as("verdict"))
      // reachability: the pair is comparable iff the smaller id's
      // PRIMARY cell is among the larger id's probed cells
      def reach(probe: DataFrame): DataFrame = truth
        .join(asg1.select(col("vec_id").as("doc_s"),
          col("cid").as("c_s")), "doc_s")
        .join(probe.select(col("vec_id").as("doc_l"),
          col("cid").as("c_s")), Seq("doc_l", "c_s"))
        .select(col("doc_s"), col("doc_l")).distinct()
      def audit(v: DataFrame, r: DataFrame, phase: String): DataFrame = {
        val kept = col("v_s") === "keep" && col("v_l") === "keep"
        truth
          .join(v.select(col("vec_id").as("doc_s"),
            col("verdict").as("v_s")), "doc_s")
          .join(v.select(col("vec_id").as("doc_l"),
            col("verdict").as("v_l")), "doc_l")
          .join(r.withColumn("rch", lit(1)), Seq("doc_s", "doc_l"),
            "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(when(kept, 1L).otherwise(0L)).as("n_both_kept"),
            sum(when(kept && col("rch").isNull, 1L).otherwise(0L))
              .as("n_structural"))
          .select(lit(phase).as("phase"), col("n_truth"),
            col("n_both_kept"), col("n_structural"),
            when(col("n_truth") === 0L, lit(0.0))
              .otherwise(col("n_structural").cast("double")
                / col("n_truth").cast("double")).as("structural_rate"))
      }
      audit(verdicts(prunedIds(asg1)), reach(asg1), "single")
        .unionByName(
          audit(verdicts(prunedIds(asg2)), reach(asg2), "multiprobe"))
    },
    Some(s"""
      WITH ${graft.ops.DedupOps.q50OracleCtes},
      truth AS (
        SELECT LEAST(i.doc_a, i.doc_b) AS doc_s,
               GREATEST(i.doc_a, i.doc_b) AS doc_l
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE 7 * i.n_inter >= 3 * (sa.sz + sb.sz)),
      e AS ($normedDuck),
      ${semDedupArmSql(KmK)},
      rnk AS (
        SELECT e.vec_id, c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_reduce(list_transform(generate_series(1, len(e.embedding)),
              i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]),
              (x, y) -> x + y) / (e.nrm * c.cnrm) DESC, c.cid ASC) AS rn
        FROM e, c2_$KmK c),
      asg2 AS (SELECT vec_id, cid FROM rnk WHERE rn <= 2),
      mprune AS (
        SELECT DISTINCT b.vec_id
        FROM asg_$KmK a
        JOIN asg2 p ON p.cid = a.cid
        JOIN asg_$KmK b ON b.vec_id = p.vec_id AND a.vec_id < b.vec_id
        WHERE ${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
          > $SemDedupTau),
      sverd AS (SELECT vec_id, verdict FROM verd_$KmK),
      mverd AS (
        SELECT g.vec_id,
          CASE WHEN m.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
            AS verdict
        FROM asg_$KmK g LEFT JOIN mprune m ON m.vec_id = g.vec_id),
      reach_s AS (
        SELECT DISTINCT t.doc_s, t.doc_l FROM truth t
        JOIN asg_$KmK x ON x.vec_id = t.doc_s
        JOIN asg_$KmK y ON y.vec_id = t.doc_l AND y.cid = x.cid),
      reach_m AS (
        SELECT DISTINCT t.doc_s, t.doc_l FROM truth t
        JOIN asg_$KmK x ON x.vec_id = t.doc_s
        JOIN asg2 p ON p.vec_id = t.doc_l AND p.cid = x.cid),
      aud_s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
          CAST(SUM(CASE WHEN a.verdict = 'keep' AND b.verdict = 'keep'
            THEN 1 ELSE 0 END) AS BIGINT) AS n_both_kept,
          CAST(SUM(CASE WHEN a.verdict = 'keep' AND b.verdict = 'keep'
            AND r.doc_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_structural
        FROM truth t
        JOIN sverd a ON a.vec_id = t.doc_s
        JOIN sverd b ON b.vec_id = t.doc_l
        LEFT JOIN reach_s r ON r.doc_s = t.doc_s AND r.doc_l = t.doc_l),
      aud_m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
          CAST(SUM(CASE WHEN a.verdict = 'keep' AND b.verdict = 'keep'
            THEN 1 ELSE 0 END) AS BIGINT) AS n_both_kept,
          CAST(SUM(CASE WHEN a.verdict = 'keep' AND b.verdict = 'keep'
            AND r.doc_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_structural
        FROM truth t
        JOIN mverd a ON a.vec_id = t.doc_s
        JOIN mverd b ON b.vec_id = t.doc_l
        LEFT JOIN reach_m r ON r.doc_s = t.doc_s AND r.doc_l = t.doc_l)
      SELECT 'single' AS phase, n_truth, n_both_kept, n_structural,
        CASE WHEN n_truth = 0 THEN 0e0
             ELSE CAST(n_structural AS DOUBLE) / CAST(n_truth AS DOUBLE)
        END AS structural_rate
      FROM aud_s
      UNION ALL
      SELECT 'multiprobe' AS phase, n_truth, n_both_kept, n_structural,
        CASE WHEN n_truth = 0 THEN 0e0
             ELSE CAST(n_structural AS DOUBLE) / CAST(n_truth AS DOUBLE)
        END AS structural_rate
      FROM aud_m"""))
  /** Swept SemDeDup cluster counts for the q220 miss audit. */
  private val SemDedupKs = Seq(4, 8, 16)

  /** DuckDB CTE chain for one SemDeDup arm at cluster count k: q212's
    * full train→assign→prune trajectory with `_k`-suffixed names,
    * ending in verd_k (vec_id, cid, verdict). */
  private[graft] def semDedupArmSql(k: Int): String = s"""
      ${seedsDuck(s"seeds_$k", "embeddings", k)},
      ${c0Duck(s"c0_$k", s"seeds_$k")},
      s1_$k AS (${kmIterDuck(s"c0_$k")}),
      ${meansDuck(s"c1_$k", s"s1_$k")},
      s2_$k AS (${kmIterDuck(s"c1_$k")}),
      ${meansDuck(s"c2_$k", s"s2_$k")},
      ${asgDuck(s"asg_$k", s"c2_$k")},
      pruned_$k AS (
        SELECT DISTINCT b.cid, b.vec_id
        FROM asg_$k a JOIN asg_$k b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE ${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
          > $SemDedupTau),
      verd_$k AS (
        SELECT g.vec_id, g.cid,
          CASE WHEN p.vec_id IS NOT NULL THEN 'prune' ELSE 'keep' END
            AS verdict
        FROM asg_$k g LEFT JOIN pruned_$k p
          ON p.cid = g.cid AND p.vec_id = g.vec_id)"""

  /** q220: the SemDeDup CROSS-CLUSTER MISS audit — the recall price of
    * the paper's tractability trade, measured instead of footnoted.
    * Ground truth: q50's lossless n-gram near-dup pairs (doc_id ==
    * vec_id in this corpus). For each swept k, SemDeDup's kept set is
    * recomputed (q212's exact trajectory) and every truth pair is
    * classified: both ends kept AND different clusters = a pair the
    * within-cluster prune could NEVER have caught at any tau (the
    * structural miss the audit exists to price); both kept and same
    * cluster = a threshold miss (tau knob, not k). One shared join:
    * truth built once, the three arms' verdicts stacked into a single
    * frame joined on each pair end. A 100 TB operator reads the
    * cross-miss column against k's Σ|cluster|² scan cost to choose the
    * cluster count. Scale: three broadcast-k trainings + three
    * cid-equi-join pair scans (q212's shape); the audit join is
    * truth-pair-sized.
    *
    * AUDIT ONLY: the lossless ppjoin truth plus three trainings ARE the
    * measurement (the suite's most expensive query by construction) —
    * never lift this into a production dedup path; q212 remains the
    * operator and this prices its k knob offline. */
  val q220SemdedupMissAudit = OpSpec(
    "q220_semdedup_miss_audit",
    (s, dir) => {
      // all three k-arms train on and assign the SAME normed corpus —
      // persist it once instead of re-scanning parquet + recomputing
      // norms per arm (3 trainings × 3 passes each)
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm")).persist()
      // truth feeds the three arms' verdict restriction AND the final
      // join — persist so the lossless ppjoin runs once
      val truth = graft.ops.DedupOps.q50NgramJaccard.query(s, dir)
        .select(col("doc_a"), col("doc_b")).persist()
      val endpoints = truth.select(col("doc_a").as("vec_id"))
        .union(truth.select(col("doc_b").as("vec_id"))).distinct()
      // the three k-arms each materialize eagerly (semDedupVerdicts
      // ends in a localCheckpoint) and are independent — overlap them
      // (guide §2.6) after pinning the shared inputs, so racing arms
      // read warm caches instead of duplicating the corpus/truth
      // lineage; each arm fills its own slot, so the union keeps
      // SemDedupKs order, and a failing arm is rethrown only after the
      // others settle (no live writer outlives the query)
      val verdicts = {
        e.count(); truth.count()
        val arms = new Array[DataFrame](SemDedupKs.size)
        graft.io.Sinks.concurrently(SemDedupKs.zipWithIndex.map {
          case (k, i) => () => arms(i) = semDedupVerdicts(e, k,
            Some(endpoints)).withColumn("k", lit(k.toLong))
        })
        arms.reduce(_ unionByName _)
      }
      val joined = truth
        .join(verdicts.select(col("k"), col("vec_id").as("doc_a"),
          col("cid").as("cid_a"), col("verdict").as("v_a")), "doc_a")
        .join(verdicts.select(col("k"), col("vec_id").as("doc_b"),
          col("cid").as("cid_b"), col("verdict").as("v_b")),
          Seq("k", "doc_b"))
      val kept = col("v_a") === "keep" && col("v_b") === "keep"
      val agg = joined.groupBy(col("k")).agg(
        count(lit(1)).as("n_truth"),
        sum(when(kept, 1L).otherwise(0L)).as("n_both_kept"),
        sum(when(kept && col("cid_a") =!= col("cid_b"), 1L).otherwise(0L))
          .as("n_cross_missed"),
        sum(when(kept && col("cid_a") === col("cid_b"), 1L).otherwise(0L))
          .as("n_same_kept"))
      // explicit k domain + left join: an arm with zero joined truth
      // pairs must still emit its row (the q178 empty-set lesson)
      s.range(1).select(explode(array(
          SemDedupKs.map(k => lit(k.toLong)): _*)).as("k"))
        .join(agg, Seq("k"), "left")
        .na.fill(0L, Seq("n_truth", "n_both_kept", "n_cross_missed",
          "n_same_kept"))
        .select(col("k"), col("n_truth"), col("n_both_kept"),
          col("n_cross_missed"), col("n_same_kept"),
          when(col("n_truth") === 0L, lit(0.0))
            .otherwise(col("n_cross_missed").cast("double")
              / col("n_truth").cast("double")).as("cross_miss_rate"))
    },
    Some(s"""
      WITH ${graft.ops.DedupOps.q50OracleCtes},
      truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE 7 * i.n_inter >= 3 * (sa.sz + sb.sz)),
      e AS ($normedDuck),
      ${SemDedupKs.map(semDedupArmSql).mkString(",")},
      verd AS (${SemDedupKs.map(k =>
        s"""SELECT CAST($k AS BIGINT) AS k, vec_id, cid, verdict
        FROM verd_$k""").mkString("\n        UNION ALL\n        ")}),
      j AS (
        SELECT va.k, va.verdict AS v_a, vb.verdict AS v_b,
          va.cid AS cid_a, vb.cid AS cid_b
        FROM truth t
        JOIN verd va ON va.vec_id = t.doc_a
        JOIN verd vb ON vb.vec_id = t.doc_b AND vb.k = va.k),
      agg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_truth,
          CAST(SUM(CASE WHEN v_a = 'keep' AND v_b = 'keep'
            THEN 1 ELSE 0 END) AS BIGINT) AS n_both_kept,
          CAST(SUM(CASE WHEN v_a = 'keep' AND v_b = 'keep'
            AND cid_a <> cid_b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cross_missed,
          CAST(SUM(CASE WHEN v_a = 'keep' AND v_b = 'keep'
            AND cid_a = cid_b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_same_kept
        FROM j GROUP BY k)
      SELECT d.k,
        COALESCE(a.n_truth, CAST(0 AS BIGINT)) AS n_truth,
        COALESCE(a.n_both_kept, CAST(0 AS BIGINT)) AS n_both_kept,
        COALESCE(a.n_cross_missed, CAST(0 AS BIGINT)) AS n_cross_missed,
        COALESCE(a.n_same_kept, CAST(0 AS BIGINT)) AS n_same_kept,
        CASE WHEN COALESCE(a.n_truth, 0) = 0 THEN 0e0
             ELSE CAST(a.n_cross_missed AS DOUBLE)
                  / CAST(a.n_truth AS DOUBLE) END AS cross_miss_rate
      FROM (SELECT CAST(unnest([${SemDedupKs.mkString(", ")}])
            AS BIGINT) AS k) d
      LEFT JOIN agg a ON a.k = d.k"""))
  /** The q280 metric row from two (vec_id, cid0)/(vec_id, cid1)
    * assignments: ONE ≤k² contingency → Rand, Adjusted Rand, and
    * majority retention under q174's integer-exact pair-counting
    * discipline (doubled x(x−1) forms, DECIMAL(18)×DECIMAL(18) cross
    * products, decimal→string→double final rounding). Shared by the
    * gated q280 and the persisted-index [[semanticRetrainDrift]] so
    * the two can never drift apart. */
  private def generationDriftRow(a0: DataFrame,
      a1: DataFrame): DataFrame = {
    val cont = a0.join(a1, "vec_id")
      .groupBy(col("cid0"), col("cid1"))
      .agg(count(lit(1)).as("nij"))
      .persist()
    EmbeddingOps.pairAgreement(cont, "cid0", "cid1", "c_gen0", "c_gen1",
      "retention")
  }

  /** q280's measurement applied to a LIVE persisted semantic index —
    * the pre-flip decision readout a maintenance scheduler runs before
    * paying for [[retrainSemanticIndex]]: cid0 is the STORED cell
    * assignment the frozen generation actually serves (tombstone-
    * masked, pointer-resolved); the candidate generation trains on the
    * stored member floats exactly as the retrain would (no source
    * rescan — parquet round-trips the vectors bit-exactly, so this IS
    * the partition a flip would publish). Returns the one-row
    * n / c_gen0 / c_gen1 / retention / rand_index / ari frame; spec'd
    * bit-identical to the q280 gated row on the same build+ingest
    * trajectory, so the API answer inherits q280's oracle. */
  def semanticRetrainDrift(s: SparkSession, prefix: String,
      k: Int = KmK): DataFrame = {
    val m = liveSemanticMembers(s, prefix)
      .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"))
      .persist()
    val vecs = m.select(col("vec_id"), col("embedding"), col("nrm"))
    val cand = coarseKmOfK(vecs, k)
      .select(col("cid"), col("cv"), col("cnrm"))
    generationDriftRow(
      m.select(col("vec_id"), col("cid").as("cid0")),
      semAssign(vecs, cand).select(col("vec_id"), col("cid").as("cid1")))
  }

  /** q280: RETRAIN DRIFT — the measurement half the retrain go/no-go
    * policy (q260) was missing: BEFORE paying for a generation flip
    * (q241/q255), quantify how far the frozen generation's partition
    * has drifted from what a fresh training would produce. Gen 0
    * trains on the old half of the corpus (the index's build-time
    * world, `vec_id·2 < n`); the candidate generation trains on the
    * full corpus; BOTH assign the full corpus (cosine argmax), and the
    * two partitions are compared from one contingency table with
    * q174's integer-exact pair-counting discipline: Rand index and
    * ADJUSTED Rand index (doubled x(x−1) forms, DECIMAL(18)×DECIMAL(18)
    * cross products, decimal→string→double final rounding), plus
    * `retention` — the fraction of vectors whose gen-0 cohort majority
    * survives into one new cell (the q174 purity formula applied
    * between generations). Low ARI = the frozen centroids no longer
    * describe the corpus → retrain pays (q248 then measures the payoff
    * realized, q260 gates the actuator).
    *
    * Scale: two q98-shape trainings (k-row centroid broadcasts, argmax
    * windows keyed by vec_id, k-group folds), one (cid0, cid1) ≤ k²-row
    * contingency, three metadata-sized aggregate scans. The corpus is
    * never paired with itself. */
  val q280RetrainDrift = OpSpec(
    "q280_retrain_drift",
    (s, dir) => {
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm")).persist()
      val total = e.count()
      val gen0 = coarseKmOfK(e.filter(col("vec_id") * 2 < total), KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      val gen1 = coarseKmOfK(e, KmK)
        .select(col("cid"), col("cv"), col("cnrm"))
      val a0 = semAssign(e, gen0)
        .select(col("vec_id"), col("cid").as("cid0"))
      val a1 = semAssign(e, gen1)
        .select(col("vec_id"), col("cid").as("cid1"))
      generationDriftRow(a0, a1)
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, embedding, nrm FROM ($normedDuck)),
      eh AS (
        SELECT * FROM e WHERE vec_id * 2 < (SELECT COUNT(*) FROM e)),
      ${seedsDuck("seeds0", "eh", KmK)},
      ${c0Duck("g00", "seeds0")},
      t01 AS (${kmIterDuck("g00", "eh")}),
      ${meansDuck("g01", "t01", "cid, n")},
      t02 AS (${kmIterDuck("g01", "eh")}),
      ${meansDuck("g02", "t02")},
      ${seedsDuck("seeds1", "e", KmK)},
      ${c0Duck("g10", "seeds1")},
      t11 AS (${kmIterDuck("g10", "e")}),
      ${meansDuck("g11", "t11", "cid, n")},
      t12 AS (${kmIterDuck("g11", "e")}),
      ${meansDuck("g12", "t12")},
      ${(0 to 1).map(g => s"""a$g AS (
        SELECT vec_id, cid AS cid$g FROM (
          SELECT e.vec_id, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${dotDuck("e.embedding", "c.cv")} / (e.nrm * c.cnrm) DESC,
              c.cid ASC) AS rn
          FROM e, g${g}2 c)
        WHERE rn = 1)""").mkString(",\n      ")},
      cont AS (
        SELECT cid0, cid1, CAST(COUNT(*) AS BIGINT) AS nij
        FROM a0 JOIN a1 USING (vec_id) GROUP BY 1, 2),
      ${EmbeddingOps.pairAgreementDuck("cid0", "cid1", "c_gen0", "c_gen1",
        "by0", "by1", "retention")}"""))
  /** q298: PINNED-GENERATION SEMANTIC SERVING under the bit-exact
    * gate — q296's reproducibility contract on the SECOND generational
    * family, with the two halves' oracles derived from two genuinely
    * different training trajectories that both already hold gates:
    * generation 0 is q242's frozen-centroid incremental state (trained
    * on the base half, members = base + two ingests), pinned before
    * q255's retrain flips production to the full-trained generation 1.
    * The same serve against both generations, tagged: the pinned half
    * must equal q242's scratch frozen-centroid oracle VERBATIM and the
    * live half q212's full-train oracle VERBATIM — one hash compare
    * proving a pinned curation run is bit-stable across scheduled
    * maintenance while production moves. */
  val q298PinnedSemanticServe = OpSpec(
    "q298_pinned_semantic_serve",
    (s, dir) => {
      val e = normedDf(s, dir)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val total = e.count()
      val prefix = "sem_q298"
      val path = s"${graft.Tables.scratchDir}/sem_q298"
      IndexLifecycle.resetPrefix(s, prefix, path)
      // tables-only build + append-only ingests: both serves below
      // re-derive verdicts from the stored generations; the per-step
      // verdicts were discarded (guide §1.2)
      buildSemanticIndexTables(s, e.filter(col("vec_id") * 2 < total),
        prefix, s"$path/idx")
      ingestSemanticIndexAppend(s, e.filter(col("vec_id") * 2 >= total &&
        col("vec_id") * 4 < total * 3), prefix, s"$path/idx")
      ingestSemanticIndexAppend(s, e.filter(col("vec_id") * 4 >= total * 3),
        prefix, s"$path/idx")
      IndexLifecycle.pinGeneration(s, prefix, 0L, s"$path/idx")
      retrainSemanticIndex(s, prefix, s"$path/retrain")
      val pinned = semanticIndexVerdictsAt(s, prefix, 0L)
        .withColumn("generation", lit(0L))
      val live = semanticIndexVerdicts(s, prefix)
        .withColumn("generation", lit(1L))
      pinned.unionByName(live)
        .select(col("generation"), col("cid"), col("vec_id"),
          col("verdict"))
    },
    Some(s"""
      SELECT CAST(0 AS BIGINT) AS generation, cid, vec_id, verdict
      FROM (${q242IncrementalSemdedup.oracle.get})
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS generation, cid, vec_id, verdict
      FROM (${q212SemDedup.oracle.get})"""))

  val all: Seq[OpSpec] = Seq(
    q212SemDedup, q220SemdedupMissAudit, q242IncrementalSemdedup,
    q248RetrainPayoff, q255SemanticRetrain, q256MultiprobeAudit,
    q260RetrainPolicy, q261SemanticPurge, q264SemanticVacuum,
    q280RetrainDrift, q287MultiprobeSemdedup, q289MultiprobeServe,
    q298PinnedSemanticServe)
}
