package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / split operators — the dataset-assembly ops a
  * training pipeline runs after curation (the reference's
  * `selected_target.json` subset selection, macvid.py:113-115,
  * generalized). Everything derives from md5 of a salted row key, never
  * rand(): task retries and speculative execution must reproduce the
  * same sample, and both engines must agree bit-for-bit.
  */
object SampleOps {

  /** Stratified k-per-group sample: within each stratum (lang), rank
    * rows by a salted md5 of the row key and keep the first k. Spark
    * shape: one window PARTITIONED by the stratum — thousands of small
    * groups, no global sort; the hash rank makes the sample stable
    * under any physical row order (re-runs, repartitions, retries all
    * yield the same rows). */
  val q52StratifiedSample = OpSpec(
    "q52_stratified_sample",
    (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("rk"), col("doc_id"))
      table(s, dir, "documents")
        .withColumn("rk", md5(concat(lit("sample:"), col("doc_id")).cast("binary")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"), col("rk"))
    },
    Some("""
      SELECT lang, rn, doc_id, rk
      FROM (SELECT lang, doc_id, rk,
              CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY rk, doc_id) AS BIGINT) AS rn
            FROM (SELECT lang, doc_id,
                    md5('sample:' || doc_id) AS rk
                  FROM documents))
      WHERE rn <= 20"""))

  /** Deterministic train/val/test split (80/10/10): the split label is a
    * pure row-local projection of a salted md5 — NO shuffle, NO state,
    * and adding rows never reassigns existing ones (the property a
    * growing 100 TB corpus needs; a rank-based split would reshuffle
    * membership on every ingest). */
  val q53HashSplit = OpSpec(
    "q53_hash_split",
    (s, dir) => {
      table(s, dir, "documents")
        // digest materialized ONCE as a column, then folded — inlining
        // the md5 into the 12-digit fold would splice it per digit
        .withColumn("hx", md5(concat(lit("split:"), col("doc_id")).cast("binary")))
        .withColumn("bucket", expr(s"${TextOps.hexToLong("hx", 12)} % 10"))
        .select(col("doc_id"),
          when(col("bucket") < 8, "train")
            .when(col("bucket") < 9, "val")
            .otherwise("test").as("split"))
    },
    Some(s"""
      SELECT doc_id,
        CASE WHEN bucket < 8 THEN 'train'
             WHEN bucket < 9 THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id, ${TextOps.hexToLong("hx", 12)} % 10 AS bucket
            FROM (SELECT doc_id, md5('split:' || doc_id) AS hx
                  FROM documents))"""))

  /** q204: split-leakage audit — the eval-contamination check every
    * train/val/test split needs before a benchmark number is trusted:
    * near-duplicate pairs (q27's MinHash-LSH verified output) that
    * STRADDLE the q53 split boundary leak training text into eval.
    * One scoreboard row per unordered split pair (least/greatest
    * canonicalization) with the pair count, a cross-split flag, and
    * the share of all near-dup pairs — ~0.2 of near-dup mass is
    * expected in train×val ∪ train×test under an 80/10/10 hash split;
    * materially more means the split key correlates with content.
    * Pure reuse of two gated queries + two equi-joins; totals are a
    * 1-row scalar broadcast (crossOk). Reference tie: the resume/split
    * discipline around `selected_target.json` (macvid.py:113-115) —
    * a split is only as sound as its dedup. */
  val q204SplitLeakage = OpSpec(
    "q204_split_leakage",
    (s, dir) => {
      val pairs = DedupOps.q27MinhashLsh.query(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val splits = q53HashSplit.query(s, dir)
      val cells = pairs
        .join(splits.select(col("doc_id").as("doc_a"),
          col("split").as("sa")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"),
          col("split").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
      val totals = cells.agg(sum(col("n_pairs")).as("n_total"))
      cells.crossJoin(broadcast(totals))
        .select(col("split_lo"), col("split_hi"), col("n_pairs"),
          (col("split_lo") =!= col("split_hi")).as("cross_split"),
          col("n_total"),
          (col("n_pairs").cast("double") / col("n_total").cast("double"))
            .as("share"))
    },
    Some(s"""
      WITH pairs AS (
        SELECT doc_a, doc_b FROM (${DedupOps.q27MinhashLsh.oracle.get})),
      splits AS (${q53HashSplit.oracle.get}),
      cells AS (
        SELECT least(a.split, b.split) AS split_lo,
          greatest(a.split, b.split) AS split_hi,
          CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN splits a ON a.doc_id = p.doc_a
        JOIN splits b ON b.doc_id = p.doc_b
        GROUP BY 1, 2),
      totals AS (
        SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM cells)
      SELECT split_lo, split_hi, n_pairs,
        split_lo <> split_hi AS cross_split,
        t.n_total,
        CAST(n_pairs AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
      FROM cells CROSS JOIN totals t"""))

  /** MERGEABLE bottom-k priority sample (the sample-as-sketch dual of
    * q99's KMV merge): a uniform k-row sample is the k rows with the
    * smallest salted-md5 priorities — a SET property of the data, so
    * per-shard bottom-k samples MERGE into the global sample by
    * re-ranking k·shards candidate rows. The engine takes bottom-k
    * per shard (doc_id % 4 stands in for stored per-partition
    * samples) and merges; the oracle computes the global bottom-k
    * directly — the gate proves merge(shard samples) == sample(corpus)
    * row-for-row, the invariant that lets 100 TB keep one k-row sample
    * per partition and refresh the global sample without a rescan.
    * The merge is TakeOrderedAndProject (per-partition top-k, driver
    * merges k·P rows) — no global sort, no global window. */
  val q115PrioritySample = OpSpec(
    "q115_priority_sample",
    (s, dir) => {
      val k = 50
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("rk"), col("doc_id"))
      table(s, dir, "documents")
        .withColumn("rk",
          md5(concat(lit("psample:"), col("doc_id")).cast("binary")))
        .withColumn("shard", col("doc_id") % 4)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)                  // shard-level sample
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy(col("rk"), col("doc_id")).limit(k) // merge = re-rank
    },
    Some("""
      SELECT doc_id, lang, rk
      FROM (SELECT doc_id, lang,
              md5('psample:' || doc_id) AS rk
            FROM documents)
      ORDER BY rk, doc_id LIMIT 50"""))

  /** Deterministic negative sampling for contrastive training — each
    * document gets 2 pseudo-random negatives: documents are placed on
    * a salted-hash ring (16 buckets × hash order within bucket) and a
    * doc's negatives are simply its 2 successors on the ring. The
    * pairing is a pure function of the corpus (retries, reruns, and
    * both engines agree), uncorrelated with any content signal
    * (that's the point of a NEGATIVE), and costs one partitioned
    * window — no join, no shuffle beyond the bucket sort. Ring tails
    * yield fewer negatives (lead = NULL dropped) — at corpus scale a
    * ≤2-row-per-bucket edge. */
  val q146NegativePairs = OpSpec(
    "q146_negative_pairs",
    (s, dir) => {
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("rk"), col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("neg:"), col("doc_id")).cast("binary")).as("rk"))
        .withColumn("bucket",
          expr(s"${TextOps.hexToLong("rk", 1)}")) // first hex digit: 0-15
        .withColumn("n1", lead(col("doc_id"), 1).over(w))
        .withColumn("n2", lead(col("doc_id"), 2).over(w))
        .select(col("doc_id"), col("bucket"),
          explode(expr("""filter(array(
            struct(1L AS rank, n1 AS neg_id),
            struct(2L AS rank, n2 AS neg_id)),
            x -> x.neg_id IS NOT NULL)""")).as("p"))
        .select(col("doc_id"), col("bucket"), col("p.rank").as("rank"),
          col("p.neg_id").as("neg_id"))
    },
    Some(s"""
      SELECT doc_id, bucket, r AS rank,
        CASE WHEN r = 1 THEN n1 ELSE n2 END AS neg_id
      FROM (
        SELECT doc_id, bucket,
          lead(doc_id, 1) OVER (PARTITION BY bucket
            ORDER BY rk, doc_id) AS n1,
          lead(doc_id, 2) OVER (PARTITION BY bucket
            ORDER BY rk, doc_id) AS n2
        FROM (SELECT doc_id, rk, ${TextOps.hexToLong("rk", 1)} AS bucket
              FROM (SELECT doc_id, md5('neg:' || doc_id) AS rk
                    FROM documents))),
        (SELECT unnest(generate_series(1, 2)) AS r)
      WHERE (r = 1 AND n1 IS NOT NULL) OR (r = 2 AND n2 IS NOT NULL)"""))


  /** Mixture budget of the q157 allocation. */
  private val MixN = 100

  /** Deterministic MIXTURE allocation — the training-data mixing step
    * (assemble a fixed-budget corpus matching target domain weights,
    * the DoReMi/"data mixture" knob): target per-language weights
    * turn into integer row counts by LARGEST-REMAINDER apportionment
    * (floor every exact share, hand the leftover units to the largest
    * fractional remainders, ties by language — the apportionment rule
    * that keeps Σalloc == budget exactly), then each language
    * contributes its first n_alloc docs in salted-hash order (stable
    * under reruns and ingest growth, the q53 principle). A language
    * with fewer rows than its allocation underfills its slice (no
    * redistribution — silent substitution would skew the mixture; the
    * emitted n_alloc column is the audit trail). Spark shape: the
    * apportionment is a bounded post-limit fold over the LANGUAGE
    * DOMAIN (|langs| rows — no global window), selection is one
    * lang-partitioned rank + a domain-bounded broadcast join.
    * Output: one row per selected doc (doc_id, lang, sel_rank,
    * n_alloc). */
  val q157MixtureAlloc = OpSpec(
    "q157_mixture_alloc",
    (s, dir) => {
      val wExpr = """CASE lang WHEN 'en' THEN 0.4e0 WHEN 'zh' THEN 0.2e0
        WHEN 'de' THEN 0.15e0 WHEN 'es' THEN 0.15e0 ELSE 0.1e0 END"""
      val calc = table(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("avail"))
        .withColumn("exact", expr(wExpr) * MixN)
        .withColumn("base", floor(col("exact")).cast("long"))
        .withColumn("rem", col("exact") - col("base"))
      val alloc = calc
        .agg(sum(col("base")).as("base_sum"),
          sort_array(collect_list(struct((-col("rem")).as("nr"),
            col("lang"), col("base"), col("avail")))).as("ss"))
        .select(col("base_sum"), posexplode(col("ss")).as(Seq("idx", "s")))
        .select(col("s.lang").as("lang"),
          (col("s.base") + when(col("idx").cast("long") <
            lit(MixN.toLong) - col("base_sum"), 1L).otherwise(0L))
            .as("n_alloc"),
          col("s.avail").as("avail"))
      val wSel = Window.partitionBy(col("lang"))
        .orderBy(col("rk"), col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rk",
          md5(concat(lit("mix:"), col("doc_id")).cast("binary")))
        .withColumn("sel_rank", row_number().over(wSel).cast("long"))
        .join(broadcast(alloc), "lang")
        .filter(col("sel_rank") <= least(col("n_alloc"), col("avail")))
        .select(col("doc_id"), col("lang"), col("sel_rank"), col("n_alloc"))
    },
    Some(s"""
      WITH calc AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS avail,
          w * $MixN AS exact,
          CAST(floor(w * $MixN) AS BIGINT) AS base,
          w * $MixN - floor(w * $MixN) AS rem
        FROM (SELECT lang,
                CASE lang WHEN 'en' THEN 0.4e0 WHEN 'zh' THEN 0.2e0
                  WHEN 'de' THEN 0.15e0 WHEN 'es' THEN 0.15e0
                  ELSE 0.1e0 END AS w
              FROM documents)
        GROUP BY lang, w),
      alloc AS (
        SELECT lang, avail,
          base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
            <= $MixN - (SELECT SUM(base) FROM calc) THEN 1 ELSE 0 END
            AS n_alloc
        FROM calc),
      sel AS (
        SELECT doc_id, lang,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5('mix:' || doc_id), doc_id) AS BIGINT) AS sel_rank
        FROM documents)
      SELECT s.doc_id, s.lang, s.sel_rank, a.n_alloc
      FROM sel s JOIN alloc a USING (lang)
      WHERE s.sel_rank <= least(a.n_alloc, a.avail)"""))

  /** q169: WEIGHTED priority sampling without replacement — q115's
    * uniform bottom-k generalized to integer weights with no libm
    * (Efraimidis–Espirakis keys u^(1/w) would need pow(), which the
    * oracle bans). Equivalence trick: give each item w i.i.d. hash
    * draws (explode ≤ w_max rows) and key it by its MINIMUM draw;
    * ranking items by that min and taking the bottom k IS successive
    * weighted sampling without replacement — the smallest remaining
    * draw lands on item i with probability w_i/Σw_remaining by
    * symmetry, exactly the A-ES selection law, but every comparison is
    * on md5 strings (a set property both engines share bit-for-bit).
    * Weight = clamped length tier (1..8), the quality-proportional
    * inclusion a curation pass wants. Scale shape: the ≤8× explode
    * partial-aggregates to one (item, min-draw) row map-side, and the
    * global k is TakeOrdered (per-partition heads, driver merge) — no
    * full sort, no shuffle of the corpus. */
  val q169WeightedSample = OpSpec(
    "q169_weighted_sample",
    (s, dir) => {
      val k = 30
      table(s, dir, "documents")
        .withColumn("w", expr("""CAST(least(8, greatest(1,
          floor(CAST(n_chars AS DOUBLE) / 256))) AS BIGINT)"""))
        .withColumn("j", explode(expr("sequence(CAST(1 AS BIGINT), w)")))
        .withColumn("draw", md5(concat(lit("wsample:"), col("doc_id"),
          lit(":"), col("j")).cast("binary")))
        .groupBy(col("doc_id"), col("lang"), col("w"))
        .agg(min(col("draw")).as("key"))
        .orderBy(col("key"), col("doc_id")).limit(k)
    },
    Some("""
      SELECT doc_id, lang, w, MIN(md5('wsample:' || doc_id || ':' || j))
        AS key
      FROM (SELECT doc_id, lang,
              CAST(least(8, greatest(1,
                floor(CAST(n_chars AS DOUBLE) / 256))) AS BIGINT) AS w
            FROM documents),
           (SELECT UNNEST(range(1, 9)) AS j) g
      WHERE j <= w
      GROUP BY doc_id, lang, w
      ORDER BY key, doc_id LIMIT 30"""))

  /** q202: quota-balanced corpus sample — a 100-doc slice whose source
    * mix matches the corpus proportions EXACTLY under largest-remainder
    * rounding (the q157 allocation law), filled per source by hash rank
    * (the q52 selection law): fair, deterministic, rerun-stable. The
    * quota arithmetic runs on the driver over the bounded source
    * histogram (the q37 concession; pure integer — 100n/N by long
    * division, remainders ranked (rem desc, source asc)) and is proven
    * equal to the oracle's window form because a/b with b ≤ sources'
    * total can never round across an integer in IEEE division. The
    * member selection is one partitioned rank window over a broadcast
    * quota join — no global sort, no skew (each source sorts its own
    * partition). */
  val q202BalancedCorpus = OpSpec(
    "q202_balanced_corpus",
    (s, dir) => {
      val sq = s; import sq.implicits._
      val budget = 100L
      val counts = table(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val total = counts.map(_._2).sum
      val withBase = counts.map { case (src, n) =>
        val base = budget * n / total
        (src, base, budget * n - base * total)
      }
      val extra = (budget - withBase.map(_._2).sum).toInt
      val quotas = withBase.sortBy { case (src, _, rem) => (-rem, src) }
        .zipWithIndex
        .map { case ((src, base, _), idx) =>
          (src, base + (if (idx < extra) 1L else 0L))
        }.toSeq
      val quotaDf = broadcast(quotas.toDF("source", "quota"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("rk"), col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat(lit("bal:"), col("doc_id")).cast("binary")).as("rk"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .join(quotaDf, "source")
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"), col("rn"), col("quota"))
    },
    Some("""
      WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
      q1 AS (
        SELECT source, n,
          CAST(floor(100 * n / CAST(t.total AS DOUBLE)) AS BIGINT)
            AS base,
          100 * n - CAST(floor(100 * n / CAST(t.total AS DOUBLE))
                         AS BIGINT) * t.total AS rem
        FROM counts, tot t),
      ex AS (SELECT CAST(100 - SUM(base) AS BIGINT) AS extra FROM q1),
      ranked AS (
        SELECT source, base,
          CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
               AS BIGINT) AS rr
        FROM q1),
      quota AS (
        SELECT source,
          CAST(base + CASE WHEN rr <= e.extra THEN 1 ELSE 0 END
               AS BIGINT) AS quota
        FROM ranked, ex e),
      rn AS (
        SELECT doc_id, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY md5('bal:' || doc_id), doc_id) AS BIGINT) AS rn
        FROM documents)
      SELECT r.doc_id, r.source, r.rn, q.quota
      FROM rn r JOIN quota q USING (source)
      WHERE r.rn <= q.quota"""))

  /** Feature-hash buckets for q217's DSIR importance weights. */
  private val DsirBuckets = 128L

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank every document
    * by how much more likely its hashed-bigram features are under a
    * TARGET distribution (here: the `lang = 'en'` slice) than under
    * the raw-source distribution, and take the top 20 %. The paper's
    * importance weight is Σ_f log p_target(f)/p_source(f); ln() is
    * banned under the bit-exact gate, so the log is QUANTIZED to
    * integer bit lengths — term(f) = L(c_t(f)+1) + L(N_s) − L(c_s(f)+1)
    * − L(N_t) with L = ⌈log2⌉ via bin-string length — an
    * integer within ±2 bits of the true log2 ratio per feature,
    * exactly reproducible in both engines (the q167 dyadic-fold
    * discipline applied to importance weights). Scores are therefore
    * integer SUMS: no fold-order concern at all.
    *
    * Scale shape: feature hashing collapses the vocabulary to
    * [[DsirBuckets]] buckets (the paper's trick — model tables are
    * CONSTANT-size regardless of corpus); the two count tables and the
    * two 1-row totals broadcast; scoring is one equi-join pass over
    * the feature stream. The global top-20 % rank uses the q171
    * histogram-offset two-pass (scores are small bounded ints — the
    * frequency table is tiny), never a global window. */
  val q217DsirImportance = OpSpec(
    "q217_dsir_importance",
    (s, dir) => {
      val sq = s; import sq.implicits._
      val w = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          expr(TextOps.lwordsSpark).as("words"))
      val occ = w.filter(size(col("words")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(words) - 1),
             i -> concat(words[i - 1], ' ', words[i]))""")).as("bg"))
        .withColumn("hx",
          md5(concat(lit("dsir:"), col("bg")).cast("binary")))
        .select(col("doc_id"), col("lang"),
          expr(s"CAST(${DedupOps.hexToLong("hx", 1, 8)} % $DsirBuckets"
            + " AS BIGINT)").as("f"))
        .persist()
      val tgt = occ.filter(col("lang") === "en")
      val ct = tgt.groupBy(col("f")).agg(count(lit(1)).as("ct"))
      val cs = occ.groupBy(col("f")).agg(count(lit(1)).as("cs"))
      val nt = tgt.agg(count(lit(1)).as("nt"))
      val ns = occ.agg(count(lit(1)).as("ns"))
      val scores = occ.join(cs, "f").join(ct, Seq("f"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(ns))
        .select(col("doc_id"), expr(
          """CAST(length(bin(coalesce(ct, CAST(0 AS BIGINT)) + 1))
               + length(bin(ns))
               - length(bin(cs + 1)) - length(bin(nt)) AS BIGINT)""")
          .as("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("term")).as("score"))
        .persist()
      // global (score desc, doc_id) rank without a global window:
      // driver offsets from the bounded score histogram (q171 trick)
      val ff = scores.groupBy(col("score")).agg(count(lit(1)).as("cw"))
        .collect().sortBy(r => -r.getLong(0))
      var cum = 0L
      val offsets = ff.map { r =>
        val o = (r.getLong(0), cum); cum += r.getLong(1); o
      }.toSeq
      val cutoff = (cum + 4) / 5 // ceil(n/5), exact integer form
      val offDf = broadcast(offsets.toDF("score", "off"))
      scores.join(offDf, "score")
        .withColumn("rnw", row_number().over(
          Window.partitionBy(col("score")).orderBy(col("doc_id")))
          .cast("long"))
        .select(col("doc_id"), col("n_feats"), col("score"),
          (col("off") + col("rnw")).as("rank"),
          when(col("off") + col("rnw") <= cutoff, lit("take"))
            .otherwise(lit("skip")).as("verdict"))
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, lang, ${TextOps.lwordsDuck} AS words
        FROM documents),
      occ AS (
        SELECT doc_id, lang,
          CAST(${DedupOps.hexToLong("hx", 1, 8)} % $DsirBuckets
            AS BIGINT) AS f
        FROM (
          SELECT doc_id, lang,
            md5('dsir:' || words[i] || ' ' || words[i + 1]) AS hx
          FROM w, LATERAL (SELECT unnest(generate_series(1,
                             len(words) - 1)) AS i) g
          WHERE len(words) >= 2)),
      ct AS (SELECT f, COUNT(*) AS ct FROM occ WHERE lang = 'en'
             GROUP BY f),
      cs AS (SELECT f, COUNT(*) AS cs FROM occ GROUP BY f),
      nt AS (SELECT COUNT(*) AS nt FROM occ WHERE lang = 'en'),
      ns AS (SELECT COUNT(*) AS ns FROM occ),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
          CAST(SUM(length(format('{:b}', COALESCE(ct.ct, 0) + 1))
             + length(format('{:b}', ns.ns))
             - length(format('{:b}', cs.cs + 1))
             - length(format('{:b}', nt.nt))) AS BIGINT) AS score
        FROM occ o
        JOIN cs ON cs.f = o.f
        LEFT JOIN ct ON ct.f = o.f, nt, ns
        GROUP BY doc_id),
      tot AS (SELECT COUNT(*) AS n FROM sc)
      SELECT doc_id, n_feats, score,
        CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
          AS BIGINT) AS rank,
        CASE WHEN ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
               <= (t.n + 4) // 5
             THEN 'take' ELSE 'skip' END AS verdict
      FROM sc, tot t"""))

  /** The q291 weight readout over per-lang counts (lang, n_docs) — the
    * batch counts of q291 or the stream-folded rollup of q295. */
  private[graft] def mixingWeights(c: DataFrame): DataFrame = {
    val t = c.agg(sum(col("n_docs")).cast("long").as("n"))
    val w = c.crossJoin(broadcast(t))
      .withColumn("p",
        col("n_docs").cast("double") / col("n").cast("double"))
      .withColumn("w_raw", sqrt(col("p")))
    val z = w.agg(expr(
      """aggregate(sort_array(collect_list(struct(lang, w_raw))),
         0e0, (acc, g) -> acc + g.w_raw)""").as("z"))
    w.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"), col("p"),
        (col("w_raw") / col("z")).as("weight"),
        (col("w_raw") / col("z") / col("p")).as("boost"))
  }

  /** q291: TEMPERATURE-SCALED MIXING WEIGHTS — the multilingual /
    * multi-domain sampling rule of the XLM-R / Gopher line: raw
    * domain shares p_g = n_g/N are flattened by a temperature
    * exponent (α = 1/2 here: w_g ∝ p_g^α, renormalized), so
    * low-resource domains are upsampled without letting any domain's
    * share go to zero — the weights q157's largest-remainder
    * allocator would consume. One row per lang: observed count and
    * share, the flattened weight, and the boost factor w_g/p_g an
    * operator reads to see how hard each domain is being upsampled
    * (boost > 1 = upsampled). Exactness: p^(1/2) is ONE correctly-
    * rounded IEEE sqrt of one division; the normalizer is an ordered
    * fold over the ≤|domains| rows (sorted by lang — the q-family
    * sort_array identity), and weight/boost are single divisions.
    * Scale: one groupBy on the domain key, then arithmetic over a
    * domain-bounded frame — no window, no second corpus scan. */
  val q291MixingWeights = OpSpec(
    "q291_mixing_weights",
    (s, dir) => mixingWeights(table(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))),
    Some("""
      WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM c),
      w AS (
        SELECT lang, n_docs,
          CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE) AS p,
          sqrt(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE)) AS w_raw
        FROM c, t),
      z AS (SELECT list_reduce(list(w_raw ORDER BY lang),
              (x, y) -> x + y) AS z FROM w)
      SELECT lang, n_docs, p, w_raw / z AS weight,
        w_raw / z / p AS boost
      FROM w, z"""))

  val all: Seq[OpSpec] = Seq(q52StratifiedSample, q53HashSplit,
    q115PrioritySample, q146NegativePairs, q157MixtureAlloc,
    q169WeightedSample, q202BalancedCorpus, q204SplitLeakage,
    q217DsirImportance, q291MixingWeights)
}
