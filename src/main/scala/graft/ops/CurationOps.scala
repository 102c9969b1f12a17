package graft.ops

import graft.OpSpec
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curation / analysis surface extensions (SURVEY §2.12 quantile
  * curation, §2.6 shard union, §2.4 grouping sets, §2.5 global top-k,
  * F12 JSON extraction over the events.props column).
  */
object CurationOps {

  /** Exact dedup by `key`: the min doc_id of each key group survives,
    * semi-joined back onto `docs` — only survivor ids travel, never a
    * second shuffle of text (q49's md5 of the text; q200/q253's
    * canonical form). */
  private def minIdPerKey(docs: DataFrame, key: Column): DataFrame =
    docs.join(docs.groupBy(key).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")), Seq("doc_id"), "left_semi")

  /** q170's C4-style canonical text key of q200/q253: md5 of the
    * lower-cased text with every non-alphanumeric run collapsed to one
    * space, trimmed. */
  private val canonicalKey: Column =
    md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      .cast("binary")).as("nk")

  /** DuckDB twin of [[minIdPerKey]] over [[canonicalKey]]: the
    * `keepers` and `kept` CTEs. */
  private val canonicalKeptDuck = """keepers AS (
        SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                         'g')))),
      kept AS (
        SELECT d.* FROM documents d SEMI JOIN keepers USING (doc_id))"""

  /** The document length q200/q203/q253's oracles score over. */
  private val lenTextDuck = ",\n          length(text) AS len_text"

  /** Score-band curation: top-2-decile selection with exact ntile
    * semantics (the `best_ocr_only.json` selection of macvid.py:113-115
    * generalized), WITHOUT a global single-partition window.
    *
    * Plan: (1) a fixed-width coarse histogram over the score — bucket
    * count is bounded by the value range, independent of row count (the
    * AQE-style bounded-summary the driver may collect); (2) the two
    * decile-boundary tuples are located inside their histogram buckets
    * with a window PARTITIONED by bucket (each bucket holds a bounded
    * value range; at extreme skew, refine the hot bucket with a second
    * histogram level); (3) one full scan classifies rows against the two
    * boundary (score, key) literals — pure codegen'd comparisons, no
    * global sort anywhere. Total tie-break (price, orderkey) makes the
    * boundary tuples unique, so the result is bit-identical to ntile. */
  val q37QuantileCuration = OpSpec(
    "q37_quantile_curation",
    (s, dir) => {
      val orders = table(s, dir, "orders")
      val bucket = floor(col("o_totalprice") / 1000.0).cast("long")
      val hist = orders.groupBy(bucket.as("hb")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("hb")).collect()
      val n = hist.map(_.getLong(1)).sum
      // ntile(10) bucket sizes: first n%10 tiles take one extra row
      val q = n / 10; val r = n % 10
      def tileEnd(t: Int): Long = q * t + math.min(r, t)
      val r0 = tileEnd(8) // last rank of decile 8 = selection threshold
      val r1 = tileEnd(9) // last rank of decile 9 = 9/10 label boundary
      def locate(rank: Long): (Long, Long) = {
        var cum = 0L
        val it = hist.iterator
        while (it.hasNext) {
          val row = it.next()
          val c = row.getLong(1)
          if (cum + c >= rank) return (row.getLong(0), rank - cum)
          cum += c
        }
        sys.error(s"rank $rank out of range (n=$n)")
      }
      if (n == 0) {
        // empty input — nothing to band (for 1 <= n <= 9 the general
        // path is already exact: ntile assigns tiles 1..n one row each,
        // so r0 = tileEnd(8) = min(n, 8) selects rows ranked above it —
        // exactly the n = 9 case's single decile-9 row, and nothing for
        // n <= 8)
        orders.filter(lit(false))
          .select(col("o_orderkey"), col("o_totalprice"),
            lit(0L).as("decile"))
      } else {
        val (b0, off0) = locate(r0)
        val (b1, off1) = locate(r1)
        val wB = Window
          .partitionBy(col("hb"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        val bounds = orders.withColumn("hb", bucket)
          .filter(col("hb").isin(b0, b1))
          .withColumn("rn", row_number().over(wB))
          .filter((col("hb") === b0 && col("rn") === off0) ||
            (col("hb") === b1 && col("rn") === off1))
          .select(col("hb"), col("rn"), col("o_totalprice"),
            col("o_orderkey"))
          .collect()
        def tup(b: Long, off: Long): (Double, Long) = bounds
          .collectFirst { case x if x.getLong(0) == b && x.getInt(1) == off =>
            (x.getDouble(2), x.getLong(3)) }
          .getOrElse(sys.error(s"boundary ($b, $off) not found"))
        val (t0p, t0k) = tup(b0, off0)
        val (t1p, t1k) = tup(b1, off1)
        def gt(p: Double, k: Long) = col("o_totalprice") > p ||
          (col("o_totalprice") === p && col("o_orderkey") > k)
        orders.filter(gt(t0p, t0k))
          .withColumn("decile", when(gt(t1p, t1k), 10L).otherwise(9L))
          .select(col("o_orderkey"), col("o_totalprice"), col("decile"))
      }
    },
    Some("""
      SELECT o_orderkey, o_totalprice, decile
      FROM (SELECT o_orderkey, o_totalprice,
              CAST(ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS BIGINT) AS decile
            FROM orders)
      WHERE decile >= 9"""))

  /** S3/§2.6 multi-shard union with schema drift: shards carrying
    * different column subsets union by NAME with null fill
    * (unionByName(allowMissingColumns) — the reference accumulates
    * shards via list extend, macvid.py:152-157, where drift silently
    * misaligns; here it is explicit). */
  val q38ShardUnion = OpSpec(
    "q38_shard_union",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), lit("shard_a").as("src"))
      val b = c.filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"), col("c_acctbal"), lit("shard_b").as("src"))
      a.unionByName(b, allowMissingColumns = true)
    },
    Some("""
      SELECT * FROM (
        SELECT c_custkey, c_name, 'shard_a' AS src FROM customer
        WHERE c_mktsegment = 'BUILDING')
      UNION ALL BY NAME
      (SELECT c_custkey, c_acctbal, 'shard_b' AS src FROM customer
       WHERE c_acctbal > 5e3)"""))

  /** §2.4 CUBE slicing over status × priority. */
  val q39Cube = OpSpec(
    "q39_cube",
    (s, dir) => {
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
    },
    Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)"""))

  /** §2.5 global top-k: Spark plans TakeOrderedAndProject — per-partition
    * top-k then a k-sized merge on the driver; no global sort
    * materializes. Total tie-break makes the result a deterministic set.
    */
  val q40GlobalTopk = OpSpec(
    "q40_global_topk",
    (s, dir) => {
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 100"""))

  /** F12 JSON extraction (from_json/to_json edges of the reference's
    * open `misc`/`transcript` sections): pull a typed value out of
    * events.props and aggregate over it. */
  val q41JsonExtract = OpSpec(
    "q41_json_extract",
    (s, dir) => {
      table(s, dir, "events")
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(k) AS BIGINT) AS sum_k,
             min(k) AS min_k, max(k) AS max_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
      GROUP BY event_type"""))

  /** End-to-end curation pipeline — the composed form a reference user
    * actually runs (scenecut → score → curate, §3), over documents:
    * exact dedup (X1 survivor = min doc_id per content hash) → quality
    * score (X4, the q23 kernel) → keep-threshold filter → deterministic
    * shard assignment honoring the reference's shard-budget rule
    * (README.md:89, ≤1M rows per shard via `Sinks.shardedParquet`).
    *
    * Scale shape: the dedup is one hash-shuffle; the survivor semi-join
    * keys on doc_id (no second full shuffle of text — only survivor ids
    * travel); scoring is a pure codegen'd projection; the shard id is
    * row-local arithmetic, so the whole chain is 2 shuffles regardless
    * of corpus size. */
  val q49CurationPipeline = OpSpec(
    "q49_curation_pipeline",
    (s, dir) => {
      TextOps.qualityStage(minIdPerKey(table(s, dir, "documents"),
          md5(col("text").cast("binary")).as("h")))
        .filter(col("quality") >= 0.5)
        .select(col("doc_id"), col("source"), col("lang"), col("n_words"),
          col("quality"), (col("doc_id") % 8).as("shard_id"))
    },
    Some(s"""
      WITH survivors AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      kept AS (
        SELECT d.* FROM documents d SEMI JOIN survivors USING (doc_id)),
      scored AS (
        ${TextOps.qualityCountsDuck("doc_id, source, lang,", "*", "kept",
          tail = ",\n          length(text) AS n_chars")})
      SELECT doc_id, source, lang, n_words,
        ${TextOps.qualityFormula("n_chars")} AS quality,
        doc_id % 8 AS shard_id
      FROM scored
      WHERE ${TextOps.qualityFormula("n_chars")} >= 5e-1"""))

  /** q173: curriculum pacing schedule — documents binned into 10
    * difficulty deciles (difficulty proxy: n_chars, tie-broken by
    * doc_id so the ntile boundary is unique in both engines), with the
    * per-decile doc/token mass and the RUNNING token budget a
    * curriculum trainer consumes stage by stage ("after decile d the
    * model has seen cum_tokens tokens"). The schedule is the artifact
    * length/quality-ordered training (curriculum learning) feeds from.
    * Scale: the global ntile is a single-partition window over doc-level
    * rows — at 100 TB the same schedule comes from a two-pass
    * percentile bucketing (q37's machinery); the decile rollup and
    * running sum then touch 10 rows. */
  val q173CurriculumSchedule = OpSpec(
    "q173_curriculum_schedule",
    (s, dir) => {
      // NO global window (the sweep-audited discipline): global rank =
      // per-n_chars-bucket row_number + broadcast histogram offsets
      // (the q37 two-pass trick, fully distributed — the driver touches
      // only the bounded n_chars histogram), and the ntile(10) tile is
      // recovered from the rank in closed form (first n%10 tiles carry
      // one extra row). cum_tokens comes from a 10-row triangle join on
      // the decile aggregate, not an ordered window.
      val sq = s; import sq.implicits._
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          expr(s"CAST(size(${TextOps.wordsSpark}) AS BIGINT)")
            .as("n_tokens"))
      val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
        .orderBy(col("n_chars")).collect()
      val n = hist.map(_.getLong(1)).sum
      var cum = 0L
      val offsets = hist.map { r =>
        val o = (r.getLong(0), cum); cum += r.getLong(1); o
      }.toSeq
      val offDf = broadcast(offsets.toDF("n_chars", "off"))
      val q10 = n / 10; val r10 = n % 10
      val decileExpr =
        if (q10 == 0) "rank" // n < 10: ntile gives tiles 1..n, 1 row each
        else s"""CAST(CASE WHEN rank <= ${r10 * (q10 + 1)}
          THEN floor(CAST(rank - 1 AS DOUBLE) / ${q10 + 1}) + 1
          ELSE $r10 + floor(CAST(rank - ${r10 * (q10 + 1)} - 1 AS DOUBLE)
                            / $q10) + 1 END AS BIGINT)"""
      val agg = docs.join(offDf, "n_chars")
        .withColumn("rnw", row_number().over(
          Window.partitionBy(col("n_chars")).orderBy(col("doc_id")))
          .cast("long"))
        .withColumn("rank", col("off") + col("rnw"))
        .withColumn("decile", expr(decileExpr))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
      agg.join(
          broadcast(agg.select(col("decile").as("d2"),
            col("tokens").as("t2"))),
          col("d2") <= col("decile"))
        .groupBy(col("decile"), col("n_docs"), col("tokens"),
          col("min_chars"), col("max_chars"))
        .agg(sum(col("t2")).as("cum_tokens"))
        .select(col("decile"), col("n_docs"), col("tokens"),
          col("min_chars"), col("max_chars"), col("cum_tokens"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, n_chars,
          CAST(len(${TextOps.wordsDuck}) AS BIGINT) AS n_tokens,
          CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
            AS decile
        FROM documents),
      agg AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS tokens,
          MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM toks GROUP BY 1)
      SELECT decile, n_docs, tokens, min_chars, max_chars,
        CAST(SUM(tokens) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
      FROM agg"""))

  /** q200: curation pipeline v3 — the end-to-end shape a modern
    * training-data run composes from this round's parts, as ONE query:
    * canonical-form dedup (q170's C4-style normalization keys, keep
    * min-id) → quality gate (q49's exact-rational score ≥ 0.5) →
    * WEIGHTED priority selection (q169's min-of-w-draws A-ES sampling,
    * weight = length tier) of the final 40-doc training slice, emitted
    * with lineage (quality, weight, selection key). Three stages,
    * three shuffle families: one hash group-by for the keys, one
    * per-row gate, one ≤8× explode collapsing map-side to a global
    * TakeOrdered — the v1 (q49) / v2 (q100) discipline carried to the
    * round-6 operator set. */
  val q200PipelineV3 = OpSpec(
    "q200_pipeline_v3",
    (s, dir) => {
      TextOps.qualityStage(
          minIdPerKey(table(s, dir, "documents"), canonicalKey))
        .filter(col("quality") >= 0.5)
        .withColumn("w", expr("""CAST(least(8, greatest(1,
          floor(CAST(n_chars AS DOUBLE) / 256))) AS BIGINT)"""))
        .withColumn("j", explode(expr("sequence(CAST(1 AS BIGINT), w)")))
        .withColumn("draw", md5(concat(lit("wsel:"), col("doc_id"),
          lit(":"), col("j")).cast("binary")))
        .groupBy(col("doc_id"), col("source"), col("lang"),
          col("quality"), col("w"))
        .agg(min(col("draw")).as("key"))
        .orderBy(col("key"), col("doc_id")).limit(40)
    },
    Some(s"""
      WITH $canonicalKeptDuck,
      scored AS (
        ${TextOps.qualityCountsDuck("doc_id, source, lang, n_chars,", "*",
          "kept", tail = lenTextDuck)}),
      gated AS (
        SELECT doc_id, source, lang,
          ${TextOps.qualityFormula("len_text")} AS quality,
          CAST(least(8, greatest(1,
            floor(CAST(n_chars AS DOUBLE) / 256))) AS BIGINT) AS w
        FROM scored
        WHERE ${TextOps.qualityFormula("len_text")} >= 5e-1)
      SELECT doc_id, source, lang, quality, w,
        MIN(md5('wsel:' || doc_id || ':' || j)) AS key
      FROM gated, (SELECT CAST(UNNEST(range(1, 9)) AS BIGINT) AS j) g
      WHERE j <= w
      GROUP BY doc_id, source, lang, quality, w
      ORDER BY key, doc_id LIMIT 40"""))

  /** q203: source quality league — the per-provider scoreboard a
    * curation owner reads before renegotiating ingest quotas: each
    * source's doc count, mean quality, gate pass-rate (the q49 ≥ 0.5
    * rule), and its delta vs the corpus mean. The q49 quality score is
    * already rounded to 1e-6, so round(q·1e6) recovers an exact
    * integer micro-score in both engines and every mean is an integer
    * ratio divided once — no double accumulation anywhere. One doc
    * scan, one partial-aggregated group-by, one 1-row corpus scalar
    * broadcast. */
  val q203SourceLeague = OpSpec(
    "q203_source_league",
    (s, dir) => {
      val scored = TextOps.qualityStage(table(s, dir, "documents"), "q")
        .withColumn("micro", expr("CAST(round(q * 1e6) AS BIGINT)"))
        .withColumn("passed",
          expr("CAST(CASE WHEN q >= 5e-1 THEN 1 ELSE 0 END AS BIGINT)"))
      val corpus = scored.agg(
        expr("CAST(SUM(micro) AS BIGINT)").as("c_micro"),
        count(lit(1)).as("c_n"))
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(SUM(micro) AS BIGINT)").as("s_micro"),
          sum(col("passed")).as("n_passed"))
        .crossJoin(broadcast(corpus))
        .select(col("source"), col("n_docs"),
          expr("""CAST(s_micro AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  / 1e6""").as("mean_quality"),
          (col("n_passed").cast("double") / col("n_docs").cast("double"))
            .as("pass_rate"),
          expr("""CAST(s_micro AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6
                  - CAST(c_micro AS DOUBLE) / CAST(c_n AS DOUBLE)
                    / 1e6""").as("delta_vs_corpus"))
    },
    Some(s"""
      WITH scored AS (
        SELECT source,
          CAST(round(${TextOps.qualityFormula("len_text")} * 1e6)
               AS BIGINT) AS micro,
          CASE WHEN ${TextOps.qualityFormula("len_text")} >= 5e-1
               THEN 1 ELSE 0 END AS passed
        FROM (
          ${TextOps.qualityCountsDuck("source,", "*", "documents",
            tail = lenTextDuck)})),
      corpus AS (
        SELECT CAST(SUM(micro) AS BIGINT) AS c_micro,
          CAST(COUNT(*) AS BIGINT) AS c_n
        FROM scored)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
          AS mean_quality,
        CAST(SUM(passed) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS pass_rate,
        CAST(SUM(micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
          - CAST(MAX(c.c_micro) AS DOUBLE) / CAST(MAX(c.c_n) AS DOUBLE)
            / 1e6 AS delta_vs_corpus
      FROM scored, corpus c
      GROUP BY source"""))

  /** q190: the dataset card — the one-row corpus summary a published
    * dataset ships with (volume, source/language spread, token mass,
    * duplication, dominant language and its share), assembled from
    * single-pass aggregates: every rate is an exact integer ratio
    * divided once at emit, the dup rate derives from the q25 hash
    * distinct, and the dominant language is a 1-row sort head
    * broadcast back (the q76-family scalar shape). The report a 100 TB
    * curation run prints at the end — metadata-sized output, corpus
    * touched twice (stats pass + lang mode pass). */
  val q190DatasetCard = OpSpec(
    "q190_dataset_card",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        expr(s"CAST(SUM(size(${TextOps.wordsSpark})) AS BIGINT)")
          .as("total_tokens"),
        countDistinct(md5(col("text").cast("binary"))).as("n_distinct"))
      val topLang = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("lang_n"))
        .orderBy(col("lang_n").desc, col("lang").asc).limit(1)
        .select(col("lang").as("top_lang"), col("lang_n"))
      stats.crossJoin(broadcast(topLang))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("total_chars"),
          (col("total_chars").cast("double") / col("n_docs").cast("double"))
            .as("mean_chars"),
          col("total_tokens"),
          (col("total_tokens").cast("double") /
            col("n_docs").cast("double")).as("mean_tokens"),
          ((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs").cast("double")).as("dup_rate"),
          col("top_lang"),
          (col("lang_n").cast("double") / col("n_docs").cast("double"))
            .as("top_lang_share"))
    },
    Some(s"""
      WITH stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(SUM(len(${TextOps.wordsDuck})) AS BIGINT) AS total_tokens,
          CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        FROM documents),
      top_lang AS (
        SELECT lang AS top_lang, CAST(COUNT(*) AS BIGINT) AS lang_n
        FROM documents GROUP BY 1
        ORDER BY lang_n DESC, top_lang ASC LIMIT 1)
      SELECT n_docs, n_sources, n_langs, total_chars,
        CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
        total_tokens,
        CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
          AS mean_tokens,
        CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE)
          AS dup_rate,
        top_lang,
        CAST(lang_n AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_lang_share
      FROM stats, top_lang"""))

  /** q227: incrementally-maintained rollup under the bit-exact gate —
    * the corpus-stats pattern every ingest pipeline runs daily,
    * maintained WITHOUT rescanning history. The events table arrives
    * as three batches (an arbitrary id split — additivity makes the
    * boundary invisible); each batch appends its
    * [[graft.io.Sinks.rollupPartials]] (count + exact decimal sum per
    * event type), and serving folds the stored partials in one
    * key-domain-bounded aggregate. The oracle aggregates the RAW
    * table: the maintained rollup must equal the scratch aggregate
    * bit-for-bit, including the derived mean (exact sum / exact
    * count, one double division). */
  val q227IncrementalRollup = OpSpec(
    "q227_incremental_rollup",
    (s, dir) => {
      val tableName = "roll_q227"
      val path = s"${graft.Tables.scratchDir}/roll_q227"
      s.sql(s"DROP TABLE IF EXISTS $tableName")
      graft.io.IndexLifecycle.rmDir(path)
      val ev = table(s, dir, "events")
      (0 to 2).foreach(i => graft.io.Sinks.appendRollup(
        ev.filter(col("event_id") % 3 === i), Seq("event_type"),
        Seq("value"), tableName, 4, path))
      eventRollup(s, tableName)
    },
    Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          AS avg_value
      FROM events
      GROUP BY event_type"""))

  /** The served read of a per-event-type rollup of `value` (q227,
    * q229 and the streamed q228): the folded partials with the exact
    * total and one-division mean the q227 oracle computes from the
    * raw table. */
  private[graft] def eventRollup(s: SparkSession, tableName: String)
      : DataFrame =
    graft.io.Sinks.readRollup(s, tableName, Seq("event_type"), Seq("value"))
      .select(col("event_type"), col("n"),
        col("sum_value").cast("double").as("total"),
        (col("sum_value").cast("double") / col("n")).as("avg_value"))

  /** q229: the rollup COMPACTION lifecycle under the gate — appends,
    * a staged-swap compaction that folds accumulated partials to one
    * row per key, and a FURTHER append onto the compacted generation
    * (the schema-stability property that makes compaction safe to run
    * at any point in the ingest cadence). Serving folds whatever
    * generation mix is on disk; the oracle aggregates the raw table —
    * equality proves compaction is invisible to every reader. */
  val q229RollupCompaction = OpSpec(
    "q229_rollup_compaction",
    (s, dir) => {
      val tableName = "roll_q229"
      val path = s"${graft.Tables.scratchDir}/roll_q229"
      s.sql(s"DROP TABLE IF EXISTS $tableName")
      s.sql(s"DROP TABLE IF EXISTS ${tableName}__compacting")
      graft.io.IndexLifecycle.rmDir(path)
      val ev = table(s, dir, "events")
      (0 to 2).foreach(i => graft.io.Sinks.appendRollup(
        ev.filter(col("event_id") % 4 === i), Seq("event_type"),
        Seq("value"), tableName, 4, s"$path/tbl"))
      graft.io.Sinks.compactRollup(s, tableName, Seq("event_type"),
        Seq("value"), 4, s"$path/compact1")
      // appends keep working on the compacted generation
      graft.io.Sinks.appendRollup(ev.filter(col("event_id") % 4 === 3),
        Seq("event_type"), Seq("value"), tableName, 4, s"$path/compact1")
      eventRollup(s, tableName)
    },
    q227IncrementalRollup.oracle)

  /** q253: curation pipeline v5 — the CROSS-MODAL selection join a
    * multimodal training-data run needs and rounds 1-8 gated only per
    * modality: the TEXT signals (q200's canonical-form dedup +
    * exact-rational quality gate) and the SEMANTIC signal (q212's
    * SemDeDup verdict over the paired embeddings, doc_id == vec_id in
    * this corpus) decide jointly, and the survivors pack into
    * per-source token budgets (q79's exact integer window). One query,
    * four stages, both modalities:
    *
    *   canonical dedup (keep min-id per normalized text) → quality ≥
    *   0.5 → SemDeDup 'keep' (frozen q212 trajectory, k = KmK) →
    *   per-source budget fill (cum tokens ≤ 600, n_chars-desc order).
    *
    * Plan: the text stages are one hash group-by + row-local scoring;
    * the semantic verdicts come from [[SemanticDedupOps.semDedupVerdicts]]
    * (materialized — its training never enters this plan) and join as
    * a semi join on doc_id; the pack is one partitioned window. The
    * oracle composes q200's CTEs with q212's full training arm. */
  val q253PipelineV5 = OpSpec(
    "q253_pipeline_v5",
    (s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr("""CASE WHEN aggregate(embedding, 0e0,
              (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
            ELSE sqrt(aggregate(embedding, 0e0,
              (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
      val semKeep = SemanticDedupOps.semDedupVerdicts(e, EmbeddingOps.KmK)
        .filter(col("verdict") === "keep")
        .select(col("vec_id").as("doc_id"))
      val wc = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      TextOps.qualityStage(
          minIdPerKey(table(s, dir, "documents"), canonicalKey))
        .filter(col("quality") >= 0.5)
        .join(semKeep, Seq("doc_id"), "left_semi")
        .withColumn("cum_tokens", sum(col("n_words")).over(wc))
        .filter(col("cum_tokens") <= 600L)
        .select(col("source"), col("doc_id"), col("n_words"),
          col("quality"), col("cum_tokens"))
    },
    Some(s"""
      WITH e AS (${EmbeddingOps.normedDuck}),
      ${SemanticDedupOps.semDedupArmSql(EmbeddingOps.KmK)},
      semkeep AS (
        SELECT vec_id FROM verd_${EmbeddingOps.KmK}
        WHERE verdict = 'keep'),
      $canonicalKeptDuck,
      scored AS (
        ${TextOps.qualityCountsDuck("doc_id, source, n_chars,", "*", "kept",
          tail = lenTextDuck)}),
      gated AS (
        SELECT s.doc_id, s.source, s.n_chars, s.n_words,
          ${TextOps.qualityFormula("len_text")} AS quality
        FROM scored s
        SEMI JOIN semkeep sk ON sk.vec_id = s.doc_id
        WHERE ${TextOps.qualityFormula("len_text")} >= 5e-1)
      SELECT source, doc_id, n_words, quality,
        CAST(SUM(n_words) OVER (PARTITION BY source
          ORDER BY n_chars DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
      FROM gated
      QUALIFY cum_tokens <= 600"""))

  /** The q276/q277 funnel's stage predicates and per-doc first-kill
    * attribution — ONE definition so the per-doc audit (q276) and the
    * published waterfall (q277) cannot drift apart. Stage order is the
    * funnel contract: (1) too_short (n_chars < 100), (2) quality (the
    * q23 kernel < 0.5), (3) repetition (dup-word ratio > 2/3, pure
    * integer cross-multiplication), (4) wordset_dup (non-keeper in the
    * q26 canonical word-set group AMONG STAGE-3 SURVIVORS — dedup runs
    * on what earlier stages let through, as a real pipeline does; the
    * keeper is the min surviving doc_id, computed with a partitioned
    * window over the fingerprint, no global window). Everything else
    * is row-local column math.
    *
    * This function is the row-local front half shared by the batch
    * funnel (q276/q277) and the incremental ingest (q278): predicates
    * plus wordset fingerprint over a raw (doc_id, text) frame. Emits
    * (doc_id, p1, p2, p3, s3, wsh); the keeper/attribution tail differs
    * per caller (who the doc competes with for keeper). */
  private def funnelFlags(docs: DataFrame): DataFrame =
    TextOps.qualityStage(docs,
        score = TextOps.qualityFormula("n_chars"),
        lenCols = Seq("n_chars" -> length(col("text")).cast("long")),
        wordCols = Seq("n_dw" ->
          expr("CAST(size(array_distinct(words)) AS BIGINT)")))
      .withColumn("wsh", expr(
        "md5(CAST(array_join(array_sort(array_distinct(words)), ' ') AS BINARY))"))
      .withColumn("p1", col("n_chars") >= 100)
      .withColumn("p2", col("quality") >= lit(5e-1))
      .withColumn("p3", expr("3 * (n_words - n_dw) <= 2 * n_words"))
      .withColumn("s3", col("p1") && col("p2") && col("p3"))
      .select(col("doc_id"), col("p1"), col("p2"), col("p3"),
        col("s3"), col("wsh"))

  /** The funnel keeper: the min stage-3-surviving doc_id of each
    * wordset fingerprint among the frame's docs. An ordered window
    * with an explicit full frame (the q72 pattern): an ORDER-less
    * partitioned Window prints only two bracket groups and the plan
    * sweep's global-window detector keys on that shape; the full frame
    * keeps min() group-wide either way. */
  private val funnelKeeper: Column =
    min(when(col("s3"), col("doc_id")))
      .over(Window.partitionBy(col("wsh")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))

  /** The (stage_idx, kill_stage) attribution of a flagged doc — engine
    * and oracle text — given the wordset-dup predicate `dup`. */
  private def stageIdxSql(dup: String): String =
    s"""CAST(CASE WHEN NOT p1 THEN 1 WHEN NOT p2 THEN 2
                 WHEN NOT p3 THEN 3 WHEN $dup THEN 4
                 ELSE 5 END AS BIGINT)"""
  private def killStageSql(dup: String): String =
    s"""CASE WHEN NOT p1 THEN 'too_short'
                 WHEN NOT p2 THEN 'quality'
                 WHEN NOT p3 THEN 'repetition'
                 WHEN $dup THEN 'wordset_dup'
                 ELSE 'kept' END"""
  private def attribution(flagged: DataFrame, dup: String): DataFrame =
    flagged.withColumn("keeper", funnelKeeper)
      .select(col("doc_id"), expr(stageIdxSql(dup)).as("stage_idx"),
        expr(killStageSql(dup)).as("kill_stage"))

  /** The q276 attribution tail over [[funnelFlags]]: the keeper is
    * the min surviving doc_id within the SAME frame — all docs
    * compete. */
  private def funnelAttrib(s: SparkSession, dir: String): DataFrame =
    attribution(funnelFlags(table(s, dir, "documents")), "doc_id <> keeper")

  /** Persist a corpus's funnel-survivor wordset fingerprints as the
    * bucketed dedup index an INCREMENTAL ingest joins against (q278):
    * one row per kept fingerprint — no text, no per-doc state, so the
    * index is hashes-sized and the ingest never touches corpus
    * text. */
  def writeFunnelIndex(docs: DataFrame, prefix: String, path: String): Unit =
    graft.io.Sinks.bucketedTable(
      funnelFlags(docs)
        .withColumn("keeper", funnelKeeper)
        .filter(col("s3") && col("doc_id") === col("keeper"))
        .select(col("wsh")),
      s"${prefix}_wsh", "wsh", 8, path)

  /** Incremental funnel attribution of a BATCH against a persisted
    * [[writeFunnelIndex]] index — first-ingested-wins semantics (the
    * q55/CorpusIndex contract): a batch survivor whose fingerprint
    * already has a kept corpus doc is a dup regardless of id; within
    * the batch, min surviving doc_id wins. Stages 1-3 are row-local;
    * stage 4 is one equi-join on the fingerprint (index is
    * hash-sized) + one batch-partitioned window. Cost ∝ batch. */
  def incrementalFunnel(s: SparkSession, batch: DataFrame, prefix: String)
      : DataFrame =
    attribution(funnelFlags(batch)
      .join(s.table(s"${prefix}_wsh")
        .select(col("wsh"), lit(true).as("in_corpus")), Seq("wsh"), "left"),
      "in_corpus OR doc_id <> keeper")

  /** DuckDB twin of [[funnelFlags]] over the documents table:
    * (doc_id, p1, p2, p3, wsh). */
  private val funnelFlagsDuck: String = s"""
    SELECT doc_id,
      (n_chars >= 100) AS p1,
      (${TextOps.qualityFormula("n_chars")} >= 5e-1) AS p2,
      (3 * (n_words - n_dw) <= 2 * n_words) AS p3,
      md5(list_aggregate(list_sort(list_distinct(words)),
        'string_agg', ' ')) AS wsh
    FROM (
      ${TextOps.qualityCountsDuck(
        "doc_id,\n        CAST(length(text) AS BIGINT) AS n_chars,",
        "doc_id, text", "documents",
        mid = "\n        CAST(len(list_distinct(words)) AS BIGINT) AS n_dw,",
        tail = ",\n        words")})"""

  /** Shared oracle text for the funnel attribution (doc_id, stage_idx,
    * kill_stage). */
  private val funnelAttribDuck: String = s"""
    SELECT doc_id,
      ${stageIdxSql("doc_id <> keeper")} AS stage_idx,
      ${killStageSql("doc_id <> keeper")} AS kill_stage
    FROM (
      SELECT doc_id, p1, p2, p3,
        min(CASE WHEN p1 AND p2 AND p3 THEN doc_id END)
          OVER (PARTITION BY wsh) AS keeper
      FROM ($funnelFlagsDuck))"""

  /** q276: per-document FIRST-KILL ATTRIBUTION — the lineage record a
    * production curation run keeps so any document's absence from the
    * training set is explainable ("which stage dropped doc X, and
    * why"): one row per document with the first funnel stage that
    * rejected it (or 'kept'). The whole attribution is one pass +
    * one fingerprint-partitioned window; no stage re-scans the
    * corpus. */
  val q276FilterAttribution = OpSpec(
    "q276_filter_attribution",
    (s, dir) => funnelAttrib(s, dir),
    Some(funnelAttribDuck))

  /** q277: the CURATION WATERFALL — the funnel table every pipeline
    * run publishes (stage, n_in, n_kill, n_out, retention). Derived
    * from q276's attribution in ONE aggregate row (four conditional
    * sums), then four literal struct rows exploded from it — no
    * window, no second scan, no per-stage jobs; retention is one
    * division of exact counts. */
  val q277FilterFunnel = OpSpec(
    "q277_filter_funnel",
    (s, dir) => {
      funnelAttrib(s, dir)
        .agg(count(lit(1)).as("t"),
          sum(when(col("stage_idx") === 1, 1L).otherwise(0L)).as("k1"),
          sum(when(col("stage_idx") === 2, 1L).otherwise(0L)).as("k2"),
          sum(when(col("stage_idx") === 3, 1L).otherwise(0L)).as("k3"),
          sum(when(col("stage_idx") === 4, 1L).otherwise(0L)).as("k4"))
        .select(explode(array(
          struct(lit(1L).as("stage_idx"), lit("too_short").as("stage"),
            col("t").as("n_in"), col("k1").as("n_kill")),
          struct(lit(2L).as("stage_idx"), lit("quality").as("stage"),
            (col("t") - col("k1")).as("n_in"), col("k2").as("n_kill")),
          struct(lit(3L).as("stage_idx"), lit("repetition").as("stage"),
            (col("t") - col("k1") - col("k2")).as("n_in"),
            col("k3").as("n_kill")),
          struct(lit(4L).as("stage_idx"), lit("wordset_dup").as("stage"),
            (col("t") - col("k1") - col("k2") - col("k3")).as("n_in"),
            col("k4").as("n_kill")))).as("r"))
        .select(col("r.stage_idx").as("stage_idx"),
          col("r.stage").as("stage"),
          col("r.n_in").cast("long").as("n_in"),
          col("r.n_kill").cast("long").as("n_kill"),
          (col("r.n_in") - col("r.n_kill")).cast("long").as("n_out"),
          when(col("r.n_in") === 0, lit(null).cast("double"))
            .otherwise((col("r.n_in") - col("r.n_kill")).cast("double")
              / col("r.n_in").cast("double")).as("retention"))
    },
    Some(s"""
      WITH attrib AS MATERIALIZED ($funnelAttribDuck),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t,
          CAST(SUM(CASE WHEN stage_idx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
          CAST(SUM(CASE WHEN stage_idx = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
          CAST(SUM(CASE WHEN stage_idx = 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
          CAST(SUM(CASE WHEN stage_idx = 4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
        FROM attrib),
      stages AS (
        SELECT CAST(1 AS BIGINT) AS stage_idx, 'too_short' AS stage,
          t AS n_in, k1 AS n_kill FROM agg
        UNION ALL SELECT CAST(2 AS BIGINT), 'quality', t - k1, k2 FROM agg
        UNION ALL SELECT CAST(3 AS BIGINT), 'repetition',
          t - k1 - k2, k3 FROM agg
        UNION ALL SELECT CAST(4 AS BIGINT), 'wordset_dup',
          t - k1 - k2 - k3, k4 FROM agg)
      SELECT stage_idx, stage, n_in, n_kill, n_in - n_kill AS n_out,
        CASE WHEN n_in = 0 THEN NULL
             ELSE CAST(n_in - n_kill AS DOUBLE) / CAST(n_in AS DOUBLE)
        END AS retention
      FROM stages"""))

  /** q278: INCREMENTAL FUNNEL INGEST — the q55/CorpusIndex discipline
    * applied to the curation funnel: the corpus (doc_id % 10 <> 0)
    * funnels once and persists ONLY its kept-survivor wordset
    * fingerprints ([[writeFunnelIndex]] — hash-sized, no text); a new
    * batch (% 10 = 0) is then attributed by [[incrementalFunnel]]
    * without re-scanning corpus text (spec plan-audited): stages 1-3
    * row-local, dedup = one fingerprint equi-join + one batch-local
    * window. Semantics are FIRST-INGESTED-WINS (the only contract an
    * incremental dedup can keep): a batch survivor whose fingerprint
    * already has a kept corpus doc is a dup even if its id is
    * smaller. The oracle re-derives the same verdicts from scratch
    * with the corpus/batch roles explicit, so the gate proves the
    * index path equals the scratch bipartite rule. */
  val q278IncrementalFunnel = OpSpec(
    "q278_incremental_funnel",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val isNew = col("doc_id") % 10 === 0
      val prefix = "fix_q278"
      val path = s"${graft.Tables.scratchDir}/fix_q278"
      graft.io.IndexLifecycle.resetPrefix(s, prefix, path)
      writeFunnelIndex(docs.filter(!isNew), prefix, path)
      incrementalFunnel(s, docs.filter(isNew), prefix)
    },
    Some(s"""
      WITH flags AS MATERIALIZED (
        SELECT doc_id, (doc_id % 10 = 0) AS is_new, p1, p2, p3,
          (p1 AND p2 AND p3) AS s3, wsh
        FROM ($funnelFlagsDuck)),
      w AS (
        SELECT *,
          MAX(CASE WHEN NOT is_new AND s3 THEN 1 ELSE 0 END)
            OVER (PARTITION BY wsh) AS c_surv,
          MIN(CASE WHEN is_new AND s3 THEN doc_id END)
            OVER (PARTITION BY wsh) AS b_keeper
        FROM flags)
      SELECT doc_id,
        ${stageIdxSql("c_surv = 1 OR doc_id <> b_keeper")} AS stage_idx,
        ${killStageSql("c_surv = 1 OR doc_id <> b_keeper")} AS kill_stage
      FROM w WHERE is_new"""))

  val all: Seq[OpSpec] = Seq(
    q37QuantileCuration, q38ShardUnion, q39Cube, q40GlobalTopk,
    q41JsonExtract, q49CurationPipeline, q173CurriculumSchedule,
    q190DatasetCard, q200PipelineV3, q203SourceLeague,
    q227IncrementalRollup, q229RollupCompaction, q253PipelineV5,
    q276FilterAttribution, q277FilterFunnel, q278IncrementalFunnel)
}
