package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import graft.io.{IndexLifecycle, Sinks}
import graft.io.IndexLifecycle.{CorpusIndexTables, GramIndexTables,
  NameIndexTables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (SURVEY §2.12 north-star:
  * exact, canonicalized, MinHash+LSH, SimHash). The LSH path is the one
  * that survives 100 TB: signatures and band keys are computed row-local,
  * candidate pairs come from an equi-join on (band_idx, band_value) —
  * never an O(n²) cross product — and only candidates pay the exact
  * verification cost.
  *
  * Hashes are md5-based so both engines agree bit-for-bit: MinHash takes
  * the lexicographic MIN of md5 hex strings per seed; SimHash derives
  * bits from md5 hex digits with instr/substring arithmetic.
  */
object DedupOps {

  // the canonical tokenizer (single definition: TextOps) — dedup and
  // text analysis must always agree on what a "word" is
  private def wordsDuck = TextOps.wordsDuck
  private def wordsSpark = TextOps.wordsSpark

  /** Exact dedup by content hash (dropDuplicates re-expressed as
    * groupBy(hash) so the survivor choice is deterministic: min doc_id).
    */
  val q25DedupExact = OpSpec(
    "q25_dedup_exact",
    (s, dir) => {
      table(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },
    Some("""
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
             COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text)"""))

  /** Canonicalized (order/multiplicity-insensitive) dedup: fingerprint =
    * md5 of the sorted distinct word set. Catches reshuffled/repeated-word
    * copies that exact hashing misses. */
  val q26DedupWordset = OpSpec(
    "q26_dedup_wordset",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("fp", expr(
          s"md5(CAST(array_join(array_sort(array_distinct($wordsSpark)), ' ') AS BINARY))"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },
    Some(s"""
      SELECT md5(list_aggregate(list_sort(list_distinct($wordsDuck)), 'string_agg', ' ')) AS fp,
             min(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1"""))

  // ---- MinHash + LSH ------------------------------------------------

  private val K = 12 // signature length
  private val R = 3  // rows per band
  private val B = K / R

  /** (doc_id, shingle) rows — distinct 3-word shingles, built
    * relationally (posexplode → window lead → distinct) so the whole
    * pipeline stays inside whole-stage codegen, with the regex split
    * evaluated exactly once per document.
    *
    * The array/HOF formulation (transform over sequence of element_at)
    * is a trap at scale: HOFs always evaluate interpreted, and outside
    * codegen there is no common-subexpression elimination, so every
    * element_at reference re-evaluates the full regex split — measured
    * minutes per stage at sf0.1 whenever a Generate or a broadcast
    * build forced interpretation.
    *
    * The repartition pins an explicit partition count: hashing work is
    * far heavier than the scan bytes, and both the one-file input and
    * AQE coalescing would otherwise collapse the stage to one task. */
  def shingleRows(s: SparkSession, dir: String): DataFrame =
    gramRows(s, dir, 3).withColumnRenamed("gram", "shingle")

  /** (doc_id, gram) rows for any n — the word-n-gram generalization
    * (shingles are the n=3 instance; q50's Jaccard join uses n=2). */
  def gramRows(s: SparkSession, dir: String, n: Int): DataFrame =
    gramRowsOf(table(s, dir, "documents"), n)

  /** [[gramRows]] over an arbitrary documents DataFrame (doc_id, text).
    *
    * Built ROW-LOCALLY: one doc's grams all derive from its own `words`
    * array (`transform` + `slice`), deduped per row with
    * `array_distinct` before the explode — so the only shuffle is the
    * small raw-TEXT repartition that spreads hashing work across tasks
    * (one parquet file would otherwise scan as a single partition).
    * The previous formulation posexploded every word and rebuilt grams
    * with window `lead`s — shuffling and sorting ALL word rows by
    * doc_id, then paying a distinct aggregate (measured ~0.9 s of q50
    * at sf0.1). The `words` array is referenced multiple times in one
    * projection, so CollapseProject keeps it materialized once per row
    * — the per-ELEMENT regex re-evaluation trap of inlined HOFs (see
    * the git history of this function) does not reappear. */
  def gramRowsOf(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("words", expr(wordsSpark))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(0, size(words) - $n),
            i -> array_join(slice(words, i + 1, $n), ' ')))""")).as("gram"))
  }

  /** Hex digits [start, start+n) of the md5 string held in column `h`,
    * folded to a non-negative long — the numeric minhash domain. Fixed-
    * width long min() buffers keep HashAggregate on its fast path (var-
    * length string minima knock it off: ~190 µs/row measured). */
  private[graft] def hexToLong(h: String, start: Int = 1, n: Int = 12): String =
    (0 until n).map { i =>
      val p = java.lang.Math.pow(16, n - 1 - i).toLong
      s"(instr('0123456789abcdef', substring($h, ${start + i}, 1)) - 1) * CAST($p AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Largest prime below 2^32 — the double-hashing modulus. */
  private val P = 4294967291L

  /** K independent-enough hash functions from ONE md5: Kirsch-
    * Mitzenmacher double hashing h_i = (h1 + i*h2) mod P over the two
    * 32-bit halves of the digest. Versus one md5 per (seed, shingle)
    * this cuts the dominant q27 cost 12x; h1 < 2^32 and i*h2 < 12*2^32
    * never overflow a BIGINT. */
  private def sigExpr(i: Int): String = s"((h1 + $i * h2) % $P)"

  /** DuckDB twin of [[shingleDf]] as a CTE body. */
  private[ops] val shingleDuck = s"""
    SELECT doc_id,
      list_distinct(list_transform(generate_series(1, len(words) - 2),
        i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS sh
    FROM (SELECT doc_id, $wordsDuck AS words FROM documents)
    WHERE len(words) >= 3"""

  /** DuckDB twin of [[shingleRows]] — (doc_id, shingle) ROW form, so the
    * oracle can mirror the engine's relational Jaccard verify. */
  private val shingleRowsDuck = s"""
    SELECT DISTINCT doc_id,
      words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS shingle
    FROM (SELECT doc_id, $wordsDuck AS words FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(words) - 2)) AS i)
    WHERE len(words) >= 3"""

  /** Candidate buckets holding more than this many docs are dropped: one
    * hot band value (boilerplate text) would otherwise emit |bucket|²/2
    * pairs — the quadratic blowup LSH exists to avoid. Dropping loses
    * only pairs whose EVERY matching band is hot; near-universal patterns
    * are noise for near-dup purposes. */
  private val BucketCap = 1000L

  /** (doc_id, h1, h2): each distinct 3-word shingle hashed ONCE (md5),
    * folded to the two 32-bit halves the K double-hashed signature
    * functions derive from. 3 longs/row — the only shingle artifact any
    * downstream stage needs. */
  private[ops] def hashedShingles(docs: DataFrame): DataFrame =
    gramRowsOf(docs, 3)
      .withColumn("hx", md5(col("gram").cast("binary")))
      .select(col("doc_id"),
        expr(s"CAST(${hexToLong("hx", 1, 8)} AS BIGINT)").as("h1"),
        expr(s"CAST(${hexToLong("hx", 9, 8)} AS BIGINT)").as("h2"))

  /** (doc_id, s0 … s{K-1}): each doc's K signature minima over its
    * hashed shingles — the one aggregate behind bands and estimates. */
  private def minhashSigs(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("doc_id")).agg(
      min(expr(sigExpr(0))).as("s0"),
      (1 until K).map(i => min(expr(sigExpr(i))).as(s"s$i")): _*)

  /** (doc_id, band_idx, band_val) LSH band rows: K per-doc signature
    * minima folded into B = K/R band values. */
  private[ops] def bandRows(hashed: DataFrame): DataFrame = {
    val sigs = minhashSigs(hashed)
    val bandPairs = (0 until B).map(j =>
      s"$j, concat_ws('|', ${(0 until R).map(r => s"CAST(s${j * R + r} AS STRING)").mkString(", ")})")
    sigs.select(col("doc_id"),
      expr(s"stack($B, ${bandPairs.mkString(", ")}) AS (band_idx, band_val)"))
  }

  /** Grouped band rows off a raw (doc_id, text) frame — the batch
    * composition the row-local twin below is spec-checked against. */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame =
    bandRows(hashedShingles(docs))

  /** ROW-LOCAL twin of [[hashedShingles]] ∘ [[bandRows]]: the same
    * (doc_id, band_idx, band_val) rows, computed entirely inside one
    * row's expressions (shingle array → per-shingle md5 halves → K
    * array-min signatures → B band strings) with NO shuffle. This is
    * the form a STREAMING dedup needs — Structured Streaming forbids an
    * aggregation upstream of a stateful operator, so the per-doc
    * signature min must happen row-locally. Equality with the grouped
    * recipe is spec-proven (group-min over exploded distinct grams ==
    * array_min over the distinct-gram array, term for term). Batch
    * paths keep the exploded/codegen'd [[bandRows]]: the HOF chain here
    * evaluates interpreted, the right trade only where the shuffle is
    * illegal. Extra columns (e.g. the watermark ts) pass through. */
  private[graft] def bandRowsRowLocal(docs: DataFrame): DataFrame = {
    val keep = docs.columns.filter(c => c != "text" && c != "doc_id")
      .map(col).toSeq
    val sh = "array_distinct(transform(sequence(0, size(words) - 3), " +
      "i -> array_join(slice(words, i + 1, 3), ' ')))"
    val hp = s"""transform(transform($sh, g -> md5(CAST(g AS BINARY))),
        h -> named_struct(
          'h1', CAST(${hexToLong("h", 1, 8)} AS BIGINT),
          'h2', CAST(${hexToLong("h", 9, 8)} AS BIGINT)))"""
    val sigCols = (0 until K).map { i =>
      expr(s"array_min(transform(hp, p -> (p.h1 + $i * p.h2) % $P))")
        .as(s"s$i")
    }
    val bandPairs = (0 until B).map(j =>
      s"$j, concat_ws('|', ${(0 until R)
        .map(r => s"CAST(s${j * R + r} AS STRING)").mkString(", ")})")
    docs
      .withColumn("words", expr(wordsSpark))
      .filter(size(col("words")) >= 3)
      .withColumn("hp", expr(hp))
      .select(col("doc_id") +: keep ++: sigCols: _*)
      .select(col("doc_id") +: keep :+
        expr(s"stack($B, ${bandPairs.mkString(", ")}) AS (band_idx, band_val)"): _*)
  }

  /** Distinct (doc_a < doc_b) LSH candidate pairs: docs sharing a band
    * value whose bucket holds at most [[BucketCap]] docs. */
  private def cappedCandidates(bands: DataFrame): DataFrame = {
    val okBuckets = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("bcnt"))
      .filter(col("bcnt") <= BucketCap)
      .select(col("band_idx"), col("band_val"))
    val capped = bands.join(okBuckets, Seq("band_idx", "band_val"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** (doc_id, sz): each doc's shingle-set size, the union term of the
    * exact Jaccard. */
  private def shingleSizes(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

  /** (doc_a, doc_b, n_inter): the hashed shingles each candidate pair
    * shares — a second equi-join + groupBy (whole-stage codegen), not
    * collect_list'd sets and an interpreted O(|a|·|b|) intersection. */
  private def sharedShingles(cand: DataFrame,
      hashed: DataFrame): DataFrame =
    cand
      .join(hashed.select(col("doc_id").as("doc_a"), col("h1"), col("h2")),
        "doc_a")
      .join(hashed.select(col("doc_id").as("doc_b"), col("h1"), col("h2")),
        Seq("doc_b", "h1", "h2"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** The q172/q201 audit rows: every capped candidate pair with `est`
    * computed over both docs' signatures (aliased `a` and `b`), its
    * exact shared-shingle count `n_inter` (0 when none) and both
    * shingle-set sizes `sza`/`szb`. */
  private def auditedCandidates(hashed: DataFrame,
      est: Column*): DataFrame = {
    val sigs = minhashSigs(hashed)
    val cand = cappedCandidates(bandRows(hashed))
    val sizes = shingleSizes(hashed)
    cand
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a") +: col("doc_b") +: est: _*)
      .join(sharedShingles(cand, hashed), Seq("doc_a", "doc_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")),
        "doc_b")
  }

  // DuckDB twins of the stages above, each a CTE chain that extends the
  // previous one; a query appends its own CTEs and final SELECT.

  /** `WITH shrows, h12`: each distinct shingle's md5 halves — the twin
    * of [[hashedShingles]]. */
  private val h12Duck = s"""WITH shrows AS ($shingleRowsDuck),
      h12 AS (
        SELECT doc_id,
          CAST(${hexToLong("hx", 1, 8)} AS BIGINT) AS h1,
          CAST(${hexToLong("hx", 9, 8)} AS BIGINT) AS h2
        FROM (SELECT doc_id, md5(shingle) AS hx FROM shrows))"""

  /** [[h12Duck]] + `sigs`, the twin of [[minhashSigs]]. */
  private val sigsDuck = {
    val sigSelect = (0 until K).map(i =>
      s"min(${sigExpr(i)}) AS s$i").mkString(", ")
    s"""$h12Duck,
      sigs AS (SELECT doc_id, $sigSelect FROM h12 GROUP BY doc_id)"""
  }

  /** [[sigsDuck]] + `bands`, the twin of [[bandRows]]. */
  private val bandsDuck = {
    val bandUnion = (0 until B).map { j =>
      val cat = (0 until R).map(r => s"CAST(s${j * R + r} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $j AS band_idx, concat_ws('|', $cat) AS band_val FROM sigs"
    }.mkString("\n      UNION ALL\n      ")
    s"""$sigsDuck,
      bands AS ($bandUnion)"""
  }

  /** [[bandsDuck]] + `ok`, `capped`, `cand`: the twin of
    * [[cappedCandidates]]. */
  private val candDuck = s"""$bandsDuck,
      ok AS (SELECT band_idx, band_val FROM bands
             GROUP BY 1, 2 HAVING COUNT(*) <= $BucketCap),
      capped AS (SELECT bands.* FROM bands JOIN ok USING (band_idx, band_val)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id)"""

  /** `sizes`, `inter` over `h12` and `cand`: the twins of
    * [[shingleSizes]] and [[sharedShingles]]. */
  private val interDuck = """sizes AS (SELECT doc_id, COUNT(*) AS sz FROM h12 GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN h12 x ON x.doc_id = c.doc_a
        JOIN h12 y ON y.doc_id = c.doc_b AND y.h1 = x.h1 AND y.h2 = x.h2
        GROUP BY c.doc_a, c.doc_b)"""

  /** Batch oracle for first-writer-wins band dedup (the q27
    * restriction q206 streams): a doc is a near-dup iff it shares a
    * band with ANY smaller doc_id. */
  private[graft] lazy val bandDupBatchOracle: String = s"""
      $bandsDuck
      SELECT DISTINCT b.doc_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id"""

  /** MinHash near-dup detection with banded LSH (shingle → one md5 →
    * K double-hashed minima → B bands → capped equi-join candidates →
    * relational Jaccard verify). Output: pairs with Jaccard >= 1/4
    * (tested as integer arithmetic 4·inter >= union).
    *
    * Scale notes: candidates come from an equi-join on (band_idx,
    * band_val) — never an all-pairs product (plan-audited); buckets over
    * [[BucketCap]] are dropped before the self-join so a single hot band
    * value cannot go quadratic; the verify counts common shingles with a
    * second equi-join + groupBy (whole-stage codegen) instead of
    * collect_list'd sets and an interpreted O(|a|·|b|) HOF intersection.
    */
  val q27MinhashLsh = OpSpec(
    "q27_minhash_lsh",
    (s, dir) => {
      // ONLY the 64-bit hash pair is persisted and reused (signatures,
      // sizes, verify): 3 longs/row instead of shingle strings — smaller
      // cache, and every downstream shuffle/join keys on fixed-width
      // longs. The verify intersects (h1, h2) pairs, mirrored exactly in
      // the oracle's h12 CTE, so both engines see identical semantics
      // (a cross-string collision would need a 64-bit md5-prefix match
      // INSIDE one candidate pair).
      val hashed = hashedShingles(table(s, dir, "documents")).persist()
      val cand = cappedCandidates(bandRows(hashed).persist())
      val sizes = shingleSizes(hashed)
      sharedShingles(cand, hashed)
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
        // J >= 1/4  ⟺  4·inter >= union (pure integers — the q50/q55
        // discipline; no double-vs-DECIMAL-literal comparison anywhere)
        .filter(lit(4) * col("n_inter") >=
          col("sza") + col("szb") - col("n_inter"))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (col("sza") + col("szb") - col("n_inter")))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
    },
    Some(s"""
      $candDuck,
      $interDuck
      SELECT doc_a, doc_b, n_inter,
        CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 4 * n_inter >= sa.sz + sb.sz - n_inter"""))

  // ---- SimHash ------------------------------------------------------

  /** SimHash width. 60 bits = 15 md5 hex digits — wide enough that LSH
    * band values (~9 bits each, below) discriminate; the original 32-bit
    * form made every band a 4-5 bit key whose 2^4-2^5 value space turns
    * the candidate join quadratic. 60 (not 64) keeps the packed value
    * positive in a signed BIGINT in both engines. */
  private val SimBits = 60

  /** ±1 vote for bit `b` (0 = MSB) of the [[SimBits]]-bit hash held in
    * column/lambda var `h` (a precomputed md5 hex string — hashed ONCE
    * per shingle, not once per bit), derived via hex-digit arithmetic
    * portable to both engines. */
  private def bitTerm(b: Int, h: String = "h"): String = {
    val pos = b / 4 + 1           // 1-based hex digit index
    val p = 1 << (3 - (b % 4))    // weight of the bit inside the digit
    s"(2 * (CASE WHEN ((instr('0123456789abcdef', substring($h, $pos, 1)) - 1) % ${2 * p}) >= $p THEN 1 ELSE 0 END) - 1)"
  }

  private val shhDuck = "list_transform(sh, w -> md5(w))"

  /** Spark: per-document SimHash via explode + LANE-PACKED sum(long)
    * aggregates. Higher-order functions (aggregate/transform) always
    * evaluate interpreted — 60 of them per row cost minutes at sf0.1 —
    * so everything stays codegen'd: the md5's first 15 hex digits fold
    * into ONE 60-bit long per row, whose bits are then spread into 15
    * lane-longs (4 lanes × 16 bits each) summed per document. A lane
    * accumulates the per-bit set-count c_b; the sign-of-votes rule
    * `sum(±1) >= 0` is equivalently `2*c_b >= n` with n = count(*).
    * Versus one sum per bit this is 4× fewer aggregate buffers and ~4×
    * less per-row expression work; versus per-bit hex-digit extraction
    * it hashes and folds once. Lanes cap at 65535 shingles/doc (a 3-word
    * shingle set that large would be a ~70k-word document — far beyond
    * the caption/clip texts this models; overflow would need 2^16
    * distinct shingles in ONE doc). Bit-vote sums are order-independent
    * integer additions, so the result is engine-exact regardless of
    * shuffle order. */
  private val SimLanes = SimBits / 4
  private def simhashDf(s: SparkSession, dir: String): DataFrame = {
    val ex = shingleRows(s, dir)
      .withColumn("h", md5(col("shingle").cast("binary")))
      .withColumn("hval", expr(s"CAST(${hexToLong("h", 1, 15)} AS BIGINT)"))
    // lane j packs global bits 4j..4j+3 (MSB-first) at shifts 48/32/16/0
    def laneExpr(j: Int): String =
      (0 until 4).map { t =>
        val b = 4 * j + t
        s"(shiftleft(shiftright(hval, ${SimBits - 1 - b}) & 1, ${16 * (3 - t)}))"
      }.mkString("(", " + ", ")")
    val sums = ex
      .select(col("doc_id") +:
        (0 until SimLanes).map(j => expr(laneExpr(j)).as(s"l$j")): _*)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        (0 until SimLanes).map(j => sum(col(s"l$j")).as(s"l$j")): _*)
    // post-aggregate projection runs once per DOCUMENT, not per shingle
    val packed = (0 until SimBits).map { b =>
      val c = s"(shiftright(l${b / 4}, ${16 * (3 - b % 4)}) & 65535)"
      s"(CASE WHEN 2 * $c >= n THEN ${1L << (SimBits - 1 - b)} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    sums.select(col("doc_id"), expr(s"CAST($packed AS BIGINT)").as("simhash"))
  }

  /** DuckDB twin (lists are fine there — single-process, vectorized). */
  private def simhashDuck: String =
    (0 until SimBits).map { b =>
      val sum = s"CAST(list_sum(list_transform(shh, h -> ${bitTerm(b)})) AS BIGINT)"
      s"(CASE WHEN $sum >= 0 THEN ${1L << (SimBits - 1 - b)} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Per-document 60-bit SimHash over 3-word shingles. */
  val q28Simhash = OpSpec(
    "q28_simhash",
    (s, dir) => simhashDf(s, dir),
    Some(s"""
      WITH docs AS ($shingleDuck),
      hashed AS (SELECT doc_id, $shhDuck AS shh FROM docs)
      SELECT doc_id, CAST($simhashDuck AS BIGINT) AS simhash FROM hashed"""))

  /** 7 LSH bands over the 60-bit simhash: (index, LSB shift, mask).
    * Pigeonhole: <= 6 differing bits spread over 7 bands leave at least
    * one band identical, so the banded equi-join has perfect recall at
    * hamming <= 6 and the post-join hamming filter makes the band layout
    * invisible in the result. */
  private[graft] val simBands: Seq[(Int, Int, Long)] = {
    val widths = Seq(9, 9, 9, 9, 8, 8, 8) // sums to SimBits
    val shifts = widths.scanRight(0)(_ + _).tail
    widths.zip(shifts).zipWithIndex.map { case ((w, sh), j) =>
      (j, sh, (1L << w) - 1) }
  }

  /** SimHash near-dup pairs: query docs (doc_id % 10 = 0) against the
    * rest, Hamming distance <= 6. Candidates come from an equi-join on
    * (band_idx, band_val) — the cross product this query USED to run is
    * O(n²) at scale; the banded join is O(sum of bucket products) with
    * guaranteed recall (see [[simBands]]). */
  val q29SimhashPairs = OpSpec(
    "q29_simhash_pairs",
    (s, dir) => {
      val sims = simhashDf(s, dir).persist()
      // band values in a codegen'd projection; stack only re-shapes the
      // 7 precomputed columns (its children stay trivial — a Generate
      // node evaluates them interpreted)
      def withBands(df: DataFrame): DataFrame = {
        val bandCols = simBands.map { case (j, sh, mask) =>
          (shiftright(col("simhash"), sh).cast("long")
            .bitwiseAND(lit(mask))).as(s"b$j") }
        val stackArgs = simBands.map { case (j, _, _) => s"$j, b$j" }
          .mkString(", ")
        df.select(col("doc_id") +: col("simhash") +: bandCols: _*)
          .select(col("doc_id"), col("simhash"),
            expr(s"stack(${simBands.size}, $stackArgs) AS (band_idx, band_val)"))
      }
      val qa = withBands(sims.filter(col("doc_id") % 10 === 0))
        .select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
          col("band_idx"), col("band_val"))
      val qb = withBands(sims.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
          col("band_idx"), col("band_val"))
      qa.join(qb, Seq("band_idx", "band_val"))
        .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
        .distinct()
        .withColumn("hamming",
          expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
    // oracle: brute-force — band recall is exact at hamming <= 6, so the
    // banded join and the cross product define the same result set
    Some(s"""
      WITH docs AS ($shingleDuck),
      hashed AS (SELECT doc_id, $shhDuck AS shh FROM docs),
      sims AS (SELECT doc_id, CAST($simhashDuck AS BIGINT) AS simhash FROM hashed)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sims a JOIN sims b
        ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 6"""))

  /** Cumulative-count sweep over a (hamming, n) table for cutoffs
    * t ∈ [0,6]. LEFT join (not cross): the 7-row t domain must survive
    * an EMPTY pair set (all-distinct corpus) with n_pairs = 0, matching
    * the oracle's `LEFT JOIN hc ON true`. */
  def hammingSweep(s: org.apache.spark.sql.SparkSession,
      hcounts: DataFrame): DataFrame =
    s.range(7).select(col("id").as("t"))
      .join(broadcast(hcounts), lit(true), "left")
      .groupBy(col("t"))
      .agg(coalesce(sum(when(col("hamming") <= col("t"), col("n"))),
        lit(0L)).as("n_pairs"))

  /** q178: SimHash threshold sweep — the tuning readout for q29: how
    * many near-dup pairs each Hamming cutoff t ∈ [0,6] admits
    * (cumulative counts). A pipeline owner reads this curve to pick the
    * cutoff BEFORE committing a corpus-wide dedup pass (too low keeps
    * dups, too high scrubs distinct docs); the sweep stays within the
    * banded join's exact-recall region (≤ 6) so every count is a true
    * count, not an estimate. Reuses q29's pair generation verbatim and
    * sweeps on the aggregated per-Hamming counts — 7×7 rows of work on
    * top of the existing join, no new corpus pass. */
  val q178SimhashSweep = OpSpec(
    "q178_simhash_sweep",
    (s, dir) => hammingSweep(s,
      q29SimhashPairs.query(s, dir)
        .groupBy(col("hamming")).agg(count(lit(1)).as("n"))),
    Some(s"""
      WITH docs AS ($shingleDuck),
      hashed AS (SELECT doc_id, $shhDuck AS shh FROM docs),
      sims AS (SELECT doc_id, CAST($simhashDuck AS BIGINT) AS simhash
               FROM hashed),
      ph AS (
        SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
          AS hamming
        FROM sims a JOIN sims b
          ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 6),
      hc AS (SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n
             FROM ph GROUP BY 1)
      SELECT t,
        CAST(COALESCE(SUM(CASE WHEN hamming <= t THEN n END), 0)
             AS BIGINT) AS n_pairs
      FROM (SELECT CAST(UNNEST(range(0, 7)) AS BIGINT) AS t) g
      LEFT JOIN hc ON true
      GROUP BY t"""))

  // ---- Exact n-gram Jaccard join (prefix + positional filtering) -----

  /** `grows0`, `grows`, `sizes`: each doc's distinct word 2-grams,
    * hashed to 60-bit longs, and their count — the DuckDB gram rows of
    * the Jaccard (q50) and containment (q107, q257) oracles. */
  private val gramRowsDuck = s"""grows0 AS (
        SELECT DISTINCT doc_id, words[i] || ' ' || words[i + 1] AS gram
        FROM (SELECT doc_id, $wordsDuck AS words FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i)
        WHERE len(words) >= 2),
      grows AS (
        SELECT DISTINCT doc_id,
          CAST(${hexToLong("hx", 1, 15)} AS BIGINT) AS g
        FROM (SELECT doc_id, md5(gram) AS hx FROM grows0)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grows GROUP BY doc_id)"""

  /** q50's oracle CTE chain up to `inter` (candidate pairs + exact
    * intersection counts; `sizes` also in scope) — shared with q220's
    * SemDeDup cross-cluster miss audit, which reuses the lossless
    * truth verbatim. */
  private[ops] val q50OracleCtes: String = s"""$gramRowsDuck,
      freq AS (SELECT g, COUNT(*) AS df FROM grows GROUP BY g),
      prefix AS (
        SELECT doc_id, g, sz, rn FROM (
          SELECT w.doc_id, w.g, s.sz,
            CAST(ROW_NUMBER() OVER (PARTITION BY w.doc_id
              ORDER BY f.df ASC, w.g ASC) AS BIGINT) AS rn
          FROM grows w JOIN freq f USING (g) JOIN sizes s USING (doc_id))
        WHERE 3 * sz <= 4 * (sz - rn + 1)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b
          ON a.g = b.g AND a.doc_id < b.doc_id
         AND 4 * least(a.sz, b.sz) >= 3 * greatest(a.sz, b.sz)
         AND 7 * (1 + least(a.sz - a.rn, b.sz - b.rn)) >= 3 * (a.sz + b.sz)),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN grows x ON x.doc_id = c.doc_a
        JOIN grows y ON y.doc_id = c.doc_b AND y.g = x.g
        GROUP BY c.doc_a, c.doc_b)"""

  /** EXACT n-gram Jaccard near-dup join at threshold t = 3/4 — the
    * no-false-negative complement to the probabilistic LSH family
    * (q27/q29/q48): every pair with Jaccard >= t is returned, none
    * missed. t is a ratio of small integers, so EVERY threshold test
    * below is pure integer arithmetic (`4·x >= 3·y`) — no float
    * comparison anywhere; the output `jaccard` double is one exact-int
    * division, bit-identical across engines.
    *
    * Scale shape (the ppjoin discipline): candidates do NOT come from
    * "any shared gram" — one boilerplate bigram shared by f docs would
    * emit f²/2 pairs. Three exact filters gate the verify instead:
    *  1. PREFIX: each doc exposes only its |s| - ceil(t·|s|) + 1
    *     globally-rarest grams (order = document frequency asc, gram
    *     asc). The prefix lemma gives perfect recall: J >= t implies an
    *     overlap >= ceil(t·max(|a|,|b|)), which cannot avoid both
    *     prefixes. Hot grams sit at the END of the order and never
    *     generate candidates (measured: 12.5M raw pairs → 1.0M at
    *     sf0.1).
    *  2. SIZE: 4·min(|a|,|b|) >= 3·max — length-incompatible pairs
    *     never verify.
    *  3. POSITION: a match at prefix positions (pa, pb) bounds the
    *     overlap by 1 + min(|a|-pa, |b|-pb); require 7·bound >=
    *     3·(|a|+|b|) (i.e. bound >= ceil(t/(1+t)·(|a|+|b|))). The
    *     earliest common gram of a true pair always passes, so recall
    *     stays exact.
    * The verify joins each candidate pair to two per-document SORTED
    * gram-hash arrays and counts the intersection in one native
    * O(|a|+|b|) merge pass ([[graft.functions.SortedIntersectCount]]) —
    * per pair that is ~3 KB of bounded array payload and a fixed-width
    * scan, versus the relational intersect-count join whose
    * candidates×grams explosion measured 200M intermediate rows (7 s of
    * a 9.7 s query) at sf0.1. Per-doc prefix ranking is a doc_id-
    * partitioned window — millions of small partitions, no global sort.
    *
    * Join keys are the grams' md5 hex folded to 60-bit longs (hashed
    * ONCE per gram; the q27 technique — measured 2.5x on this query):
    * every shuffle, join probe and aggregate buffer is fixed-width
    * instead of a 15-25 byte string. The global prefix order becomes
    * (df, g) — any consistent total order satisfies the prefix lemma —
    * and the oracle folds the identical hash, so both engines see the
    * same semantics (a cross-gram collision would need a 60-bit
    * md5-prefix match INSIDE one document or candidate pair; the
    * distinct() guard keeps even that exact per-doc). */
  val q50NgramJaccard = OpSpec(
    "q50_ngram_jaccard",
    (s, dir) => {
      // persisted: the hashed gram rows feed sizing, frequency, prefix,
      // and the verify; released by the harness's clearCache
      val grams = gramRows(s, dir, 2)
        .withColumn("hx", md5(col("gram").cast("binary")))
        .select(col("doc_id"),
          expr(s"CAST(${hexToLong("hx", 1, 15)} AS BIGINT)").as("g"))
        .distinct()
        .persist()
      // one agg yields both the doc's sorted gram-hash array (verify
      // payload) and its size; bounded by document length
      val docArr = grams.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("g"))).as("arr"),
          count(lit(1)).as("sz"))
        .persist()
      val sizes = docArr.select(col("doc_id"), col("sz"))
      val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df").asc, col("g").asc)
      val prefix = grams.join(freq, "g").join(sizes, "doc_id")
        .withColumn("rn", row_number().over(w).cast("long"))
        // rn <= sz - ceil(3·sz/4) + 1  ⟺  3·sz <= 4·(sz - rn + 1)
        .filter(lit(3) * col("sz") <= lit(4) * (col("sz") - col("rn") + 1))
        .select(col("doc_id"), col("g"), col("sz"), col("rn"))
      val cand = prefix.as("a")
        .join(prefix.as("b"),
          col("a.g") === col("b.g") &&
            col("a.doc_id") < col("b.doc_id") &&
            lit(4) * least(col("a.sz"), col("b.sz")) >=
              lit(3) * greatest(col("a.sz"), col("b.sz")) &&
            lit(7) * (lit(1) + least(col("a.sz") - col("a.rn"),
              col("b.sz") - col("b.rn"))) >=
              lit(3) * (col("a.sz") + col("b.sz")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(docArr.select(col("doc_id").as("doc_a"),
          col("arr").as("arra"), col("sz").as("sza")), "doc_a")
        .join(docArr.select(col("doc_id").as("doc_b"),
          col("arr").as("arrb"), col("sz").as("szb")), "doc_b")
        .withColumn("n_inter", graft.functions.VectorFunctions
          .sortedIntersectCount(col("arra"), col("arrb")))
        // J >= 3/4  ⟺  4i >= 3(s-i)  ⟺  7i >= 3s: the single-reference
        // form matters — Catalyst folds this filter into the join
        // condition, and every reference to n_inter there re-runs the
        // whole merge pass per candidate pair
        .filter(lit(7) * col("n_inter") >=
          lit(3) * (col("sza") + col("szb")))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (col("sza") + col("szb") - col("n_inter")))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
    },
    Some(s"""
      WITH $q50OracleCtes
      SELECT doc_a, doc_b, n_inter,
        CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 7 * n_inter >= 3 * (sa.sz + sb.sz)"""))

  // ---- Duplicate clusters (connected components) ----------------------

  /** Distributed connected components over an UNDIRECTED pair list
    * (exactly two columns: the node ids). Returns one row per node
    * appearing in any pair: (doc_id, cluster) with cluster = the
    * component's minimum id. Each round does min-label propagation
    * along edges (one equi-join + min-aggregate — the Pregel form of
    * distributed CC) PLUS a pointer jump (label := label's label), so
    * rounds are O(log diameter) instead of O(diameter) — measured 11 s
    * → ~5 s at sf0.1, where dup chains make plain propagation walk
    * every hop.
    *
    * Iteration state lives behind eager localCheckpoint()s, NOT
    * persist(): a cached DataFrame keeps its full logical plan (the
    * cache is substituted at physical planning), so every round's
    * analysis re-walks the pair-producing plan — embedded twice by the
    * union, and the pointer-jump self-join would DOUBLE the plan again
    * every round. With a plan the size of q27's, that made ANALYSIS,
    * not execution, the cost: ~40 s of driver time per round
    * (measured). Checkpointing truncates each round's plan to a scan of
    * materialized blocks; superseded rounds' blocks (a few longs per
    * graph node) become unreachable on reassignment and are released by
    * the ContextCleaner — clearCache() does not govern them. Labels are
    * strictly monotone decreasing, so the loop terminates with or
    * without the safety cap. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    require(pairs.columns.length == 2,
      s"connectedComponents expects exactly two node-id columns, got " +
        s"(${pairs.columns.mkString(", ")})")
    val Seq(a, b) = pairs.columns.toSeq
    val p = pairs.localCheckpoint() // pairs computed exactly once
    val edges = p.union(p.select(col(b), col(a)))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      val hop = labels.join(viaEdges, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
      // pointer jump: follow the label one more step (label's label);
      // the previous round's label rides along so the convergence count
      // is one cheap scan of the checkpointed blocks, not a second
      // labels-join job per round
      val next = hop.join(
        hop.select(col("doc_id").as("label"), col("label").as("ll")),
        Seq("label"), "left")
        .select(col("doc_id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label")))
            .as("label"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("doc_id"), col("label"))
      rounds += 1
    }
    labels.select(col("doc_id"), col("label").as("cluster"))
  }

  /** Near-dup PAIRS → duplicate CLUSTERS: [[connectedComponents]] over
    * the q27 MinHash pair graph, each doc labeled with its component's
    * min doc_id (the canonical survivor) plus the cluster size — the
    * final step of a real dedup pipeline (pairs alone can't drive "keep
    * one per group" when dups chain A~B~C). Near-dup components are
    * shallow by construction (dups of one source chain through it), so
    * the log-diameter loop converges in a couple of rounds. The oracle
    * walks the same edges with a recursive CTE — both engines produce
    * the unique canonical labeling, so the compare is order-
    * independent. */
  val q51DedupClusters = OpSpec(
    "q51_dedup_clusters",
    (s, dir) => {
      val labels = connectedComponents(
        q27MinhashLsh.query(s, dir).select(col("doc_a"), col("doc_b")))
      val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
      labels.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("csize"))
    },
    Some(s"""
      WITH RECURSIVE
      pairs AS (SELECT doc_a, doc_b FROM (${q27MinhashLsh.oracle.get})),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      verts AS (SELECT DISTINCT src AS doc_id FROM edges),
      cc AS (
        SELECT doc_id, doc_id AS label FROM verts
        UNION
        SELECT e.dst AS doc_id, c.label
        FROM cc c JOIN edges e ON e.src = c.doc_id
        WHERE c.label < e.dst),
      lab AS (SELECT doc_id, min(label) AS cluster FROM cc GROUP BY doc_id),
      sizes AS (SELECT cluster, COUNT(*) AS csize FROM lab GROUP BY cluster)
      SELECT l.doc_id, l.cluster, s.csize
      FROM lab l JOIN sizes s USING (cluster)"""))

  // ---- Incremental ingest dedup (new batch vs existing corpus) --------

  /** The per-corpus artifacts an incremental-dedup ingest joins against
    * — everything derivable from corpus TEXT, precomputed, so an ingest
    * never re-reads or re-hashes the corpus:
    *  - `hashes`  (doc_id, h): exact-tier content hashes;
    *  - `shingles` (doc_id, h1, h2): hashed shingle rows (Jaccard
    *    verify payload);
    *  - `bands`   (doc_id, band_idx, band_val): LSH candidate keys;
    *  - `sizes`   (doc_id, sz): shingle-set sizes for the union term.
    * At 100 TB these persist ONCE via [[writeCorpusIndex]] (bucketed on
    * their join keys) and every daily batch joins against the tables —
    * per-ingest cost scales with the batch, never the corpus. */
  final case class CorpusIndex(hashes: DataFrame, shingles: DataFrame,
      bands: DataFrame, sizes: DataFrame, bandCounts: DataFrame)

  /** Build a [[CorpusIndex]] from raw (doc_id, text) documents — the
    * one corpus-text pass. `bandCounts` is precomputed here: the bucket
    * cap needs corpus bucket populations, and aggregating them per
    * ingest would be corpus-sized compute on every batch. */
  def buildCorpusIndex(docs: DataFrame): CorpusIndex = {
    val shingles = hashedShingles(docs)
    corpusIndexOf(docs, shingles, bandRows(shingles))
  }

  /** The [[CorpusIndex]] of `docs` over its shingle and band rows
    * (cached by a caller that reuses them) — the one derivation build,
    * append and ingest share. */
  private def corpusIndexOf(docs: DataFrame, shingles: DataFrame,
      bands: DataFrame): CorpusIndex =
    CorpusIndex(
      docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h")),
      shingles, bands, shingleSizes(shingles),
      bands.groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("ccnt")))

  /** Persist a [[CorpusIndex]] as bucketed+sorted tables
    * ([[graft.io.Sinks.bucketedTable]]) named `<prefix>_hashes` /
    * `_shingles` / `_bands` / `_sizes` under `path`. Each table buckets
    * on the key its ingest-side join probes with, so the corpus side of
    * every join is pre-shuffled on disk. */
  def writeCorpusIndex(idx: CorpusIndex, prefix: String, path: String,
      buckets: Int = 32): Unit = {
    // every physical table carries the ingest_batch maintenance tag
    // (-1 = batch build; declared in CorpusIndexTables); idempotent
    // streaming appends key on it and readCorpusIndex drops it on open.
    // One corpus-text pass for all five writes: shingles/bands cached
    // and MATERIALIZED first (four of the five tables re-derive from
    // them — unpersisted, each write re-ran the scan+shingle+minhash
    // lineage), then the independent table writes overlap (guide §2.6;
    // CacheManager matches the cached subtrees inside the derived
    // sizes/bandCounts plans)
    val sh = idx.shingles.persist()
    val bd = idx.bands.persist()
    try {
      bd.count() // computes shingles then bands — both caches warm
      IndexLifecycle.writeTables(CorpusIndexTables, prefix, path,
        buckets)(corpusRows(idx): _*)
    } finally { bd.unpersist(); sh.unpersist() }
  }

  /** A [[CorpusIndex]]'s frames by declared table suffix. */
  private def corpusRows(i: CorpusIndex): Seq[(String, DataFrame)] =
    Seq("hashes" -> i.hashes, "shingles" -> i.shingles,
      "bands" -> i.bands, "sizes" -> i.sizes, "bandcounts" -> i.bandCounts)

  /** The open-time fold of the band-count partials. */
  private def foldBandCounts(partials: DataFrame): DataFrame =
    partials.groupBy(col("band_idx"), col("band_val"))
      .agg(sum(col("ccnt")).as("ccnt"))

  private def openCorpusIndex(m: Map[String, DataFrame]): CorpusIndex =
    CorpusIndex(m("hashes"), m("shingles"), m("bands"), m("sizes"),
      foldBandCounts(m("bandcounts")))

  /** Re-open a persisted [[CorpusIndex]] by table-name prefix.
    * `bandCounts` is normalized through a keyed sum because
    * [[appendToCorpusIndex]] adds PARTIAL count rows per ingest batch
    * (pure inserts — never a corpus-sized rewrite); for a never-
    * appended index the sum is the identity. */
  def readCorpusIndex(s: SparkSession, prefix: String): CorpusIndex =
    openCorpusIndex(IndexLifecycle.readTables(s, CorpusIndexTables, prefix,
      prefix, live = false))

  /** Fold an ACCEPTED ingest batch into a persisted [[CorpusIndex]]
    * without rebuilding it — the maintenance half of the q55 story
    * (after a batch passes [[incrementalDedup]] and its `keep` rows
    * are admitted, the index must reflect them or the next batch
    * dedups against a stale corpus; the reference's done-set
    * discipline, aesthetic_score.py:98, is this same "the index must
    * reflect what's already processed" rule). Every artifact of a
    * CorpusIndex is per-doc (hashes/shingles/bands/sizes) or
    * additively mergeable (bandCounts), so an append is INSERT-only:
    * the batch's artifacts — derived from batch text alone — are
    * appended to the bucketed tables ([[graft.io.Sinks
    * .appendBucketedTable]]); bandCounts gains partial rows that
    * [[readCorpusIndex]] sums at open. Cost scales with the batch,
    * never the corpus, and prior corpus text is never re-scanned
    * (plan-audited in the spec). The invariant spec proves
    * build(all) == build(part) + append(rest) table-for-table.
    *
    * A streaming caller passes its micro-batch id in `batchId`: each
    * of the five table appends then commits the id atomically with its
    * rows and skips on replay
    * ([[graft.io.Sinks.appendBucketedTableIdempotent]]). The check is
    * PER TABLE on purpose — a crash partway through the five appends
    * leaves a torn batch (some tables written, some not), and the
    * replay must fill exactly the missing tables without re-appending
    * the committed ones. */
  def appendToCorpusIndex(newDocs: DataFrame, prefix: String,
      path: String, buckets: Int = 32,
      batchId: Option[Long] = None): Unit = {
    val shingles = hashedShingles(newDocs).persist()
    val bands = bandRows(shingles).persist()
    val fresh = corpusIndexOf(newDocs, shingles, bands)
    try {
      // materialize the shared caches once (bands computes shingles
      // too), then overlap the five independent per-table appends
      // (guide §2.6). The torn-batch replay contract is unchanged:
      // each append stays atomic per table, and the doc comment above
      // already argues recovery from ANY committed-subset — ordering
      // among the five was never load-bearing.
      bands.count()
      // with a batch id: ONE fused tier-1 tag probe for all five
      // tables per micro-batch instead of five LIMIT-1 jobs (guide §1 —
      // per-job driver latency dominated the streaming ingest)
      IndexLifecycle.appendTables(newDocs.sparkSession, CorpusIndexTables,
        prefix, path, buckets, batchId)(corpusRows(fresh): _*)
    } finally { bands.unpersist(); shingles.unpersist() }
  }

  /** Carve a takedown set out of a [[CorpusIndex]] — the
    * right-to-be-forgotten half of index maintenance (opt-outs, DMCA
    * takedowns, quality recalls must stop matching IMMEDIATELY, not at
    * the next rebuild). Per-doc artifacts (hashes/shingles/bands/
    * sizes) are masked with a broadcast anti-join (takedown batches
    * are small relative to a corpus); `bandCounts` — the one
    * aggregate — is corrected by SUBTRACTING the dead docs' band
    * contributions, computed from the stored bands alone (cost ∝
    * takedown batch, never the corpus). A purged doc therefore counts
    * nowhere: not as an exact-tier hash, not as a candidate, and not
    * toward the bucket-cap population its bands used to inflate. */
  def purgeCorpusView(corpus: CorpusIndex, dead: DataFrame): CorpusIndex = {
    val d = broadcast(dead.select(col("doc_id")).distinct())
    def mask(df: DataFrame) = df.join(d, Seq("doc_id"), "left_anti")
    val removed = corpus.bands.join(d, Seq("doc_id"), "left_semi")
      .groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("dcnt"))
    val counts = corpus.bandCounts
      .join(removed, Seq("band_idx", "band_val"), "left")
      .na.fill(0L, Seq("dcnt"))
      .select(col("band_idx"), col("band_val"),
        (col("ccnt") - col("dcnt")).as("ccnt"))
      .filter(col("ccnt") > 0)
    CorpusIndex(mask(corpus.hashes), mask(corpus.shingles),
      mask(corpus.bands), mask(corpus.sizes), counts)
  }

  /** Persisted purge: tombstone the ids (insert-only, idempotent —
    * already-tombstoned ids are dropped so a retried takedown never
    * double-subtracts) and append NEGATIVE partial rows to
    * `<prefix>_bandcounts` for the dead docs' band contributions —
    * the same additive-partials trick [[appendToCorpusIndex]] uses
    * for inserts, so [[readCorpusIndex]]'s open-time sum folds
    * deletions in with zero rewrite. Per-doc tables keep the dead
    * rows until [[vacuumCorpusIndex]]; [[readCorpusIndexLive]] masks
    * them meanwhile.
    *
    * Append ORDER is the crash-safety argument: tombstones land FIRST,
    * and the negatives are computed from the ids newly tombstoned in
    * THIS call (the batch snapshot is pinned by the persist +
    * materialize below, so the tombstone append cannot feed back into
    * it). A crash between the two appends followed by a retry then
    * re-computes an EMPTY batch and appends nothing — the failure mode
    * is band counts left slightly INFLATED until the next vacuum
    * rebuilds them, which is conservative (a bucket may trip
    * [[BucketCap]] a little early; `ccnt > 0` keeps an emptied band
    * readable as a harmless empty join). The reverse order would let a
    * retry double-subtract, driving `ccnt` to zero or negative and
    * silently DROPPING bands that still hold live docs — missed
    * candidates, the non-conservative direction. */
  def purgeFromCorpusIndex(s: SparkSession, dead: DataFrame,
      prefix: String, path: String): Unit = {
    val tomb = IndexLifecycle.tombstoneTable(prefix)
    val dAll = dead.select(col("doc_id")).distinct()
    val d = (if (s.catalog.tableExists(tomb))
        dAll.join(s.table(tomb), Seq("doc_id"), "left_anti")
      else dAll).persist()
    try {
      // pin the newly-dead snapshot BEFORE touching the tombstone
      // table: d's plan reads it, and the append below writes it —
      // materializing the (takedown-batch-sized) cache first keeps the
      // negatives below derived from exactly this call's ids
      d.count()
      IndexLifecycle.appendTombstones(CorpusIndexTables, d, prefix, path)
      val neg = s.table(s"${prefix}_bands")
        .join(broadcast(d), Seq("doc_id"), "left_semi")
        .groupBy(col("band_idx"), col("band_val"))
        .agg((-count(lit(1))).as("ccnt"))
      val (_, _, n) = Sinks.tableLayout(s, s"${prefix}_bandcounts")
      IndexLifecycle.appendTables(s, CorpusIndexTables, prefix, path, n)(
        "bandcounts" -> neg)
    } finally d.unpersist()
  }

  /** Open a persisted index with tombstones applied. `bandCounts`
    * needs no mask — the negative partials are already folded in by
    * [[readCorpusIndex]]'s open-time sum (zeroed buckets are dropped
    * to match what a scratch build would contain). */
  def readCorpusIndexLive(s: SparkSession, prefix: String): CorpusIndex = {
    val idx = openCorpusIndex(IndexLifecycle.readTables(s,
      CorpusIndexTables, prefix, prefix, live = true))
    idx.copy(bandCounts = idx.bandCounts.filter(col("ccnt") > 0))
  }

  /** Fold tombstones into the physical tables
    * ([[IndexLifecycle.vacuum]]: each table staged at `newPath/<suffix>`
    * and re-pointed in ONE statement once its write commits, the five
    * swaps overlapped, then the tombstones dropped). `bandcounts` is
    * rewritten from its folded live sum, so the negative partials are
    * reclaimed too. The spec proves vacuum == build-from-survivors
    * table-for-table. */
  def vacuumCorpusIndex(s: SparkSession, prefix: String,
      newPath: String): Unit =
    IndexLifecycle.vacuum(s, CorpusIndexTables, prefix, prefix,
      sfx => s"$newPath/$sfx", Map("bandcounts" ->
        foldBandCounts(s.table(s"${prefix}_bandcounts"))
          .filter(col("ccnt") > 0)))

  /** Incremental ingest dedup of a NEW batch against an existing corpus
    * index: every join is BIPARTITE (new×corpus), so the corpus is
    * never re-deduped against itself — and with a persisted index the
    * corpus TEXT is never even scanned (plan-audited in OperatorSpec).
    *
    * Verdict per new doc, first match wins:
    *  - `exact_dup`: content hash already present in the corpus (X1);
    *  - `near_dup`: shares a MinHash band with a corpus doc (combined
    *    bucket ≤ [[BucketCap]]) AND the relational Jaccard verify
    *    confirms >= 1/4 (integer arithmetic, 4·inter >= union);
    *  - `keep`: novel content. */
  def incrementalDedup(newDocs: DataFrame, corpus: CorpusIndex): DataFrame = {
    val shingles = hashedShingles(newDocs).persist()
    // persisted: the K-min signature aggregate behind bandRows is the
    // batch's dominant cost and is referenced by both the cap and the
    // candidate join — unpersisted it would re-run per reference
    val bands = bandRows(shingles).persist()
    val fresh = corpusIndexOf(newDocs, shingles, bands)
    incrementalDedupFrom(newDocs.select(col("doc_id")), fresh, corpus)
  }

  /** [[incrementalDedup]] core over prebuilt batch artifacts — shared by
    * the raw-batch entry point above and the q55 oracle instance (which
    * derives BOTH sides from one persisted shingle pass). */
  private def incrementalDedupFrom(newIds: DataFrame, fresh: CorpusIndex,
      corpus: CorpusIndex): DataFrame = {
    val newShingles = fresh.shingles
    val newBands = fresh.bands
    // exact tier: one hash-semi-join against the corpus's hash set
    val exactDup = fresh.hashes
      .join(corpus.hashes.select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"))
    // bucket cap on the COMBINED (corpus + batch) bucket population —
    // identical semantics to capping a unified band table; corpus-side
    // populations come PRECOMPUTED from the index (aggregating them
    // here would be corpus-sized compute on every ingest), batch-side
    // from the caller-built fresh index
    val okBuckets = corpus.bandCounts
      .join(fresh.bandCounts.withColumnRenamed("ccnt", "ncnt"),
        Seq("band_idx", "band_val"))
      .filter(col("ccnt") + col("ncnt") <= BucketCap)
      .select(col("band_idx"), col("band_val"))
    val cand = newBands.join(okBuckets, Seq("band_idx", "band_val")).as("a")
      .join(corpus.bands.join(okBuckets, Seq("band_idx", "band_val")).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    val nearDup = cand
      .join(newShingles.select(col("doc_id").as("new_id"), col("h1"), col("h2")),
        "new_id")
      .join(corpus.shingles.select(col("doc_id").as("old_id"), col("h1"), col("h2")),
        Seq("old_id", "h1", "h2"))
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(fresh.sizes.select(col("doc_id").as("new_id"), col("sz").as("sza")), "new_id")
      .join(corpus.sizes.select(col("doc_id").as("old_id"), col("sz").as("szb")), "old_id")
      // J >= 1/4  ⟺  4·inter >= sza + szb - inter
      .filter(lit(4) * col("n_inter") >=
        col("sza") + col("szb") - col("n_inter"))
      .select(col("new_id").as("doc_id")).distinct()
    newIds
      .join(exactDup.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1L, "exact_dup")
          .when(col("is_near") === 1L, "near_dup")
          .otherwise("keep").as("verdict"))
  }

  /** The q55 incremental-dedup oracle, parameterized by the new-batch
    * and corpus membership predicates (each a function of a qualified
    * doc_id column reference). q55 splits documents 1-in-10 vs rest;
    * q211 additionally carves a purged set OUT of the corpus side —
    * purged docs must count nowhere: not as exact-tier hashes, not as
    * band candidates, and not toward the bucket-cap populations. */
  private def incrementalDedupOracleSql(newPred: String => String,
      corpusPred: String => String): String = s"""
      $bandsDuck,
      ok AS (SELECT band_idx, band_val FROM bands
             WHERE (${newPred("doc_id")}) OR (${corpusPred("doc_id")})
             GROUP BY 1, 2 HAVING COUNT(*) <= $BucketCap),
      capped AS (SELECT bands.* FROM bands JOIN ok USING (band_idx, band_val)),
      exact_dup AS (
        SELECT DISTINCT n.doc_id
        FROM (SELECT doc_id, md5(text) AS h FROM documents
              WHERE ${newPred("doc_id")}) n
        SEMI JOIN (SELECT DISTINCT md5(text) AS h FROM documents
                   WHERE ${corpusPred("doc_id")}) c USING (h)),
      cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        WHERE (${newPred("a.doc_id")}) AND (${corpusPred("b.doc_id")})),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM h12 GROUP BY doc_id),
      near_dup AS (
        SELECT DISTINCT new_id AS doc_id FROM (
          SELECT c.new_id, c.old_id, COUNT(*) AS n_inter
          FROM cand c
          JOIN h12 x ON x.doc_id = c.new_id
          JOIN h12 y ON y.doc_id = c.old_id AND y.h1 = x.h1 AND y.h2 = x.h2
          GROUP BY c.new_id, c.old_id) i
        JOIN sizes sa ON sa.doc_id = i.new_id
        JOIN sizes sb ON sb.doc_id = i.old_id
        WHERE 4 * i.n_inter >= sa.sz + sb.sz - i.n_inter)
      SELECT d.doc_id,
        CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
             WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
             ELSE 'keep' END AS verdict
      FROM (SELECT doc_id FROM documents WHERE ${newPred("doc_id")}) d
      LEFT JOIN exact_dup e ON e.doc_id = d.doc_id
      LEFT JOIN near_dup nd ON nd.doc_id = d.doc_id"""

  /** q55/q211's two sides of one document set, from one hashed-shingle
    * pass and its band rows: `side(p)` is the [[CorpusIndex]] of the
    * docs matching `p`. */
  private def corpusSides(docs: DataFrame, hashed: DataFrame,
      bands: DataFrame): Column => CorpusIndex = {
    val sizes = shingleSizes(hashed)
    val hashes = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h"))
    p => CorpusIndex(
      hashes.filter(p), hashed.filter(p), bands.filter(p), sizes.filter(p),
      bands.filter(p).groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("ccnt")))
  }

  /** Incremental ingest dedup, oracle instance: a NEW batch
    * (doc_id % 10 = 0 stands in for today's shard) deduped against the
    * EXISTING corpus (the rest) through [[incrementalDedup]] with an
    * inline-built index. */
  val q55IncrementalDedup = OpSpec(
    "q55_incremental_dedup",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val isNew = col("doc_id") % 10 === 0
      // both sides derive from ONE persisted shingle pass (building two
      // independent CorpusIndexes would scan + hash the documents twice
      // — measured +1.4 s at sf0.1); bands persisted too: the K-min
      // signature aggregate is referenced by both sides' band tables
      // and counts
      val hashed = hashedShingles(docs).persist()
      val side = corpusSides(docs, hashed, bandRows(hashed).persist())
      incrementalDedupFrom(docs.filter(isNew).select(col("doc_id")),
        side(isNew), side(!isNew))
    },
    Some(incrementalDedupOracleSql(
      c => s"$c % 10 = 0", c => s"$c % 10 <> 0")))

  /** q211: ingest dedup against a PURGED corpus — the gated proof that
    * a takedown actually stops matching. The q55 trajectory, except a
    * quarter of the corpus (doc_id % 4 = 1, the takedown set) is
    * carved out via [[purgeCorpusView]] before the batch arrives. The
    * oracle rebuilds the ground truth with those docs absent from the
    * corpus side everywhere — exact tier, candidate join, AND the
    * bucket-cap populations (the subtlest obligation: a purged doc's
    * bands must stop inflating bucket counts, or caps misfire) —
    * while the batch side is untouched. A batch doc whose only
    * duplicate was purged must come back `keep`: forgotten means
    * forgotten. */
  val q211PurgedDedup = OpSpec(
    "q211_purged_dedup",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val isNew = col("doc_id") % 10 === 0
      val hashed = hashedShingles(docs).persist()
      val side = corpusSides(docs, hashed, bandRows(hashed).persist())
      val dead = docs.filter(col("doc_id") % 4 === 1).select(col("doc_id"))
      incrementalDedupFrom(docs.filter(isNew).select(col("doc_id")),
        side(isNew), purgeCorpusView(side(!isNew), dead))
    },
    Some(incrementalDedupOracleSql(
      c => s"$c % 10 = 0", c => s"$c % 10 <> 0 AND $c % 4 <> 1")))

  // ---- Train/eval decontamination -------------------------------------

  /** Grams present in more than this many documents are ignored by the
    * contamination check: a boilerplate 3-gram shared corpus-wide says
    * nothing about test leakage, and — exactly like [[BucketCap]] — a
    * hot gram would make the bipartite join quadratic. */
  private val GramDfCap = 1000L

  /** Train/eval DECONTAMINATION — the check every LLM training pipeline
    * must run before shipping a dataset: find training documents that
    * overlap a held-out benchmark set (here doc_id % 25 = 7 stands in
    * for the eval set) in >= 5 distinct 3-gram shingles. The industry
    * recipe is exactly this n-gram-overlap scan (WebText/GPT-style
    * 8-13-gram matching, scaled to this corpus's short documents).
    *
    * Round-7 bench flagged +35 % here; a controlled A/B (10 interleaved
    * solo-JVM min-of-2 runs at sf0.1, round-6 tree vs round-8 tree,
    * 2026-08-15) measured round-6 min 2.84 s vs current min 2.33 s —
    * the code is not slower; the in-suite number was host-band drift.
    *
    * Shape: one shared shingle-hash pass; document-frequency cap drops
    * corpus-wide boilerplate grams ([[GramDfCap]]); the join is
    * BIPARTITE train×eval on fixed-width hash pairs, so cost scales
    * with the eval set's gram postings, never train². Output: one row
    * per contaminated training doc with the breadth (how many eval
    * docs) and depth (max shared grams) of the leak. */
  val q58Decontamination = OpSpec(
    "q58_decontamination",
    (s, dir) => {
      val isEval = col("doc_id") % 25 === 7
      val hashed = hashedShingles(table(s, dir, "documents")).persist()
      val okGrams = hashed.groupBy(col("h1"), col("h2"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= GramDfCap)
        .select(col("h1"), col("h2"))
      val ok = hashed.join(okGrams, Seq("h1", "h2"))
      ok.filter(!isEval)
        .select(col("doc_id").as("train_id"), col("h1"), col("h2"))
        .join(ok.filter(isEval)
          .select(col("doc_id").as("eval_id"), col("h1"), col("h2")),
          Seq("h1", "h2"))
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 5)
        .groupBy(col("train_id"))
        .agg(count(lit(1)).as("n_eval_docs"), max(col("overlap")).as("max_overlap"))
        .select(col("train_id").as("doc_id"), col("n_eval_docs"),
          col("max_overlap"))
    },
    Some(s"""
      $h12Duck,
      okg AS (SELECT h1, h2 FROM h12 GROUP BY h1, h2
              HAVING COUNT(*) <= $GramDfCap),
      ok AS (SELECT h12.* FROM h12 SEMI JOIN okg USING (h1, h2)),
      ov AS (
        SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS overlap
        FROM ok t JOIN ok e ON t.h1 = e.h1 AND t.h2 = e.h2
        WHERE t.doc_id % 25 <> 7 AND e.doc_id % 25 = 7
        GROUP BY 1, 2
        HAVING COUNT(*) >= 5)
      SELECT train_id AS doc_id, COUNT(*) AS n_eval_docs,
             max(overlap) AS max_overlap
      FROM ov GROUP BY 1"""))

  /** (doc_id, 5-gram) DuckDB rows — the q68 shingle width (wider than
    * the 3-gram near-dup shingles: coverage wants specific phrases, not
    * topical overlap). */
  private val gram5Duck = s"""
    SELECT DISTINCT doc_id,
      words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] || ' '
        || words[i + 3] || ' ' || words[i + 4] AS gram
    FROM (SELECT doc_id, $wordsDuck AS words FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(words) - 4)) AS i)
    WHERE len(words) >= 5"""

  /** Shingle-duplication coverage — the scalable approximation of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): per document, the fraction of
    * its distinct 5-gram shingles that also occur in at least one OTHER
    * document. High coverage = the document is assembled from corpus-
    * repeated phrasing even when no single whole-doc near-dup exists.
    *
    * Scale shape: shingles are folded to fixed-width longs (md5 12-hex
    * fold — the [[hexToLong]] discipline), document-frequency is one
    * map-side-combined groupBy on the long key, and the per-doc rollup
    * joins rows→counts on that same key — two hash shuffles of narrow
    * rows, nothing quadratic, no string keys in any exchange. The
    * verdict threshold is pure integer arithmetic (2·shared > total ⟺
    * coverage > 1/2). */
  val q68DupCoverage = OpSpec(
    "q68_dup_coverage",
    (s, dir) => {
      val g = gramRows(s, dir, 5)
        .withColumn("hx", md5(col("gram").cast("binary")))
        .select(col("doc_id"),
          expr(s"CAST(${hexToLong("hx", 1, 12)} AS BIGINT)").as("h"))
      // document frequency via count-over-hash window (ordered + full
      // frame → one Window operator): the gram pipeline (regex split +
      // md5 fold) runs ONCE, vs the groupBy+self-join shape that
      // recomputes it per consumer (measured 3.8 s → the window form
      // shuffles the narrow (doc_id, h) rows exactly once before the
      // per-doc rollup)
      val wH = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val per = g.withColumn("cnt", count(lit(1)).over(wH))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("cnt") >= 2, lit(1))).as("n_shared"))
      table(s, dir, "documents").select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("dup_coverage", expr(
          """CASE WHEN n_shingles = 0 THEN 0e0
             ELSE CAST(n_shared AS DOUBLE) / n_shingles END"""))
        .withColumn("verdict", expr(
          "CASE WHEN 2 * n_shared > n_shingles THEN 'drop' ELSE 'keep' END"))
    },
    Some(s"""
      WITH g AS (
        SELECT doc_id, CAST(${hexToLong("hx", 1, 12)} AS BIGINT) AS h
        FROM (SELECT doc_id, md5(gram) AS hx FROM ($gram5Duck))),
      df AS (SELECT h, COUNT(*) AS cnt FROM g GROUP BY h),
      per AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          CAST(COUNT(CASE WHEN cnt >= 2 THEN 1 END) AS BIGINT) AS n_shared
        FROM g JOIN df USING (h) GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(n_shingles, 0) AS n_shingles,
        COALESCE(n_shared, 0) AS n_shared,
        CASE WHEN COALESCE(n_shingles, 0) = 0 THEN 0e0
             ELSE CAST(COALESCE(n_shared, 0) AS DOUBLE)
                  / COALESCE(n_shingles, 0) END AS dup_coverage,
        CASE WHEN 2 * COALESCE(n_shared, 0) > COALESCE(n_shingles, 0)
             THEN 'drop' ELSE 'keep' END AS verdict
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""))

  /** Words per dedup block of q69 (the "paragraph" granularity — the
    * corpus has no newlines, so fixed 16-word blocks stand in for the
    * paragraph splitter; `blockDedup` below takes the real splitter). */
  private val BlockWords = 16

  /** Block-level (paragraph) dedup + document reconstruction — the
    * Dolma/RefinedWeb pass that strips repeated boilerplate blocks
    * (headers, footers, license banners) from otherwise-unique
    * documents, where whole-doc dedup sees nothing. First GLOBAL
    * occurrence of a block survives (ordered by (doc_id, block_idx) —
    * deterministic under retries); each document is re-assembled from
    * its surviving blocks in original order.
    *
    * Scale shape: one window shuffle keyed by the block digest (fixed-
    * width md5), one groupBy doc_id for reconstruction; the ordered
    * re-assembly is sort_array/string_agg-ORDER-BY — pinned row order
    * in both engines, because unordered concat is exactly the
    * nondeterminism that silently corrupts training text at scale. */
  val q69BlockDedup = OpSpec(
    "q69_block_dedup",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bh")).orderBy(col("doc_id"), col("block_idx"))
      table(s, dir, "documents")
        .withColumn("words", expr(TextOps.wordsSpark))
        .withColumn("n", expr("CAST(size(words) AS BIGINT)"))
        .withColumn("block_idx", explode(expr(
          s"sequence(0, (n + ${BlockWords - 1}) DIV $BlockWords - 1)")))
        .withColumn("btext", expr(
          s"array_join(slice(words, block_idx * $BlockWords + 1, $BlockWords), ' ')"))
        .withColumn("bh", md5(col("btext").cast("binary")))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          count(when(col("rn") === 1, lit(1))).as("n_kept"),
          expr("""array_join(transform(
               array_sort(collect_list(CASE WHEN rn = 1
                 THEN struct(block_idx, btext) END)),
               x -> x.btext), ' ')""").as("body"))
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          length(col("body")).cast("long").as("kept_chars"),
          md5(col("body").cast("binary")).as("kept_md5"))
    },
    Some(s"""
      WITH blocks AS (
        SELECT doc_id, block_idx,
          array_to_string(words[block_idx * $BlockWords + 1
            : block_idx * $BlockWords + $BlockWords], ' ') AS btext
        FROM (SELECT doc_id, words,
                CAST(unnest(generate_series(0,
                  (n + ${BlockWords - 1}) // $BlockWords - 1)) AS BIGINT)
                  AS block_idx
              FROM (SELECT doc_id, $wordsDuck AS words,
                      CAST(len($wordsDuck) AS BIGINT) AS n
                    FROM documents))),
      ranked AS (
        SELECT doc_id, block_idx, btext,
          ROW_NUMBER() OVER (PARTITION BY md5(btext)
            ORDER BY doc_id, block_idx) AS rn
        FROM blocks)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_blocks,
        CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
        CAST(length(COALESCE(string_agg(CASE WHEN rn = 1 THEN btext END,
          ' ' ORDER BY block_idx), '')) AS BIGINT) AS kept_chars,
        md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN btext END,
          ' ' ORDER BY block_idx), '')) AS kept_md5
      FROM ranked GROUP BY doc_id"""))

  /** Per-node triangle participation counts over an ordered pair list
    * (both columns node ids, first < second in every row — the q27/q50
    * pair convention). Library form of q94; see its doc for shape. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    require(pairs.columns.length == 2,
      s"triangleCounts expects exactly two node-id columns, got " +
        s"(${pairs.columns.mkString(", ")})")
    val Seq(a, b) = pairs.columns.toSeq
    val e = pairs.select(col(a).as("doc_a"), col(b).as("doc_b"))
      .localCheckpoint() // pair plan computed once, not thrice
    e.as("e1")
      .join(e.as("e2"), col("e2.doc_a") === col("e1.doc_b"))
      .join(e.as("e3"), col("e3.doc_a") === col("e1.doc_a") &&
        col("e3.doc_b") === col("e2.doc_b"))
      .select(col("e1.doc_a").as("x"), col("e1.doc_b").as("y"),
        col("e2.doc_b").as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
  }

  /** Per-doc triangle participation over the q27 near-dup pair graph —
    * the cluster-density audit that separates tight duplicate cliques
    * (every member pairs with every other: many triangles) from fragile
    * chains (A~B~C with no A~C: zero) before a conservative "keep one
    * per cluster" drop. Standard oriented-edge enumeration: pairs are
    * already doc_a < doc_b, and the join pattern (x<y)(y<z)(x<z) admits
    * each triangle exactly once, so no post-hoc dedup factor of 6.
    *
    * Scale shape: two hash self-joins on node ids; intermediate wedge
    * count is Σ deg², which the LSH BucketCap already bounds per band —
    * the classic triangle-count shuffle profile. Pairs are
    * localCheckpoint()ed so the q27 plan is computed ONCE, not analyzed
    * and executed three times (the q51 lesson). */
  val q94TriangleCount = OpSpec(
    "q94_triangle_count",
    (s, dir) => triangleCounts(
      q27MinhashLsh.query(s, dir).select(col("doc_a"), col("doc_b"))),
    Some(s"""
      WITH pairs AS (
        SELECT doc_a, doc_b FROM (${q27MinhashLsh.oracle.get})),
      tri AS (
        SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
      SELECT doc_id, COUNT(*) AS n_tri
      FROM (SELECT unnest([x, y, z]) AS doc_id FROM tri)
      GROUP BY doc_id"""))

  /** Edit-distance cap of the fuzzy match. */
  private val EditCap = 2

  /** Rarest-gram prefix size: one edit op removes at most 2 distinct
    * bigram values from a string's bigram SET (it destroys ≤ 2
    * occurrences, and a value leaves the set only when its last
    * occurrence dies), so [[EditCap]] edits remove ≤ 2·EditCap values —
    * keeping the 2·EditCap+1 globally-rarest bigrams per name
    * guarantees ≥ 1 of them survives into any string within the cap. */
  private val FuzzyPrefixK = 2 * EditCap + 1

  /** Candidate pairs for the fuzzy (edit-distance ≤ [[EditCap]]) name
    * join, complete for EVERY input length — the lossless-blocking
    * precondition is enforced by tiering, not assumed:
    *
    *  - '''len ≥ 6''' (≥ 2·EditCap+2): rarest-[[FuzzyPrefixK]]-bigram
    *    prefix ⨝ ALL bigram rows, one-sided (the q107 shape, in
    *    character space). Lossless: a length-≥6 string has ≥ 5 bigram
    *    occurrences and ≤ 2 edit ops destroy ≤ 4 of them, so a shared
    *    bigram VALUE always exists, and by the set argument above at
    *    least one of the prefix side's 5 rarest is shared. This is the
    *    hot-bucket fix: boilerplate bigrams ("an", "er") sort LAST in
    *    the shared df-ascending order, so they enter a prefix only when
    *    a name has < 5 rarer bigrams — candidate volume is
    *    Σ_g prefcount(g)·df(g) with Σ_g prefcount(g) ≤ 5n, not
    *    Σ_g df(g)².
    *  - '''len 1..5''': unigram blocking among short names. Lossless
    *    when both lengths ≥ 3 (an alignment with ≤ 2 ops leaves ≥ 1
    *    position of a length-≥3 string untouched, and a length-1/2
    *    partner keeps a char through any op mix that stays within the
    *    length-diff cap), and pairs of two ≤2-char names fall through
    *    to the constant tier.
    *  - '''len ≤ 2''' (≤ EditCap): one constant bucket — the only
    *    regime where two strings can share no character within the cap
    *    ("ab" vs "cd"); the bucket is alphabet-bounded, not
    *    corpus-bounded.
    *
    * `hotGramCap`: optional q27-style guard for adversarial corpora
    * (names whose FIVE rarest bigrams are all ultra-hot — i.e. < 5
    * distinct bigrams total, e.g. "aaaaaaaa" floods). When set, tier-1
    * grams with df > cap are dropped from blocking in BOTH join sides;
    * the documented recall trade (a pair is lost only when every
    * shared prefix gram is hotter than the cap) mirrors
    * [[BucketCap]]'s. [[q95FuzzyJoin]] leaves it off — its oracle is
    * the NAIVE complete bigram join, so the gate itself proves the
    * tiered blocking lossless on the gated corpus. */
  private[graft] def fuzzyCandidates(names: DataFrame,
      hotGramCap: Option[Long] = None): DataFrame = {
    val named = names.select(col("p_name"), length(col("p_name")).as("ln"))
    val lenOk = abs(col("a.ln") - col("b.ln")) <= EditCap &&
      col("a.p_name") =!= col("b.p_name")
    def normalized(cand: DataFrame): DataFrame = cand.select(
      least(col("a.p_name"), col("b.p_name")).as("name_a"),
      greatest(col("a.p_name"), col("b.p_name")).as("name_b"))

    val grams = named.filter(col("ln") >= 2)
      .select(col("p_name"), col("ln"), explode(expr(
        """array_distinct(transform(sequence(1, length(p_name) - 1),
           i -> substring(p_name, i, 2)))""")).as("bg"))
    val gramsIn = hotGramCap match {
      case Some(cap) =>
        val ok = grams.groupBy(col("bg")).agg(count(lit(1)).as("gdf"))
          .filter(col("gdf") <= cap).select(col("bg"))
        grams.join(ok, "bg")
      case None => grams
    }
    val gdf = gramsIn.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_name")).orderBy(col("df").asc, col("bg").asc)
    val prefix = gramsIn.filter(col("ln") >= 2 * EditCap + 2)
      .join(gdf, "bg")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= FuzzyPrefixK)
      .select(col("p_name"), col("ln"), col("bg"))
    val t1 = normalized(prefix.as("a")
      .join(gramsIn.as("b"), col("a.bg") === col("b.bg") && lenOk))

    val shorts = named.filter(col("ln").between(1, 2 * EditCap + 1))
    val chars = shorts.select(col("p_name"), col("ln"), explode(expr(
      """array_distinct(transform(sequence(1, length(p_name)),
         i -> substring(p_name, i, 1)))""")).as("ch"))
    val t2 = normalized(chars.as("a")
      .join(chars.as("b"), col("a.ch") === col("b.ch") && lenOk))

    // the length-diff cap IS an equi-join once one side fans out to its
    // admissible partner lengths (≤ 2·EditCap+1 keys per name) — keeps
    // the alphabet-bounded tier a hash join, not a nested loop (a
    // constant key would be folded away by the optimizer)
    val tiny = named.filter(col("ln") <= EditCap)
    val t3 = normalized(tiny
      .withColumn("lnk",
        explode(expr(s"sequence(greatest(ln - $EditCap, 0), ln + $EditCap)")))
      .as("a")
      .join(tiny.as("b"), col("a.lnk") === col("b.ln") &&
        col("a.p_name") =!= col("b.p_name")))

    t1.unionByName(t2).unionByName(t3).distinct()
  }

  /** Fuzzy (edit-distance) self-join over the part-name entity table —
    * the entity-resolution primitive (catalog titles, author names,
    * product variants). Candidates come from [[fuzzyCandidates]]'s
    * tiered lossless blocking — rarest-bigram prefixes, NEVER all
    * pairs and never a full bigram self-join. The levenshtein verify —
    * integer, identical in both engines — runs only on candidates, in
    * the bounded form: a banded O(cap·n) DP that bails out early
    * (returns -1 past the threshold), so verify cost per candidate is
    * proportional to the cap, not |a|·|b|; exact distance for every
    * kept row, matching the oracle's unbounded levenshtein. Distinct
    * names are resolved first, so all blocking keys the ENTITY table
    * (|distinct| ≪ |rows|).
    *
    * The oracle is deliberately the NAIVE complete candidate rule PER
    * LENGTH REGIME — a full bigram equi-join, UNIONed with a full
    * unigram join over ≤5-char names and an all-pairs tier over
    * ≤2-char names (the same three regimes [[fuzzyCandidates]] tiers,
    * each in its naive-complete form). The hash gate therefore PROVES
    * the prefix blocking drops no true pair on the gated corpus at
    * EVERY length — including short names the bigram rule alone
    * structurally misses ("ab"/"cd" share no bigram; 1-char names
    * have none) — rather than mirroring the optimization on both
    * sides. */
  val q95FuzzyJoin = OpSpec(
    "q95_fuzzy_join",
    (s, dir) => {
      val names = table(s, dir, "part").select(col("p_name")).distinct()
      fuzzyCandidates(names)
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b"), EditCap)
            .cast("long"))
        .filter(col("dist") >= 0 && col("dist") <= EditCap)
    },
    Some(s"""
      WITH names AS (SELECT DISTINCT p_name FROM part),
      grams AS (
        SELECT p_name, unnest(list_distinct(
          list_transform(generate_series(1, length(p_name) - 1),
            i -> substring(p_name, i, 2)))) AS bg
        FROM names),
      chars AS (
        SELECT p_name, unnest(list_distinct(
          list_transform(generate_series(1, length(p_name)),
            i -> substring(p_name, i, 1)))) AS ch
        FROM names WHERE length(p_name) <= ${2 * EditCap + 1}),
      cand AS (
        SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
        FROM grams a JOIN grams b
          ON a.bg = b.bg AND a.p_name < b.p_name
         AND abs(length(a.p_name) - length(b.p_name)) <= $EditCap
        UNION
        SELECT DISTINCT a.p_name, b.p_name
        FROM chars a JOIN chars b
          ON a.ch = b.ch AND a.p_name < b.p_name
         AND abs(length(a.p_name) - length(b.p_name)) <= $EditCap
        UNION
        SELECT a.p_name, b.p_name
        FROM names a JOIN names b ON a.p_name < b.p_name
        WHERE length(a.p_name) <= $EditCap
          AND length(b.p_name) <= $EditCap)
      SELECT name_a, name_b,
        CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      FROM cand
      WHERE levenshtein(name_a, name_b) <= $EditCap"""))

  /** Containment (near-subset) join — the ASYMMETRIC complement of
    * q50's Jaccard join: flag pairs where ≥ 3/4 of the SMALLER doc's
    * 2-gram set lives inside the larger (excerpts, quoted passages,
    * doc-in-doc duplication that symmetric Jaccard misses outright
    * when sizes are skewed — a 10× larger superset caps J at 0.1).
    * Prefix filtering still applies but one-sided: if containment ≥ τ,
    * the smaller side's first sz − ⌈τ·sz⌉ + 1 grams (global
    * rarest-first order, shared with q50) must hit the larger side
    * SOMEWHERE — so candidates come from prefix(small) ⨝ all-grams,
    * with NO size-RATIO upper cut (size skew is the point; only the
    * necessary floor 4·sz_b ≥ 3·sz_a applies — the overlap can't
    * exceed sz_b). The POSITIONAL bound does the real pruning: at the
    * first shared gram the remaining suffixes bound the overlap, so
    * 4·(1 + min(sz_a−rn_a, sz_b−rn_b)) ≥ 3·sz_a must hold — and since
    * common grams sort LAST in the shared rarest-first order, a hit on
    * a boilerplate gram has a tiny b-suffix and dies here (measured
    * 11.5M → ~50k candidates at sf0.1). The bound is a theorem, not a
    * heuristic: the first-match instance of every true pair survives
    * it, so the spec's brute-force completeness check still passes.
    * Verify is the same native sorted-intersect; the threshold is the
    * integer cross-product 4·i ≥ 3·sz_small. */
  val q107ContainmentJoin = OpSpec(
    "q107_containment_join",
    (s, dir) => {
      // ONE doc_id shuffle builds the verify arrays AND dedupes the
      // hashed grams (array_distinct inside the aggregate — post-hash
      // dedupe, same semantics as a row-level DISTINCT but without its
      // standalone shuffle); gram rows then EXPLODE back out of the
      // cached arrays carrying sz for free, which also deletes the old
      // separate sizes join (measured: ~0.8 s off the sf0.1 critical
      // path vs the distinct + join formulation)
      val docArr = gramRows(s, dir, 2)
        .withColumn("hx", md5(col("gram").cast("binary")))
        .select(col("doc_id"),
          expr(s"CAST(${hexToLong("hx", 1, 15)} AS BIGINT)").as("g"))
        .groupBy(col("doc_id"))
        .agg(sort_array(array_distinct(collect_list(col("g")))).as("arr"))
        .withColumn("sz", size(col("arr")).cast("long"))
        .persist()
      val grams = docArr.select(col("doc_id"), col("sz"),
        explode(col("arr")).as("g"))
      val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df").asc, col("g").asc)
      val allG = grams.join(freq, "g")
        .withColumn("rn", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("g"), col("sz"), col("rn"))
        .persist()
      val prefix = allG
        .filter(lit(3) * col("sz") <= lit(4) * (col("sz") - col("rn") + 1))
        .persist()
      // b-side prune, lossless by construction: a candidate's shared
      // gram is ALWAYS one of some prefix row's g, and for a b row to
      // satisfy the join's positional bound with ANY partner a sharing
      // gram g, 4·(1 + b.sz − b.rn) ≥ 3·a.sz ≥ 3·min{a.sz : prefix
      // rows of g} must hold — so joining b to the PER-GRAM minimum
      // prefix size (one broadcast table, same cardinality as the
      // distinct prefix grams = the rare quarter of the vocabulary)
      // both replaces the membership semi-join and applies the
      // sharpest sound positional cut. Only b rows no a row can join
      // are discarded, so the candidate set (and the spec's
      // completeness proof) is unchanged while the join's b-side
      // shuffle shrinks to the rows that can actually collide.
      //
      // Why there is no q50-style PER-SIZE b-side prefix bound on top:
      // rn_b ≤ sz_b − ⌈τ·sz_b⌉ + 1 is UNSOUND here — containment only
      // guarantees overlap ≥ ⌈τ·sz_a⌉, and sz_b may exceed sz_a without
      // limit (size skew is the operator's point), so a true pair's
      // first shared gram can sit arbitrarily deep in b's order
      // relative to τ·sz_b. Every sound per-size cut has the form
      // 4·(1 + sz_b − rn_b) ≥ 3·L with L a lower bound on the partner's
      // sz_a; min_asz(g) is the SHARPEST such L available before the
      // join, so the broadcast cut above subsumes any per-size variant.
      // The bound is binding in measurement: with it, q107 runs 2.79 s
      // at sf0.1 local[32] (min-of-2) vs the 3.87 s round-5 record —
      // a 28 % total shave, past the directed 20 %.
      val minAszPerG = prefix.groupBy(col("g"))
        .agg(min(col("sz")).as("min_asz"))
      val bSide = allG
        .join(broadcast(minAszPerG), Seq("g"))
        .filter(lit(4) * (lit(1) + col("sz") - col("rn")) >=
          lit(3) * col("min_asz"))
        .select(col("doc_id"), col("g"), col("sz"), col("rn"))
      val cand = prefix.as("a")
        .join(bSide.as("b"),
          col("a.g") === col("b.g") &&
            (col("a.sz") < col("b.sz") ||
              (col("a.sz") === col("b.sz") &&
                col("a.doc_id") < col("b.doc_id"))) &&
            lit(4) * col("b.sz") >= lit(3) * col("a.sz") &&
            lit(4) * (lit(1) + least(col("a.sz") - col("a.rn"),
              col("b.sz") - col("b.rn"))) >= lit(3) * col("a.sz"))
        .select(col("a.doc_id").as("doc_small"),
          col("b.doc_id").as("doc_large"))
        .distinct()
      cand
        .join(docArr.select(col("doc_id").as("doc_small"),
          col("arr").as("arrs"), col("sz").as("szs")), "doc_small")
        .join(docArr.select(col("doc_id").as("doc_large"),
          col("arr").as("arrl")), "doc_large")
        .withColumn("n_inter", graft.functions.VectorFunctions
          .sortedIntersectCount(col("arrs"), col("arrl")))
        .filter(lit(4) * col("n_inter") >= lit(3) * col("szs"))
        .withColumn("containment",
          col("n_inter").cast("double") / col("szs").cast("double"))
        .select(col("doc_small"), col("doc_large"), col("n_inter"),
          col("containment"))
    },
    Some(s"""
      WITH $gramRowsDuck,
      freq AS (SELECT g, COUNT(*) AS df FROM grows GROUP BY g),
      allg AS (
        SELECT w.doc_id, w.g, s.sz,
          CAST(ROW_NUMBER() OVER (PARTITION BY w.doc_id
            ORDER BY f.df ASC, w.g ASC) AS BIGINT) AS rn
        FROM grows w JOIN freq f USING (g) JOIN sizes s USING (doc_id)),
      prefix AS (
        SELECT * FROM allg WHERE 3 * sz <= 4 * (sz - rn + 1)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_small, b.doc_id AS doc_large
        FROM prefix a JOIN allg b
          ON a.g = b.g
         AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
         AND 4 * b.sz >= 3 * a.sz
         AND 4 * (1 + least(a.sz - a.rn, b.sz - b.rn)) >= 3 * a.sz),
      inter AS (
        SELECT c.doc_small, c.doc_large, COUNT(*) AS n_inter
        FROM cand c
        JOIN grows x ON x.doc_id = c.doc_small
        JOIN grows y ON y.doc_id = c.doc_large AND y.g = x.g
        GROUP BY c.doc_small, c.doc_large)
      SELECT doc_small, doc_large, n_inter,
        CAST(n_inter AS DOUBLE) / CAST(ss.sz AS DOUBLE) AS containment
      FROM inter
      JOIN sizes ss ON ss.doc_id = doc_small
      WHERE 4 * n_inter >= 3 * ss.sz"""))

  // ---- Incremental containment / entity matching on a persisted index --

  /** Gram-level corpus artifacts for the CONTAINMENT tier (the q107
    * blocking), precomputed in ONE corpus-text pass so every ingest
    * joins persisted tables (the q55 pattern — per-batch cost scales
    * with the batch, never the corpus):
    *  - `ranked` (doc_id, g, sz, rn): every corpus gram with its doc's
    *    gram-set size and its rank in the global df-ascending order;
    *  - `prefixes`: the containment-prefix subset of `ranked`
    *    (3·sz ≤ 4·(sz − rn + 1)) — the corpus-small-side probe rows;
    *  - `docGrams` (doc_id, arr, sz): sorted gram arrays for the
    *    native sorted-intersect verify;
    *  - `gramDf` (g, df): corpus document frequency — the FROZEN
    *    global rarity order a new batch ranks ITS grams by (unseen
    *    grams get df 0 = rarest), so both sides of the positional
    *    bound sort by the same total order, which is what the bound's
    *    proof needs. */
  final case class GramIndex(ranked: DataFrame, prefixes: DataFrame,
      docGrams: DataFrame, gramDf: DataFrame,
      // intermediates persist()ed by buildGramIndex so the FOUR table
      // writes of writeGramIndex share one corpus-text pass instead of
      // re-running the scan+explode+md5+distinct lineage per action
      // (guide §1.2 order-1: don't recompute what you already have);
      // writeGramIndex unpersists them once the writes commit
      cached: Seq[DataFrame] = Nil)

  /** (doc_id, g): distinct word-2-grams folded to 60-bit longs — the
    * q107 gram domain, off an arbitrary (doc_id, text) frame. */
  private def hashedGramRows(docs: DataFrame): DataFrame =
    gramRowsOf(docs, 2)
      .withColumn("hx", md5(col("gram").cast("binary")))
      .select(col("doc_id"),
        expr(s"CAST(${hexToLong("hx", 1, 15)} AS BIGINT)").as("g"))
      .distinct()

  /** Rank gram rows by a df order (df asc, g asc) and attach sizes. */
  private def rankGrams(grams: DataFrame, df: DataFrame): DataFrame = {
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("g").asc)
    grams.join(df, Seq("g"), "left").na.fill(0L, Seq("df"))
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("g"), col("sz"), col("rn"))
  }

  private def containPrefix(ranked: DataFrame): DataFrame =
    ranked.filter(lit(3) * col("sz") <= lit(4) * (col("sz") - col("rn") + 1))

  /** One corpus-text pass → [[GramIndex]]. Shared intermediates are
    * persist()ed (released by [[writeGramIndex]]) so the pass is ONE
    * even though the index lands as four separate table writes. */
  def buildGramIndex(docs: DataFrame): GramIndex = {
    val grams = hashedGramRows(docs).persist()
    val gramDf = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .persist()
    val ranked = rankGrams(grams, gramDf).persist()
    GramIndex(ranked, containPrefix(ranked), docGramsOf(grams), gramDf,
      cached = Seq(grams, gramDf, ranked))
  }

  /** (doc_id, arr, sz): each doc's sorted gram array — the verify
    * payload. */
  private def docGramsOf(grams: DataFrame): DataFrame =
    grams.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("arr"),
        count(lit(1)).as("sz"))

  /** Persist a [[GramIndex]] as bucketed tables, each on its
    * ingest-side probe key (`g` for the two candidate-join tables,
    * `doc_id` for the verify arrays). */
  def writeGramIndex(idx: GramIndex, prefix: String, path: String,
      buckets: Int = 32): Unit =
    try {
      // ranked's lineage covers every shared cache (grams → gramDf →
      // ranked); write it alone so the caches materialize exactly
      // once, then overlap the three remaining independent writes
      // (guide §2.6 — they read only warm cached frames)
      IndexLifecycle.writeTables(GramIndexTables, prefix, path, buckets)(
        "ranked" -> idx.ranked)
      IndexLifecycle.writeTables(GramIndexTables, prefix, path, buckets)(
        "prefixes" -> idx.prefixes, "docgrams" -> idx.docGrams,
        "gramdf" -> idx.gramDf)
    } finally idx.cached.foreach(_.unpersist())

  private def gramIndexOf(m: Map[String, DataFrame]): GramIndex =
    GramIndex(m("ranked"), m("prefixes"), m("docgrams"), m("gramdf"))

  def readGramIndex(s: SparkSession, prefix: String): GramIndex =
    gramIndexOf(IndexLifecycle.readTables(s, GramIndexTables, prefix,
      prefix, live = false))

  /** Tombstone a takedown batch of doc_ids out of a persisted
    * [[GramIndex]] — the right-to-be-forgotten path the containment
    * index owes any user running it long-lived ([[purgeFromCorpusIndex]]
    * gave the n-gram index its version; this is the same discipline
    * with a SIMPLER obligation: the gram index has no aggregate table
    * to correct — `gramDf` is the FROZEN efficiency order
    * ([[appendToGramIndex]]'s argument: the positional bound needs one
    * consistent total order, not true document frequency), so a purged
    * doc's df contribution staying in the frozen order affects only
    * candidate volume, never results). Insert-only, cost ∝ takedown
    * batch; per-doc rows stay on disk until a periodic rebuild and
    * [[readGramIndexLive]] masks them meanwhile. Idempotent: re-purging
    * an id appends a duplicate tombstone row, and the mask is a
    * semi-membership test, so retries are harmless. */
  def purgeGramIndex(s: SparkSession, dead: DataFrame, prefix: String,
      path: String): Unit =
    IndexLifecycle.appendTombstones(GramIndexTables,
      dead.select(col("doc_id")).distinct(), prefix, path)

  /** Open a persisted [[GramIndex]] with tombstones applied: every
    * per-doc table anti-joined against the (small, broadcast) takedown
    * set — a purged doc stops matching IMMEDIATELY, as a candidate, a
    * prefix probe, or a verify array. */
  def readGramIndexLive(s: SparkSession, prefix: String): GramIndex =
    gramIndexOf(IndexLifecycle.readTables(s, GramIndexTables, prefix,
      prefix, live = true))

  /** Fold an accepted batch into a persisted [[GramIndex]] without
    * rebuilding. The batch's grams are ranked by the index's FROZEN
    * `gramDf` rarity order and appended (ranked / prefixes /
    * docGrams); `gramDf` itself is deliberately NOT updated. The
    * positional-bound proof only needs ONE consistent total order on
    * grams shared by every indexed doc — actual document frequency is
    * an efficiency heuristic (rare-first shrinks candidate volume),
    * not a correctness input — so freezing the order at initial build
    * keeps every append exactly as lossless as a scratch build (the
    * spec proves containment results are identical either way), while
    * updating df per batch would silently re-rank PRIOR docs and
    * require a corpus rewrite. The trade is documented drift: grams
    * that become common after the build stay "rare" in the order, so
    * candidate volume degrades toward (never past) the unordered
    * bound; a periodic full rebuild restores the optimum without
    * affecting results. Appends read only batch text + the frozen df
    * table (plan-audited). */
  def appendToGramIndex(s: SparkSession, newDocs: DataFrame,
      prefix: String, path: String): Unit = {
    val (_, _, n) = Sinks.tableLayout(s, s"${prefix}_ranked")
    val grams = hashedGramRows(newDocs).persist()
    val ranked = rankGrams(grams, s.table(s"${prefix}_gramdf")).persist()
    try {
      // first append materializes both caches; the remaining two
      // independent appends overlap (guide §2.6)
      IndexLifecycle.appendTables(s, GramIndexTables, prefix, path, n)(
        "ranked" -> ranked)
      IndexLifecycle.appendTables(s, GramIndexTables, prefix, path, n)(
        "prefixes" -> containPrefix(ranked),
        "docgrams" -> docGramsOf(grams))
    } finally { ranked.unpersist(); grams.unpersist() }
  }

  /** Incremental containment join: flag (small ⊂≈ large) pairs BETWEEN
    * a new batch and an indexed corpus — q107's semantics with every
    * join bipartite and every corpus-side input a persisted table
    * (plan-audited: no corpus-text rescan). Both orientations are
    * covered: prefix(new) ⨝ ranked(corpus) catches new-doc-is-smaller
    * pairs, prefixes(corpus) ⨝ ranked(new) the reverse; equal-size
    * pairs ride the first orientation only (no double count). The
    * batch ranks its grams by the index's frozen df order, so the
    * lossless positional bound applies verbatim. Output:
    * (doc_small, doc_large, n_inter, containment). */
  def incrementalContainment(newDocs: DataFrame, corpus: GramIndex)
      : DataFrame = {
    val grams = hashedGramRows(newDocs).persist()
    val ranked = rankGrams(grams, corpus.gramDf).persist()
    val docGrams = docGramsOf(grams)
    def candidates(a: DataFrame, b: DataFrame, strict: Boolean) = {
      val sizeRule =
        if (strict) col("a.sz") < col("b.sz")
        else col("a.sz") <= col("b.sz")
      // doc_id inequality: re-ingesting a document already in the index
      // (same id) must not emit a self-pair of containment 1.0 noise
      // through the a.sz <= b.sz orientation (ADVICE r5)
      a.as("a").join(b.as("b"),
        col("a.doc_id") =!= col("b.doc_id") &&
          col("a.g") === col("b.g") && sizeRule &&
          lit(4) * col("b.sz") >= lit(3) * col("a.sz") &&
          lit(4) * (lit(1) + least(col("a.sz") - col("a.rn"),
            col("b.sz") - col("b.rn"))) >= lit(3) * col("a.sz"))
        .select(col("a.doc_id").as("doc_small"),
          col("b.doc_id").as("doc_large"))
    }
    val cand = candidates(containPrefix(ranked), corpus.ranked,
        strict = false)
      .unionByName(candidates(corpus.prefixes, ranked, strict = true))
      .distinct()
    cand
      .join(docGrams.select(col("doc_id").as("doc_small"),
        col("arr").as("arrs"), col("sz").as("szs")), Seq("doc_small"), "left")
      .join(corpus.docGrams.select(col("doc_id").as("doc_small"),
        col("arr").as("arrs2"), col("sz").as("szs2")), Seq("doc_small"), "left")
      .join(docGrams.select(col("doc_id").as("doc_large"),
        col("arr").as("arrl")), Seq("doc_large"), "left")
      .join(corpus.docGrams.select(col("doc_id").as("doc_large"),
        col("arr").as("arrl2")), Seq("doc_large"), "left")
      .select(col("doc_small"), col("doc_large"),
        coalesce(col("arrs"), col("arrs2")).as("arrs"),
        coalesce(col("szs"), col("szs2")).as("szs"),
        coalesce(col("arrl"), col("arrl2")).as("arrl"))
      .withColumn("n_inter", graft.functions.VectorFunctions
        .sortedIntersectCount(col("arrs"), col("arrl")))
      .filter(lit(4) * col("n_inter") >= lit(3) * col("szs"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("szs").cast("double"))
      .select(col("doc_small"), col("doc_large"), col("n_inter"),
        col("containment"))
  }

  /** Name-level corpus artifacts for the FUZZY (edit-distance) entity
    * tier — [[fuzzyCandidates]]'s tiered blocking with the corpus side
    * persisted: `grams` (p_name, ln, bg) bigram rows, `prefixes` the
    * rarest-[[FuzzyPrefixK]] subset, `chars` unigram rows of short
    * names, `tiny` the ≤-EditCap names, `bigramDf` the frozen rarity
    * order. */
  final case class NameIndex(grams: DataFrame, prefixes: DataFrame,
      chars: DataFrame, tiny: DataFrame, bigramDf: DataFrame,
      // build-time persist()s shared by writeNameIndex's five table
      // writes (the GramIndex.cached discipline)
      cached: Seq[DataFrame] = Nil)

  private def nameGramRows(names: DataFrame): DataFrame =
    names.select(col("p_name"), length(col("p_name")).as("ln"))
      .filter(col("ln") >= 2)
      .select(col("p_name"), col("ln"), explode(expr(
        """array_distinct(transform(sequence(1, length(p_name) - 1),
           i -> substring(p_name, i, 2)))""")).as("bg"))

  private def nameCharRows(names: DataFrame): DataFrame =
    names.select(col("p_name"), length(col("p_name")).as("ln"))
      .filter(col("ln").between(1, 2 * EditCap + 1))
      .select(col("p_name"), col("ln"), explode(expr(
        """array_distinct(transform(sequence(1, length(p_name)),
           i -> substring(p_name, i, 1)))""")).as("ch"))

  private def namePrefixes(grams: DataFrame, df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_name")).orderBy(col("df").asc, col("bg").asc)
    grams.filter(col("ln") >= 2 * EditCap + 2)
      .join(df, Seq("bg"), "left").na.fill(0L, Seq("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= FuzzyPrefixK)
      .select(col("p_name"), col("ln"), col("bg"))
  }

  /** One corpus pass → [[NameIndex]]. Shared intermediates are
    * persist()ed (released by [[writeNameIndex]]) so the gram
    * explode+distinct runs once across the five table writes. */
  def buildNameIndex(names: DataFrame): NameIndex = {
    val grams = nameGramRows(names).persist()
    val df = grams.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      .persist()
    NameIndex(grams, namePrefixes(grams, df), nameCharRows(names),
      nameTinyRows(names), df, cached = Seq(grams, df))
  }

  /** (p_name, ln) of the names short enough for the length-keyed tier. */
  private def nameTinyRows(names: DataFrame): DataFrame =
    names.select(col("p_name"), length(col("p_name")).as("ln"))
      .filter(col("ln") <= EditCap)

  def writeNameIndex(idx: NameIndex, prefix: String, path: String,
      buckets: Int = 32): Unit =
    try {
      // materialize both shared caches in one pass (bigramDf's lineage
      // computes grams then df), then overlap the five independent
      // table writes (guide §2.6)
      idx.bigramDf.count()
      IndexLifecycle.writeTables(NameIndexTables, prefix, path, buckets)(
        "grams" -> idx.grams, "prefixes" -> idx.prefixes,
        "chars" -> idx.chars, "tiny" -> idx.tiny,
        "bigramdf" -> idx.bigramDf)
    } finally idx.cached.foreach(_.unpersist())

  private def nameIndexOf(m: Map[String, DataFrame]): NameIndex =
    NameIndex(m("grams"), m("prefixes"), m("chars"), m("tiny"),
      m("bigramdf"))

  def readNameIndex(s: SparkSession, prefix: String): NameIndex =
    nameIndexOf(IndexLifecycle.readTables(s, NameIndexTables, prefix,
      prefix, live = false))

  /** Fold [[purgeGramIndex]] tombstones into the physical tables —
    * [[vacuumCorpusIndex]]'s staged-swap discipline for the
    * containment index: the three per-doc tables are rewritten from
    * their masked live views at `newPath/<suffix>`, overlapped.
    * `gramdf` is untouched (the frozen order holds no per-doc rows),
    * and the tombstones are dropped last. */
  def vacuumGramIndex(s: SparkSession, prefix: String,
      newPath: String): Unit =
    IndexLifecycle.vacuum(s, GramIndexTables, prefix, prefix,
      sfx => s"$newPath/$sfx")

  /** Tombstone a takedown batch of names out of a persisted
    * [[NameIndex]] — [[purgeGramIndex]]'s discipline for the fuzzy
    * entity tier (an opted-out entity must stop matching immediately).
    * `bigramDf` stays frozen for the same reason `gramDf` does — the
    * fuzzy prefix theorem is a set argument that never needed true
    * frequency at all. Insert-only, cost ∝ takedown batch. */
  def purgeNameIndex(s: SparkSession, dead: DataFrame, prefix: String,
      path: String): Unit =
    IndexLifecycle.appendTombstones(NameIndexTables,
      dead.select(col("p_name")).distinct(), prefix, path)

  /** Open a persisted [[NameIndex]] with tombstones applied (broadcast
    * anti-join on every per-name table). */
  def readNameIndexLive(s: SparkSession, prefix: String): NameIndex =
    nameIndexOf(IndexLifecycle.readTables(s, NameIndexTables, prefix,
      prefix, live = true))

  /** Fold an accepted name batch into a persisted [[NameIndex]]
    * without rebuilding. Same maintenance discipline as
    * [[appendToGramIndex]], with an even weaker requirement: the
    * fuzzy prefix theorem is a SET argument (≤ EditCap edits destroy
    * ≤ 2·EditCap distinct bigram values, so ANY 2·EditCap+1 kept
    * distinct bigrams leave a survivor) — it never needs a shared
    * order at all, because each prefix joins the partner's FULL gram
    * set. The frozen `bigramDf` order is pure efficiency (rare-first
    * prefixes hit fewer partners); appends rank new names by it and
    * insert into grams / prefixes / chars / tiny; `bigramDf` stays
    * frozen. Appends read only the batch + the frozen df table. */
  def appendToNameIndex(s: SparkSession, newNames: DataFrame,
      prefix: String, path: String): Unit = {
    val (_, _, n) = Sinks.tableLayout(s, s"${prefix}_grams")
    val grams = nameGramRows(newNames).persist()
    try {
      // first append materializes the gram cache; the remaining three
      // independent appends overlap (guide §2.6)
      IndexLifecycle.appendTables(s, NameIndexTables, prefix, path, n)(
        "grams" -> grams)
      IndexLifecycle.appendTables(s, NameIndexTables, prefix, path, n)(
        "prefixes" ->
          namePrefixes(grams, s.table(s"${prefix}_bigramdf")),
        "chars" -> nameCharRows(newNames), "tiny" -> nameTinyRows(newNames))
    } finally grams.unpersist()
  }

  /** Incremental fuzzy (edit-distance ≤ [[EditCap]]) entity match of a
    * new name batch against an indexed corpus — [[fuzzyCandidates]]'s
    * tier structure made bipartite over persisted tables:
    * prefix(new, ranked by the frozen corpus rarity) ⨝ corpus grams
    * covers every pair whose NEW side is ≥ 6 chars; corpus prefixes ⨝
    * new grams covers new-short-vs-corpus-long; the unigram and
    * length-keyed tiny tiers cover both-short (the [[fuzzyCandidates]]
    * completeness proof carries over per orientation — the prefix
    * theorem never needed the partner's prefix, only its full gram
    * set). Exact string repeats surface as dist 0 — for an entity
    * ingest the strongest match, not an exclusion. Output:
    * (name_new, name_old, dist). */
  def incrementalFuzzyMatch(newNames: DataFrame, corpus: NameIndex)
      : DataFrame = {
    val lenOk = abs(col("a.ln") - col("b.ln")) <= EditCap
    def pairs(a: DataFrame, b: DataFrame, key: String,
        aIsNew: Boolean) = {
      val joined = a.as("a").join(b.as("b"),
        col(s"a.$key") === col(s"b.$key") && lenOk)
      if (aIsNew)
        joined.select(col("a.p_name").as("name_new"),
          col("b.p_name").as("name_old"))
      else
        joined.select(col("b.p_name").as("name_new"),
          col("a.p_name").as("name_old"))
    }
    val grams = nameGramRows(newNames).persist()
    val prefixes = namePrefixes(grams, corpus.bigramDf)
    val chars = nameCharRows(newNames)
    val tiny = nameTinyRows(newNames)
      .withColumn("lnk",
        explode(expr(s"sequence(greatest(ln - $EditCap, 0), ln + $EditCap)")))
    val corpusTinyKeyed = corpus.tiny // bucketed on ln — the probe key
    pairs(prefixes, corpus.grams, "bg", aIsNew = true)
      .unionByName(pairs(corpus.prefixes, grams, "bg", aIsNew = false))
      .unionByName(pairs(chars, corpus.chars, "ch", aIsNew = true))
      .unionByName(tiny.as("a").join(corpusTinyKeyed.as("b"),
          col("a.lnk") === col("b.ln"))
        .select(col("a.p_name").as("name_new"),
          col("b.p_name").as("name_old")))
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_new"), col("name_old"), EditCap)
          .cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= EditCap)
  }

  /** [[vacuumGramIndex]]'s twin for the fuzzy entity tier: rewrite the
    * four per-name tables from their masked live views (staged swaps),
    * keep `bigramdf` frozen, drop the tombstones. */
  def vacuumNameIndex(s: SparkSession, prefix: String,
      newPath: String): Unit =
    IndexLifecycle.vacuum(s, NameIndexTables, prefix, prefix,
      sfx => s"$newPath/$sfx")

  /** q257: CONTAINMENT-INDEX PURGE under the bit-exact gate — the
    * right-to-be-forgotten proof for the persisted [[GramIndex]]
    * (q211 gave the n-gram dedup index its version). The corpus side
    * (doc_id % 10 <> 0) builds the persisted index; a takedown quarter
    * of it (% 4 = 1) is purged via tombstones (cost ∝ batch — no
    * corpus rewrite, plan-audited in the spec); the new batch
    * (% 10 = 0) then runs [[incrementalContainment]] against the LIVE
    * masked view. The oracle is the NAIVE-COMPLETE bipartite
    * containment rule with the purged docs absent from the corpus side
    * everywhere — candidates, sizes, verify — so the gate proves both
    * halves at once: the tombstone mask equals a scratch build on the
    * purged corpus, and the blocking still drops no true pair. A batch
    * doc whose only superset was purged must come back unmatched:
    * forgotten means forgotten. */
  val q257ContainmentPurge = OpSpec(
    "q257_containment_purge",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val isNew = col("doc_id") % 10 === 0
      val isDead = col("doc_id") % 10 =!= 0 && col("doc_id") % 4 === 1
      val prefix = "gix_q257"
      val path = s"${graft.Tables.scratchDir}/gix_q257"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeGramIndex(buildGramIndex(docs.filter(!isNew)), prefix, path,
        buckets = 8)
      purgeGramIndex(s, docs.filter(isDead).select(col("doc_id")),
        prefix, path)
      incrementalContainment(docs.filter(isNew),
        readGramIndexLive(s, prefix))
    },
    Some(s"""
      WITH $gramRowsDuck,
      inter2 AS (
        SELECT n.doc_id AS doc_n, c.doc_id AS doc_c, COUNT(*) AS n_inter
        FROM grows n JOIN grows c ON n.g = c.g
        WHERE n.doc_id % 10 = 0
          AND c.doc_id % 10 <> 0 AND c.doc_id % 4 <> 1
        GROUP BY 1, 2),
      orient AS (
        SELECT CASE WHEN sn.sz <= sc.sz THEN i.doc_n ELSE i.doc_c END
            AS doc_small,
          CASE WHEN sn.sz <= sc.sz THEN i.doc_c ELSE i.doc_n END
            AS doc_large,
          i.n_inter, LEAST(sn.sz, sc.sz) AS szs
        FROM inter2 i
        JOIN sizes sn ON sn.doc_id = i.doc_n
        JOIN sizes sc ON sc.doc_id = i.doc_c)
      SELECT doc_small, doc_large, CAST(n_inter AS BIGINT) AS n_inter,
        CAST(n_inter AS DOUBLE) / CAST(szs AS DOUBLE) AS containment
      FROM orient WHERE 4 * n_inter >= 3 * szs"""))

  /** q258: FUZZY-ENTITY-INDEX PURGE under the bit-exact gate —
    * [[q257ContainmentPurge]]'s obligation for the persisted
    * [[NameIndex]]. Names split deterministically by an md5 bucket:
    * bucket 0 is the arriving batch, buckets 1-2 the takedown set,
    * the rest the surviving corpus. The index is built on corpus ∪
    * takedown (the realistic state — the entities were indexed before
    * they opted out), the takedown is tombstoned, and the batch runs
    * [[incrementalFuzzyMatch]] against the live view. The oracle is
    * q95's NAIVE-COMPLETE tier rule made bipartite with the purged
    * names absent — so the gate proves mask-equals-purged-scratch AND
    * tier completeness per orientation in one compare. */
  val q258FuzzyPurge = OpSpec(
    "q258_fuzzy_purge",
    (s, dir) => {
      val bucket = expr(
        s"${hexToLong("md5(cast(p_name as binary))", 1, 8)} % 10")
      val names = table(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("b", bucket).persist()
      val prefix = "nix_q258"
      val path = s"${graft.Tables.scratchDir}/nix_q258"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeNameIndex(
        buildNameIndex(names.filter(col("b") =!= 0).drop("b")),
        prefix, path, buckets = 8)
      purgeNameIndex(s,
        names.filter(col("b") === 1 || col("b") === 2).drop("b"),
        prefix, path)
      incrementalFuzzyMatch(names.filter(col("b") === 0).drop("b"),
        readNameIndexLive(s, prefix))
    },
    Some(s"""
      WITH names AS (SELECT DISTINCT p_name FROM part),
      cls AS (
        SELECT p_name,
          ${hexToLong("md5(p_name)", 1, 8)} % 10 AS b
        FROM names),
      newn AS (SELECT p_name FROM cls WHERE b = 0),
      liven AS (SELECT p_name FROM cls WHERE b >= 3),
      grams_n AS (
        SELECT p_name, unnest(list_distinct(
          list_transform(generate_series(1, length(p_name) - 1),
            i -> substring(p_name, i, 2)))) AS bg
        FROM newn WHERE length(p_name) >= 2),
      grams_c AS (
        SELECT p_name, unnest(list_distinct(
          list_transform(generate_series(1, length(p_name) - 1),
            i -> substring(p_name, i, 2)))) AS bg
        FROM liven WHERE length(p_name) >= 2),
      chars_n AS (
        SELECT p_name, unnest(list_distinct(
          list_transform(generate_series(1, length(p_name)),
            i -> substring(p_name, i, 1)))) AS ch
        FROM newn WHERE length(p_name) <= ${2 * EditCap + 1}),
      chars_c AS (
        SELECT p_name, unnest(list_distinct(
          list_transform(generate_series(1, length(p_name)),
            i -> substring(p_name, i, 1)))) AS ch
        FROM liven WHERE length(p_name) <= ${2 * EditCap + 1}),
      cand AS (
        SELECT DISTINCT n.p_name AS name_new, c.p_name AS name_old
        FROM grams_n n JOIN grams_c c
          ON n.bg = c.bg
         AND abs(length(n.p_name) - length(c.p_name)) <= $EditCap
        UNION
        SELECT DISTINCT n.p_name, c.p_name
        FROM chars_n n JOIN chars_c c
          ON n.ch = c.ch
         AND abs(length(n.p_name) - length(c.p_name)) <= $EditCap
        UNION
        SELECT n.p_name, c.p_name
        FROM newn n, liven c
        WHERE length(n.p_name) <= $EditCap
          AND length(c.p_name) <= $EditCap)
      SELECT name_new, name_old,
        CAST(levenshtein(name_new, name_old) AS BIGINT) AS dist
      FROM cand
      WHERE levenshtein(name_new, name_old) <= $EditCap"""))

  /** q262: CONTAINMENT-INDEX VACUUM under the bit-exact gate — q257's
    * trajectory with [[vacuumGramIndex]] folding the tombstones into
    * the physical tables BEFORE the ingest, which then reads the PLAIN
    * (unmasked) index: the oracle is q257's verbatim, so the gate
    * proves vacuum == mask == purged-scratch in one compare. */
  val q262ContainmentVacuum = OpSpec(
    "q262_containment_vacuum",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val isNew = col("doc_id") % 10 === 0
      val isDead = col("doc_id") % 10 =!= 0 && col("doc_id") % 4 === 1
      val prefix = "gix_q262"
      val path = s"${graft.Tables.scratchDir}/gix_q262"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeGramIndex(buildGramIndex(docs.filter(!isNew)), prefix,
        s"$path/idx", buckets = 8)
      purgeGramIndex(s, docs.filter(isDead).select(col("doc_id")),
        prefix, s"$path/idx")
      vacuumGramIndex(s, prefix, s"$path/vac")
      incrementalContainment(docs.filter(isNew),
        readGramIndex(s, prefix))
    },
    q257ContainmentPurge.oracle)

  /** q263: FUZZY-ENTITY-INDEX VACUUM — [[q262ContainmentVacuum]]'s
    * twin for the [[NameIndex]], against q258's oracle verbatim. */
  val q263FuzzyVacuum = OpSpec(
    "q263_fuzzy_vacuum",
    (s, dir) => {
      val bucket = expr(
        s"${hexToLong("md5(cast(p_name as binary))", 1, 8)} % 10")
      val names = table(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("b", bucket).persist()
      val prefix = "nix_q263"
      val path = s"${graft.Tables.scratchDir}/nix_q263"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeNameIndex(
        buildNameIndex(names.filter(col("b") =!= 0).drop("b")),
        prefix, s"$path/idx", buckets = 8)
      purgeNameIndex(s,
        names.filter(col("b") === 1 || col("b") === 2).drop("b"),
        prefix, s"$path/idx")
      vacuumNameIndex(s, prefix, s"$path/vac")
      incrementalFuzzyMatch(names.filter(col("b") === 0).drop("b"),
        readNameIndex(s, prefix))
    },
    q258FuzzyPurge.oracle)

  /** GOLDEN-RECORD construction — the survivorship step that closes
    * the entity-resolution loop (q27 finds pairs, q51 clusters them;
    * a master-data pipeline must then emit ONE record per cluster):
    * for every near-dup cluster, field-level survivorship rules pick
    * the canonical values — id = the cluster's min doc_id (the q25/
    * q51 keep-first rule), text = the LONGEST member's (richest copy
    * wins; ties to the smaller id via one cluster-partitioned rank),
    * sources = the sorted union of member sources (provenance is
    * additive, never picked). All rules are deterministic folds, so
    * the gate covers rule semantics, not just plumbing. Output: one
    * row per cluster. */
  val q163GoldenRecord = OpSpec(
    "q163_golden_record",
    (s, dir) => {
      val labels = q51DedupClusters.query(s, dir)
        .select(col("doc_id"), col("cluster"))
      val members = labels.join(table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("source")), "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val best = members
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("text_from"),
          col("n_chars").as("text_chars"))
      members.groupBy(col("cluster"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_members"),
          array_join(array_sort(collect_set(col("source"))), ",")
            .as("sources"))
        .join(best, "cluster")
        .select(col("cluster"), col("canonical_id"), col("n_members"),
          col("text_from"), col("text_chars"), col("sources"))
    },
    Some(s"""
      WITH labs AS (
        SELECT doc_id, cluster FROM (${q51DedupClusters.oracle.get})),
      members AS (
        SELECT l.cluster, d.doc_id, d.n_chars, d.source
        FROM labs l JOIN documents d USING (doc_id)),
      best AS (
        SELECT cluster, doc_id AS text_from, n_chars AS text_chars
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM members)
        WHERE rn = 1),
      agg AS (
        SELECT cluster, MIN(doc_id) AS canonical_id,
          CAST(COUNT(*) AS BIGINT) AS n_members,
          list_aggregate(list_sort(list(DISTINCT source)),
            'string_agg', ',') AS sources
        FROM members GROUP BY cluster)
      SELECT a.cluster, a.canonical_id, a.n_members,
        b.text_from, b.text_chars, a.sources
      FROM agg a JOIN best b USING (cluster)"""))

  /** Positional-gram length / minimum reported span for the shared-
    * span extractor (spans must exceed the gram by enough that the
    * run filter is real). */
  private val SpanK = 5
  private val SpanMinTokens = 8

  /** Maximal cross-doc repeated SPANS — the substring-level dedup the
    * set-similarity family can't see (q50/q107 compare gram SETS; a
    * 40-token boilerplate passage shared by two otherwise-different
    * docs moves Jaccard a few percent and is invisible, yet it is
    * exactly what a training corpus must strip — the "dedup repeated
    * substrings" result of the train-data-dedup literature, and the
    * reference's caption boilerplate repeated across clips of one
    * video, coca_caption.py:89-105). Method: POSITIONAL [[SpanK]]-gram
    * rows (doc, pos, hash) self-join on the hash; a shared token span
    * of length L appears as L−K+1 matches on ONE diagonal (pa − pb
    * const), so grouping matches by (pair, diagonal) and islanding
    * consecutive pa (the gap-and-islands pa − row_number trick, exact
    * in both engines) yields each MAXIMAL shared span once:
    * span_tokens = run_length + K − 1. Output: (doc_a, doc_b,
    * a_start, b_start, span_tokens ≥ [[SpanMinTokens]]).
    *
    * Scale shape: one equi-join keyed on gram hashes (shuffle both
    * sides by h, never all-pairs) + one window partitioned by
    * (pair, diagonal). Per-gram match volume is df_a·df_b — content-
    * defined keys, so corpus-wide boilerplate grams are the hot-key
    * risk; the production mitigations are a larger K (hot-key df
    * falls geometrically in K), running span extraction on near-dup
    * CANDIDATE pairs (q27/q51 output) rather than the whole cross
    * product of a corpus against itself, and AQE skew splitting for
    * the residue. The gated form mirrors the exact join so the oracle
    * proves the island arithmetic, not a sampling policy. */
  def sharedSpans(docs: DataFrame, k: Int = SpanK,
      minSpanTokens: Int = SpanMinTokens): DataFrame = {
    val g = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("words", expr(wordsSpark))
      .filter(size(col("words")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(words) - $k),
            i -> array_join(slice(words, i + 1, $k), ' '))"""))
        .as(Seq("pos", "gram")))
      .withColumn("hx", md5(col("gram").cast("binary")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr(s"CAST(${hexToLong("hx", 1, 12)} AS BIGINT)").as("h"))
      .persist()
    val m = g.as("a").join(g.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa").asc)
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + lit(k.toLong - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        col("b_start"), col("span_tokens"))
  }

  /** The q151 span trajectory as a DuckDB WITH-body (CTEs g, m, runs,
    * spans0, spans) — shared with the q153 scrub oracle. */
  private lazy val sharedSpansSql: String = s"""
      g AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          CAST(${hexToLong("hx", 1, 12)} AS BIGINT) AS h
        FROM (
          SELECT doc_id, i,
            md5(list_aggregate(words[i:i+${SpanK - 1}], 'string_agg', ' '))
              AS hx
          FROM (SELECT doc_id, $wordsDuck AS words FROM documents),
               LATERAL (SELECT unnest(generate_series(1,
                 len(words) - ${SpanK - 1})) AS i)
          WHERE len(words) >= $SpanK)),
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
        FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id),
      runs AS (
        SELECT doc_a, doc_b, diag, pa, pb,
          pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
            ORDER BY pa ASC) AS grp
        FROM m),
      spans0 AS (
        SELECT doc_a, doc_b, MIN(pa) AS a_start, MIN(pb) AS b_start,
          CAST(COUNT(*) + ${SpanK} - 1 AS BIGINT) AS span_tokens
        FROM runs GROUP BY doc_a, doc_b, diag, grp),
      spans AS (
        SELECT * FROM spans0 WHERE span_tokens >= $SpanMinTokens)"""

  val q151SharedSpans = OpSpec(
    "q151_shared_spans",
    (s, dir) => sharedSpans(table(s, dir, "documents")),
    Some(s"""
      WITH $sharedSpansSql
      SELECT doc_a, doc_b, a_start, b_start, span_tokens FROM spans"""))

  /** Shared-span SCRUB — the q151 detector APPLIED as the C4/train-
    * data-dedup rewrite: every document drops the token positions
    * covered by a span it shares with a LOWER-id document (keep-first
    * — the earliest copy survives verbatim; later copies lose the
    * repeated passage, exactly the "remove duplicated substrings"
    * treatment web corpora get before training). Mechanics: spans'
    * doc_b position ranges explode to a distinct (doc, pos) kill set;
    * the positional word rows anti-join it; surviving words re-
    * assemble in position order. Docs losing nothing pass through
    * with their whitespace normalized (single spaces — the word
    * tokenization is the unit of rewriting, matching every other
    * token-level operator here). Output: (doc_id, n_tokens,
    * n_removed, text_clean).
    *
    * Scale shape: the kill set is span-bounded (Σ span lengths), the
    * anti-join and the rebuild both key on doc_id, and the rebuild
    * window is the same doc_id-partitioned sort every per-doc
    * aggregate pays. The span detection itself carries q151's
    * documented hot-gram bound. */
  def scrubSharedSpans(docs: DataFrame): DataFrame = {
    val spans = sharedSpans(docs)
    val covered = spans
      .select(col("doc_b").as("doc_id"),
        explode(expr("sequence(b_start, b_start + span_tokens - 1)"))
          .as("pos"))
      .distinct()
    val words = docs
      // inline generator — the q76 codegen-Generate note in TextOps
      .select(col("doc_id"),
        posexplode(expr(TextOps.wordsSpark)).as(Seq("pos", "word")))
      .withColumn("pos", col("pos").cast("long"))
    val keptAgg = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("""array_join(transform(
            array_sort(collect_list(struct(pos, word))), s -> s.word),
            ' ')""").as("text_clean"))
    docs.select(col("doc_id"),
        expr(s"CAST(size($wordsSpark) AS BIGINT)").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  val q153SpanScrub = OpSpec(
    "q153_span_scrub",
    (s, dir) => scrubSharedSpans(table(s, dir, "documents")),
    Some(s"""
      WITH $sharedSpansSql,
      covered AS (
        SELECT DISTINCT doc_b AS doc_id, b_start + i AS pos
        FROM spans,
          LATERAL (SELECT unnest(generate_series(0, span_tokens - 1)) AS i)),
      w AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, words[i] AS word
        FROM (SELECT doc_id, $wordsDuck AS words FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(words))) AS i)),
      keptagg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          string_agg(word, ' ' ORDER BY pos ASC) AS text_clean
        FROM w
        WHERE NOT EXISTS (SELECT 1 FROM covered c
          WHERE c.doc_id = w.doc_id AND c.pos = w.pos)
        GROUP BY doc_id),
      tot AS (
        SELECT doc_id, CAST(len($wordsDuck) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT t.doc_id, t.n_tokens,
        t.n_tokens - COALESCE(k.n_kept, 0) AS n_removed,
        COALESCE(k.text_clean, '') AS text_clean
      FROM tot t LEFT JOIN keptagg k USING (doc_id)"""))

  /** Per-source exact-duplicate rate — the data-source quality lens a
    * curation pipeline triages acquisitions with (a source that is 40%
    * internal duplicates gets its crawler fixed, not more budget).
    * One aggregate over (source, content-hash): distinct-vs-total
    * counts, dup rate as one division of exact integers. */
  val q148SourceDupRate = OpSpec(
    "q148_source_dup_rate",
    (s, dir) => {
      table(s, dir, "documents")
        .select(col("source"), md5(col("text").cast("binary")).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          ((col("n_docs") - col("n_distinct")).cast("double")
            / col("n_docs").cast("double")).as("dup_rate"))
    },
    Some("""
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
        CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS dup_rate
      FROM (SELECT source, md5(text) AS h FROM documents)
      GROUP BY source"""))

  /** Cross-source content-overlap matrix — which sources feed the
    * pipeline the SAME documents (the dedup budget question: dropping
    * a redundant source beats deduping it forever). Content identity
    * is the q26 word-SET fingerprint (order/repetition-insensitive —
    * cross-source copies rarely survive byte-identical). Distinct
    * (fingerprint, source) rows self-join on the fingerprint — bucket
    * size per fingerprint is bounded by the SOURCE DOMAIN, not the
    * corpus, so the pair explosion is |fps|·|sources|² at absolute
    * worst — then pairs count the distinct shared contents. */
  val q149SourceOverlap = OpSpec(
    "q149_source_overlap",
    (s, dir) => {
      val hs = table(s, dir, "documents")
        .select(expr(
          s"md5(CAST(array_join(array_sort(array_distinct($wordsSpark)), ' ') AS BINARY))")
          .as("h"), col("source"))
        .distinct()
      hs.as("a").join(hs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    },
    Some(s"""
      WITH hs AS (
        SELECT DISTINCT
          md5(list_aggregate(list_sort(list_distinct($wordsDuck)),
            'string_agg', ' ')) AS h,
          source
        FROM documents)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2"""))

  /** q170: canonical-form dedup keys — q25 hashes raw bytes; this
    * hashes the canonicalization web corpora apply first (casefold,
    * punctuation strip, whitespace collapse: one `[^a-z0-9]+`→space
    * pass + trim — the C4/CCNet-style normalization; DuckDB needs the
    * explicit 'g' flag Spark's regexp_replace implies). Emits one row
    * per doc: the canonical key, raw/canonical lengths (the gate runs
    * the transform itself through md5 AND through the length delta),
    * the group's copy count and keeper id, and is_keeper. The corpus
    * has no normalized dups (verified — so q25 misses nothing here),
    * but the operator's contract is the (nk, n_copies, keep_id)
    * machinery, exercised per row. Scale: per-row map + one
    * partial-aggregated group-by on nk, same shuffle shape as q25
    * with strictly more recall. */
  val q170NormalizedDedup = OpSpec(
    "q170_normalized_dedup",
    (s, dir) => {
      val keyed = table(s, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(length(text) AS BIGINT)").as("n_raw"),
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
            .as("norm"))
        .select(col("doc_id"), md5(col("norm").cast("binary")).as("nk"),
          col("n_raw"), expr("CAST(length(norm) AS BIGINT)").as("n_canon"))
      // group stats via partial-aggregated group-by + equi-join back
      // (not an unordered window — same shuffle key, codegen-friendly)
      val grp = keyed.groupBy(col("nk"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      keyed.join(grp, "nk")
        .select(col("doc_id"), col("nk"), col("n_raw"), col("n_canon"),
          col("n_copies"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("is_keeper"))
    },
    Some("""
      SELECT doc_id, nk, n_raw, n_canon,
        CAST(COUNT(*) OVER (PARTITION BY nk) AS BIGINT) AS n_copies,
        MIN(doc_id) OVER (PARTITION BY nk) AS keep_id,
        doc_id = MIN(doc_id) OVER (PARTITION BY nk) AS is_keeper
      FROM (SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                      'g'))) AS nk,
              CAST(length(text) AS BIGINT) AS n_raw,
              CAST(length(trim(regexp_replace(lower(text), '[^a-z0-9]+',
                                              ' ', 'g'))) AS BIGINT)
                AS n_canon
            FROM documents)"""))

  /** q172: MinHash estimator-quality audit — for every LSH candidate
    * pair, the signature-estimated Jaccard (matching coordinates / K)
    * side-by-side with the exact shingle-set Jaccard and the absolute
    * error. This is the calibration readout a pipeline owner checks
    * before trusting q27's threshold at 100 TB (is K=12 tight enough
    * for THIS corpus?) — and it is pure reuse: same hashed shingles,
    * same capped bands, same equi-join candidate generation; the only
    * additions are a 12-term coordinate-match sum on the joined
    * signature rows and the unthresholded exact verify. All arithmetic
    * is integer until the two final divisions of identically-rounded
    * doubles. */
  val q172MinhashError = OpSpec(
    "q172_minhash_error",
    (s, dir) => {
      val hashed = hashedShingles(table(s, dir, "documents")).persist()
      val matchSum = (0 until K).map(i =>
        s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
      auditedCandidates(hashed,
          expr(s"CAST($matchSum AS BIGINT)").as("n_match"))
        .withColumn("j_est", col("n_match").cast("double") / lit(K))
        .withColumn("j_exact", col("n_inter").cast("double") /
          (col("sza") + col("szb") - col("n_inter")))
        .select(col("doc_a"), col("doc_b"), col("n_match"), col("j_est"),
          col("n_inter"), col("j_exact"),
          abs(col("j_est") - col("j_exact")).as("abs_err"))
    },
    Some {
      val matchSum = (0 until K).map(i =>
        s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      $candDuck,
      est AS (
        SELECT c.doc_a, c.doc_b, CAST($matchSum AS BIGINT) AS n_match
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b),
      $interDuck
      SELECT e.doc_a, e.doc_b, e.n_match,
        CAST(e.n_match AS DOUBLE) / $K AS j_est,
        CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
        CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
          / (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS j_exact,
        abs(CAST(e.n_match AS DOUBLE) / $K
          - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
            / (sa.sz + sb.sz - COALESCE(i.n_inter, 0))) AS abs_err
      FROM est e
      LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      JOIN sizes sa ON sa.doc_id = e.doc_a
      JOIN sizes sb ON sb.doc_id = e.doc_b"""
    })

  /** q177: entity-resolution blocking audit — BEFORE running a fuzzy
    * join at 100 TB you choose a blocking key by its measured
    * pair-budget, not by vibes. For three candidate strategies over
    * part names (3-char prefix, length bucket, first word) this emits
    * the block count, the largest block (the hot-bucket risk q95's cap
    * exists for), the total candidate-pair budget Σ b(b−1)/2, and the
    * reduction ratio vs the n(n−1)/2 all-pairs baseline — the numbers
    * that decide which key keeps the q95/q107 joins linear. Integer
    * arithmetic throughout (the even product sum halves exactly); one
    * final double ratio. Scale: three aggregations over (strategy,
    * key) counts — metadata-sized, never materializes a pair. */
  val q177BlockingAudit = OpSpec(
    "q177_blocking_audit",
    (s, dir) => {
      val parts = table(s, dir, "part")
      val n = parts.agg(count(lit(1)).as("n_rows"))
      parts
        .select(explode(expr("""array(
            named_struct('strategy', 'prefix3',
              'bkey', lower(substring(p_name, 1, 3))),
            named_struct('strategy', 'lenbucket',
              'bkey', CAST(CAST(floor(CAST(length(p_name) AS DOUBLE) / 4)
                AS BIGINT) AS STRING)),
            named_struct('strategy', 'first_word',
              'bkey', element_at(split(p_name, ' '), 1)))""")).as("x"))
        .select(col("x.strategy").as("strategy"), col("x.bkey").as("bkey"))
        .groupBy(col("strategy"), col("bkey"))
        .agg(count(lit(1)).as("b"))
        .groupBy(col("strategy"))
        .agg(count(lit(1)).as("n_blocks"), max(col("b")).as("max_block"),
          expr("CAST(SUM(b * (b - 1)) / 2 AS BIGINT)").as("pair_budget"))
        .crossJoin(broadcast(n))
        .select(col("strategy"), col("n_blocks"), col("max_block"),
          col("pair_budget"),
          expr("""CAST(pair_budget AS DOUBLE)
                  / (CAST(n_rows AS DOUBLE) * CAST(n_rows - 1 AS DOUBLE)
                     / 2)""").as("reduction"))
    },
    Some("""
      WITH keys AS (
        SELECT 'prefix3' AS strategy, lower(substr(p_name, 1, 3)) AS bkey
        FROM part
        UNION ALL
        SELECT 'lenbucket',
          CAST(CAST(floor(CAST(length(p_name) AS DOUBLE) / 4) AS BIGINT)
               AS VARCHAR)
        FROM part
        UNION ALL
        SELECT 'first_word', string_split(p_name, ' ')[1] FROM part),
      blocks AS (
        SELECT strategy, bkey, CAST(COUNT(*) AS BIGINT) AS b
        FROM keys GROUP BY 1, 2),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM part)
      SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        MAX(b) AS max_block,
        CAST(SUM(b * (b - 1)) / 2 AS BIGINT) AS pair_budget,
        CAST(CAST(SUM(b * (b - 1)) / 2 AS BIGINT) AS DOUBLE)
          / (CAST(MAX(n.n_rows) AS DOUBLE)
             * CAST(MAX(n.n_rows) - 1 AS DOUBLE) / 2) AS reduction
      FROM blocks, n
      GROUP BY strategy"""))

  /** q195: LSH recall audit — the probabilistic pipeline measured
    * against exact ground truth: every pair the lossless q50 ppjoin
    * proves has Jaccard ≥ 3/4 is checked for presence in q27's
    * MinHash-LSH output (any such pair clears q27's 1/4 verify
    * threshold, so absence means the BANDS missed it — the only
    * failure mode LSH has). Emits each truth pair with its exact
    * Jaccard, a found flag, and the corpus-level truth/found counts +
    * recall (the number that justifies K=12/B=4 at 100 TB, or doesn't).
    * Pure reuse of two gated queries + one equi-join; the totals are a
    * 1-row scalar broadcast. */
  val q195LshRecallAudit = OpSpec(
    "q195_lsh_recall_audit",
    (s, dir) => {
      // the lossless-ppjoin truth arm and the MinHash-LSH arm are
      // independent sub-pipelines joined only at the end — pin and
      // materialize them CONCURRENTLY (guide §2.6, the q220 pool
      // treatment) so the audit pays ~max(arm), not sum(arm)
      val truth = q50NgramJaccard.query(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard")).persist()
      val lsh = q27MinhashLsh.query(s, dir)
        .select(col("doc_a"), col("doc_b"), lit(true).as("found"))
        .persist()
      graft.io.Sinks.concurrently(Seq(
        () => { truth.count(); () }, () => { lsh.count(); () }))
      val flagged = truth.join(lsh, Seq("doc_a", "doc_b"), "left")
        .withColumn("found", coalesce(col("found"), lit(false)))
        .persist()
      val totals = flagged.agg(count(lit(1)).as("n_truth"),
        sum(when(col("found"), 1L).otherwise(0L)).as("n_found"))
      flagged.crossJoin(broadcast(totals))
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("found"),
          col("n_truth"), col("n_found"),
          (col("n_found").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
    },
    Some(s"""
      WITH truth AS (
        SELECT doc_a, doc_b, jaccard FROM (${q50NgramJaccard.oracle.get})),
      lsh AS (
        SELECT doc_a, doc_b, TRUE AS found
        FROM (${q27MinhashLsh.oracle.get})),
      flagged AS (
        SELECT t.doc_a, t.doc_b, t.jaccard,
          COALESCE(l.found, FALSE) AS found
        FROM truth t LEFT JOIN lsh l
          ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b),
      totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
          CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT)
            AS n_found
        FROM flagged)
      SELECT f.doc_a, f.doc_b, f.jaccard, f.found,
        t.n_truth, t.n_found,
        CAST(t.n_found AS DOUBLE) / CAST(t.n_truth AS DOUBLE) AS recall
      FROM flagged f CROSS JOIN totals t"""))

  /** Swept band widths: every divisor banding of the K=12 signature.
    * B bands of R=K/B rows each — B=12/R=1 is the highest-recall/
    * highest-candidate-volume extreme, B=2/R=6 the most selective. */
  private val SweepBs = Seq(2, 3, 4, 6, 12)

  /** q209: MinHash (K, B) band-parameter sweep — the data-driven
    * operator-choice readout for the 100 TB dedup pass: the SAME K=12
    * signatures re-banded at every divisor B, each banding's candidate
    * volume and its recall against q50's lossless ≥ 3/4 ground truth
    * (the q195 audit, swept instead of fixed at q27's (12, 4)). A
    * pipeline owner reads this curve to pick the cheapest banding
    * whose recall clears the bar BEFORE committing a corpus-wide run.
    * Bounded: signatures are computed ONCE (one groupBy over shingle
    * rows); re-banding is a per-row stack, and all five bandings share
    * one self-equi-join keyed by (b, band_idx, band_val). The sweep is
    * uncapped on purpose — it must measure the TRUE candidate volume a
    * banding implies (q27's production cap would hide exactly the
    * hot-bucket blowup the sweep exists to reveal; at B=12/R=1 single-
    * hash buckets are the worst case and the count quantifies it).
    *
    * AUDIT ONLY: the uncapped self-join IS the measurement — never
    * lift this query into a production dedup path; q27's capped band
    * join remains the operator. Relationship to the streaming tier:
    * q206 streams the CURRENT (12, 4) banding's buckets — re-banding a
    * live stream to a sweep-chosen B means recomputing band signatures
    * at ingest (row-local, cheap), not reshaping existing state. */
  val q209BandSweep = OpSpec(
    "q209_band_sweep",
    (s, dir) => {
      val sigs = minhashSigs(hashedShingles(table(s, dir, "documents")))
      val bandArms = SweepBs.flatMap { b =>
        val r = K / b
        (0 until b).map { j =>
          val cat = (0 until r).map(i => s"CAST(s${j * r + i} AS STRING)")
            .mkString(", ")
          s"CAST($b AS BIGINT), CAST($j AS BIGINT), concat_ws('|', $cat)"
        }
      }
      val bands = sigs.select(col("doc_id"),
        expr(s"stack(${bandArms.size}, ${bandArms.mkString(", ")})" +
          " AS (b, band_idx, band_val)")).persist()
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.b") === col("y.b") &&
            col("x.band_idx") === col("y.band_idx") &&
            col("x.band_val") === col("y.band_val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.b").as("b"), col("x.doc_id").as("doc_a"),
          col("y.doc_id").as("doc_b"))
        .distinct().persist()
      val truth = q50NgramJaccard.query(s, dir)
        .select(col("doc_a"), col("doc_b")).persist()
      // the swept-banding candidate arm and the lossless-ppjoin truth
      // arm are independent — materialize them concurrently (guide
      // §2.6, the q220 pool treatment); cand's fill warms `bands` too
      graft.io.Sinks.concurrently(Seq(
        () => { cand.count(); () }, () => { truth.count(); () }))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nCand = cand.groupBy(col("b")).agg(count(lit(1)).as("n_cand"))
      val nFound = cand.join(truth, Seq("doc_a", "doc_b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_found"))
      // explicit 5-row B domain + left joins: a banding with zero
      // candidates (or an empty truth set) must still emit its row
      // with zeros — the q178 empty-set lesson
      import s.implicits._
      SweepBs.map(_.toLong).toDF("b")
        .join(nCand, Seq("b"), "left")
        .join(nFound, Seq("b"), "left")
        .join(broadcast(nTruth), lit(true), "left")
        .select(col("b"), lit(K.toLong).as("k"),
          expr(s"CAST($K DIV b AS BIGINT)").as("r"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          col("n_truth"),
          coalesce(col("n_found"), lit(0L)).as("n_found"),
          (coalesce(col("n_found"), lit(0L)).cast("double") /
            col("n_truth").cast("double")).as("recall"))
    },
    Some {
      val bandUnion = SweepBs.flatMap { b =>
        val r = K / b
        (0 until b).map { j =>
          val cat = (0 until r).map(i => s"CAST(s${j * r + i} AS VARCHAR)")
            .mkString(", ")
          s"SELECT doc_id, CAST($b AS BIGINT) AS b, CAST($j AS BIGINT)" +
            s" AS band_idx, concat_ws('|', $cat) AS band_val FROM sigs"
        }
      }.mkString("\n      UNION ALL\n      ")
      s"""
      $sigsDuck,
      bands AS ($bandUnion),
      cand AS (
        SELECT DISTINCT x.b, x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.b = y.b AND x.band_idx = y.band_idx
         AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
      truth AS (
        SELECT doc_a, doc_b FROM (${q50NgramJaccard.oracle.get})),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
      cc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_cand
             FROM cand GROUP BY b),
      ff AS (SELECT c.b, CAST(COUNT(*) AS BIGINT) AS n_found
             FROM cand c JOIN truth t
               ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
             GROUP BY c.b),
      doms AS (SELECT CAST(unnest([${SweepBs.mkString(", ")}]) AS BIGINT)
                 AS b)
      SELECT d.b, CAST($K AS BIGINT) AS k, CAST($K // d.b AS BIGINT) AS r,
        COALESCE(cc.n_cand, 0) AS n_cand, nt.n_truth,
        COALESCE(ff.n_found, 0) AS n_found,
        CAST(COALESCE(ff.n_found, 0) AS DOUBLE) /
          CAST(nt.n_truth AS DOUBLE) AS recall
      FROM doms d
      LEFT JOIN cc ON cc.b = d.b
      LEFT JOIN ff ON ff.b = d.b
      CROSS JOIN nt"""
    })

  /** q201: b-bit MinHash — the storage-scale variant of q27's
    * signatures: keep only the LOW 4 BITS of each of the K=12
    * minhashes (48 bits per doc instead of 12×64 — the compression
    * that makes signatures cacheable for a 100 TB corpus), and correct
    * the estimator for accidental low-bit collisions:
    * Ĵ = (m/K − 2⁻ᵇ)/(1 − 2⁻ᵇ) = (16m − K)/(15K), an exact integer
    * ratio. Emitted per LSH candidate pair alongside the full-width
    * estimate and the exact Jaccard (the q172 audit extended one
    * compression level down) — the judge of whether 4 bits suffice for
    * THIS corpus. All reuse: same signatures, same capped candidate
    * join; the b-bit columns are `% 16` projections. */
  val q201BbitMinhash = OpSpec(
    "q201_bbit_minhash",
    (s, dir) => {
      val hashed = hashedShingles(table(s, dir, "documents")).persist()
      val fullSum = (0 until K).map(i =>
        s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
      val bbitSum = (0 until K).map(i =>
        s"(CASE WHEN a.s$i % 16 = b.s$i % 16 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      auditedCandidates(hashed,
          expr(s"CAST($fullSum AS BIGINT)").as("m_full"),
          expr(s"CAST($bbitSum AS BIGINT)").as("m_bbit"))
        .select(col("doc_a"), col("doc_b"), col("m_full"), col("m_bbit"),
          (col("m_full").cast("double") / lit(K)).as("j_full"),
          expr(s"""CAST(16 * m_bbit - $K AS DOUBLE)
                   / CAST(15 * $K AS DOUBLE)""").as("j_bbit"),
          (col("n_inter").cast("double") /
            (col("sza") + col("szb") - col("n_inter"))).as("j_exact"))
    },
    Some {
      val fullSum = (0 until K).map(i =>
        s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")
      val bbitSum = (0 until K).map(i =>
        s"(CASE WHEN sa.s$i % 16 = sb.s$i % 16 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""
      $candDuck,
      est AS (
        SELECT c.doc_a, c.doc_b,
          CAST($fullSum AS BIGINT) AS m_full,
          CAST($bbitSum AS BIGINT) AS m_bbit
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b),
      $interDuck
      SELECT e.doc_a, e.doc_b, e.m_full, e.m_bbit,
        CAST(e.m_full AS DOUBLE) / $K AS j_full,
        CAST(16 * e.m_bbit - $K AS DOUBLE) / CAST(15 * $K AS DOUBLE)
          AS j_bbit,
        CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
          / (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS j_exact
      FROM est e
      LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      JOIN sizes sa ON sa.doc_id = e.doc_a
      JOIN sizes sb ON sb.doc_id = e.doc_b"""
    })

  val all: Seq[OpSpec] = Seq(
    q25DedupExact, q26DedupWordset, q27MinhashLsh, q28Simhash,
    q29SimhashPairs, q50NgramJaccard, q51DedupClusters,
    q55IncrementalDedup, q58Decontamination, q68DupCoverage,
    q69BlockDedup, q94TriangleCount, q95FuzzyJoin, q107ContainmentJoin,
    q148SourceDupRate, q149SourceOverlap, q151SharedSpans, q153SpanScrub,
    q163GoldenRecord, q170NormalizedDedup, q172MinhashError,
    q177BlockingAudit, q178SimhashSweep, q195LshRecallAudit,
    q201BbitMinhash, q209BandSweep, q211PurgedDedup,
    q257ContainmentPurge, q258FuzzyPurge,
    q262ContainmentVacuum, q263FuzzyVacuum)
}
