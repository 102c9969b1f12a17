package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import graft.io.{IndexLifecycle, Sinks}
import graft.io.IndexLifecycle.NoveltyIndexTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the text half of
  * the curation pipeline (reference ties: `langdetect` in
  * requirements.txt:41; score-based curation macvid.py:113-115; caption
  * parsing F9-F11). All kernels are pure column expressions (whole-stage
  * codegen, no UDFs) and every one is DuckDB-oracle-checked.
  *
  * Portability notes (Spark ↔ DuckDB exactness):
  *  - words are split with the same regex; Spark string literals process
  *    backslash escapes, DuckDB's do not — hence '\\s' vs '\s' below.
  *  - ratios are single IEEE divisions of exact integers → bit-identical.
  *  - numeric hashes are derived from md5 hex digits with instr/substring
  *    arithmetic available identically in both engines.
  */
object TextOps {

  /** Spark-side word array (non-empty tokens). */
  private[ops] val wordsSpark = "filter(split(text, '\\\\s+'), x -> length(x) > 0)"
  /** DuckDB-side word array (graft-visible: the q284 streaming oracle
    * reuses it verbatim). */
  private[graft] val wordsDuck =
    "list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)"

  /** Portable numeric hash: first `n` hex digits of an md5 string column
    * folded to a BIGINT (the shared [[DedupOps.hexToLong]] fold —
    * identical text works in both engines). */
  private[ops] def hexToLong(md5Col: String, n: Int): String =
    DedupOps.hexToLong(md5Col, 1, n)

  /** Stopword list of the quality kernel — single definition so q23 and
    * the composed pipeline (q49) cannot drift apart. */
  private[ops] val stopwordsSql: String =
    Seq("the", "a", "of", "and", "to").map(w => s"'$w'").mkString(", ")

  /** The 0.4/0.3/0.3 quality score over columns (n_words, n_punct,
    * n_stop) — engine-portable SQL text, shared by q23 and q49.
    * `lenExpr` is the document-length expression (both engines compute
    * it the same way, but q49's oracle precomputes it as a column).
    *
    * Empty/whitespace-only documents score 0.0 explicitly: the naked
    * divisions would throw DIVIDE_BY_ZERO under Spark 4's default ANSI
    * mode (and NULL-diverge with ANSI off). Rounding is
    * floor(x·1e6 + 0.5)/1e6 rather than round(x, 6): both engines then
    * run the IDENTICAL IEEE double ops, whereas Spark's round
    * (BigDecimal shortest-string HALF_UP) and DuckDB's (scaled-double)
    * disagree on tie-adjacent values — e.g. round(0.285, 2) = 0.29 vs
    * 0.28. The score is non-negative, so the +0.5-floor recipe is
    * well-defined.
    *
    * Every numeric literal is EXPONENT notation (4e-1, 5e1, …), never a
    * bare decimal point: DuckDB types `0.4` as DECIMAL and its
    * version-dependent DECIMAL↔DOUBLE coercion shifted the value by an
    * ulp under the driver's DuckDB (CORRECTNESS_r02 q23/q49 hash
    * mismatch), which the 1e-6 floor grid amplified. `4e-1` is DOUBLE in
    * both engines, so both run the identical IEEE ops. */
  private[ops] def qualityFormula(lenExpr: String): String =
    s"""(CASE WHEN n_words = 0 OR $lenExpr = 0 THEN 0e0 ELSE
         floor((4e-1 * least(CAST(n_words AS DOUBLE) / 5e1, 1e0)
              + 3e-1 * (1e0 - CAST(n_punct AS DOUBLE) / $lenExpr)
              + 3e-1 * (CAST(n_stop AS DOUBLE) / n_words)) * 1e6 + 5e-1)
         / 1e6 END)"""

  /** The document-quality stage over a frame with a `text` column — ONE
    * definition for q23, the curation queries (q49, q200, q203, q253),
    * the q276-q278 funnel and the classifier features: `words` →
    * `n_words` → `n_punct` → `n_stop` → column `out` = `score` (by
    * default the [[qualityFormula]] over the document length). The
    * callers that score over a precomputed length add it with
    * `lenCols` (right after `words`); `wordCols` follow `n_words`. */
  private[graft] def qualityStage(docs: DataFrame, out: String = "quality",
      score: String = qualityFormula("length(text)"),
      lenCols: Seq[(String, Column)] = Nil,
      wordCols: Seq[(String, Column)] = Nil): DataFrame = {
    def add(df: DataFrame, cs: Seq[(String, Column)]) =
      cs.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    add(add(docs.withColumn("words", expr(wordsSpark)), lenCols)
        .withColumn("n_words", expr("CAST(size(words) AS BIGINT)")), wordCols)
      .withColumn("n_punct",
        expr("CAST(length(regexp_replace(text, '[a-z0-9 ]', '')) AS BIGINT)"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(words, w -> w IN ($stopwordsSql))) AS BIGINT)"))
      .withColumn(out, expr(score))
  }

  /** DuckDB twin of [[qualityStage]]'s counts: `SELECT lead n_words,
    * mid n_punct, n_stop tail` over `cols` of `rel` plus the word
    * array. The score stays in each caller's own SELECT. */
  private[ops] def qualityCountsDuck(lead: String, cols: String, rel: String,
      mid: String = "", tail: String = ""): String = s"""SELECT $lead
        CAST(len(words) AS BIGINT) AS n_words,$mid
        CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        CAST(len(list_filter(words, w -> w IN ($stopwordsSql))) AS BIGINT) AS n_stop$tail
      FROM (SELECT $cols, $wordsDuck AS words FROM $rel)"""

  /** Token counting + quality raw stats (SURVEY §2.12 text stats):
    * whitespace tokens, BPE-ish regex tokens, char-class counts,
    * stopword ratio. */
  val q21TextStats = OpSpec(
    "q21_text_stats",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          expr("CAST(size(words) AS BIGINT)").as("n_words"),
          expr("CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
            .as("n_tokens"),
          expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)")
            .as("n_nonspace"),
          expr(s"CAST(size(filter(words, w -> w IN ($stopwordsSql))) AS BIGINT)")
            .as("n_stopwords"),
          expr("CAST(length(regexp_replace(text, '[a-z0-9 ]', '')) AS BIGINT)")
            .as("n_punct"))
        // zero-word docs yield NULL ratios in BOTH engines (a naked
        // division throws under Spark 4's default ANSI mode)
        .withColumn("avg_word_len", when(col("n_words") === 0, lit(null))
          .otherwise(col("n_nonspace").cast("double") / col("n_words")))
        .withColumn("stopword_ratio", when(col("n_words") === 0, lit(null))
          .otherwise(col("n_stopwords").cast("double") / col("n_words")))
    },
    Some(s"""
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(words) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace,
        CAST(len(list_filter(words, w -> w IN ($stopwordsSql))) AS BIGINT) AS n_stopwords,
        CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        CASE WHEN len(words) = 0 THEN NULL ELSE
          CAST(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS DOUBLE) / len(words) END AS avg_word_len,
        CASE WHEN len(words) = 0 THEN NULL ELSE
          CAST(CAST(len(list_filter(words, w -> w IN ($stopwordsSql))) AS BIGINT) AS DOUBLE) / len(words) END AS stopword_ratio
      FROM (SELECT doc_id, text, $wordsDuck AS words FROM documents)"""))

  /** Language-ID by marker-word voting (the n-gram-heuristic shape of
    * langdetect): per-language marker hit counts, deterministic
    * first-wins argmax, agreement flag against the labeled lang. */
  val q22LangId = OpSpec(
    "q22_lang_id",
    (s, dir) => {
      def score(markers: Seq[String]): String =
        s"CAST(size(filter(words, w -> w IN (${markers.map(m => s"'$m'").mkString(", ")}))) AS BIGINT)"
      table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .withColumn("s_en", expr(score(Seq("the", "a", "fast", "slow"))))
        .withColumn("s_es", expr(score(Seq("data", "table", "row"))))
        .withColumn("s_de", expr(score(Seq("join", "merge", "sort"))))
        .withColumn("s_fr", expr(score(Seq("query", "filter", "group"))))
        .withColumn("s_zh", expr(score(Seq("spark", "stream", "batch"))))
        .withColumn("pred_lang", expr(
          """CASE
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END"""))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          col("s_en"), col("s_es"), col("s_de"), col("s_fr"), col("s_zh"),
          expr("CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS BIGINT)")
            .as("agree"))
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(words, w -> w IN ('the','a','fast','slow'))) AS BIGINT) AS s_en,
          CAST(len(list_filter(words, w -> w IN ('data','table','row'))) AS BIGINT) AS s_es,
          CAST(len(list_filter(words, w -> w IN ('join','merge','sort'))) AS BIGINT) AS s_de,
          CAST(len(list_filter(words, w -> w IN ('query','filter','group'))) AS BIGINT) AS s_fr,
          CAST(len(list_filter(words, w -> w IN ('spark','stream','batch'))) AS BIGINT) AS s_zh
        FROM (SELECT doc_id, lang, $wordsDuck AS words FROM documents)),
      pred AS (
        SELECT *,
          CASE
            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS pred_lang
        FROM scored)
      SELECT doc_id, lang, pred_lang, s_en, s_es, s_de, s_fr, s_zh,
        CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS BIGINT) AS agree
      FROM pred"""))

  /** Quality scoring for curation (length / punctuation / stopword
    * components → one score + keep/drop verdict; the score-band filter
    * of macvid.py:113-115 `best_ocr_only`). */
  val q23QualityScore = OpSpec(
    "q23_quality_score",
    (s, dir) => {
      qualityStage(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("quality"),
          expr("CASE WHEN quality >= 5e-1 THEN 'keep' ELSE 'drop' END")
            .as("verdict"))
    },
    Some(s"""
      SELECT doc_id, n_words,
        ${qualityFormula("length(text)")} AS quality,
        CASE WHEN ${qualityFormula("length(text)")} >= 5e-1
             THEN 'keep' ELSE 'drop' END AS verdict
      FROM (${qualityCountsDuck("doc_id, text,", "doc_id, text", "documents")})"""))

  /** Document fingerprinting: md5 of the whitespace-normalized text plus
    * a numeric 48-bit fingerprint folded from the hex digits (the
    * portable stand-in for a rolling hash). */
  val q24Fingerprint = OpSpec(
    "q24_fingerprint",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("fp_md5",
          expr("md5(trim(regexp_replace(lower(text), '\\\\s+', ' ')))"))
        .select(col("doc_id"), col("fp_md5"),
          expr(s"CAST(${hexToLong("fp_md5", 12)} AS BIGINT)").as("fp_num"))
    },
    Some(s"""
      SELECT doc_id, fp_md5,
        CAST(${hexToLong("fp_md5", 12)} AS BIGINT) AS fp_num
      FROM (SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5
            FROM documents)"""))

  /** Intra-document repetition metrics (the Gopher-style repetition
    * filters every LLM data pipeline runs: a document whose content is
    * mostly repeated words/n-grams is boilerplate or generation loops):
    * duplicate-word fraction and duplicate-3-gram fraction, with a
    * keep/drop verdict at the 2e-1 gram-repetition threshold. All
    * row-local column arithmetic — no shuffle at any scale; ratios are
    * single IEEE divisions of exact integers (bit-identical across
    * engines), zero-guarded for Spark 4's ANSI division. */
  val q57Repetition = OpSpec(
    "q57_repetition",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
        .withColumn("n_distinct_words",
          expr("CAST(size(array_distinct(words)) AS BIGINT)"))
        .withColumn("n_grams", expr(
          "CAST(greatest(size(words) - 2, 0) AS BIGINT)"))
        .withColumn("n_distinct_grams", expr(
          """CAST(size(array_distinct(CASE WHEN size(words) >= 3
               THEN transform(sequence(0, size(words) - 3),
                 i -> array_join(slice(words, i + 1, 3), ' '))
               ELSE array() END)) AS BIGINT)"""))
        .withColumn("dup_word_ratio", expr(
          """CASE WHEN n_words = 0 THEN 0e0 ELSE
             1e0 - CAST(n_distinct_words AS DOUBLE) / n_words END"""))
        .withColumn("dup_gram_ratio", expr(
          """CASE WHEN n_grams = 0 THEN 0e0 ELSE
             1e0 - CAST(n_distinct_grams AS DOUBLE) / n_grams END"""))
        .select(col("doc_id"), col("n_words"), col("n_grams"),
          col("dup_word_ratio"), col("dup_gram_ratio"),
          // drop ⟺ dup_gram_ratio > 1/5 ⟺ 5·(g - dg) > g, pure integers
          expr("""CASE WHEN 5 * (n_grams - n_distinct_grams) > n_grams
                  THEN 'drop' ELSE 'keep' END""").as("verdict"))
    },
    Some(s"""
      SELECT doc_id, n_words, n_grams,
        CASE WHEN n_words = 0 THEN 0e0 ELSE
          1e0 - CAST(n_distinct_words AS DOUBLE) / n_words END AS dup_word_ratio,
        CASE WHEN n_grams = 0 THEN 0e0 ELSE
          1e0 - CAST(n_distinct_grams AS DOUBLE) / n_grams END AS dup_gram_ratio,
        CASE WHEN 5 * (n_grams - n_distinct_grams) > n_grams
             THEN 'drop' ELSE 'keep' END AS verdict
      FROM (SELECT doc_id,
              CAST(len(words) AS BIGINT) AS n_words,
              CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
              CAST(greatest(len(words) - 2, 0) AS BIGINT) AS n_grams,
              CAST(len(list_distinct(CASE WHEN len(words) >= 3
                THEN list_transform(generate_series(1, len(words) - 2),
                  i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])
                ELSE [] END)) AS BIGINT) AS n_distinct_grams
            FROM (SELECT doc_id, $wordsDuck AS words FROM documents))"""))

  /** Tokens per training sequence — q59/q60's shared pack budget. */
  private val PackBudget = 512

  /** The ONE definition of the q59/q60 pack-assignment rule (Spark
    * side): per-shard exclusive running token total `cum0`; a document
    * belongs to pack `cum0 DIV budget` at offset `cum0 % budget`.
    * Emits (doc_id, text, shard_id, n_tokens, cum0). Factored so the
    * materializer can never drift from the assigner. */
  private def packedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    table(s, dir, "documents")
      .withColumn("shard_id", col("doc_id") % 8)
      .withColumn("n_tokens", expr(s"CAST(size($wordsSpark) AS BIGINT)"))
      .withColumn("cum0", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
  }

  /** DuckDB twin of [[packedDocs]] as a subquery body. */
  private val packedDuck = s"""
    SELECT doc_id, text, shard_id, n_tokens,
      CAST(COALESCE(SUM(n_tokens) OVER (
        PARTITION BY shard_id ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        AS BIGINT) AS cum0
    FROM (SELECT doc_id, text, doc_id % 8 AS shard_id,
            CAST(len($wordsDuck) AS BIGINT) AS n_tokens
          FROM documents)"""

  /** Sequence packing — the dataset-assembly step that turns curated
    * documents into fixed-budget training sequences (pack = 512 tokens
    * here): each document gets a pack id and token offset from
    * the running token total of its shard, in deterministic doc_id
    * order. Packing is PER-SHARD (doc_id % 8), the way real pipelines
    * pack per output worker — a single global running total would be a
    * partition-less window (the exact scale smell the plan-audit test
    * forbids). Pure integer arithmetic end to end. */
  val q59SequencePacking = OpSpec(
    "q59_sequence_packing",
    (s, dir) => {
      packedDocs(s, dir)
        .select(col("doc_id"), col("shard_id"), col("n_tokens"),
          expr(s"cum0 DIV $PackBudget").as("pack_id"),
          expr(s"cum0 % $PackBudget").as("offset_in_pack"))
    },
    Some(s"""
      SELECT doc_id, shard_id, n_tokens,
        CAST(cum0 // $PackBudget AS BIGINT) AS pack_id,
        CAST(cum0 % $PackBudget AS BIGINT) AS offset_in_pack
      FROM ($packedDuck)"""))

  /** Pack materialization — q59's companion: concatenate each pack's
    * documents (deterministic doc_id order, explicit separator token)
    * into the actual training-sequence body, emitted as length + md5 so
    * the compare stays compact. Ordered string aggregation is exactly
    * the operation whose row-order nondeterminism silently corrupts
    * training data at scale — here it is pinned on both engines
    * (sort_array over (doc_id, text) structs / string_agg ORDER BY). */
  val q60PackMaterialize = OpSpec(
    "q60_pack_materialize",
    (s, dir) => {
      packedDocs(s, dir)
        .withColumn("pack_id", expr(s"cum0 DIV $PackBudget"))
        .groupBy(col("shard_id"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          expr("""array_join(transform(
               array_sort(collect_list(struct(doc_id, text))),
               x -> x.text), ' <eod> ')""").as("body"))
        .select(col("shard_id"), col("pack_id"), col("n_docs"),
          col("pack_tokens"),
          length(col("body")).cast("long").as("pack_chars"),
          md5(col("body").cast("binary")).as("body_md5"))
    },
    Some(s"""
      SELECT shard_id, pack_id, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        CAST(length(string_agg(text, ' <eod> ' ORDER BY doc_id)) AS BIGINT)
          AS pack_chars,
        md5(string_agg(text, ' <eod> ' ORDER BY doc_id)) AS body_md5
      FROM (SELECT *, CAST(cum0 // $PackBudget AS BIGINT) AS pack_id
            FROM ($packedDuck))
      GROUP BY shard_id, pack_id"""))

  /** Corpus-wide heavy-hitter mining (vocabulary / stopword discovery —
    * the frequency pass a BPE-vocab or stopword-list build starts from).
    * Scale shape: explode → partial-aggregated count (map-side combine
    * absorbs the token blowup before the shuffle — the shuffle carries
    * one row per DISTINCT word per task, not per token) → global top-k
    * via TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows, never a full sort). Ties at rank k are broken by the word
    * itself, so the limit is a total order and both engines cut the same
    * 100 rows. Reference tie: the word-frequency half of
    * `utils/filter_captions.py`-style caption vocabulary checks. */
  val q66VocabMining = OpSpec(
    "q66_vocab_mining",
    (s, dir) => {
      table(s, dir, "documents")
        .select(explode(expr(wordsSpark)).as("w"))
        .select(lower(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(100)
    },
    Some(s"""
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT lower(unnest($wordsDuck)) AS word FROM documents)
      GROUP BY word
      ORDER BY n DESC, word
      LIMIT 100"""))

  /** Email / phone patterns of the PII scrubber — basic character
    * classes only, so the Java-regex (Spark) and RE2-style (DuckDB)
    * dialects parse them identically. */
  private val EmailRe = "[a-z0-9]+@[a-z0-9.]+[a-z0-9]"
  private val PhoneRe = "[+][0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the scrub pass every published-corpus pipeline runs
    * before training. The synthetic corpus carries no PII, so both
    * engines append an IDENTICAL deterministic contact line (derived
    * from doc_id) and the kernel is judged on redacting it out of real
    * surrounding text: match counts + redacted body digest. Row-local
    * regex work (one pass per pattern) — no shuffle at any scale. */
  val q70PiiRedact = OpSpec(
    "q70_pii_redact",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("synth", expr(
          """concat(text, ' contact user', CAST(doc_id AS STRING),
             '@example.com or +1-555-', lpad(CAST(doc_id AS STRING), 4, '0'))"""))
        .withColumn("redacted", expr(
          s"""regexp_replace(regexp_replace(synth, '$EmailRe', '<EMAIL>'),
              '$PhoneRe', '<PHONE>')"""))
        .select(col("doc_id"),
          expr(s"CAST(size(regexp_extract_all(synth, '$EmailRe', 0)) AS BIGINT)")
            .as("n_emails"),
          expr(s"CAST(size(regexp_extract_all(synth, '$PhoneRe', 0)) AS BIGINT)")
            .as("n_phones"),
          length(col("redacted")).cast("long").as("red_chars"),
          md5(col("redacted").cast("binary")).as("red_md5"))
    },
    Some(s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(synth, '$EmailRe')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(synth, '$PhoneRe')) AS BIGINT) AS n_phones,
        CAST(length(redacted) AS BIGINT) AS red_chars,
        md5(redacted) AS red_md5
      FROM (SELECT doc_id, synth,
              regexp_replace(regexp_replace(synth, '$EmailRe', '<EMAIL>', 'g'),
                '$PhoneRe', '<PHONE>', 'g') AS redacted
            FROM (SELECT doc_id,
                    text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +1-555-'
                      || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS synth
                  FROM documents))"""))

  /** Sliding-window chunk size / stride (tokens) — RAG-style chunking
    * with 8-token overlap. */
  private val ChunkLen = 32
  private val ChunkStride = 24

  /** Overlapping-window document chunking — the context-window splitter
    * for retrieval corpora and long-doc training (complement of q59's
    * gap-free packing): chunk i covers tokens [i·stride+1, i·stride+len].
    * n_chunks = 1 + ceil(max(n-len,0)/stride) so the final partial
    * window is kept and short docs yield exactly one chunk. Pure
    * row-local explode — the 1→N generator shape of M1, integer
    * arithmetic end to end, chunk body compared by digest. */
  val q74ChunkOverlap = OpSpec(
    "q74_chunk_overlap",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .withColumn("n", expr("CAST(size(words) AS BIGINT)"))
        .withColumn("n_chunks", expr(
          s"""CASE WHEN n <= $ChunkLen THEN 1
              ELSE (n - $ChunkLen + ${ChunkStride - 1}) DIV $ChunkStride + 1 END"""))
        .withColumn("chunk_idx",
          explode(expr("sequence(0, n_chunks - 1)")))
        .withColumn("start_tok", expr(s"chunk_idx * $ChunkStride + 1"))
        .withColumn("n_tok", expr(s"least(CAST($ChunkLen AS BIGINT), n - start_tok + 1)"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("start_tok"), col("n_tok"),
          expr("md5(CAST(array_join(slice(words, start_tok, n_tok), ' ') AS BINARY))")
            .as("chunk_md5"))
    },
    Some(s"""
      SELECT doc_id, chunk_idx, start_tok,
        least(CAST($ChunkLen AS BIGINT), n - start_tok + 1) AS n_tok,
        md5(array_to_string(
          words[start_tok : start_tok
            + least(CAST($ChunkLen AS BIGINT), n - start_tok + 1) - 1], ' '))
          AS chunk_md5
      FROM (SELECT doc_id, words, n, chunk_idx,
              chunk_idx * $ChunkStride + 1 AS start_tok
            FROM (SELECT doc_id, words, n,
                    CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT)
                      AS chunk_idx
                  FROM (SELECT doc_id, words, n,
                          CASE WHEN n <= $ChunkLen THEN 1
                               ELSE (n - $ChunkLen + ${ChunkStride - 1}) // $ChunkStride + 1 END
                            AS n_chunks
                        FROM (SELECT doc_id, $wordsDuck AS words,
                                CAST(len($wordsDuck) AS BIGINT) AS n
                              FROM documents))))"""))

  /** Gopher-rule bounds (Rae et al., "Scaling Language Models" §A1.1):
    * word count in [MinWords, MaxWords], mean word length in
    * [MinWordLen, MaxWordLen], at least MinStopHits stopword hits. */
  private val MinWords = 50
  private val MaxWords = 100000
  private val MinWordLen = 3
  private val MaxWordLen = 10
  private val MinStopHits = 2

  /** Gopher-style rule-based quality gate — the hard-threshold
    * complement of q23's soft score: each rule is an independent 0/1
    * flag plus an all-rules verdict, so the curation report can show
    * WHY a document was dropped, not just that it was. Mean word length
    * is bounded with pure integer cross-multiplication
    * (lo·n ≤ chars ≤ hi·n ⟺ lo ≤ chars/n ≤ hi) so no double ever
    * enters a comparison; the reported mean itself is one exact IEEE
    * division. Row-local arithmetic — no shuffle at any scale. */
  val q75GopherRules = OpSpec(
    "q75_gopher_rules",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
        .withColumn("n_wchars", expr(
          "CAST(aggregate(words, 0, (a, w) -> a + length(w)) AS BIGINT)"))
        .withColumn("n_stop",
          expr(s"CAST(size(filter(words, w -> w IN ($stopwordsSql))) AS BIGINT)"))
        .withColumn("mean_word_len", expr(
          """CASE WHEN n_words = 0 THEN NULL
             ELSE CAST(n_wchars AS DOUBLE) / n_words END"""))
        .withColumn("ok_count", expr(
          s"CAST(CASE WHEN n_words BETWEEN $MinWords AND $MaxWords THEN 1 ELSE 0 END AS BIGINT)"))
        .withColumn("ok_len", expr(
          s"""CAST(CASE WHEN n_words > 0 AND $MinWordLen * n_words <= n_wchars
               AND n_wchars <= $MaxWordLen * n_words THEN 1 ELSE 0 END AS BIGINT)"""))
        .withColumn("ok_stop", expr(
          s"CAST(CASE WHEN n_stop >= $MinStopHits THEN 1 ELSE 0 END AS BIGINT)"))
        .select(col("doc_id"), col("n_words"), col("n_wchars"), col("n_stop"),
          col("mean_word_len"), col("ok_count"), col("ok_len"), col("ok_stop"),
          expr("""CASE WHEN ok_count + ok_len + ok_stop = 3
                  THEN 'keep' ELSE 'drop' END""").as("verdict"))
    },
    Some(s"""
      SELECT doc_id, n_words, n_wchars, n_stop,
        CASE WHEN n_words = 0 THEN NULL
             ELSE CAST(n_wchars AS DOUBLE) / n_words END AS mean_word_len,
        CAST(CASE WHEN n_words BETWEEN $MinWords AND $MaxWords THEN 1 ELSE 0 END AS BIGINT) AS ok_count,
        CAST(CASE WHEN n_words > 0 AND $MinWordLen * n_words <= n_wchars
          AND n_wchars <= $MaxWordLen * n_words THEN 1 ELSE 0 END AS BIGINT) AS ok_len,
        CAST(CASE WHEN n_stop >= $MinStopHits THEN 1 ELSE 0 END AS BIGINT) AS ok_stop,
        CASE WHEN (CASE WHEN n_words BETWEEN $MinWords AND $MaxWords THEN 1 ELSE 0 END)
                + (CASE WHEN n_words > 0 AND $MinWordLen * n_words <= n_wchars
                     AND n_wchars <= $MaxWordLen * n_words THEN 1 ELSE 0 END)
                + (CASE WHEN n_stop >= $MinStopHits THEN 1 ELSE 0 END) = 3
             THEN 'keep' ELSE 'drop' END AS verdict
      FROM (SELECT doc_id,
              CAST(len(words) AS BIGINT) AS n_words,
              CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0) AS BIGINT) AS n_wchars,
              CAST(len(list_filter(words, w -> w IN ($stopwordsSql))) AS BIGINT) AS n_stop
            FROM (SELECT doc_id, $wordsDuck AS words FROM documents))"""))

  /** Top-k terms to keep per document in q76. */
  private val TfIdfTopK = 3

  /** Per-document term frequencies (doc_id, term, tf) of q76, q124 and
    * q182. The generator is INLINE (not a computed `words` attribute):
    * that keeps the Generate out of whole-stage codegen, which re-drives
    * the HOF split per output row (the gramRowsOf inlined-HOF lesson). */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(wordsSpark)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Document frequencies (term, df) over [[termFreqs]]. */
  private def docFreqs(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** The top-`k` terms by df (ties term asc) — a sort+limit head
    * (TakeOrderedAndProject), no global window. */
  private def dfHead(dfTab: DataFrame, k: Int): DataFrame =
    dfTab.orderBy(col("df").desc, col("term").asc).limit(k)

  /** DuckDB twin of [[termFreqs]] and [[docFreqs]] over `w` (doc_id,
    * words): the `tf` and `dfs` CTEs of q124 and q182. */
  private val tfDfsDuck = """tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(words) AS term FROM w)
        GROUP BY 1, 2),
      dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY 1)"""

  /** TF-IDF keyword extraction (log-free): score = tf · N / df — the
    * same ordering as classic tf·idf for ranking within a document
    * (idf is monotone in N/df) without log(), which the oracle bans
    * (libm vs JVM rounding is not guaranteed identical; N/df division
    * IS exactly rounded IEEE in both engines). tf·N is exact BIGINT
    * arithmetic before the single division, ties broken by term text.
    *
    * Scale shape: tf is one map-side-combined groupBy on (doc_id,
    * term); df is a second groupBy over those already-distinct rows;
    * the df table is vocab-sized → broadcast back onto tf (at a
    * 100 TB corpus with unbounded vocab this join falls back to a
    * sort-merge on term — still one shuffle of narrow rows); the
    * top-k window partitions by doc_id. */
  val q76TfIdf = OpSpec(
    "q76_tfidf_topterms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val tf = termFreqs(docs)
      val dfTab = docFreqs(tf)
      val nDocs = docs.select(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(dfTab), Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", expr("CAST(tf * n_docs AS DOUBLE) / df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TfIdfTopK)
        .select(col("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"), col("score"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, unnest(words) AS term
        FROM (SELECT doc_id, $wordsDuck AS words FROM documents)),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t GROUP BY 1, 2),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      sc AS (
        SELECT doc_id, term, tf, df,
          CAST(tf * n_docs AS DOUBLE) / df AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
        FROM sc)
      SELECT doc_id, rank, term, tf, df, score
      FROM r WHERE rank <= $TfIdfTopK"""))

  /** Posting-list head length for q77. */
  private val PostingsHead = 8

  /** Inverted-index build — the retrieval-side artifact of a curated
    * corpus (term → document frequency + the first [[PostingsHead]]
    * postings by doc_id). The posting list is CAPPED BEFORE
    * aggregation: a per-term row_number window ranks postings and
    * collect_list only ever sees ≤ $PostingsHead rows per term, so a
    * stopword-grade term ('data' in every document of a 100 TB corpus)
    * costs 8 longs, not an unbounded buffer. The window and the
    * groupBy share the `term` hash partitioning — Catalyst reuses the
    * exchange, one shuffle total. Postings are emitted as a
    * comma-joined string (both engines render BIGINT identically). */
  val q77InvertedIndex = OpSpec(
    "q77_inverted_index",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .select(col("doc_id"), explode(array_distinct(col("words"))).as("term"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          expr(s"""array_join(transform(
              sort_array(collect_list(CASE WHEN rn <= $PostingsHead
                THEN doc_id END)), x -> CAST(x AS STRING)), ',')""")
            .as("postings_head"))
    },
    Some(s"""
      WITH p AS (
        SELECT DISTINCT doc_id, unnest(words) AS term
        FROM (SELECT doc_id, $wordsDuck AS words FROM documents)),
      r AS (
        SELECT doc_id, term,
          row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM p)
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= $PostingsHead)), ',')
          AS postings_head
      FROM r GROUP BY term"""))

  /** Winnowing parameters: k-word grams, window of w consecutive gram
    * hashes. Any shared run of at least w + k - 1 words between two
    * documents is GUARANTEED to share a fingerprint (the winnowing
    * theorem) — the no-false-negative local complement to q24's global
    * digest and q27's probabilistic MinHash. */
  private val WinK = 3
  private val WinW = 4

  /** Full-window winnowing rows for an arbitrary (doc_id, text)
    * DataFrame: one row per window position with its selected minimum
    * gram hash `wmin` and the doc's gram count `ng`. Both window specs
    * share one ordered spec (one Window operator, one sort). */
  private def winnowWmin(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val minWords = WinK + WinW - 1 // one full window of grams
    val g = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("words", expr(wordsSpark))
      .filter(size(col("words")) >= minWords)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(words) - $WinK),
            i -> array_join(slice(words, i + 1, $WinK), ' '))"""))
        .as(Seq("pos", "gram")))
      .withColumn("hx", md5(col("gram").cast("binary")))
      .withColumn("h", expr(s"CAST(${hexToLong("hx", 12)} AS BIGINT)"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wWin = wOrd.rowsBetween(Window.currentRow, WinW - 1)
    val wDoc = wOrd.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("ng", count(lit(1)).over(wDoc))
      .withColumn("wmin", min(col("h")).over(wWin))
      .filter(col("pos") <= col("ng") - WinW)
  }

  /** Library form: the distinct winnowing fingerprint set as (doc_id,
    * fp) rows — what an overlap-detection join consumes. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    winnowWmin(docs).select(col("doc_id"), col("wmin").as("fp")).distinct()

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every POSITIONAL k-gram,
    * slide a w-gram window, keep each window's minimum hash; the
    * distinct kept hashes are the document's fingerprint set. Emitted
    * as a per-document profile (count / min / exact integer checksum
    * of the fingerprint set) so the gate hashes the full selection
    * without materializing per-fingerprint rows.
    *
    * Unlike [[DedupOps.gramRowsOf]] the grams here keep their position
    * and are NOT pre-deduped — winnowing's guarantee is positional.
    * The window min and the per-doc gram count ride the same ordered
    * window spec (one Window operator, one sort). Scale shape: grams
    * shuffle once by doc_id (the partition key of both windows); the
    * aggregate is map-side combined. Documents too short for one full
    * window keep a zero profile via the left join (same convention as
    * q68). */
  val q80Winnowing = OpSpec(
    "q80_winnowing",
    (s, dir) => {
      val per = winnowWmin(table(s, dir, "documents"))
        .groupBy(col("doc_id"))
        .agg(max(col("ng")).as("n_grams"),
          count(lit(1)).as("n_windows"),
          countDistinct(col("wmin")).as("n_fingerprints"),
          min(col("wmin")).as("fp_min"),
          sum_distinct(col("wmin")).as("fp_sum"))
      table(s, dir, "documents").select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
          col("fp_min"),
          coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
    },
    Some(s"""
      WITH g AS (
        SELECT doc_id, pos, CAST(${hexToLong("hx", 12)} AS BIGINT) AS h
        FROM (
          SELECT doc_id, i - 1 AS pos,
            md5(words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) AS hx
          FROM (SELECT doc_id, $wordsDuck AS words FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(words) - ${WinK - 1})) AS i)
          WHERE len(words) >= ${WinK + WinW - 1})),
      wm AS (
        SELECT doc_id, pos,
          MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS wmin,
          CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS ng
        FROM g),
      per AS (
        SELECT doc_id, MAX(ng) AS n_grams,
          CAST(COUNT(*) AS BIGINT) AS n_windows,
          CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
          MIN(wmin) AS fp_min,
          CAST(SUM(DISTINCT wmin) AS BIGINT) AS fp_sum
        FROM wm WHERE pos <= ng - $WinW GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(n_grams, 0) AS n_grams,
        COALESCE(n_windows, 0) AS n_windows,
        COALESCE(n_fingerprints, 0) AS n_fingerprints,
        fp_min,
        COALESCE(fp_sum, 0) AS fp_sum
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""))

  /** Corpus-commonness score — the log-free stand-in for the unigram-LM
    * perplexity filter (CCNet-style quality bucketing): per-token mean
    * document frequency. Docs dominated by corpus-rare tokens (gibberish,
    * OCR noise, foreign-language leakage) score LOW; boilerplate-heavy
    * docs score HIGH — both tails are curation targets. All-integer
    * arithmetic (Σ df and token count) until one final double division,
    * so the gate stays bit-exact (Σ log p would diverge per-ulp between
    * engines' libm).
    *
    * Scale shape: token explode → distinct (word, doc) → per-word df
    * (each partial-aggregated before its shuffle); the tokens⨝df join
    * keys on word — a plain hash join, NOT broadcast (a 100 TB corpus
    * vocabulary is itself huge); the final per-doc rollup is one more
    * exchange. Token traffic dominates and is irreducible — every
    * occurrence must meet its df. */
  val q87Commonness = OpSpec(
    "q87_commonness",
    (s, dir) => {
      val tokens = table(s, dir, "documents")
        .select(col("doc_id"), explode(expr(wordsSpark)).as("word"))
      val df = tokens.distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      tokens.join(df, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
        .select(col("doc_id"), col("n_tok"), col("sum_df"),
          (col("sum_df").cast("double") / col("n_tok").cast("double"))
            .as("commonness"))
    },
    Some(s"""
      WITH tokens AS (
        SELECT doc_id, unnest($wordsDuck) AS word FROM documents),
      df AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, word FROM tokens)
        GROUP BY word)
      SELECT t.doc_id, COUNT(*) AS n_tok,
        CAST(SUM(df.df) AS BIGINT) AS sum_df,
        CAST(SUM(df.df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS commonness
      FROM tokens t JOIN df ON t.word = df.word
      GROUP BY t.doc_id"""))

  /** Per-source docs kept by the v2 pipeline's final quota. */
  private val V2Quota = 10

  /** Composed curation pipeline v2 — the round-3/4 operators chained the
    * way a production corpus build runs them, under ONE gate: (1) the
    * q75 Gopher rule gate (integer bounds); (2) exact-dedup survivors
    * (min doc_id per content hash — q25); (3) corpus-RELATIVE
    * commonness band over the surviving corpus (q87's integer df sums;
    * membership by cross-multiplied 0.85 ≤ Σdf/(n_tok·N) ≤ 0.95 where N
    * is the survivor count — a 1-row broadcast, and absolute-threshold
    * drift across scale factors never decides rows); (4) a
    * deterministic per-source quota (q52's salted-md5 rank). Every
    * stage's selection is integer/exact, so the composed plan —
    * filters, dedup aggregate, token join, scalar subquery, quota
    * window — hash-matches end to end (the q49 composition widened to
    * the newer operator families). */
  val q100PipelineV2 = OpSpec(
    "q100_pipeline_v2",
    (s, dir) => {
      val gated = table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
        .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
        .withColumn("n_wchars", expr(
          "CAST(aggregate(words, 0, (a, w) -> a + length(w)) AS BIGINT)"))
        .withColumn("n_stop", expr(
          s"CAST(size(filter(words, w -> w IN ($stopwordsSql))) AS BIGINT)"))
        .filter(expr(
          s"""n_words BETWEEN $MinWords AND $MaxWords
              AND n_words > 0 AND $MinWordLen * n_words <= n_wchars
              AND n_wchars <= $MaxWordLen * n_words
              AND n_stop >= $MinStopHits"""))
      val surv = gated
        .withColumn("chash", md5(col("text").cast("binary")))
      val keep = surv.groupBy(col("chash"))
        .agg(min(col("doc_id")).as("doc_id"))
      val docs = surv.join(keep, Seq("chash", "doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("words"))
      val n = docs.agg(count(lit(1)).as("corpus_n"))
      val tokens = docs
        .select(col("doc_id"), col("source"),
          explode(col("words")).as("word"))
      val df = tokens.select(col("doc_id"), col("word")).distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
      tokens.join(df, Seq("word"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
        .crossJoin(broadcast(n))
        .filter(lit(20) * col("sum_df") >=
            lit(17) * col("n_tok") * col("corpus_n") &&
          lit(20) * col("sum_df") <=
            lit(19) * col("n_tok") * col("corpus_n"))
        .withColumn("rk",
          md5(concat(lit("cur:"), col("doc_id")).cast("binary")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= V2Quota)
        .select(col("source"), col("rn"), col("doc_id"), col("n_tok"),
          col("sum_df"))
    },
    Some(s"""
      WITH gated AS (
        SELECT doc_id, source, text, words FROM (
          SELECT doc_id, source, text, words,
            CAST(len(words) AS BIGINT) AS n_words,
            CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
              AS BIGINT) AS n_wchars,
            CAST(len(list_filter(words, w -> w IN ($stopwordsSql)))
              AS BIGINT) AS n_stop
          FROM (SELECT doc_id, source, text, $wordsDuck AS words
                FROM documents))
        WHERE n_words BETWEEN $MinWords AND $MaxWords
          AND n_words > 0 AND $MinWordLen * n_words <= n_wchars
          AND n_wchars <= $MaxWordLen * n_words
          AND n_stop >= $MinStopHits),
      surv AS (
        SELECT doc_id, source, words
        FROM (SELECT *, md5(text) AS chash FROM gated)
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY chash)),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_n FROM surv),
      tokens AS (
        SELECT doc_id, source, unnest(words) AS word FROM surv),
      df AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, word FROM tokens) GROUP BY word),
      scored AS (
        SELECT t.doc_id, t.source, COUNT(*) AS n_tok,
          CAST(SUM(df.df) AS BIGINT) AS sum_df
        FROM tokens t JOIN df USING (word)
        GROUP BY t.doc_id, t.source),
      banded AS (
        SELECT s.*, md5('cur:' || s.doc_id) AS rk
        FROM scored s, n
        WHERE 20 * s.sum_df >= 17 * s.n_tok * n.corpus_n
          AND 20 * s.sum_df <= 19 * s.n_tok * n.corpus_n)
      SELECT source,
        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY rk, doc_id)
          AS BIGINT) AS rn,
        doc_id, n_tok, sum_df
      FROM banded
      QUALIFY rn <= $V2Quota"""))

  /** Minimum bigram occurrences before a collocation is scored (the
    * classic low-count PMI-noise guard). */
  private val MinPairCount = 5

  /** Collocation (phrase) mining by log-free lift — the statistic that
    * ranks identically to PMI (log is monotone; neither engine's libm
    * is bit-pinned, so the oracle bans it): lift(x,y) = N·c(xy) /
    * (c(x)·c(y)) over corpus word bigrams. The phrase-discovery pass a
    * tokenizer/vocab build runs before merging frequent pairs. All
    * counts are exact BIGINTs and the one division is the only float
    * op (N·c(xy) needs N·c_xy < 2^63 — holds far past this corpus; a
    * 10^12-token corpus would move the product into DECIMAL first).
    *
    * Shape: bigram counts and unigram counts are two map-side-combined
    * aggregates over the same token stream; unigrams join back onto
    * the pair table by each side (vocab-keyed hash joins); the final
    * top-k is a heap cut, ties broken by the pair text. */
  val q106Collocations = OpSpec(
    "q106_collocations",
    (s, dir) => {
      val words = table(s, dir, "documents")
        .select(col("doc_id"), expr(wordsSpark).as("words"))
      val pairs = words
        .filter(size(col("words")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(words) - 1),
             i -> struct(words[i - 1] AS w1, words[i] AS w2))"""))
          .as("p"))
        .select(col("p.w1"), col("p.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= MinPairCount)
      val uni = words
        .select(explode(col("words")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val n = words
        .agg(sum(size(col("words")).cast("long")).as("n_tok"))
      pairs
        .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          ((col("n_tok") * col("c_xy")).cast("double") /
            (col("c_x") * col("c_y")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
        .limit(50)
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, $wordsDuck AS words FROM documents),
      pairs AS (
        SELECT words[i] AS w1, words[i + 1] AS w2
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(words) - 1))
                         AS i)
        WHERE len(words) >= 2),
      pc AS (
        SELECT w1, w2, COUNT(*) AS c_xy FROM pairs GROUP BY w1, w2
        HAVING COUNT(*) >= $MinPairCount),
      uni AS (
        SELECT word, COUNT(*) AS c
        FROM (SELECT unnest(words) AS word FROM w) GROUP BY word),
      n AS (SELECT CAST(SUM(len(words)) AS BIGINT) AS n_tok FROM w)
      SELECT w1, w2, c_xy, ux.c AS c_x, uy.c AS c_y,
        CAST(n.n_tok * c_xy AS DOUBLE) / CAST(ux.c * uy.c AS DOUBLE)
          AS lift
      FROM pc
      JOIN uni ux ON ux.word = pc.w1
      JOIN uni uy ON uy.word = pc.w2, n
      ORDER BY lift DESC, w1 ASC, w2 ASC
      LIMIT 50"""))

  /** Term-df cap for q117's blocking: pairs sharing ONLY terms hotter
    * than this never become candidates (the q27 hot-bucket trade —
    * near-universal terms carry no similarity signal and would emit
    * |bucket|²/2 candidate pairs). Mirrored in the oracle. */
  private val TermDfCap = 1000L

  /** EXACT cosine-similarity self-join over term-frequency vectors —
    * the sparse-vector dual of q30's dense embedding top-k, computed
    * entirely in integers until the final emit: tf counts are ints,
    * squared norms are Σtf² ints, the dot product is an inverted-index
    * equi-join + SUM of tf products, and the τ = 3/4 threshold is the
    * cross-multiplied integer test 16·dot² ≥ 9·n2a·n2b (exact — no
    * float compare decides membership; DECIMAL(38) products so a
    * 100 TB-scale tf vector cannot overflow the test). Blocking:
    * candidates must share a term with df ≤ [[TermDfCap]] (mirrored
    * in the oracle); the verify then dots the FULL vectors, so emitted
    * cosines are exact. One shuffle keys the inverted index (term),
    * one the candidate pairs — never all pairs. The only doubles are
    * the final cosine (one IEEE sqrt + divide, identical in both
    * engines). */
  val q117CosineTfJoin = OpSpec(
    "q117_cosine_tf_join",
    (s, dir) => {
      val tf = table(s, dir, "documents")
        // inline generator — the q76 codegen-Generate note
        .select(col("doc_id"), explode(expr(wordsSpark)).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      val norms = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("n2"))
      val okw = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= TermDfCap).select(col("w"))
      val blocked = tf.join(okw, "w")
      val cand = blocked.as("a")
        .join(blocked.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(tf.select(col("doc_id").as("doc_a"), col("w"),
          col("tf").as("tfa")), "doc_a")
        .join(tf.select(col("doc_id").as("doc_b"), col("w"),
          col("tf").as("tfb")), Seq("doc_b", "w"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("tfa") * col("tfb")).as("dot"))
        .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2a")),
          "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2b")),
          "doc_b")
        .filter(expr("""16 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
                        >= 9 * CAST(n2a AS DECIMAL(38,0)) * CAST(n2b AS DECIMAL(38,0))"""))
        .select(col("doc_a"), col("doc_b"), col("dot"), col("n2a"), col("n2b"),
          (col("dot").cast("double") /
            sqrt((col("n2a") * col("n2b")).cast("double"))).as("cosine"))
    },
    Some(s"""
      WITH tf AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest($wordsDuck) AS w FROM documents)
        GROUP BY 1, 2),
      norms AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
        FROM tf GROUP BY doc_id),
      okw AS (SELECT w FROM tf GROUP BY w HAVING COUNT(*) <= $TermDfCap),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT tf.* FROM tf SEMI JOIN okw USING (w)) a
        JOIN (SELECT tf.* FROM tf SEMI JOIN okw USING (w)) b
          ON a.w = b.w AND a.doc_id < b.doc_id),
      dots AS (
        SELECT c.doc_a, c.doc_b, CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
        FROM cand c
        JOIN tf x ON x.doc_id = c.doc_a
        JOIN tf y ON y.doc_id = c.doc_b AND y.w = x.w
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, dot, na.n2 AS n2a, nb.n2 AS n2b,
        CAST(dot AS DOUBLE) /
          sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS cosine
      FROM dots
      JOIN norms na ON na.doc_id = doc_a
      JOIN norms nb ON nb.doc_id = doc_b
      WHERE 16 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
            >= 9 * CAST(na.n2 AS DECIMAL(38,0)) * CAST(nb.n2 AS DECIMAL(38,0))"""))

  /** Per-(term, doc) BM25 contribution — ONE shared formula text so
    * both engines stage the identical IEEE ops: k1 = 1.2, b = 0.75 as
    * exponent literals (the q23 discipline), the idf in its RATIONAL
    * monotone form (N − df + ½)/(df + ½) — no ln(), whose last-ulp
    * rounding the JVM and DuckDB's libm do not promise to agree on.
    * `dl` is the doc's word count, avgdl arrives as total/count of
    * exact integers. */
  private val bm25Contrib = """
    ((CAST(n_docs AS DOUBLE) - df + 5e-1) / (CAST(df AS DOUBLE) + 5e-1))
    * (CAST(tf AS DOUBLE) * 22e-1)
    / (CAST(tf AS DOUBLE)
       + 12e-1 * (1e0 - 75e-2
                  + 75e-2 * (CAST(dl AS DOUBLE)
                             / (CAST(total_dl AS DOUBLE)
                                / CAST(n_docs AS DOUBLE)))))"""

  /** BM25 top-k retrieval off the inverted-index artifacts (tf/df —
    * the q76/q77 tables): the query is the corpus's df-rank-10..14
    * terms (deterministically derived mid-frequency terms, so the
    * query set is data-defined and identical in both engines), each
    * candidate doc's score is the SORTED left fold of its per-term
    * BM25 contributions (bit-exact cross-engine, the q116 discipline),
    * and the top 20 come from sort+limit (TakeOrderedAndProject:
    * per-partition top-k then a k·P driver merge — no global sort, no
    * global window). Scale shape: scoring joins only the query terms'
    * posting lists, never the corpus. */
  val q124Bm25 = OpSpec(
    "q124_bm25_topk",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("words", expr(wordsSpark))
      val dl = docs.select(col("doc_id"),
        expr("CAST(size(words) AS BIGINT)").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_dl"))
      val tf = termFreqs(docs)
      val dfTab = docFreqs(tf)
      // the df-rank 10..14 band as top14 \ top9 — two sort+limit heads,
      // no global window anywhere in the plan
      val qterms = dfHead(dfTab, 14).exceptAll(dfHead(dfTab, 9))
      val contribs = tf.join(broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("c", expr(bm25Contrib))
      contribs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit"),
          expr("""aggregate(
              transform(sort_array(collect_list(struct(term, c))),
                s -> s.c),
              0D, (acc, x) -> acc + x)""").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(20)
        .select(col("doc_id"), col("n_hit"), col("score"))
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, words FROM
          (SELECT doc_id, $wordsDuck AS words FROM documents)),
      dl AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM w),
      stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
      $tfDfsDuck,
      qterms AS (
        SELECT term, df FROM (
          SELECT term, df, row_number() OVER
            (ORDER BY df DESC, term ASC) AS r
          FROM dfs)
        WHERE r BETWEEN 10 AND 14),
      contribs AS (
        SELECT tf.doc_id, tf.term, $bm25Contrib AS c
        FROM tf JOIN qterms USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
        list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS score
      FROM contribs
      GROUP BY doc_id
      ORDER BY score DESC, doc_id ASC LIMIT 20"""))

  /** q182: pseudo-relevance-feedback query expansion — the classic IR
    * second pass over q124: run the BM25 retrieval, take the top-3
    * feedback documents, and mine their dominant terms (summed TF
    * across the feedback set, ties term asc) as expansion candidates,
    * excluding the original query terms (anti-join) and the global
    * top-5-df stop band (PRF without a df guard expands into "the" —
    * the integer-rank stand-in for idf weighting, which the oracle's
    * no-log rule forbids; the band is 5 here because the synthetic
    * corpus has a ~31-term vocabulary — production sizes it to its
    * stopword mass). Emits the 5 expansion terms with their
    * feedback mass. Scale: stage 1 is q124's plan; stage 2 touches
    * only the 3 feedback docs' TF rows via a broadcast semi-join. */
  val q182PrfExpansion = OpSpec(
    "q182_prf_expansion",
    (s, dir) => {
      val top3 = q124Bm25.query(s, dir)
        .orderBy(col("score").desc, col("doc_id").asc).limit(3)
        .select(col("doc_id"))
      val tf = termFreqs(table(s, dir, "documents"))
      val dfTab = docFreqs(tf)
      val qterms = dfHead(dfTab, 14).exceptAll(dfHead(dfTab, 9))
        .select(col("term"))
      val stopBand = dfHead(dfTab, 5).select(col("term"))
      tf.join(broadcast(top3), "doc_id")
        .join(broadcast(qterms), Seq("term"), "left_anti")
        .join(broadcast(stopBand), Seq("term"), "left_anti")
        .groupBy(col("term"))
        .agg(sum(col("tf")).as("total_tf"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("total_tf").desc, col("term").asc).limit(5)
    },
    Some(s"""
      WITH top3 AS (
        SELECT doc_id FROM (${q124Bm25.oracle.get})
        ORDER BY score DESC, doc_id ASC LIMIT 3),
      w AS (SELECT doc_id, $wordsDuck AS words FROM documents),
      $tfDfsDuck,
      ranked AS (SELECT term, row_number() OVER
                   (ORDER BY df DESC, term ASC) AS r FROM dfs),
      qterms AS (SELECT term FROM ranked WHERE r BETWEEN 10 AND 14),
      stopband AS (SELECT term FROM ranked WHERE r <= 5)
      SELECT term, CAST(SUM(tf) AS BIGINT) AS total_tf,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM tf
      WHERE doc_id IN (SELECT doc_id FROM top3)
        AND term NOT IN (SELECT term FROM qterms)
        AND term NOT IN (SELECT term FROM stopband)
      GROUP BY term
      ORDER BY total_tf DESC, term ASC LIMIT 5"""))

  /** Number of BPE merge rounds trained by q132. */
  private val BpeRounds = 10

  /** The shared trainer behind q132/q133: runs the [[BpeRounds]]
    * driver-loop merge rounds and returns (rules, final vocabulary) —
    * the vocabulary keeps the original `word` alongside its final
    * symbol string, so appliers can map corpus words to BPE token
    * counts with one join. Caller unpersists the returned vocab. */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    def pairCounts(tab: org.apache.spark.sql.DataFrame) = tab
      .withColumn("l", split(col("sym"), " "))
      .filter(size(col("l")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(1, size(l) - 1),
           k -> struct(element_at(l, k) AS s1,
                       element_at(l, k + 1) AS s2))""")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("cnt")).as("n"))
    var tab = table(s, dir, "documents")
      // inline generator — the q76 codegen-Generate note
      .select(explode(expr(wordsSpark)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"),
        expr("trim(regexp_replace(word, '(.)', '$1 '))").as("sym"),
        col("cnt"))
      .localCheckpoint(true)
    val rules = (1 to BpeRounds).map { round =>
      val top = pairCounts(tab)
        .orderBy(col("n").desc, col("s1").asc, col("s2").asc)
        .limit(1).collect().head // ONE row per round to the driver
      val (s1, s2, n) =
        (top.getString(0), top.getString(1), top.getLong(2))
      // literal merge symbols as Column args (no SQL-text splicing,
      // no escaping concerns), Spark's replace = literal match
      // eager localCheckpoint, not persist+count: the checkpoint
      // truncates lineage to the materialized blocks in ONE job, where
      // persist+count pays an extra scheduling round per merge and
      // re-embeds the full 10-round plan into every downstream
      // QueryExecution (the q51/q183 iteration discipline)
      val merged = tab.select(col("word"),
        trim(call_function("replace",
          concat(lit(" "), col("sym"), lit(" ")),
          lit(s" $s1 $s2 "), lit(s" $s1$s2 "))).as("sym"),
        col("cnt")).localCheckpoint(true)
      tab.unpersist()
      tab = merged
      (round.toLong, s1, s2, n)
    }
    (rules, tab)
  }

  /** BPE tokenizer TRAINING under the bit-exact gate — the first stage
    * of every LLM data pipeline, as [[BpeRounds]] merge rounds with
    * the q98 k-means control shape: the vocabulary collapses to
    * (distinct word, count) first (classic BPE trains on the word
    * table, so round cost scales with |vocab|, not corpus tokens);
    * each round DISTRIBUTEDLY counts adjacent symbol pairs weighted by
    * word count, brings exactly ONE row to the driver (the max pair
    * under a pinned (count desc, pair asc) tie rule — bounded driver
    * state, independent of corpus size), and applies it as a LITERAL
    * string replace over the cached vocabulary (each round's plan
    * stays flat: scan cache → project → cache). Merge application is
    * a single left-to-right non-overlapping scan (Java and DuckDB
    * `replace` share these semantics exactly — immediately-adjacent
    * overlapping occurrences merge in a later round), so both engines
    * walk the identical deterministic merge trajectory. Output: the
    * learned merge table (round, s1, s2, weighted pair count).
    * (A fully-declarative 10-round unrolling was measured pathological
    * — nested cache/broadcast chains planned minutes of overhead on a
    * 31-word vocabulary; the 1-row-per-round driver loop is the same
    * bounded-state trade q98 makes.) */
  val q132BpeTrain = OpSpec(
    "q132_bpe_train",
    (s, dir) => {
      val (rules, vocab) = bpeTrain(s, dir)
      vocab.unpersist()
      import s.implicits._
      rules.toDF("round", "s1", "s2", "n")
    },
    Some(s"""
      WITH $bpeStagesSql
      ${(1 to BpeRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, s1, s2, n FROM t$i")
        .mkString("\n      UNION ALL\n      ")}"""))

  /** DuckDB twin of [[bpeTrain]]'s trajectory as a WITH-body: wc,
    * w0..wN (word carried through every stage), p/t per round. */
  private lazy val bpeStagesSql: String = {
    def stage(i: Int): String = s"""
      p$i AS (
        SELECT l[k] AS s1, l[k + 1] AS s2,
          CAST(SUM(cnt) AS BIGINT) AS n
        FROM (SELECT string_split(sym, ' ') AS l, cnt FROM w${i - 1}
              WHERE len(string_split(sym, ' ')) >= 2),
          LATERAL (SELECT unnest(generate_series(1,
            len(l) - 1)) AS k)
        GROUP BY 1, 2),
      t$i AS (SELECT * FROM p$i
              ORDER BY n DESC, s1 ASC, s2 ASC LIMIT 1),
      w$i AS (
        SELECT word, trim(replace(' ' || sym || ' ',
                 ' ' || t.s1 || ' ' || t.s2 || ' ',
                 ' ' || t.s1 || t.s2 || ' ')) AS sym, cnt
        FROM w${i - 1} CROSS JOIN t$i t)"""
    s"""wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest($wordsDuck) AS word FROM documents)
        GROUP BY word),
      w0 AS (
        SELECT word,
          trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, cnt
        FROM wc),
      ${(1 to BpeRounds).map(stage).mkString(",")}"""
  }

  /** BPE APPLICATION — the trained tokenizer consumed the way a data
    * pipeline consumes it: per-document BPE token counts (the real
    * token accounting behind context-length packing and token-budget
    * fills, replacing q21's whitespace proxy). The final vocabulary
    * maps each distinct word to its merged symbol string, so applying
    * the tokenizer to the corpus is ONE equi-join from the exploded
    * words — per-word segmentation is computed once per VOCAB entry,
    * never per occurrence. The join carries NO broadcast hint on
    * purpose: the distinct-word vocabulary is corpus-derived and
    * unbounded (a 100 TB web corpus has 10⁸–10⁹ noise tokens), so a
    * forced broadcast would OOM at scale — AQE promotes the build side
    * to broadcast exactly when it measures small. Gated end-to-end:
    * the oracle re-derives the full 10-round trajectory and the same
    * counts. */
  val q133BpeTokens = OpSpec(
    "q133_bpe_tokens",
    (s, dir) => {
      val (_, vocab) = bpeTrain(s, dir)
      val tokensPerWord = vocab.select(col("word"),
        expr("CAST(size(split(sym, ' ')) AS BIGINT)").as("n_tok"))
      // pre-aggregate occurrences to per-doc word multiplicities BEFORE
      // the vocab join: the join probes |distinct (doc, word)| rows
      // instead of |occurrences| (and the pre-agg is partial/map-side
      // combined). Integer identities keep the result exact:
      // COUNT(*) == SUM(k), SUM(n_tok) == SUM(k·n_tok).
      val out = table(s, dir, "documents")
        // inline generator — the q76 codegen-Generate note
        .select(col("doc_id"), explode(expr(wordsSpark)).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("k"))
        .join(tokensPerWord, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_words"),
          sum(col("k") * col("n_tok")).as("n_bpe"))
      out.persist().count() // materialize before freeing the vocab
      vocab.unpersist()
      out
    },
    Some(s"""
      WITH $bpeStagesSql,
      perword AS (
        SELECT word, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_tok
        FROM w$BpeRounds)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(n_tok) AS BIGINT) AS n_bpe
      FROM (SELECT doc_id, unnest($wordsDuck) AS word FROM documents)
      JOIN perword USING (word)
      GROUP BY doc_id"""))

  /** q300: TOKENIZER FERTILITY BY LANGUAGE — the tokenizer-equity
    * readout of the multilingual-LM line (fertility = subword tokens
    * per word): a tokenizer trained on a mixed corpus segments
    * low-resource languages into more pieces, so equal token budgets
    * buy them less text — this is the number that quantifies it, per
    * language, for THE q132-trained tokenizer. Pairs with q291: the
    * mixing weights decide how much of each language enters training;
    * fertility says how much effective context each admitted document
    * costs. Pure reuse of q133's vocabulary-join recipe with the lang
    * key carried through: per-(lang, word) multiplicities pre-
    * aggregated map-side BEFORE the vocab join (probe = distinct
    * pairs, never occurrences; no broadcast hint — AQE promotes the
    * corpus-derived vocab side only when measured small), one
    * ≤|langs|-row aggregate, fertility as a single division of exact
    * integers. */
  val q300BpeFertility = OpSpec(
    "q300_bpe_fertility",
    (s, dir) => {
      val (_, vocab) = bpeTrain(s, dir)
      val tokensPerWord = vocab.select(col("word"),
        expr("CAST(size(split(sym, ' ')) AS BIGINT)").as("n_tok"))
      val out = table(s, dir, "documents")
        // inline generator — the q76 codegen-Generate note
        .select(col("lang"), explode(expr(wordsSpark)).as("word"))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("k"))
        .join(tokensPerWord, "word")
        .groupBy(col("lang"))
        .agg(sum(col("k")).as("n_words"),
          sum(col("k") * col("n_tok")).as("n_bpe"))
        .select(col("lang"), col("n_words"), col("n_bpe"),
          (col("n_bpe").cast("double") / col("n_words").cast("double"))
            .as("fertility"))
      out.persist().count() // materialize before freeing the vocab
      vocab.unpersist()
      out
    },
    Some(s"""
      WITH $bpeStagesSql,
      perword AS (
        SELECT word, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_tok
        FROM w$BpeRounds)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(n_tok) AS BIGINT) AS n_bpe,
        CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS fertility
      FROM (SELECT lang, unnest($wordsDuck) AS word FROM documents)
      JOIN perword USING (word)
      GROUP BY lang"""))

  /** q194: language-ID confusion matrix — q22's classifier evaluated
    * against the labeled `lang` column as a proper eval artifact: one
    * row per (true, predicted) cell with the count, the true-class
    * total, and the cell share (= recall on the diagonal). The
    * closed-loop eval every filtering model in a pipeline needs before
    * its threshold is trusted; pure reuse of q22's gated output plus
    * one partial-aggregated group-by and a per-class totals join. */
  val q194LangidConfusion = OpSpec(
    "q194_langid_confusion",
    (s, dir) => {
      val cells = q22LangId.query(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("lang"))
        .agg(sum(col("n")).as("n_true"))
      cells.join(totals, "lang")
        .select(col("lang"), col("pred_lang"), col("n"), col("n_true"),
          (col("n").cast("double") / col("n_true").cast("double"))
            .as("share"))
    },
    Some(s"""
      WITH q22 AS (${q22LangId.oracle.get}),
      cells AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM q22 GROUP BY 1, 2),
      totals AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
        FROM cells GROUP BY 1)
      SELECT c.lang, c.pred_lang, c.n, t.n_true,
        CAST(c.n AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS share
      FROM cells c JOIN totals t ON t.lang = c.lang"""))

  /** q185: sentence-segmentation QA — the sentence-level half of the
    * quality ladder (q21 counts words, q75 gates documents; this
    * audits SENTENCES): split on terminal punctuation runs `[.!?]+`
    * (identical regex semantics in Java regex and RE2 for this
    * character-class pattern), drop whitespace-only fragments, and
    * roll up per source: sentence volume, exact mean length (one
    * int-ratio division), the longest sentence, and how many docs
    * contain a run-on (> 200 chars — the Gopher-style "no terminal
    * punctuation for paragraphs" smell). Scale: one explode bounded by
    * corpus characters, two partial-aggregated group-bys. */
  val q185SentenceStats = OpSpec(
    "q185_sentence_stats",
    (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(expr("""filter(transform(split(text, '[.!?]+'),
            x -> trim(x)), x -> length(x) > 0)""")).as("sent"))
        .select(col("doc_id"), col("source"),
          expr("CAST(length(sent) AS BIGINT)").as("slen"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_sent"), sum(col("slen")).as("chars"),
          max(col("slen")).as("max_slen"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_sent")).as("n_sentences"),
          sum(col("chars")).as("sum_chars"),
          max(col("max_slen")).as("longest"),
          sum(when(col("max_slen") > 200, 1L).otherwise(0L))
            .as("n_runon_docs"))
        .select(col("source"), col("n_docs"), col("n_sentences"),
          (col("sum_chars").cast("double") /
            col("n_sentences").cast("double")).as("mean_sentence_len"),
          col("longest"), col("n_runon_docs"))
    },
    Some("""
      WITH sent AS (
        SELECT doc_id, source, CAST(length(x) AS BIGINT) AS slen
        FROM (
          SELECT doc_id, source, trim(raw) AS x
          FROM (SELECT doc_id, source,
                  UNNEST(string_split_regex(text, '[.!?]+')) AS raw
                FROM documents))
        WHERE length(x) > 0),
      perdoc AS (
        SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_sent,
          CAST(SUM(slen) AS BIGINT) AS chars, MAX(slen) AS max_slen
        FROM sent GROUP BY 1, 2)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
        CAST(SUM(chars) AS DOUBLE) / CAST(SUM(n_sent) AS DOUBLE)
          AS mean_sentence_len,
        MAX(max_slen) AS longest,
        CAST(SUM(CASE WHEN max_slen > 200 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_runon_docs
      FROM perdoc
      GROUP BY source"""))

  /** q180: compressibility proxy gate — Gopher-style repetitiveness
    * filtering without a compressor: a doc whose character 4-grams are
    * mostly repeats of a few shapes (n_distinct/n_total low) is
    * boilerplate/spam; one whose grams are near-all-distinct is
    * natural text. Flags docs with 4·distinct < 3·total (pure integer
    * threshold, the q50 discipline) and rolls up per source: doc
    * count, flagged count, and the corpus-level distinct/total ratio
    * (one exact-int division). The substring-level complement to
    * q57's word-level repetition and q75's rule gates. Scale: the
    * gram explode is ~len rows per doc feeding a partial-aggregated
    * (doc, gram) distinct — same shuffle family as q50's gram build,
    * bounded by corpus character count. */
  val q180CompressProxy = OpSpec(
    "q180_compress_proxy",
    (s, dir) => {
      table(s, dir, "documents")
        .filter(length(col("text")) >= 4)
        .select(col("doc_id"), col("source"), col("text"),
          explode(expr("sequence(1, length(text) - 3)")).as("i"))
        .select(col("doc_id"), col("source"),
          expr("substring(text, i, 4)").as("g"))
        .groupBy(col("doc_id"), col("source"))
        .agg(countDistinct(col("g")).as("n_distinct"),
          count(lit(1)).as("n_total"))
        .withColumn("repetitive",
          lit(4) * col("n_distinct") < lit(3) * col("n_total"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("repetitive"), 1L).otherwise(0L))
            .as("n_repetitive"),
          sum(col("n_distinct")).as("sum_distinct"),
          sum(col("n_total")).as("sum_total"))
        .withColumn("corpus_ratio",
          col("sum_distinct").cast("double") /
            col("sum_total").cast("double"))
    },
    Some("""
      WITH g AS (
        SELECT doc_id, source, substr(text, CAST(i AS INT), 4) AS g
        FROM (SELECT doc_id, source, text,
                UNNEST(range(1, length(text) - 2)) AS i
              FROM documents WHERE length(text) >= 4)),
      perdoc AS (
        SELECT doc_id, source,
          CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
          CAST(COUNT(*) AS BIGINT) AS n_total
        FROM g GROUP BY 1, 2)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN 4 * n_distinct < 3 * n_total THEN 1 ELSE 0
                 END) AS BIGINT) AS n_repetitive,
        CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct,
        CAST(SUM(n_total) AS BIGINT) AS sum_total,
        CAST(SUM(n_distinct) AS DOUBLE) / CAST(SUM(n_total) AS DOUBLE)
          AS corpus_ratio
      FROM perdoc
      GROUP BY source"""))

  /** q171: vocabulary coverage curve — for budget k ∈ {10,100,1000},
    * what fraction of all token OCCURRENCES the top-k most frequent
    * words cover (ties broken by word asc, so the "top-k" is uniquely
    * defined in both engines). The curve that sizes a tokenizer vocab /
    * decides a UNK budget before a q132-style BPE train. Scale shape:
    * the corpus collapses to its vocab first (partial-aggregated word
    * counts — the only corpus-size pass); ranking + running sum then
    * run on the VOCAB table, which is bounded (millions of types, not
    * corpus tokens), the same single-partition-window-over-aggregate
    * concession as q66/q76; the k fan-out is a 3× explode of that. */
  val q171VocabCoverage = OpSpec(
    "q171_vocab_coverage",
    (s, dir) => {
      // NO global window over the vocab (sweep-audited): global rank in
      // (n desc, word asc) order = per-frequency row_number + broadcast
      // offsets from the frequency-of-frequencies histogram (bounded:
      // one row per DISTINCT count value — Zipf makes this tiny), and
      // the running occurrence total telescopes to offocc + rnw·n
      // because every word in a frequency class contributes the same n.
      val sq = s; import sq.implicits._
      val vocab = table(s, dir, "documents")
        .select(explode(expr(wordsSpark)).as("w"))
        .select(lower(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .persist()
      val ff = vocab.groupBy(col("n")).agg(count(lit(1)).as("cw"))
        .collect().sortBy(-_.getLong(0))
      var cumW = 0L; var cumOcc = 0L
      val offsets = ff.map { r =>
        val n0 = r.getLong(0); val cw = r.getLong(1)
        val o = (n0, cumW, cumOcc)
        cumW += cw; cumOcc += n0 * cw; o
      }.toSeq
      val total = cumOcc
      val offDf = broadcast(offsets.toDF("n", "offw", "offocc"))
      vocab.join(offDf, "n")
        .withColumn("rnw", row_number().over(
          Window.partitionBy(col("n")).orderBy(col("word"))).cast("long"))
        .select((col("offw") + col("rnw")).as("rn"),
          (col("offocc") + col("rnw") * col("n")).as("cum"),
          explode(array(lit(10L), lit(100L), lit(1000L))).as("k"))
        .filter(col("rn") <= col("k"))
        .groupBy(col("k"))
        .agg(max(col("rn")).as("n_vocab_used"),
          max(col("cum")).as("covered"))
        .select(col("k"), col("n_vocab_used"), col("covered"),
          lit(total).as("total"),
          (col("covered").cast("double") / lit(total).cast("double"))
            .as("coverage"))
    },
    Some(s"""
      WITH vocab AS (
        SELECT word, COUNT(*) AS n
        FROM (SELECT lower(unnest($wordsDuck)) AS word FROM documents)
        GROUP BY word),
      ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS BIGINT)
            AS rn,
          SUM(n) OVER (ORDER BY n DESC, word
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM vocab),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM vocab)
      SELECT k, MAX(rn) AS n_vocab_used,
        CAST(MAX(cum) AS BIGINT) AS covered,
        CAST(MAX(t.total) AS BIGINT) AS total,
        CAST(MAX(cum) AS DOUBLE) / CAST(MAX(t.total) AS DOUBLE)
          AS coverage
      FROM ranked,
        (SELECT CAST(UNNEST([10, 100, 1000]) AS BIGINT) AS k) ks, tot t
      WHERE rn <= k
      GROUP BY k"""))

  // ---- Statistical LM quality filter (q214) ---------------------------

  /** Lower-cased word arrays for the LM scorer (defensive — q171's
    * convention for vocabulary-keyed statistics). */
  private[ops] val lwordsSpark =
    "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)"
  private[ops] val lwordsDuck =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)"

  /** Flag threshold on mean bigram surprise (calibrated on the corpus:
    * median ≈ 34, p95 ≈ 39, max ≈ 57 — 40 flags the atypical tail). */
  private val LmSurpriseTau = "4e1"

  /** Statistical LM quality filter (the CCNet recipe, Wenzek et al.
    * 2020: score every document by an n-gram language model trained on
    * a curated reference corpus; atypical perplexity → flag). Two
    * engine-portability substitutions vs the paper: the model is a
    * bigram add-one model (5-gram KenLM is a binary artifact; the
    * statistic class is the same), and the score is mean INVERSE
    * PROBABILITY — surprise(w1,w2) = (c(w1)+V)/(c(w1w2)+1), i.e.
    * 1/p_addone(w2|w1) — instead of log-perplexity, because ln() is
    * banned under the bit-exact gate (libm divergence) while a single
    * IEEE division of exact integers is correctly rounded in both
    * engines. Monotone link: mean-surprise ranks high-perplexity
    * documents high; the threshold verdict is what a pipeline acts on.
    *
    * Reference slice: docs with doc_id % 5 = 0 stand in for the
    * curated LM training corpus; ALL docs are scored (the reference
    * slice scores itself too, as CCNet's Wikipedia-trained model also
    * scores Wikipedia-like text).
    *
    * Exactness: each surprise is ONE division of exact BIGINTs (both
    * engines correctly round); the per-doc sum is an ordered fold over
    * positions (Spark aggregate-over-sort_array == DuckDB list_reduce
    * ORDER BY pos — 0+x==x covers the init mismatch); the mean is one
    * more exact-int division of a deterministic double.
    *
    * Scale shape: the bigram/unigram model tables are vocab-bounded
    * map-side-combined aggregates; scoring is the corpus bigram stream
    * equi-joined to those tables (left joins — unseen grams hit the
    * smoothing floor, never drop rows); V is a 1-row scalar broadcast
    * (crossOk-allowlisted). No all-pairs, no global window; the fold
    * groups by doc_id — the corpus's natural partitioning. */
  val q214LmSurprise = OpSpec(
    "q214_lm_surprise",
    (s, dir) => {
      val w = table(s, dir, "documents")
        .select(col("doc_id"), expr(lwordsSpark).as("words"))
        .persist()
      val ref = w.filter(col("doc_id") % 5 === 0)
      val uni = ref.select(explode(col("words")).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vocabN = uni.agg(count(lit(1)).as("v"))
      def bigrams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(col("words")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(words) - 1),
             i -> struct(CAST(i AS BIGINT) AS pos,
                         words[i - 1] AS w1, words[i] AS w2))""")).as("p"))
        .select(col("doc_id"), col("p.pos"), col("p.w1"), col("p.w2"))
      val bg = bigrams(ref)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      bigrams(w)
        .join(bg, Seq("w1", "w2"), "left")
        .join(uni, Seq("w1"), "left")
        .crossJoin(broadcast(vocabN))
        .select(col("doc_id"), col("pos"),
          ((coalesce(col("c1"), lit(0L)) + col("v")).cast("double") /
            (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double"))
            .as("surprise"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("""aggregate(
              transform(sort_array(collect_list(struct(pos, surprise))),
                x -> x.surprise),
              CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("sm"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sm") / col("n_bigrams").cast("double")).as("mean_surprise"))
        .withColumn("verdict",
          when(col("mean_surprise") > expr(LmSurpriseTau), lit("flag"))
            .otherwise(lit("keep")))
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, $lwordsDuck AS words FROM documents),
      ref AS (SELECT doc_id, words FROM w WHERE doc_id % 5 = 0),
      uni AS (
        SELECT word AS w1, COUNT(*) AS c1
        FROM (SELECT unnest(words) AS word FROM ref) GROUP BY 1),
      v AS (SELECT COUNT(*) AS v FROM uni),
      bg AS (
        SELECT words[i] AS w1, words[i + 1] AS w2, COUNT(*) AS c12
        FROM ref, LATERAL (SELECT unnest(generate_series(1, len(words) - 1))
                           AS i) g
        GROUP BY 1, 2),
      db AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          words[i] AS w1, words[i + 1] AS w2
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(words) - 1))
                         AS i) g
        WHERE len(words) >= 2),
      sc AS (
        SELECT d.doc_id, d.pos,
          CAST(COALESCE(u.c1, 0) + v.v AS DOUBLE)
            / CAST(COALESCE(b.c12, 0) + 1 AS DOUBLE) AS surprise
        FROM db d
        LEFT JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
        LEFT JOIN uni u ON u.w1 = d.w1, v),
      doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          list_reduce(list(surprise ORDER BY pos), (a, x) -> a + x)
            / CAST(COUNT(*) AS DOUBLE) AS mean_surprise
        FROM sc GROUP BY doc_id)
      SELECT doc_id, n_bigrams, mean_surprise,
        CASE WHEN mean_surprise > $LmSurpriseTau THEN 'flag'
             ELSE 'keep' END AS verdict
      FROM doc"""))

  // ---- Inference batching padding audit (q215) ------------------------

  /** Sequences per inference batch for the q215 audit. */
  private val InferBatch = 32

  /** Padding-waste audit: how many pad tokens two batching strategies
    * burn when serving the corpus through fixed-size inference batches
    * (every sequence in a batch is padded to the batch max — the cost
    * model of dense transformer batching). Strategies: `arrival`
    * (doc_id order — what a naive loader does) vs `length_sorted`
    * (length-descending bucketing — the standard fix). The audit is the
    * measurement that justifies deploying a length-bucketed loader.
    *
    * Batching is PER-SHARD (doc_id % 8) like q59's packing — real
    * loaders batch per worker, and a global arrival order would need
    * exactly the partition-less global window the plan audit forbids.
    * Integer arithmetic end-to-end; the one double is the final
    * waste fraction (single division of exact BIGINTs). */
  val q215PaddingAudit = OpSpec(
    "q215_padding_audit",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard_id"),
          expr(s"CAST(size($wordsSpark) AS BIGINT)").as("n"))
      def audit(strategy: String,
          ord: Seq[org.apache.spark.sql.Column]) = {
        val w = Window.partitionBy(col("shard_id")).orderBy(ord: _*)
        d.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("batch", expr(s"(rn - 1) DIV $InferBatch"))
          .groupBy(col("shard_id"), col("batch"))
          .agg(count(lit(1)).as("cnt"), max(col("n")).as("mx"),
            sum(col("n")).as("tok"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("tok")).as("total_tokens"),
            sum(col("mx") * col("cnt")).as("padded_tokens"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("total_tokens"), col("padded_tokens"),
            (col("padded_tokens") - col("total_tokens")).as("waste"),
            ((col("padded_tokens") - col("total_tokens")).cast("double")
              / col("padded_tokens").cast("double")).as("waste_frac"))
      }
      audit("arrival", Seq(col("doc_id")))
        .unionByName(audit("length_sorted",
          Seq(col("n").desc, col("doc_id"))))
    },
    Some {
      def side(strategy: String, ord: String) = s"""
        SELECT '$strategy' AS strategy,
          CAST(COUNT(*) AS BIGINT) AS n_batches,
          CAST(SUM(tok) AS BIGINT) AS total_tokens,
          CAST(SUM(mx * cnt) AS BIGINT) AS padded_tokens
        FROM (
          SELECT shard_id, batch, COUNT(*) AS cnt, MAX(n) AS mx,
            SUM(n) AS tok
          FROM (
            SELECT shard_id, n,
              CAST((ROW_NUMBER() OVER (PARTITION BY shard_id
                ORDER BY $ord) - 1) // $InferBatch AS BIGINT) AS batch
            FROM d)
          GROUP BY 1, 2)"""
      s"""
      WITH d AS (
        SELECT doc_id, doc_id % 8 AS shard_id,
          CAST(len($wordsDuck) AS BIGINT) AS n
        FROM documents),
      u AS (${side("arrival", "doc_id")}
        UNION ALL
        ${side("length_sorted", "n DESC, doc_id")})
      SELECT strategy, n_batches, total_tokens, padded_tokens,
        padded_tokens - total_tokens AS waste,
        CAST(padded_tokens - total_tokens AS DOUBLE)
          / CAST(padded_tokens AS DOUBLE) AS waste_frac
      FROM u"""
    })

  /** Row-local distinct 5-gram 60-bit hashes — THE gram definition of
    * the novelty family (q282, the persisted novelty index, q283), one
    * text each side so scorer and index can never drift. References a
    * precomputed `words` column. */
  private val gramHashSpark: String =
    s"""CASE WHEN size(words) >= 5
       THEN array_distinct(transform(
         transform(sequence(0, size(words) - 5),
           i -> md5(array_join(slice(words, i + 1, 5), ' '))),
         h -> CAST(${DedupOps.hexToLong("h", 1, 15)} AS BIGINT)))
       ELSE array(CAST(NULL AS BIGINT)) END"""
  private[graft] val gramHashDuck: String =
    s"""CASE WHEN len(words) >= 5
       THEN list_distinct(list_transform(
         list_transform(generate_series(1, len(words) - 4),
           i -> md5(words[i] || ' ' || words[i + 1] || ' '
             || words[i + 2] || ' ' || words[i + 3] || ' '
             || words[i + 4])),
         h -> CAST(${DedupOps.hexToLong("h", 1, 15)} AS BIGINT)))
       ELSE [] END"""

  /** (doc_id, gsh) with [[gramHashSpark]] applied — gsh is the row-
    * local distinct hashed gram array (empty for gram-less docs). */
  private[graft] def gramHashed(docs: DataFrame): DataFrame =
    docs.withColumn("words", expr(wordsSpark))
      .withColumn("gsh", expr(gramHashSpark))
      .select(col("doc_id"), expr("filter(gsh, x -> x IS NOT NULL)")
        .as("gsh"))

  /** The novelty report tail shared by q282 and [[ingestNovelty]]:
    * zero-fill the per-doc novel counts and derive the exact ratio +
    * cross-multiplied integer verdict. */
  private def noveltyVerdicts(perDoc: DataFrame,
      novel: DataFrame): DataFrame =
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty", expr(
        """CASE WHEN n_grams = 0 THEN 0e0
           ELSE CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)
           END"""))
      .withColumn("verdict", expr(
        """CASE WHEN n_grams = 0 THEN 'short'
           WHEN 2 * n_novel < n_grams THEN 'boilerplate'
           ELSE 'novel' END"""))

  /** DuckDB twin of [[gramHashed]] over the documents table:
    * (doc_id, gsh). */
  private[graft] val gramBaseDuck: String =
    s"""SELECT doc_id, $gramHashDuck AS gsh
        FROM (SELECT doc_id, $wordsDuck AS words FROM documents)"""

  /** DuckDB twin of [[noveltyVerdicts]] over per-doc grams `src b` and
    * per-doc novel counts `novel n`. */
  private[graft] def noveltyTailDuck(src: String): String =
    s"""SELECT b.doc_id,
        CAST(len(b.gsh) AS BIGINT) AS n_grams,
        COALESCE(n.n_novel, CAST(0 AS BIGINT)) AS n_novel,
        CASE WHEN len(b.gsh) = 0 THEN 0e0
             ELSE CAST(COALESCE(n.n_novel, 0) AS DOUBLE)
                  / CAST(len(b.gsh) AS DOUBLE)
        END AS novelty,
        CASE WHEN len(b.gsh) = 0 THEN 'short'
             WHEN 2 * COALESCE(n.n_novel, 0) < len(b.gsh)
               THEN 'boilerplate'
             ELSE 'novel' END AS verdict
      FROM $src b LEFT JOIN novel n ON n.doc_id = b.doc_id"""

  /** The naive-global rule for a batch (doc_id % 10 = 0) scored against
    * the rest of `base` (q283/q285's oracles): a batch doc's gram is
    * novel iff its corpus-wide df is 1 and the batch doc owns it. */
  private val batchNovelDuck: String = """counts AS (
        SELECT g, COUNT(*) AS df, MIN(doc_id) AS doc_id
        FROM (SELECT doc_id, unnest(gsh) AS g FROM base)
        GROUP BY 1),
      novel AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
        FROM counts WHERE df = 1 AND doc_id % 10 = 0
        GROUP BY 1)"""

  /** q282: PER-DOCUMENT GRAM NOVELTY — the memorization-risk / boiler-
    * plate score per doc, complementary to the pairwise views this
    * engine already gates: containment (q107) asks "which PAIR shares
    * content", winnowing (q80/q151) asks "WHERE are the shared spans";
    * this asks the per-doc curation question "how much of THIS doc
    * exists nowhere else?" — the fraction of its distinct 5-gram hashes
    * with corpus document-frequency 1 (utils/scenecut.py-era pipelines
    * curate clips; text twins curate docs by exactly this signal).
    * Verdict by cross-multiplied integers (2·n_novel < n_grams →
    * 'boilerplate'; gram-less short docs → 'short').
    *
    * Shape, tuned for corpus scale: grams are hashed ROW-LOCALLY to
    * 60-bit ints (md5 evaluated once per gram via a two-stage lambda —
    * the hex fold references the digest lambda variable, never
    * re-computing md5 per digit) and deduped row-locally on the HASHED
    * key (array_distinct over ints — so a within-doc collision cannot
    * diverge from the oracle, and n_grams needs NO shuffle at all).
    * The only corpus-scale shuffle is the partial-aggregated df count
    * on the 8-byte gram hash; a df = 1 gram's sole owner IS its
    * min(doc_id), so novel counts come straight off the df table with
    * no join-back of the exploded grams (the first cut paid a
    * grams⋈df shuffle join and ran 10.5 s at sf0.1 — this shape holds
    * the same gate in about half that). Same-doc repeats are collapsed
    * BEFORE the df count, so df counts documents — a doc repeating its
    * own boilerplate 100× cannot vote itself non-novel. */
  val q282GramNovelty = OpSpec(
    "q282_gram_novelty",
    (s, dir) => {
      val base = gramHashed(table(s, dir, "documents")).persist()
      val novel = base
        .select(col("doc_id"), explode(col("gsh")).as("g"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      noveltyVerdicts(
        base.select(col("doc_id"),
          expr("CAST(size(gsh) AS BIGINT)").as("n_grams")),
        novel)
    },
    Some(s"""
      WITH base AS (
        $gramBaseDuck),
      novel AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
        FROM (
          SELECT g, COUNT(*) AS df, MIN(doc_id) AS doc_id
          FROM (SELECT doc_id, unnest(gsh) AS g FROM base)
          GROUP BY 1)
        WHERE df = 1 GROUP BY 1)
      ${noveltyTailDuck("base")}"""))

  /** (doc_id, g) exploded novelty-gram rows with the gram expression
    * INLINE in the generator. The inline form matters: exploding a
    * Project-computed array column keeps the Generate inside
    * whole-stage codegen, whose consume path re-drives the
    * HOF-fallback gram lineage per output row (measured 8.1 s vs
    * 1.5 s at sf0.1 for the identical rows); an inline HOF generator
    * makes the Generate interpreted and the lineage evaluates once
    * per input row. Same rows either way — this is purely the
    * gramRowsOf inlined-HOF lesson applied to the 5-gram hasher. */
  private def gramRowsInline(docs: DataFrame): DataFrame =
    docs.withColumn("words", expr(wordsSpark))
      .select(col("doc_id"), explode(expr(
        s"filter($gramHashSpark, x -> x IS NOT NULL)")).as("g"))

  /** Build the persisted NOVELTY INDEX from the corpus: one row per
    * distinct gram hash with its document frequency, bucketed on the
    * hash (the ingest join key). The corpus text is scanned ONCE, here;
    * every later batch scores against these 16-byte rows. */
  def writeNoveltyIndex(docs: DataFrame, prefix: String, path: String,
      buckets: Int = 8): Unit =
    IndexLifecycle.writeTables(NoveltyIndexTables, prefix, path, buckets)(
      "gramdf" -> gramRowsInline(docs)
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .withColumn("ingest_batch", lit(-1L))
        .repartition(buckets, col("g")))

  /** The LAZY scoring half of [[ingestNovelty]] — exposed within the
    * library so the plan audit can prove the batch is scored from the
    * persisted index alone (no corpus-text lineage). Returns
    * (report, batchGramDf, cachedGrams); the report must be
    * materialized BEFORE the batch's grams are appended, and the
    * caller owns unpersisting `cachedGrams` once both consumers
    * (report checkpoint + gram append) have run — a streaming caller
    * otherwise accretes one cached frame per micro-batch for the life
    * of the stream. */
  private[graft] def scoreNoveltyBatch(s: SparkSession, batch: DataFrame,
      prefix: String, batchId: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val b = gramHashed(batch).persist()
    val bdf = b.select(col("doc_id"), explode(col("gsh")).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
    // a streaming replay excludes its OWN batch's already-committed
    // rows, so re-scoring is deterministic whether or not the crashed
    // attempt's gram append survived
    val storedAll = s.table(s"${prefix}_gramdf")
    val stored = batchId match {
      case Some(id) => storedAll.filter(col("ingest_batch") =!= id)
      case None => storedAll
    }
    // presence is the SIGNED df sum over the matched index rows > 0
    // (purges append negated counts), folded AFTER the bucketed
    // equi-join so only batch-matched grams are ever aggregated — the
    // index is never shuffled whole; a gram with no index rows sums
    // NULL → 0 → novel
    val novel = bdf.filter(col("df") === 1L)
      .join(stored.select(col("g"), col("df").as("sdf")), Seq("g"),
        "left")
      .groupBy(col("g"), col("doc_id"))
      .agg(sum(col("sdf")).as("seen"))
      .filter(coalesce(col("seen"), lit(0L)) <= 0L)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    (noveltyVerdicts(
      b.select(col("doc_id"),
        expr("CAST(size(gsh) AS BIGINT)").as("n_grams")),
      novel), bdf, b)
  }

  /** Score one arriving batch against the persisted novelty index and
    * fold the batch in — q282's per-doc novelty with cost ∝ batch
    * (q55/q278's incremental discipline): a batch gram is novel iff it
    * is unique WITHIN the batch (count 1, its owner = its min doc_id)
    * and ABSENT from the live index — absence = the signed df sum over
    * its matched rows ≤ 0 (appends positive, [[purgeNoveltyIndex]]
    * negations subtract; the sum folds AFTER the bucketed equi-join so
    * appended duplicate rows aggregate instead of fanning out).
    * n_grams stays row-local; the verdicts are checkpointed BEFORE the
    * batch's grams are appended, so the report reflects the index
    * state AT ingest (first-ingested-wins: a later twin batch scores
    * non-novel against these rows, while this batch's verdicts are
    * already sealed — the q278 contract). The corpus text is never
    * rescanned; the only corpus-sized touch is the bucketed index side
    * of one equi-join. */
  def ingestNovelty(s: SparkSession, batch: DataFrame, prefix: String,
      batchId: Option[Long] = None): DataFrame = {
    val (report, bdf, cached) = scoreNoveltyBatch(s, batch, prefix,
      batchId)
    // seal the verdicts, THEN append — a lazily-evaluated report would
    // otherwise see the batch's own grams in the index and zero itself
    val out = report.localCheckpoint()
    // the build created the table, so its layout is read (and `path`
    // never seeds); streaming callers get the replay-skip/heal append
    // keyed on their micro-batch id
    val (_, _, n) = Sinks.tableLayout(s, s"${prefix}_gramdf")
    IndexLifecycle.appendTables(s, NoveltyIndexTables, prefix, "", n,
      batchId)("gramdf" -> bdf.select(col("g"), col("df")))
    // both consumers of the cached batch grams have run (verdicts
    // checkpointed, gram rows appended) — release the executor blocks
    // NOW instead of leaning on GC-driven ContextCleaner, which in
    // streamIntoNoveltyIndex would accrete one frame per micro-batch
    // (the asg0.unpersist() discipline of ingestSemanticIndex)
    cached.unpersist()
    out
  }

  /** Tag-space encoding for novelty takedowns: takedown `t ≥ 0` lands
    * in the `ingest_batch` column as `-4 - t` — disjoint by
    * construction from the build/vacuum/batch-ingest tag (-1) and
    * streaming batch ids (≥ 0), so the skip/heal replay probe can key
    * on it. */
  private[graft] def noveltyTakedownTag(takedownId: Long): Long =
    -4L - takedownId

  /** Right-to-be-forgotten for the novelty index — the purge half the
    * other four persisted indexes already have (q211/q232/q257/q258/
    * q261). The index deliberately stores NO per-doc ownership (8-byte
    * gram rows), so the takedown docs arrive WITH their text: their
    * gram counts are appended NEGATED, and scoring treats presence as
    * the signed df sum > 0. A gram wholly owned by forgotten docs sums
    * to zero and stops witnessing — a later twin scores novel again,
    * which is what forgetting means here. Cost ∝ takedown batch
    * (insert-only; the physical fold is [[vacuumNoveltyIndex]]'s job).
    *
    * REPLAY-SAFE, like every other purge path in the engine: the
    * negation batch rides [[graft.io.Sinks.appendBucketedTableIdempotent]]
    * under the [[noveltyTakedownTag]] tag, so a crashed-and-retried
    * takedown SKIPS when its rows already landed complete and HEALS a
    * torn file set — a double purge of the same `takedownId` can never
    * double-subtract df. Contract: takedown ids are unique per index
    * over the generations between vacuums (takedownId ≥ 0; the id
    * names the takedown BATCH, so replays must carry the identical doc
    * set — the per-table uniqueness rule streaming ingest already
    * lives by), and [[vacuumNoveltyIndex]] — which folds tags away and
    * re-tags -1 — runs only once in-flight takedowns are durably
    * committed (the shared maintenance-quiesce contract). */
  def purgeNoveltyIndex(s: SparkSession, docs: DataFrame,
      prefix: String, takedownId: Long): Unit = {
    require(takedownId >= 0L, s"takedownId must be >= 0: $takedownId")
    // inline-generator gram rows (the writeNoveltyIndex note); the
    // layout is read from the table, as in ingestNovelty
    val neg = gramRowsInline(docs)
      .groupBy(col("g"))
      .agg((count(lit(1)) * lit(-1L)).as("df"))
    val (_, _, n) = Sinks.tableLayout(s, s"${prefix}_gramdf")
    IndexLifecycle.appendTables(s, NoveltyIndexTables, prefix, "", n,
      Some(noveltyTakedownTag(takedownId)))("gramdf" -> neg)
  }

  /** Fold the novelty index's appended generations and purge negations
    * into one physical row per surviving gram (signed sum > 0), via
    * the staged-swap discipline (write staging at the new path, ONE
    * SET LOCATION re-point, drop staging) — readers never see an
    * unregistered instant, and the reclaimed rows are invisible to
    * scoring by construction since scoring already sums. Re-tags
    * everything -1, so it must run with any feeding stream stopped at
    * a committed offset (the maintenance contract every compaction in
    * this engine shares). */
  def vacuumNoveltyIndex(s: SparkSession, prefix: String,
      newPath: String): Unit =
    IndexLifecycle.vacuum(s, NoveltyIndexTables, prefix, prefix,
      _ => newPath, Map("gramdf" -> s.table(s"${prefix}_gramdf")
        .groupBy(col("g")).agg(sum(col("df")).as("df"))
        .filter(col("df") > 0L)))

  /** q285: NOVELTY-INDEX PURGE under the bit-exact gate — the
    * takedown quarter of the corpus (% 4 = 1 among non-batch docs) is
    * purged via [[purgeNoveltyIndex]]'s negated counts, then the batch
    * (% 10 = 0) ingests against the live signed view. The oracle is
    * the naive-global novelty rule with the purged docs ABSENT
    * everywhere, so one hash compare proves both halves: the signed
    * sum equals a scratch build on the purged corpus, and a batch doc
    * whose only gram-twin was forgotten comes back novel. */
  val q285NoveltyPurge = OpSpec(
    "q285_novelty_purge",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val isNew = col("doc_id") % 10 === 0
      val isDead = col("doc_id") % 10 =!= 0 && col("doc_id") % 4 === 1
      val prefix = "nvx_q285"
      val path = s"${graft.Tables.scratchDir}/nvx_q285"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeNoveltyIndex(docs.filter(!isNew), prefix, path)
      purgeNoveltyIndex(s, docs.filter(isDead), prefix, takedownId = 0L)
      ingestNovelty(s, docs.filter(isNew), prefix)
    },
    Some(s"""
      WITH base AS (
        $gramBaseDuck
        WHERE NOT (doc_id % 10 <> 0 AND doc_id % 4 = 1)),
      $batchNovelDuck
      ${noveltyTailDuck("base")}
      WHERE b.doc_id % 10 = 0"""))

  /** q286: NOVELTY-INDEX VACUUM — q285's trajectory with
    * [[vacuumNoveltyIndex]] physically folding the purge negations
    * before the ingest. The oracle is q285's VERBATIM, so the gate
    * proves the fold changes nothing a reader can see while the
    * negated and superseded rows' storage is reclaimed (the fold
    * itself is spec'd: one row per surviving gram, all sums
    * positive). */
  val q286NoveltyVacuum = OpSpec(
    "q286_novelty_vacuum",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val isNew = col("doc_id") % 10 === 0
      val isDead = col("doc_id") % 10 =!= 0 && col("doc_id") % 4 === 1
      val prefix = "nvx_q286"
      val path = s"${graft.Tables.scratchDir}/nvx_q286"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeNoveltyIndex(docs.filter(!isNew), prefix, s"$path/idx")
      purgeNoveltyIndex(s, docs.filter(isDead), prefix, takedownId = 0L)
      vacuumNoveltyIndex(s, prefix, s"$path/vac")
      ingestNovelty(s, docs.filter(isNew), prefix)
    },
    q285NoveltyPurge.oracle)

  /** q283: INCREMENTAL NOVELTY under the bit-exact gate — q282's
    * per-doc novelty score run the way a 100 TB pipeline actually runs
    * it: the corpus (doc_id % 10 ≠ 0) funnels once into the persisted
    * [[writeNoveltyIndex]] gram-df table; the arriving batch
    * (% 10 = 0) is scored by [[ingestNovelty]] with cost ∝ batch. The
    * oracle is the NAIVE-GLOBAL rule — q282's df over corpus ∪ batch,
    * reported for batch docs — so the gate proves the incremental
    * decomposition (batch-unique ∧ index-absent ⟺ global df = 1)
    * exactly, the same bipartite proof obligation as q55/q242/q278. */
  val q283IncrementalNovelty = OpSpec(
    "q283_incremental_novelty",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val isNew = col("doc_id") % 10 === 0
      val prefix = "nvx_q283"
      val path = s"${graft.Tables.scratchDir}/nvx_q283"
      IndexLifecycle.resetPrefix(s, prefix, path)
      writeNoveltyIndex(docs.filter(!isNew), prefix, path)
      ingestNovelty(s, docs.filter(isNew), prefix)
    },
    Some(s"""
      WITH base AS (
        $gramBaseDuck),
      $batchNovelDuck
      ${noveltyTailDuck("base")}
      WHERE b.doc_id % 10 = 0"""))

  val all: Seq[OpSpec] = Seq(
    q21TextStats, q22LangId, q23QualityScore, q24Fingerprint,
    q57Repetition, q59SequencePacking, q60PackMaterialize, q66VocabMining,
    q70PiiRedact, q74ChunkOverlap, q75GopherRules, q76TfIdf,
    q77InvertedIndex, q80Winnowing, q87Commonness, q100PipelineV2,
    q106Collocations, q117CosineTfJoin, q124Bm25, q132BpeTrain,
    q133BpeTokens, q171VocabCoverage, q180CompressProxy,
    q182PrfExpansion, q185SentenceStats, q194LangidConfusion,
    q214LmSurprise, q215PaddingAudit, q282GramNovelty,
    q283IncrementalNovelty, q285NoveltyPurge, q286NoveltyVacuum,
    q300BpeFertility)
}
