package graft.ops

import graft.{OpSpec, Tables}
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine supervised classifier training + evaluation — the missing
  * supervised half of the trainer story (q98 trains k-means
  * unsupervised; every production curation pipeline ALSO trains a
  * quality classifier on labeled docs: the fastText/CCNet recipe, and
  * the reference's score-threshold curation macvid.py:113-115 is
  * exactly the kind of hand rule such a classifier replaces).
  *
  * q267 trains a logistic-regression quality classifier BY GRADIENT
  * DESCENT inside the engine, distributed and bit-exact across engines;
  * q268 computes the exact ROC-AUC of the held-out scores (Mann-Whitney
  * rank-sum with midrank tie handling); q269 the reliability diagram
  * (fixed-width calibration bins). Together: train → discriminate →
  * calibrate, all under the DuckDB hash gate.
  *
  * The learning problem is a noisy distillation of the q23 hand rule:
  * label = (quality >= 0.5) with a deterministic 10 % hash flip (so the
  * target is correlated-but-not-determined — holdout AUC lands ~0.78,
  * not a degenerate 1.0), features = the rule's raw components (capped
  * word count, average word length, stopword ratio) plus a bias. The
  * split is the q53 salted-hash discipline with its own salt ('clf:'),
  * 80 % train / 20 % holdout; evaluation queries read ONLY the holdout.
  *
  * Cross-engine exactness (the q98 problem, solved differently):
  * unordered float sums are engine-divergent, so the GRADIENT is
  * integerized — features are fixed-point BIGINTs at scale 1e5
  * (exact integer division of exact counts), the per-row residual
  * sigma(z) - y is floored to a BIGINT at scale 1e6, and each gradient
  * component is an exact integer SUM(r * f_j), order-free in any
  * engine. The sigmoid is the RATIONAL squash 1/2 + z/(2(1+|z|)) —
  * +, *, /, abs are all IEEE-exact operations, whereas exp() is not
  * correctly rounded and differs between libm and the JVM. Weight
  * updates run the identical IEEE double sequence on exact integer
  * inputs: w_j -= lr * (g_j / (n * 1e11)). Magnitudes stay exact:
  * |r*f| <= 1e11 per row, so the sum is < 2^53 up to ~90k train docs
  * (and < 2^63 far beyond); the gated corpus is orders below both.
  *
  * Scale shape: the model is O(features) — it lives on the driver
  * (the MLlib iterate pattern), NOT in the data path; each of the 12
  * iterations is ONE map-side-combinable aggregate over the train
  * split (no shuffle wider than 4 longs per partition, no window, no
  * collect of rows). Training cost = 12 linear scans; the trained
  * weights are memoized per (dir, data-fingerprint) so the three
  * queries share one training. At 100 TB the identical loop holds:
  * the gradient is a 5-number reduce, the scan is the corpus read.
  */
object ClassifierOps {

  /** Feature fixed-point scale (1e5) and residual scale (1e6). */
  private val Sx = 100000L
  private val Sr = 1000000L
  /** Gradient normalizer: Sx * Sr as an exact double. */
  private val NormD = 1e11
  /** Learning rate / iteration count (picked on the gated corpus:
    * holdout AUC 0.778, accuracy 0.865, calibration spread over 6
    * bins — more iterations only sharpens the already-converged
    * direction). */
  private val Lr = 1e1
  private val Iters = 12

  /** Spark-side feature/label/split frame over a raw documents frame:
    * one row per document, (doc_id, split, y, f0..f3) with f's BIGINT
    * fixed-point at [[Sx]]. Mirrors [[featDuck]] exactly. Every
    * expression is ROW-LOCAL, so the same featurization runs unchanged
    * over a streaming documents source (q271). */
  private[graft] def featurize(docs: DataFrame): DataFrame =
    TextOps.qualityStage(docs, "yq",
        s"CASE WHEN ${TextOps.qualityFormula("n_chars")} >= 5e-1 THEN 1L ELSE 0L END",
        lenCols = Seq("n_chars" -> length(col("text")).cast("long")),
        wordCols = Seq("n_nonspace" ->
          expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)")))
      .withColumn("hx_clf",
        md5(concat(lit("clf:"), col("doc_id")).cast("binary")))
      .withColumn("hx_flip",
        md5(concat(lit("flip:"), col("doc_id")).cast("binary")))
      .select(
        col("doc_id"),
        expr(s"CASE WHEN ${TextOps.hexToLong("hx_clf", 12)} % 10 < 8 " +
          "THEN 'train' ELSE 'holdout' END").as("split"),
        expr(s"CAST(CASE WHEN ${TextOps.hexToLong("hx_flip", 12)} % 10 = 0 " +
          "THEN 1 - yq ELSE yq END AS BIGINT)").as("y"),
        lit(Sx).as("f0"),
        expr(s"least(n_words, 50) * ${Sx / 50}").as("f1"),
        expr(s"CASE WHEN n_words = 0 THEN 0L " +
          s"ELSE (n_nonspace * $Sx) DIV (n_words * 8) END").as("f2"),
        expr(s"CASE WHEN n_words = 0 THEN 0L " +
          s"ELSE (n_stop * $Sx) DIV n_words END").as("f3"))

  private def featDf(s: SparkSession, dir: String): DataFrame =
    featurize(table(s, dir, "documents"))

  /** DuckDB twin of [[featurize]] as a CTE body. */
  private val featDuck: String = s"""
    SELECT doc_id,
      CASE WHEN ${TextOps.hexToLong("hx_clf", 12)} % 10 < 8
           THEN 'train' ELSE 'holdout' END AS split,
      CAST(CASE WHEN ${TextOps.hexToLong("hx_flip", 12)} % 10 = 0
           THEN 1 - yq ELSE yq END AS BIGINT) AS y,
      CAST($Sx AS BIGINT) AS f0,
      least(n_words, 50) * ${Sx / 50} AS f1,
      CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
           ELSE (n_nonspace * $Sx) // (n_words * 8) END AS f2,
      CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
           ELSE (n_stop * $Sx) // n_words END AS f3
    FROM (
      SELECT doc_id,
        CASE WHEN ${TextOps.qualityFormula("n_chars")} >= 5e-1
             THEN 1 ELSE 0 END AS yq,
        md5('clf:' || doc_id) AS hx_clf,
        md5('flip:' || doc_id) AS hx_flip,
        n_words, n_nonspace, n_stop
      FROM (
        ${TextOps.qualityCountsDuck(
          "doc_id,\n          CAST(length(text) AS BIGINT) AS n_chars,",
          "doc_id, text", "documents",
          mid = "\n          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)\n            AS n_nonspace,")}))"""

  /** z = ((w0*(f0/1e5) + w1*(f1/1e5)) + w2*(f2/1e5)) + w3*(f3/1e5) as a
    * Column — reduceLeft fixes the association order the DuckDB text
    * spells out literally. */
  private def zCol(ws: Seq[Double]): Column =
    ws.zipWithIndex.map { case (w, j) =>
      lit(w) * (col(s"f$j").cast("double") / lit(1e5))
    }.reduceLeft(_ + _)

  /** sigma(z) = 1/2 + z / (2 * (1 + |z|)) — the rational squash (every
    * op IEEE-exact; exp() is not engine-portable). */
  private def sigCol(z: Column): Column =
    lit(5e-1) + z / (lit(2e0) * (lit(1e0) + abs(z)))

  /** DuckDB sigma text over weight columns w0..w3 of relation `w`. */
  private def sigDuck(w: String): String = {
    val z = (0 to 3).map(j => s"$w.w$j * (CAST(f$j AS DOUBLE) / 1e5)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"(5e-1 + $z / (2e0 * (1e0 + abs($z))))"
  }

  /** Trained weights + train count, memoized per (dir, corpus
    * fingerprint) so q267/q268/q269 share one 12-iteration training —
    * and a regenerated corpus forces a retrain instead of serving a
    * stale model. */
  private val memo =
    new scala.collection.concurrent.TrieMap[(String, String), (Seq[Double], Long)]
  private[ops] def trainedWeights(s: SparkSession, dir: String)
      : (Seq[Double], Long) =
    memo.getOrElseUpdate((dir, dataFingerprint(s, dir, "documents")), {
      val tr = featDf(s, dir).filter(col("split") === "train")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = tr.count()
        var ws: Seq[Double] = Seq(0.0, 0.0, 0.0, 0.0)
        for (_ <- 1 to Iters) {
          val r = floor((sigCol(zCol(ws)) - col("y").cast("double"))
            * lit(1e6))
          val g = tr.agg(
            sum(r * col("f0")).cast("long"),
            sum(r * col("f1")).cast("long"),
            sum(r * col("f2")).cast("long"),
            sum(r * col("f3")).cast("long")).head()
          ws = ws.zipWithIndex.map { case (w, j) =>
            w - Lr * (g.getLong(j).toDouble / (n.toDouble * NormD))
          }
        }
        (ws, n)
      } finally { tr.unpersist(); () }
    })

  /** Score a FEATURIZED frame with frozen weights — row-local literal
    * arithmetic, so it runs identically over batch and streaming
    * inputs: (doc_id, split, y, score, pred). */
  private def scoreFrame(feat: DataFrame, ws: Seq[Double]): DataFrame =
    feat
      .withColumn("score", sigCol(zCol(ws)))
      .select(col("doc_id"), col("split"), col("y"), col("score"),
        expr("CAST(CASE WHEN score >= 5e-1 THEN 1 ELSE 0 END AS BIGINT)")
          .as("pred"))

  /** Final scored frame (doc_id, split, y, score, pred) over ALL docs. */
  private def scoredDf(s: SparkSession, dir: String): DataFrame =
    scoreFrame(featDf(s, dir), trainedWeights(s, dir)._1)

  /** Train on the BATCH corpus, then score an incoming STREAMING
    * documents frame with the frozen weights (q271) — the production
    * deployment shape: the model is a handful of literals baked into a
    * stateless row-local projection, so serving it in Structured
    * Streaming costs nothing beyond the scan and is trivially
    * arrival-insensitive (the batch oracle gates it verbatim). */
  private[graft] def scoreStream(s: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    scoreFrame(featurize(docs), trainedWeights(s, dir)._1)

  /** The DuckDB training trajectory: w0 (zeros) then one CTE per
    * iteration over the train split — the oracle re-derives the
    * weights itself, so the gate pins the TRAINING, not just the
    * scoring. Each iteration CTE references its predecessor exactly
    * ONCE (the previous weights ride through the aggregate as max()
    * of a constant column): DuckDB inlines single-reference CTEs, and
    * a doubly-referenced chain re-evaluates 2^12 times. */
  private def weightsCtesDuck: String = {
    val w0 = "w0 AS MATERIALIZED (SELECT 0e0 AS w0, 0e0 AS w1, 0e0 AS w2, 0e0 AS w3)"
    val iters = (1 to Iters).map { i =>
      val upd = (0 to 3).map(j =>
        s"max(pw$j) - ${Lr}e0 * (CAST(SUM(r * f$j) AS DOUBLE)" +
          s" / (CAST(max(n) AS DOUBLE) * 1e11)) AS w$j")
        .mkString(", ")
      val carry = (0 to 3).map(j => s"p.w$j AS pw$j").mkString(", ")
      s"""w$i AS MATERIALIZED (
           SELECT $upd FROM (
             SELECT $carry, nt.n, f0, f1, f2, f3,
               CAST(floor((${sigDuck("p")} - CAST(y AS DOUBLE)) * 1e6)
                 AS BIGINT) AS r
             FROM tr, w${i - 1} p, nt))"""
    }
    (Seq(w0) ++ iters).mkString(",\n")
  }

  /** Shared oracle prelude: features, train split, count, trajectory. */
  private def oraclePrelude: String = s"""
    WITH feat AS MATERIALIZED ($featDuck),
    tr AS MATERIALIZED (SELECT * FROM feat WHERE split = 'train'),
    nt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr),
    $weightsCtesDuck,
    scored AS MATERIALIZED (
      SELECT doc_id, split, y, ${sigDuck(s"w$Iters")} AS score
      FROM feat, w$Iters)"""

  /** q267: the trained classifier's verdict on every document —
    * (doc_id, split, y, score, pred). The oracle re-trains from zeros
    * through the identical 12 exact-integer gradient steps, so a
    * single diverged residual anywhere in the trajectory flips the
    * hash. */
  val q267LogisticTrain = OpSpec(
    "q267_logistic_train",
    (s, dir) => scoredDf(s, dir),
    Some(s"""$oraclePrelude
      SELECT doc_id, split, y, score,
        CAST(CASE WHEN score >= 5e-1 THEN 1 ELSE 0 END AS BIGINT) AS pred
      FROM scored"""))

  /** Coarse-bucket count for the two-level AUC fold: scores land in
    * `floor(score·1024)` row-locally, so the FINAL fold's input is
    * ≤ 1024 bucket partials no matter how many distinct scores the
    * holdout produces. */
  private[graft] val AucBuckets = 1024

  /** Level 1 of the exact two-level Mann-Whitney fold: per coarse
    * score bucket (row-local `floor(score·1024)` — scores are
    * sigmoid outputs in (0,1)), the bucket's positive/negative totals
    * plus its WITHIN-bucket u2 partial (the ordered fold over the
    * bucket's own score groups). Fully distributed: one hash
    * aggregate keyed on bkt, per-group state bounded by one bucket's
    * distinct scores (≈ 1/1024 of the domain), never the whole
    * holdout. */
  private[graft] def aucBucketPartials(grp: DataFrame): DataFrame =
    grp.withColumn("bkt",
        least(floor(col("score") * lit(AucBuckets.toDouble)),
          lit((AucBuckets - 1).toDouble)).cast("long"))
      .groupBy(col("bkt"))
      .agg(sum(col("p")).cast("long").as("bp"),
        sum(col("m")).cast("long").as("bm"),
        expr("""aggregate(
            sort_array(collect_list(struct(score, p, m))),
            named_struct('negs', 0L, 'u2', 0L),
            (acc, g) -> named_struct(
              'negs', acc.negs + g.m,
              'u2', acc.u2 + g.p * (2L * acc.negs + g.m)),
            acc -> acc.u2)""").as("bu2"))

  /** Level 2: merge the ≤ [[AucBuckets]] bucket partials. Exact by the
    * split identity negs_below(g) = negs_below(bucket) +
    * negs_below_within_bucket(g), so
    * u2 = Σ_buckets [u2_within + 2·bp·negs_below(bucket)] — every term
    * integer, order fixed by the bkt sort. The final collect_list is
    * bucket-bounded BY CONSTRUCTION (state O(1024), not O(distinct
    * scores)): an adversarial all-distinct-score holdout costs the
    * same bounded final state as a heavily tied one. */
  private[graft] def aucFromScoreGroups(grp: DataFrame): DataFrame =
    aucBucketPartials(grp)
      .agg(
        sum(col("bp")).cast("long").as("n_pos"),
        sum(col("bm")).cast("long").as("n_neg"),
        expr("""aggregate(
            sort_array(collect_list(struct(bkt, bp, bm, bu2))),
            named_struct('negs', 0L, 'u2', 0L),
            (acc, b) -> named_struct(
              'negs', acc.negs + b.bm,
              'u2', acc.u2 + b.bu2 + 2L * b.bp * acc.negs),
            acc -> acc.u2)""").as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(col("u2").cast("double")
            / (lit(2e0) * col("n_pos").cast("double")
              * col("n_neg").cast("double"))).as("auc"))

  /** q268: exact ROC-AUC of the holdout scores — the Mann-Whitney
    * rank-sum with midrank ties, kept in INTEGER arithmetic: u2 =
    * sum over score groups of p * (2*negs_below + m), auc = u2/(2PN).
    * Spark shape: one groupBy(score), then the TWO-LEVEL fold
    * ([[aucBucketPartials]] → [[aucFromScoreGroups]]) — distributed
    * within-bucket partials merged over a ≤ 1024-bucket domain. NO
    * global window (the plan sweep forbids those), no pos×neg pair
    * join, and — unlike a single ordered fold over ALL distinct
    * scores — no aggregate whose state can grow to one entry per
    * holdout row when the rational-sigmoid scores of integerized
    * features approach all-distinct. */
  val q268AucEval = OpSpec(
    "q268_auc_eval",
    (s, dir) => {
      aucFromScoreGroups(scoredDf(s, dir)
        .filter(col("split") === "holdout")
        .groupBy(col("score"))
        .agg(sum(col("y")).cast("long").as("p"),
          (count(lit(1)) - sum(col("y"))).cast("long").as("m")))
    },
    Some(s"""$oraclePrelude,
      grp AS (
        SELECT score, CAST(SUM(y) AS BIGINT) AS p,
          CAST(COUNT(*) - SUM(y) AS BIGINT) AS m
        FROM scored WHERE split = 'holdout' GROUP BY score),
      pre AS (
        SELECT p, m,
          CAST(COALESCE(SUM(m) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS negs
        FROM grp),
      tot AS (
        SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
          CAST(SUM(m) AS BIGINT) AS n_neg,
          CAST(SUM(p * (2 * negs + m)) AS BIGINT) AS u2
        FROM pre)
      SELECT n_pos, n_neg, u2,
        CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
             ELSE CAST(u2 AS DOUBLE)
               / (2e0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        END AS auc
      FROM tot"""))

  /** q269: reliability diagram — fixed-width score bins (row-local
    * floor(score*10), NOT rank deciles: no global window at any
    * scale), per-bin count, positive count, mean score (fixed-point
    * exact sum / one division) and |empirical - predicted| gap. */
  val q269Calibration = OpSpec(
    "q269_calibration",
    (s, dir) => {
      scoredDf(s, dir).filter(col("split") === "holdout")
        .withColumn("bin",
          least(floor(col("score") * lit(1e1)), lit(9.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("n_pos"),
          sum(floor(col("score") * lit(1e9))).cast("long").as("sfp"))
        .select(col("bin"), col("n"), col("n_pos"),
          (col("sfp").cast("double")
            / (col("n").cast("double") * lit(1e9))).as("mean_score"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("frac_pos"),
          abs(col("n_pos").cast("double") / col("n").cast("double")
            - col("sfp").cast("double")
              / (col("n").cast("double") * lit(1e9))).as("gap"))
    },
    Some(s"""$oraclePrelude
      SELECT bin, n, n_pos,
        CAST(sfp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) AS mean_score,
        CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
        abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(sfp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)) AS gap
      FROM (
        SELECT CAST(least(floor(score * 1e1), 9e0) AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS n_pos,
          CAST(SUM(CAST(floor(score * 1e9) AS BIGINT)) AS BIGINT) AS sfp
        FROM scored WHERE split = 'holdout' GROUP BY 1)"""))

  /** q270: uncertainty sampling — the ACTIVE-LEARNING batch selector
    * every classifier-curated pipeline runs next: the k pool documents
    * the model is least sure about (|score - 1/2| smallest) are the
    * ones worth human labels. Spark shape: orderBy + limit plans as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge,
    * NO global window and no full sort at any scale; ties break on
    * doc_id so the selected set is deterministic. */
  val q270UncertaintySample = OpSpec(
    "q270_uncertainty_sample",
    (s, dir) => {
      scoredDf(s, dir).filter(col("split") === "holdout")
        .withColumn("uncertainty", abs(col("score") - lit(5e-1)))
        .orderBy(col("uncertainty").asc, col("doc_id").asc)
        .limit(40)
        .select(col("doc_id"), col("score"), col("uncertainty"))
    },
    Some(s"""$oraclePrelude
      SELECT doc_id, score, abs(score - 5e-1) AS uncertainty
      FROM scored WHERE split = 'holdout'
      ORDER BY abs(score - 5e-1) ASC, doc_id ASC LIMIT 40"""))

  /** q275: PRECISION/RECALL THRESHOLD SWEEP — the operating-point
    * table a deployed curation classifier is actually configured from
    * (AUC ranks models; the sweep picks the threshold). Nine
    * thresholds t = 0.1..0.9; per t the exact confusion counts over
    * the holdout and single-division precision/recall/F1. Spark shape:
    * each doc lands in ONE score decile bucket (row-local), the 10-row
    * bucket table aggregates ONCE, and the 9 thresholds are cumulative
    * sums over that bounded domain via a 9x10 triangle join (the q173
    * decile-triangle shape — aggregate-sized, crossOk-documented), so
    * the corpus is scanned exactly once however many thresholds the
    * sweep has. F1 = 2*tp / (2*tp + fp + fn) — one division of exact
    * integers (the textbook 2PR/(P+R) divides two already-rounded
    * doubles and diverges cross-engine). */
  val q275PrCurve = OpSpec(
    "q275_pr_curve",
    (s, dir) => {
      val buckets = scoredDf(s, dir).filter(col("split") === "holdout")
        .withColumn("bin",
          least(floor(col("score") * lit(1e1)), lit(9.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(sum(col("y")).cast("long").as("p"),
          (count(lit(1)) - sum(col("y"))).cast("long").as("m"))
      val ts = s.range(1, 10).select(col("id").as("t10"))
      ts.join(broadcast(buckets), col("bin") >= col("t10"), "left")
        .groupBy(col("t10"))
        .agg(coalesce(sum(col("p")), lit(0L)).cast("long").as("tp"),
          coalesce(sum(col("m")), lit(0L)).cast("long").as("fp"))
        .join(broadcast(buckets.agg(
          sum(col("p")).cast("long").as("pos_all"),
          sum(col("m")).cast("long").as("neg_all"))))
        .select(
          (col("t10").cast("double") / lit(1e1)).as("threshold"),
          col("tp"), col("fp"),
          (col("pos_all") - col("tp")).as("fn"),
          (col("neg_all") - col("fp")).as("tn"),
          when(col("tp") + col("fp") === 0, lit(null).cast("double"))
            .otherwise(col("tp").cast("double")
              / (col("tp") + col("fp")).cast("double")).as("prec"),
          when(col("pos_all") === 0, lit(null).cast("double"))
            .otherwise(col("tp").cast("double")
              / col("pos_all").cast("double")).as("recall"),
          when(lit(2L) * col("tp") + col("fp")
              + (col("pos_all") - col("tp")) === 0,
            lit(null).cast("double"))
            .otherwise((lit(2L) * col("tp")).cast("double")
              / (lit(2L) * col("tp") + col("fp")
                + (col("pos_all") - col("tp"))).cast("double")).as("f1"))
    },
    Some(s"""$oraclePrelude,
      buckets AS (
        SELECT CAST(least(floor(score * 1e1), 9e0) AS BIGINT) AS bin,
          CAST(SUM(y) AS BIGINT) AS p,
          CAST(COUNT(*) - SUM(y) AS BIGINT) AS m
        FROM scored WHERE split = 'holdout' GROUP BY 1),
      tot AS (
        SELECT CAST(SUM(p) AS BIGINT) AS pos_all,
          CAST(SUM(m) AS BIGINT) AS neg_all
        FROM buckets),
      cum AS (
        SELECT t.t10,
          CAST(COALESCE(SUM(b.p), 0) AS BIGINT) AS tp,
          CAST(COALESCE(SUM(b.m), 0) AS BIGINT) AS fp
        FROM (SELECT unnest(generate_series(1, 9)) AS t10) t
        LEFT JOIN buckets b ON b.bin >= t.t10
        GROUP BY 1)
      SELECT CAST(t10 AS DOUBLE) / 1e1 AS threshold, tp, fp,
        pos_all - tp AS fn, neg_all - fp AS tn,
        CASE WHEN tp + fp = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
        END AS prec,
        CASE WHEN pos_all = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / CAST(pos_all AS DOUBLE)
        END AS recall,
        CASE WHEN 2 * tp + fp + (pos_all - tp) = 0 THEN NULL
             ELSE CAST(2 * tp AS DOUBLE)
               / CAST(2 * tp + fp + (pos_all - tp) AS DOUBLE)
        END AS f1
      FROM cum, tot"""))

  val all: Seq[OpSpec] =
    Seq(q267LogisticTrain, q268AucEval, q269Calibration,
      q270UncertaintySample, q275PrCurve)
}
