package graft

import graft.ops.ScoreStage
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level tests over the sf0.001 testdata: semantics invariants,
  * failure handling, and physical-plan audits (the "is this the plan
  * you'd want at 100 TB" checks).
  */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q12 scene explode partitions each duration exactly") {
    val bad = SparkEntry.queries("q12_scene_explode")(spark, sf)
      .groupBy("event_id")
      .agg(sum(col("clip_end") - col("clip_start")).as("covered"),
        max("clip_end").as("last_end"), min("clip_start").as("first_start"),
        count(lit(1)).as("n"))
      .join(Tables.table(spark, sf, "events"), "event_id")
      .filter(abs(col("covered") - col("value")) > 1e-9 ||
        col("first_start") =!= 0.0)
      .count()
    assert(bad == 0)
  }

  test("resume filter is idempotent (P3)") {
    val df = Tables.table(spark, sf, "customer")
    val done = df.limit(50).select(col("c_custkey"))
    val once = ScoreStage.resumeFilter(df, done, "c_custkey")
    assert(once.count() == df.count() - 50)
    // running the "stage" again with the full done set leaves nothing
    val all = df.select(col("c_custkey"))
    assert(ScoreStage.resumeFilter(df, all, "c_custkey").count() == 0)
  }

  test("scoreStage yields error column instead of failing the task") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val df = spark.createDataFrame(
      Seq(Row(1L), Row(-1L), Row(2L)).asJava, schema)
    val kernel = new ScoreStage.Kernel {
      override def name = "neg_fails"
      override def score(batch: Seq[Row]): Seq[Either[String, Double]] =
        batch.map { r =>
          val v = r.getLong(0)
          if (v < 0) Left("negative") else Right(v * 2.0)
        }
    }
    val out = ScoreStage.scoreStage(df, kernel, batchSize = 2)
    assert(out.filter(col("score_error").isNotNull).count() == 1)
    assert(ScoreStage.dropFailed(out, "score").count() == 2)
  }

  private def writeScript(body: String): String = {
    val p = java.nio.file.Files.createTempFile("scorer", ".sh")
    java.nio.file.Files.writeString(p, "#!/bin/sh\n" + body)
    p.toFile.setExecutable(true)
    p.toString
  }

  test("pipeScoreStage: one subprocess per partition, line protocol, ERR rows") {
    import spark.implicits._
    // doubles the input; input "bad" answers the ERR arm. The child
    // also logs its PID once per process so the test can PROVE the
    // spawn count equals the partition count, not the row count.
    val script = writeScript(
      """echo $$ >> "$PIDLOG"
        |while IFS= read -r x; do
        |  case "$x" in
        |    bad*) printf 'ERR bad row\n' ;;
        |    *) printf '%s\n' $((x * 2)) ;;
        |  esac
        |done
        |""".stripMargin)
    val pidLog = java.nio.file.Files.createTempFile("pids", ".log")
    val df = (1 to 20).map(_.toString).toDF("v")
      .withColumn("v", when(col("v") === "13", lit("bad")).otherwise(col("v")))
      .repartition(3)
    val cmd = Seq("/bin/sh", "-c", s"""PIDLOG='$pidLog' exec '$script'""")
    val out = ScoreStage.pipeScoreStage(df, cmd,
      row => row.getString(0), batchSize = 4)
      .select(col("v"), col("score"), col("score_error")).collect()
    assert(out.length == 20)
    val errs = out.filter(_.get(2) != null)
    assert(errs.toSeq.map(_.getString(0)) == Seq("bad") &&
      errs.head.getString(2) == "bad row")
    out.filter(_.get(2) == null).foreach { r =>
      assert(r.getDouble(1) == r.getString(0).toDouble * 2)
    }
    // amortization: <= 1 process per partition (empty partitions skip)
    val pids = java.nio.file.Files.readAllLines(pidLog)
    assert(pids.size() <= 3 && pids.size() >= 1)
  }

  test("pipeScoreStage: child crash errors remaining rows, not the task") {
    import spark.implicits._
    // answers 2 lines then dies mid-partition
    val script = writeScript(
      """n=0
        |while IFS= read -r x; do
        |  printf '%s\n' $((x * 2))
        |  n=$((n + 1))
        |  [ "$n" -ge 2 ] && exit 3
        |done
        |""".stripMargin)
    val df = (1 to 6).map(_.toString).toDF("v").coalesce(1)
    val out = ScoreStage.pipeScoreStage(df, Seq(script),
      row => row.getString(0), batchSize = 2)
      .select(col("score"), col("score_error")).collect()
    assert(out.count(_.get(0) != null) == 2) // the two answered rows
    val failed = out.filter(_.get(0) == null)
    assert(failed.length == 4 &&
      failed.forall(_.getString(1).contains("scorer")))
  }

  test("pipeScoreStage: a stderr-flooding scorer cannot deadlock the task") {
    import spark.implicits._
    // an ML scorer that logs heavily to stderr: each row spawns ~200 KB
    // of stderr, several times the OS pipe buffer. Without the DISCARD
    // redirect the child blocks on its stderr write before answering and
    // the task deadlocks with no timeout (ADVICE r5).
    val script = writeScript(
      """while IFS= read -r x; do
        |  head -c 200000 /dev/zero | tr '\0' 'e' >&2
        |  printf '%s\n' $((x * 2))
        |done
        |""".stripMargin)
    val df = (1 to 4).map(_.toString).toDF("v").coalesce(1)
    val out = ScoreStage.pipeScoreStage(df, Seq(script),
      row => row.getString(0), batchSize = 1)
      .select(col("score")).collect()
    assert(out.length == 4 && out.forall(_.get(0) != null))
  }

  test("pipeScoreStage: abandoned iterator (limit) still reaps the child") {
    import spark.implicits._
    // a downstream limit abandons the partition iterator before the
    // by-name close suffix runs; the TaskCompletionListener must still
    // destroy the subprocess or every take() leaks a scorer process.
    val script = writeScript(
      """echo $$ >> "$PIDLOG"
        |while IFS= read -r x; do printf '%s\n' $((x * 2)); done
        |""".stripMargin)
    val pidLog = java.nio.file.Files.createTempFile("pids", ".log")
    val df = (1 to 100).map(_.toString).toDF("v").coalesce(1)
    val cmd = Seq("/bin/sh", "-c", s"""PIDLOG='$pidLog' exec '$script'""")
    val one = ScoreStage.pipeScoreStage(df, cmd,
      row => row.getString(0), batchSize = 4)
      .select(col("score")).limit(1).collect()
    assert(one.length == 1)
    val pids = java.nio.file.Files.readAllLines(pidLog)
    assert(pids.size() >= 1)
    val pid = pids.get(pids.size() - 1).trim
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def alive(): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"/proc/$pid"))
    while (alive() && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!alive(), s"scorer pid $pid leaked past task completion")
  }

  test("pipeScoreStage: a python3 line-protocol child works end-to-end " +
    "(protocol, ERR arm, spawn count, mid-partition crash)") {
    import spark.implicits._
    // the runtime class the seam exists for: the reference's real
    // scorers are python (ocr_score.py, imaging_quality.py). Skips
    // gracefully on hosts without python3.
    val py3 = Seq("/usr/bin/python3", "/usr/local/bin/python3")
      .find(p => new java.io.File(p).exists())
      .orElse(sys.env.get("PATH").flatMap(_.split(":").iterator
        .map(d => s"$d/python3")
        .find(p => new java.io.File(p).exists())))
    assume(py3.isDefined, "python3 not installed on this host")
    val pidLog = java.nio.file.Files.createTempFile("pypids", ".log")
    val prog =
      s"""import os, sys
         |with open('$pidLog', 'a') as f: f.write(str(os.getpid()) + '\\n')
         |for line in sys.stdin:
         |    x = line.strip()
         |    if x.startswith('bad'):
         |        print('ERR bad row', flush=True)
         |    else:
         |        print(int(x) * 2, flush=True)
         |""".stripMargin
    val df = (1 to 20).map(_.toString).toDF("v")
      .withColumn("v",
        when(col("v") === "13", lit("bad")).otherwise(col("v")))
      .repartition(3)
    val out = ScoreStage.pipeScoreStage(df,
      Seq(py3.get, "-u", "-c", prog), row => row.getString(0),
      batchSize = 4)
      .select(col("v"), col("score"), col("score_error")).collect()
    assert(out.length == 20)
    val errs = out.filter(_.get(2) != null)
    assert(errs.toSeq.map(_.getString(0)) == Seq("bad") &&
      errs.head.getString(2) == "bad row")
    out.filter(_.get(2) == null).foreach { r =>
      assert(r.getDouble(1) == r.getString(0).toDouble * 2)
    }
    val pids = java.nio.file.Files.readAllLines(pidLog)
    assert(pids.size() <= 3 && pids.size() >= 1,
      s"expected one interpreter per partition, saw ${pids.size()}")
    // mid-partition crash: a python child that dies after 2 answers
    // errors the remaining rows, not the task
    val crash =
      s"""import sys
         |n = 0
         |for line in sys.stdin:
         |    print(int(line.strip()) * 2, flush=True)
         |    n += 1
         |    if n >= 2: sys.exit(3)
         |""".stripMargin
    val out2 = ScoreStage.pipeScoreStage(
      (1 to 6).map(_.toString).toDF("v").coalesce(1),
      Seq(py3.get, "-u", "-c", crash), row => row.getString(0),
      batchSize = 2)
      .select(col("score"), col("score_error")).collect()
    assert(out2.count(_.get(0) != null) == 2)
    val failed = out2.filter(_.get(0) == null)
    assert(failed.length == 4 &&
      failed.forall(_.getString(1).contains("scorer")))
  }

  test("custom DotProduct expression matches the HOF fold bit-for-bit") {
    val e = Tables.table(spark, sf, "embeddings").limit(64)
    val hof =
      """aggregate(zip_with(embedding, embedding,
           (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""
    val diffs = e
      .withColumn("a", expr(hof))
      .withColumn("b", functions.VectorFunctions.dot(col("embedding"), col("embedding")))
      .filter(col("a") =!= col("b")).count()
    assert(diffs == 0)
  }

  test("media pipeline: scan→probe→sample→detect is plumbed end-to-end") {
    import spark.implicits._
    val paths = Seq("/v/a.mp4", "/v/b.mkv", "/v/c.webm").toDF("path")
    val probed = graft.media.Media.withMediaInfo(paths, "path")
    assert(probed.select("media_info.n_frames").as[Long].collect().forall(_ > 0))
    val sampled = graft.media.Media.withSampledFrames(probed, "path", "fractional")
    assert(sampled.select(size(col("frames"))).as[Int].collect().forall(_ == 3))
    val scenes = graft.media.Media.detectScenes(probed, "path", threshold = 10.0)
    // scenes tile [0, n_frames) contiguously per video
    val bad = scenes.groupBy("path")
      .agg(min("scene_start_idx").as("s"), max("scene_end_idx").as("e"),
        sum(col("scene_end_idx") - col("scene_start_idx")).as("covered"))
      .join(probed, "path")
      .filter(col("s") =!= 0 || col("e") =!= col("media_info.n_frames") ||
        col("covered") =!= col("media_info.n_frames"))
      .count()
    assert(bad == 0)
  }

  test("S7 training windows: stride, fixed length, signed [-1,1] floats") {
    import spark.implicits._
    val paths = Seq("/v/a.mp4", "/v/b.mkv", "/v/c.webm").toDF("path")
    val out = graft.media.Media.trainingWindows(
      paths, "path", stride = 4, windowLen = 4)
      .select(col("path"), col("batch"))
      .as[(String, Array[Array[Float]])].collect()
    assert(out.length == 3)
    out.foreach { case (_, batch) =>
      assert(batch != null && batch.length == 4) // fixed window length
      batch.foreach { frame =>
        assert(frame.length == 64) // FakeCodec plane, CHW identity
        assert(frame.forall(v => v >= -1.0f && v <= 1.0f))
      }
    }
    // same path → same deterministic window (retry-stable)
    val again = graft.media.Media.trainingWindows(
      paths, "path", stride = 4, windowLen = 4)
      .select(col("path"), col("batch"))
      .as[(String, Array[Array[Float]])].collect()
    assert(out.sortBy(_._1).zip(again.sortBy(_._1)).forall {
      case ((_, a), (_, b)) => a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq })
    // a clip shorter than the window yields a null batch, not a crash
    val short = graft.media.Media.trainingWindows(
      paths, "path", stride = 4, windowLen = 10000)
      .filter(col("batch").isNull).count()
    assert(short == 3)
  }

  test("K6 clip sink: scenes → files → re-scan count within A6 tolerance") {
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("clipsink").toString
    val paths = Seq("/v/a.mp4", "/v/b.mkv", "/v/c.webm").toDF("path")
    val scenes = graft.media.Media.detectScenes(paths, "path", threshold = 10.0)
    val written = graft.io.Sinks.clipFiles(
      scenes, "path", "scene_start_idx", "scene_end_idx", outDir)
    assert(written.filter(col("clip_path").isNull).count() == 0)
    // re-scan: every written clip is a real nonzero file on disk
    val files = new java.io.File(outDir).listFiles().toSeq
    assert(files.forall(_.length() > 0))
    // A6 count-consistency: files per source stem vs detected scenes
    val stemOf = udf { p: String =>
      val b = p.substring(p.lastIndexOf('/') + 1)
      b.substring(0, b.indexOf('_')) // <stem>_<start>_<end>.mp4
    }
    val expected = scenes.groupBy(col("path"))
      .agg(count(lit(1)).as("n_expected"))
      .withColumn("stem", element_at(split(
        element_at(split(col("path"), "/"), -1), "\\."), 1))
    val actual = files.map(_.getName).toDF("f")
      .withColumn("stem", stemOf(col("f")))
      .groupBy("stem").agg(count(lit(1)).as("n_actual"))
    val checked = graft.ops.QualityOps.checkCounts(
      expected, actual, "stem", "n_expected", "n_actual", tol = 0L)
    assert(checked.filter(!col("ok")).count() == 0)
    // the sink is idempotent: a re-run (task retry) rewrites identical files
    graft.io.Sinks.clipFiles(
      scenes, "path", "scene_start_idx", "scene_end_idx", outDir).count()
    assert(new java.io.File(outDir).listFiles().length == files.length)
    // distinct sources sharing a basename must not overwrite each other
    val dup = Seq("/x/same.mp4", "/y/same.mp4").toDF("path")
      .withColumn("s", lit(0L)).withColumn("e", lit(48L))
    val dupDir = java.nio.file.Files.createTempDirectory("clipdup").toString
    val dupOut = graft.io.Sinks.clipFiles(dup, "path", "s", "e", dupDir)
      .select("clip_path").as[String].collect()
    assert(dupOut.distinct.length == 2, dupOut.mkString(", "))
    assert(new java.io.File(dupDir).listFiles().length == 2)
  }

  test("salted aggregation equals the unsalted plan bit-for-bit") {
    import graft.ops.Skew
    // heavy skew: ~97% of lineitem rows forced onto one key
    val df = Tables.table(spark, sf, "lineitem")
      .withColumn("k", when(col("l_orderkey") % 30 =!= 0, lit(7L))
        .otherwise(col("l_orderkey")))
    val plain = df.groupBy(col("k"))
      .agg(Tables.dsum(col("l_extendedprice")).as("rev"),
        count(lit(1)).as("n"), min(col("l_quantity")).as("mn"),
        max(col("l_quantity")).as("mx"))
    val salted = Skew.saltedAgg(df, col("k"), "k", col("l_orderkey"),
      salt = 16, Seq(
        Skew.SaltedAgg("rev",
          sum(col("l_extendedprice").cast(Tables.dec)),
          p => sum(p).cast("double")),
        Skew.SaltedAgg("n", count(lit(1)), sum(_)),
        Skew.SaltedAgg("mn", min(col("l_quantity")), min(_)),
        Skew.SaltedAgg("mx", max(col("l_quantity")), max(_))))
      .select("k", "rev", "n", "mn", "mx")
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    // phase-1 sub-groups actually spread the hot key
    val subGroups = df
      .withColumn("__salt",
        pmod(hash(col("l_orderkey")), lit(16)))
      .filter(col("k") === 7L)
      .select(col("__salt")).distinct().count()
    assert(subGroups > 8, s"hot key only spread over $subGroups sub-groups")
  }

  test("salted join equals the plain join and never goes cartesian") {
    import graft.ops.Skew
    val li = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey").as("k"),
        col("l_extendedprice"))
    val dim = Tables.table(spark, sf, "supplier")
      .select(col("s_suppkey").as("k"), col("s_name"))
    val plain = li.join(dim, "k").select("k", "l_orderkey", "s_name")
    val salted = Skew.saltedJoin(li, dim, "k", col("l_orderkey"), salt = 8)
      .select("k", "l_orderkey", "s_name")
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    val p = salted.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom-pruned semi join is exact and prunes before the join") {
    import graft.ops.BloomPrune
    val li = Tables.table(spark, sf, "lineitem")
    val urgent = Tables.table(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val pruned = BloomPrune.semiJoinPruned(
      li, "l_orderkey", urgent, "o_orderkey", expectedKeys = 4096)
    val plain = li.join(urgent,
      col("l_orderkey") === col("o_orderkey"), "leftsemi")
    assert(pruned.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(pruned).count() == 0)
    // the bloom probe must sit under the join (scan-side), not above it
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p)
    intercept[IllegalArgumentException] {
      BloomPrune.semiJoinPruned(li, "l_orderkey", urgent, "o_orderkey", 0L)
    }
  }

  test("row-local band signatures equal the grouped bandRows recipe") {
    import spark.implicits._
    // the streaming dedup's shuffle-free band computation must be the
    // SAME function as the batch q27 recipe, term for term — group-min
    // over exploded distinct grams == array_min over the gram array
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val local = ops.DedupOps.bandRowsRowLocal(docs)
      .select(col("doc_id"), col("band_idx").cast("long"),
        col("band_val"))
      .as[(Long, Long, String)].collect().toSet
    val batch = ops.DedupOps.bandRowsOf(docs)
      .select(col("doc_id"), col("band_idx").cast("long"),
        col("band_val"))
      .as[(Long, Long, String)].collect().toSet
    assert(local == batch,
      s"diverged: ${(local diff batch).take(3)} / ${(batch diff local).take(3)}")
  }

  test("q27 bucket cap drops hot boilerplate buckets, keeps normal pairs") {
    import spark.implicits._
    // 1100 byte-identical boilerplate docs (every band bucket = 1100 >
    // cap 1000 -> candidates dropped: the quadratic 600k-pair blowup a
    // hot band value causes at scale) + one genuine near-dup pair that
    // must still surface.
    val boiler = "spam spam ham spam eggs spam ham eggs spam spam"
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val docs = ((0 until 1100).map(i => (i.toLong, boiler)) ++
      Seq((2000L, a), (2001L, b)))
      .map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("q27cap").toString
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("q27_minhash_lsh")(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(pairs.contains((2000L, 2001L)), s"real near-dup lost: $pairs")
    assert(!pairs.exists { case (x, y) => x < 1100 && y < 1100 },
      s"hot bucket leaked pairs: ${pairs.take(5)}")
  }

  test("q50 prefix-filtered Jaccard join is exact against brute force") {
    import spark.implicits._
    // small vocab => heavy cross-doc gram collisions (stresses the
    // prefix filter); mutations produce pairs on BOTH sides of t = 3/4
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (0 until 12).map { j =>
      val (_, t) = base(j)
      val words = t.split(" ")
      val mutated =
        if (j % 2 == 0) (words :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")
        else words.updated(rnd.nextInt(words.length),
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (100L + j, mutated)
    }
    val rows = base ++ dups
    val dir = java.nio.file.Files.createTempDirectory("q50").toString
    rows.map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q50_ngram_jaccard")(spark, dir)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    spark.catalog.clearCache()
    def grams(t: String): Set[String] = t.split("\\s+").filter(_.nonEmpty)
      .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    val sets = rows.map { case (id, t) => (id, grams(t)) }
    val expect = (for {
      (ia, ga) <- sets; (ib, gb) <- sets
      if ia < ib && ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      uni = ga.size + gb.size - inter
      if 4 * inter >= 3 * uni
    } yield (ia, ib, inter.toLong, inter.toDouble / uni)).toSet
    assert(expect.nonEmpty, "generator produced no true pairs")
    // and the generator really straddles the threshold: some near-miss
    // pairs must exist below t, else the filter direction isn't tested
    val below = (for {
      (ia, ga) <- sets; (ib, gb) <- sets
      if ia < ib && ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      uni = ga.size + gb.size - inter
      if inter > 0 && 4 * inter < 3 * uni
    } yield (ia, ib)).size
    assert(below > 0, "no sub-threshold overlapping pairs generated")
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("dedup tiers on real duplicates: exact wins, survivor = min id") {
    import spark.implicits._
    // The driver testdata contains NO exact-text duplicates (q25
    // n_copies is all 1 there), so the exact/canonical/tier code paths
    // are compare-validated but exercised empty. This fixture injects
    // real ones. Corpus = ids not divisible by 10; q55 treats ids
    // divisible by 10 as the NEW ingest batch.
    val exactText = "the quick brown fox jumps over the lazy dog today"
    val nearBase =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val nearMut = nearBase.split(" ").dropRight(1).mkString(" ") + " nu"
    val wsBase = "one two three four five"
    val wsShuffled = "five four three two one two" // same word SET as wsBase
    val novel = "completely different content nothing shared here at all"
    val rows = Seq(
      1L -> exactText, 2L -> nearBase, 3L -> wsBase, // corpus
      10L -> exactText, // new: byte-identical to doc 1
      20L -> nearMut,   // new: 1-word mutation of doc 2
      30L -> novel,     // new: novel content
      40L -> wsShuffled) // new: word-set copy of doc 3, different shingles
    val dir = java.nio.file.Files.createTempDirectory("deduptiers").toString
    rows.map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // q25 exact: the injected copy collapses, survivor = min doc_id
    val exact = SparkEntry.queries("q25_dedup_exact")(spark, dir)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)), s"exact dup not collapsed: $exact")
    assert(exact.count(_._2 > 1) == 1, s"unexpected extra dups: $exact")
    // q26 canonical: reshuffled/repeated word sets collapse too
    val ws = SparkEntry.queries("q26_dedup_wordset")(spark, dir)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(ws.contains((3L, 2L)), s"word-set dup not collapsed: $ws")
    assert(ws.contains((1L, 2L)), s"exact dup must also collapse: $ws")
    // q55 tiers: exact_dup beats near_dup (doc 10 is BOTH an exact and a
    // trivial near match of doc 1 — the verdict must say exact_dup)
    val verdicts = SparkEntry.queries("q55_incremental_dedup")(spark, dir)
      .as[(Long, String)].collect().toMap
    spark.catalog.clearCache()
    assert(verdicts == Map(
      10L -> "exact_dup", 20L -> "near_dup", 30L -> "keep", 40L -> "keep"),
      verdicts.toString)
  }

  test("incremental dedup against a persisted index never scans corpus text") {
    import spark.implicits._
    import graft.ops.DedupOps
    // same duplicate structure as the tier fixture, but corpus and batch
    // live in SEPARATE parquet dirs so the plan audit can prove the
    // ingest never touches corpus text (only the persisted index)
    val exactText = "the quick brown fox jumps over the lazy dog today"
    val nearBase =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val nearMut = nearBase.split(" ").dropRight(1).mkString(" ") + " nu"
    val novel = "completely different content nothing shared here at all"
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val corpusDir = java.nio.file.Files.createTempDirectory("idxcorpus").toString
    val newDir = java.nio.file.Files.createTempDirectory("idxbatch").toString
    val idxDir = java.nio.file.Files.createTempDirectory("idxtables").toString
    write(Seq(1L -> exactText, 2L -> nearBase), corpusDir)
    write(Seq(10L -> exactText, 20L -> nearMut, 30L -> novel), newDir)
    try {
      // one corpus-text pass, persisted as bucketed tables
      DedupOps.writeCorpusIndex(
        DedupOps.buildCorpusIndex(
          spark.read.parquet(s"$corpusDir/documents.parquet")),
        "ut_idx", idxDir, buckets = 4)
      val out = DedupOps.incrementalDedup(
        spark.read.parquet(s"$newDir/documents.parquet"),
        DedupOps.readCorpusIndex(spark, "ut_idx"))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains(corpusDir),
        s"ingest plan re-scans corpus text:\n$plan")
      assert(plan.contains(idxDir), s"ingest plan misses the index:\n$plan")
      val verdicts = out.as[(Long, String)].collect().toMap
      spark.catalog.clearCache()
      assert(verdicts == Map(
        10L -> "exact_dup", 20L -> "near_dup", 30L -> "keep"),
        verdicts.toString)
    } finally Seq("hashes", "shingles", "bands", "sizes", "bandcounts")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ut_idx_$t"))
  }

  /** Capture the executed plans of every query/write action `body`
    * triggers (QueryExecutionListener delivery is async — poll until
    * at least `atLeast` arrive, then settle). */
  private def capturePlans(atLeast: Int)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (plans.size < atLeast && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(200) // settle stragglers
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size >= atLeast,
      s"captured ${plans.size} plans, expected >= $atLeast")
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("appendToCorpusIndex: appends == scratch build, no prior-corpus rescan") {
    import spark.implicits._
    import graft.ops.DedupOps
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "one two three four five six seven eight nine ten",
      4L -> "pack my box with five dozen liquor jugs right now ok",
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota nu",
      6L -> "completely different content nothing shared here at all")
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (gen1, gen2, gen3) = (tmp("cia1"), tmp("cia2"), tmp("cia3"))
    val (allDir, probeDir) = (tmp("ciall"), tmp("ciprobe"))
    val (idxA, idxI) = (tmp("ciidxa"), tmp("ciidxi"))
    write(texts.take(3), gen1); write(texts.slice(3, 5), gen2)
    write(texts.drop(5), gen3); write(texts, allDir)
    // probe: exact copy of a gen-1 doc, near-dup of a gen-2 doc, novel
    write(Seq(10L -> texts(0)._2,
      20L -> (texts(4)._2.split(" ").dropRight(1).mkString(" ") + " mu"),
      30L -> "zebra yak xylophone walrus vulture toad snake rat"), probeDir)
    try {
      DedupOps.writeCorpusIndex(DedupOps.buildCorpusIndex(
        spark.read.parquet(s"$allDir/documents.parquet")),
        "ut_cia", idxA, buckets = 4)
      DedupOps.writeCorpusIndex(DedupOps.buildCorpusIndex(
        spark.read.parquet(s"$gen1/documents.parquet")),
        "ut_cii", idxI, buckets = 4)
      // two appends; their write plans must never touch gen-1 text
      val appendPlans = capturePlans(atLeast = 10) {
        DedupOps.appendToCorpusIndex(
          spark.read.parquet(s"$gen2/documents.parquet"), "ut_cii", idxI,
          buckets = 4)
        DedupOps.appendToCorpusIndex(
          spark.read.parquet(s"$gen3/documents.parquet"), "ut_cii", idxI,
          buckets = 4)
      }
      appendPlans.foreach(p => assert(!p.contains(gen1),
        s"append re-scanned prior corpus text:\n$p"))
      // table-for-table: the read view of build(all) == build+appends
      val a = DedupOps.readCorpusIndex(spark, "ut_cia")
      val i = DedupOps.readCorpusIndex(spark, "ut_cii")
      Seq("hashes" -> (a.hashes, i.hashes),
        "shingles" -> (a.shingles, i.shingles),
        "bands" -> (a.bands, i.bands),
        "sizes" -> (a.sizes, i.sizes),
        "bandcounts" -> (a.bandCounts, i.bandCounts)
      ).foreach { case (name, (fa, fi)) =>
        val (ra, ri) = (fa.collect().toSet, fi.collect().toSet)
        assert(ra == ri, s"$name diverged: missing=${(ra -- ri).take(3)} " +
          s"extra=${(ri -- ra).take(3)}")
      }
      // and the index answers ingest queries identically
      val probe = spark.read.parquet(s"$probeDir/documents.parquet")
      val va = DedupOps.incrementalDedup(probe, a)
        .as[(Long, String)].collect().toMap
      val vi = DedupOps.incrementalDedup(probe, i)
        .as[(Long, String)].collect().toMap
      spark.catalog.clearCache()
      assert(va == vi, s"scratch=$va appended=$vi")
      assert(va(10L) == "exact_dup" && va(20L) == "near_dup" &&
        va(30L) == "keep", va.toString)
    } finally Seq("hashes", "shingles", "bands", "sizes", "bandcounts")
      .foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ut_cia_$t")
        spark.sql(s"DROP TABLE IF EXISTS ut_cii_$t")
      }
  }

  test("purgeFromCorpusIndex: live view == vacuum == survivor build, " +
    "purged duplicates stop matching, re-purge is idempotent") {
    import spark.implicits._
    import graft.ops.DedupOps
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "one two three four five six seven eight nine ten",
      4L -> "pack my box with five dozen liquor jugs right now ok",
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota nu",
      6L -> "completely different content nothing shared here at all")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (corpusDir, probeDir, idxDir) = (tmp("cpg1"), tmp("cpg2"), tmp("cpg3"))
    texts.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(s"$corpusDir/documents.parquet")
    // probe: exact copy of doc 1, near-dup of docs 2/5, novel — the
    // first two lose their ONLY corpus partners to the takedown
    Seq(10L -> texts(0)._2,
      20L -> (texts(4)._2.split(" ").dropRight(1).mkString(" ") + " mu"),
      30L -> "zebra yak xylophone walrus vulture toad snake rat")
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(s"$probeDir/documents.parquet")
    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
    val probe = spark.read.parquet(s"$probeDir/documents.parquet")
    val dead = Seq(1L, 2L, 5L).toDF("doc_id")
    val survivors = corpus.filter(!col("doc_id").isin(1L, 2L, 5L))
    def tableSets(idx: DedupOps.CorpusIndex) = Map(
      "hashes" -> idx.hashes.collect().toSet,
      "shingles" -> idx.shingles.collect().toSet,
      "bands" -> idx.bands.collect().toSet,
      "sizes" -> idx.sizes.collect().toSet,
      "bandcounts" -> idx.bandCounts.collect().toSet)
    def verdicts(idx: DedupOps.CorpusIndex) =
      DedupOps.incrementalDedup(probe, idx)
        .as[(Long, String)].collect().toMap
    try {
      DedupOps.writeCorpusIndex(DedupOps.buildCorpusIndex(corpus),
        "ut_cpg", idxDir, buckets = 4)
      // before the takedown: the probe matches
      val before = verdicts(DedupOps.readCorpusIndex(spark, "ut_cpg"))
      assert(before == Map(10L -> "exact_dup", 20L -> "near_dup",
        30L -> "keep"), before.toString)
      // the in-memory view identity q211's gate rests on:
      // purgeCorpusView(build(all)) == build(survivors) table-for-table
      val viewSets = tableSets(DedupOps.purgeCorpusView(
        DedupOps.buildCorpusIndex(corpus), dead))
      val scratchSets = tableSets(DedupOps.buildCorpusIndex(survivors))
      assert(viewSets == scratchSets,
        s"purged view diverged from survivor build: " +
          s"${viewSets.keySet.filter(k => viewSets(k) != scratchSets(k))}")
      // persisted purge: must read only index tables, never corpus text
      val purgePlans = capturePlans(atLeast = 2) {
        DedupOps.purgeFromCorpusIndex(spark, dead, "ut_cpg", idxDir)
      }
      purgePlans.foreach(p => assert(!p.contains(corpusDir),
        s"purge re-scanned corpus text:\n$p"))
      val live = DedupOps.readCorpusIndexLive(spark, "ut_cpg")
      assert(tableSets(live) == scratchSets,
        "live view diverged from survivor build")
      // forgotten means forgotten: the probe's partners are gone
      val after = verdicts(live)
      assert(after == Map(10L -> "keep", 20L -> "keep", 30L -> "keep"),
        after.toString)
      // re-purging the same ids must not double-subtract band counts
      DedupOps.purgeFromCorpusIndex(spark, dead, "ut_cpg", idxDir)
      assert(tableSets(DedupOps.readCorpusIndexLive(spark, "ut_cpg"))
        == scratchSets, "re-purge was not idempotent")
      // vacuum: physical tables now EQUAL the survivor build, the
      // tombstones are gone, and verdicts are unchanged
      val vacDir = tmp("cpg4")
      DedupOps.vacuumCorpusIndex(spark, "ut_cpg", vacDir)
      assert(!spark.catalog.tableExists("ut_cpg_tombstones"))
      val vac = DedupOps.readCorpusIndex(spark, "ut_cpg")
      assert(tableSets(vac) == scratchSets,
        "vacuum diverged from survivor build")
      spark.catalog.clearCache()
      assert(verdicts(vac) == after, "vacuum changed verdicts")
      // crash-retry safety of the append ORDER: simulate a purge that
      // died between its two appends (tombstones landed, negatives did
      // not) by appending the tombstone row directly, then RETRY via
      // the public API. The retry must compute an empty batch and
      // subtract nothing — counts stay (conservatively) inflated, and
      // no band that still holds live docs may vanish from the live
      // view (the old order double-subtracted here and dropped them).
      import graft.ops.DedupOps.CorpusIndex
      graft.io.Sinks.appendBucketedTable(Seq(3L).toDF("doc_id"),
        "ut_cpg_tombstones", "doc_id", 1, s"$vacDir/tombstones")
      DedupOps.purgeFromCorpusIndex(spark, Seq(3L).toDF("doc_id"),
        "ut_cpg", vacDir)
      val liveRetry = DedupOps.readCorpusIndexLive(spark, "ut_cpg")
      val scratch46 = DedupOps.buildCorpusIndex(
        corpus.filter(col("doc_id").isin(4L, 6L)))
      def bandKeys(i: CorpusIndex) = i.bandCounts
        .select("band_idx", "band_val").collect().toSet
      assert((bandKeys(scratch46) -- bandKeys(liveRetry)).isEmpty,
        "retry after a partial purge dropped bands that still hold " +
          "live docs (double-subtract)")
      spark.catalog.clearCache()
      assert(verdicts(liveRetry) == verdicts(scratch46),
        "retry after a partial purge changed ingest verdicts")
    } finally {
      Seq("hashes", "shingles", "bands", "sizes", "bandcounts",
        "tombstones").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ut_cpg_$t"))
      spark.catalog.clearCache()
    }
  }

  test("appendToGramIndex: frozen-order appends answer containment like a scratch build") {
    import spark.implicits._
    import graft.ops.DedupOps
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val gen2doc = "red orange yellow green blue indigo violet umbra xray zulu"
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (gen1, gen2, allDir, probeDir) =
      (tmp("gxg1"), tmp("gxg2"), tmp("gxall"), tmp("gxprobe"))
    val (idxA, idxI) = (tmp("gxidxa"), tmp("gxidxi"))
    write(Seq(1L -> long1, 2L -> other), gen1)
    write(Seq(3L -> gen2doc), gen2)
    write(Seq(1L -> long1, 2L -> other, 3L -> gen2doc), allDir)
    // probe: excerpt of a gen-1 doc, excerpt of the APPENDED doc (the
    // pair only exists if appended rows participate), superset of a
    // gen-1 doc, novel
    write(Seq(
      10L -> "beta gamma delta epsilon zeta eta",
      11L -> "orange yellow green blue indigo violet umbra",
      20L -> (other + " eleven twelve thirteen fourteen"),
      30L -> "nothing shared here with anything else at all whatsoever"),
      probeDir)
    try {
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(
        spark.read.parquet(s"$allDir/documents.parquet")),
        "ut_gxa", idxA, buckets = 4)
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(
        spark.read.parquet(s"$gen1/documents.parquet")),
        "ut_gxi", idxI, buckets = 4)
      val appendPlans = capturePlans(atLeast = 3) {
        DedupOps.appendToGramIndex(spark,
          spark.read.parquet(s"$gen2/documents.parquet"), "ut_gxi", idxI)
      }
      appendPlans.foreach(p => assert(!p.contains(gen1),
        s"gram append re-scanned prior corpus text:\n$p"))
      // the verify payload is order-independent: row-identical
      val dga = spark.table("ut_gxa_docgrams").collect().toSet
      val dgi = spark.table("ut_gxi_docgrams").collect().toSet
      assert(dga == dgi, s"docgrams diverged")
      val probe = spark.read.parquet(s"$probeDir/documents.parquet")
      def run(prefix: String) = DedupOps.incrementalContainment(
        probe, DedupOps.readGramIndex(spark, prefix))
        .select("doc_small", "doc_large").as[(Long, Long)].collect().toSet
      val (ra, ri) = (run("ut_gxa"), run("ut_gxi"))
      spark.catalog.clearCache()
      assert(ra == ri, s"scratch=$ra appended=$ri")
      assert(ra == Set((10L, 1L), (11L, 3L), (2L, 20L)), ra.toString)
    } finally Seq("ranked", "prefixes", "docgrams", "gramdf").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ut_gxa_$t")
      spark.sql(s"DROP TABLE IF EXISTS ut_gxi_$t")
    }
  }

  test("appendToNameIndex: appends answer fuzzy matches like a scratch build") {
    import spark.implicits._
    import graft.ops.DedupOps
    val gen1Names = Seq("kitten", "mitten", "hello", "help", "ab", "xy",
      "abc", "world", "abcdefg")
    val gen2Names = Seq("sitting", "mellow", "cd", "worlds")
    val probeNames = Seq("sitten", "setting", "hallo", "ce", "abd",
      "wprld", "unrelatedzz")
    def write(names: Seq[String], dir: String): Unit =
      names.toDF("p_name").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/names.parquet")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (gen1, gen2, allDir, probeDir) =
      (tmp("nxg1"), tmp("nxg2"), tmp("nxall"), tmp("nxprobe"))
    val (idxA, idxI) = (tmp("nxidxa"), tmp("nxidxi"))
    write(gen1Names, gen1); write(gen2Names, gen2)
    write(gen1Names ++ gen2Names, allDir); write(probeNames, probeDir)
    try {
      DedupOps.writeNameIndex(DedupOps.buildNameIndex(
        spark.read.parquet(s"$allDir/names.parquet")),
        "ut_nxa", idxA, buckets = 4)
      DedupOps.writeNameIndex(DedupOps.buildNameIndex(
        spark.read.parquet(s"$gen1/names.parquet")),
        "ut_nxi", idxI, buckets = 4)
      val appendPlans = capturePlans(atLeast = 4) {
        DedupOps.appendToNameIndex(spark,
          spark.read.parquet(s"$gen2/names.parquet"), "ut_nxi", idxI)
      }
      appendPlans.foreach(p => assert(!p.contains(gen1),
        s"name append re-scanned prior corpus names:\n$p"))
      val probe = spark.read.parquet(s"$probeDir/names.parquet")
      def run(prefix: String) = DedupOps.incrementalFuzzyMatch(
        probe, DedupOps.readNameIndex(spark, prefix))
        .as[(String, String, Long)].collect().toSet
      val (ra, ri) = (run("ut_nxa"), run("ut_nxi"))
      spark.catalog.clearCache()
      assert(ra == ri, s"missing=${(ra -- ri).take(5)} extra=${(ri -- ra).take(5)}")
      // appended names must participate: probe hits on gen-2 entries
      assert(ra.exists(_._2 == "sitting") && ra.exists(_._2 == "worlds"),
        ra.toString)
    } finally Seq("grams", "prefixes", "chars", "tiny", "bigramdf")
      .foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ut_nxa_$t")
        spark.sql(s"DROP TABLE IF EXISTS ut_nxi_$t")
      }
  }

  test("compactBucketedTable collapses appended file sets, content intact") {
    import spark.implicits._
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).length
    val pathA = java.nio.file.Files.createTempDirectory("cbtA").toString
    val pathB = java.nio.file.Files.createTempDirectory("cbtB").toString + "/t"
    try {
      graft.io.Sinks.bucketedTable(
        (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
        "ut_cbt", "k", 4, pathA)
      graft.io.Sinks.appendBucketedTable(
        (41 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
        "ut_cbt", "k", 4, pathA)
      graft.io.Sinks.appendBucketedTable(
        (61 to 80).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
        "ut_cbt", "k", 4, pathA)
      val before = spark.table("ut_cbt").as[(Long, String)].collect().toSet
      assert(before.size == 80 && files(pathA) > 4,
        s"${before.size} rows, ${files(pathA)} files")
      graft.io.Sinks.compactBucketedTable(spark, "ut_cbt", pathA, pathB)
      val after = spark.table("ut_cbt").as[(Long, String)].collect().toSet
      assert(after == before, "compaction changed content")
      assert(files(pathB) <= 4, s"${files(pathB)} files after compaction")
      val plan = spark.table("ut_cbt")
        .queryExecution.executedPlan.toString
      assert(plan.contains(pathB) && !plan.contains(pathA),
        s"table still reads the old path:\n$plan")
      // the bucket layout survives: a self-join on the bucket key
      // plans with NO shuffle exchange
      val j = spark.table("ut_cbt").as("x")
        .join(spark.table("ut_cbt").as("y"), "k")
      val jp = j.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange hashpartitioning"),
        s"bucketed self-join re-shuffled:\n$jp")
    } finally spark.sql("DROP TABLE IF EXISTS ut_cbt")
  }

  test("compaction crash windows: the public table reads correctly at every " +
    "kill point of the staged swap, and the next run recovers") {
    import spark.implicits._
    val pathA = java.nio.file.Files.createTempDirectory("cbxA").toString
    val pathB = java.nio.file.Files.createTempDirectory("cbxB").toString + "/t"
    val pathC = java.nio.file.Files.createTempDirectory("cbxC").toString + "/t"
    try {
      graft.io.Sinks.bucketedTable(
        (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
        "ut_cbx", "k", 4, pathA)
      graft.io.Sinks.appendBucketedTable(
        (41 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
        "ut_cbx", "k", 4, pathA)
      val before = spark.table("ut_cbx").as[(Long, String)].collect().toSet
      def readPublic() = spark.table("ut_cbx").as[(Long, String)]
        .collect().toSet
      // KILL POINT 1: the writer dies after the staging write commits
      // but before the re-point statement runs (replayed here by
      // executing compactBucketedTable's steps up to that line). The
      // public name must still read the OLD files in full.
      spark.sql("DROP TABLE IF EXISTS ut_cbx__compacting")
      graft.io.Sinks.bucketedTable(
        spark.read.parquet(pathA).repartition(4, col("k")),
        "ut_cbx__compacting", "k", 4, pathB)
      assert(readPublic() == before,
        "staged write disturbed the live table")
      // KILL POINT 2: the writer dies between ALTER ... SET LOCATION
      // and the staging DROP. The single ALTER statement is the whole
      // visibility change: the public name now reads the compacted
      // files (never a missing table — the DROP→RENAME this replaced
      // had an unregistered instant here), and the staging name leaks
      // until the next run.
      spark.sql(s"ALTER TABLE ut_cbx SET LOCATION '$pathB'")
      spark.catalog.refreshTable("ut_cbx")
      assert(readPublic() == before,
        "re-pointed table does not serve the compacted rows")
      assert(spark.catalog.tableExists("ut_cbx__compacting"),
        "kill-point-2 replay should leak the staging name")
      // RECOVERY: the next maintenance run's leading DROP IF EXISTS
      // clears the leaked staging registration and converges.
      graft.io.Sinks.compactBucketedTable(spark, "ut_cbx", pathB, pathC)
      assert(readPublic() == before, "recovery run changed content")
      assert(!spark.catalog.tableExists("ut_cbx__compacting"),
        "recovery left the staging name registered")
      val plan = spark.table("ut_cbx").queryExecution.executedPlan.toString
      assert(plan.contains(pathC), s"recovery did not re-point:\n$plan")
    } finally Seq("ut_cbx", "ut_cbx__compacting")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("gram/name index purge: a tombstoned doc stops matching immediately, " +
    "purge cost is the takedown batch, retries are harmless") {
    import spark.implicits._
    import graft.ops.DedupOps
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val excerpt = "beta gamma delta epsilon zeta eta"       // ⊂ long1
    val superDoc = other + " eleven twelve thirteen fourteen" // ⊃ other
    val base = java.nio.file.Files.createTempDirectory("purge").toString
    val (pxG, pxN) = ("ut_pgx", "ut_pnx")
    try {
      // --- GramIndex ---
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(
        Seq(1L -> long1, 2L -> other).toDF("doc_id", "text")),
        pxG, s"$base/g", buckets = 2)
      val batch = Seq(10L -> excerpt, 20L -> superDoc).toDF("doc_id", "text")
      def pairsG = DedupOps.incrementalContainment(batch,
        DedupOps.readGramIndexLive(spark, pxG))
        .select(col("doc_small"), col("doc_large"))
        .as[(Long, Long)].collect().toSet
      assert(pairsG == Set((10L, 1L), (2L, 20L)),
        s"pre-purge pairs wrong: $pairsG")
      val preRanked = spark.table(s"${pxG}_ranked").count()
      DedupOps.purgeGramIndex(spark, Seq(1L).toDF("doc_id"), pxG, s"$base/g")
      // forgotten means forgotten: the excerpt's ONLY superset is gone
      assert(pairsG == Set((2L, 20L)), s"post-purge pairs wrong: $pairsG")
      // cost ∝ takedown batch: per-doc tables untouched (mask, no
      // rewrite), tombstones hold exactly the batch
      assert(spark.table(s"${pxG}_ranked").count() == preRanked,
        "purge rewrote the ranked table")
      assert(spark.table(s"${pxG}_tombstones").count() == 1L)
      // retry: harmless
      DedupOps.purgeGramIndex(spark, Seq(1L).toDF("doc_id"), pxG, s"$base/g")
      assert(pairsG == Set((2L, 20L)), "re-purge changed results")
      // the masked view equals a scratch build on the purged corpus
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(
        Seq(2L -> other).toDF("doc_id", "text")),
        pxG + "s", s"$base/gs", buckets = 2)
      val scratchG = DedupOps.incrementalContainment(batch,
        DedupOps.readGramIndex(spark, pxG + "s"))
        .select(col("doc_small"), col("doc_large"))
        .as[(Long, Long)].collect().toSet
      assert(scratchG == pairsG, "mask diverges from purged-scratch build")
      // --- NameIndex ---
      DedupOps.writeNameIndex(DedupOps.buildNameIndex(
        Seq("alpha", "ninety").toDF("p_name")), pxN, s"$base/n",
        buckets = 2)
      val nb = Seq("alphx").toDF("p_name")
      def pairsN = DedupOps.incrementalFuzzyMatch(nb,
        DedupOps.readNameIndexLive(spark, pxN))
        .select(col("name_new"), col("name_old"))
        .as[(String, String)].collect().toSet
      assert(pairsN == Set(("alphx", "alpha")), s"pre-purge: $pairsN")
      DedupOps.purgeNameIndex(spark, Seq("alpha").toDF("p_name"), pxN,
        s"$base/n")
      assert(pairsN == Set.empty, s"purged entity still matches: $pairsN")
      assert(spark.table(s"${pxN}_tombstones").count() == 1L)
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(t => t.startsWith(pxG) || t.startsWith(pxN))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("gram-index vacuum: tombstoned rows physically drop, tombstones " +
    "retire, post-vacuum appends follow the moved tables") {
    import spark.implicits._
    import graft.ops.DedupOps
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val base = java.nio.file.Files.createTempDirectory("vacg").toString
    val px = "ut_vgx"
    try {
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(
        Seq(1L -> long1, 2L -> other).toDF("doc_id", "text")),
        px, s"$base/idx", buckets = 2)
      DedupOps.purgeGramIndex(spark, Seq(1L).toDF("doc_id"), px,
        s"$base/idx")
      DedupOps.vacuumGramIndex(spark, px, s"$base/vac")
      assert(!spark.catalog.tableExists(s"${px}_tombstones"),
        "vacuum left the folded tombstones behind")
      assert(spark.table(s"${px}_ranked")
        .filter(col("doc_id") === 1L).isEmpty,
        "vacuum left tombstoned rows in the physical table")
      assert(spark.table(s"${px}_docgrams").count() == 1L)
      // appends keep working with the ORIGINAL path: the location is
      // catalog-resolved, so the vacuum's move is invisible to callers
      DedupOps.appendToGramIndex(spark,
        Seq(3L -> ("beta gamma delta " + other)).toDF("doc_id", "text"),
        px, s"$base/idx")
      val pairs = DedupOps.incrementalContainment(
        Seq(10L -> other).toDF("doc_id", "text"),
        DedupOps.readGramIndex(spark, px))
        .select(col("doc_small"), col("doc_large"))
        .as[(Long, Long)].collect().toSet
      // (10,2): the batch doc repeats corpus doc 2 verbatim; (10,3):
      // doc 3 arrived via the post-vacuum append — its presence proves
      // the append landed in the moved table
      assert(pairs == Set((10L, 2L), (10L, 3L)),
        s"post-vacuum append not visible to ingest: $pairs")
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("incremental containment joins the persisted gram index, no corpus rescan") {
    import spark.implicits._
    import graft.ops.DedupOps
    // corpus: one long doc and one unrelated doc; batch: an excerpt of
    // the long doc (small ⊂ large, new side smaller), a long doc that
    // CONTAINS a corpus doc (corpus side smaller), and a novel doc
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val excerpt = "beta gamma delta epsilon zeta eta"   // ⊂ long1
    val superDoc = other + " eleven twelve thirteen fourteen"  // ⊃ other
    val novel = "nothing shared here with anything else at all whatsoever"
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val corpusDir = java.nio.file.Files.createTempDirectory("gixcorpus").toString
    val newDir = java.nio.file.Files.createTempDirectory("gixbatch").toString
    val idxDir = java.nio.file.Files.createTempDirectory("gixtables").toString
    write(Seq(1L -> long1, 2L -> other), corpusDir)
    // batch re-ingests corpus doc 1 verbatim (same id): the doc_id
    // disjointness guard must suppress the containment-1.0 self-pair
    write(Seq(10L -> excerpt, 20L -> superDoc, 30L -> novel,
      1L -> long1), newDir)
    try {
      DedupOps.writeGramIndex(
        DedupOps.buildGramIndex(
          spark.read.parquet(s"$corpusDir/documents.parquet")),
        "ut_gix", idxDir, buckets = 4)
      val out = DedupOps.incrementalContainment(
        spark.read.parquet(s"$newDir/documents.parquet"),
        DedupOps.readGramIndex(spark, "ut_gix"))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains(corpusDir),
        s"containment ingest re-scans corpus text:\n$plan")
      assert(plan.contains(idxDir), s"ingest plan misses the index:\n$plan")
      val got = out.select("doc_small", "doc_large")
        .as[(Long, Long)].collect().toSet
      spark.catalog.clearCache()
      // excerpt(10) inside corpus long1(1); corpus other(2) inside
      // superDoc(20); the novel doc matches nothing; the re-ingested
      // doc 1 emits NO self-pair (doc_id guard)
      assert(got == Set((10L, 1L), (2L, 20L)), got.toString)
    } finally Seq("ranked", "prefixes", "docgrams", "gramdf")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ut_gix_$t"))
  }

  test("incremental fuzzy match joins the persisted name index, complete vs brute force") {
    import spark.implicits._
    import graft.ops.DedupOps
    val corpusNames = Seq("kitten", "mitten", "hello", "help", "ab", "xy",
      "abc", "world", "abcdefg")
    val newNames = Seq("sitting", "kitten", "hallo", "cd", "abd", "helps",
      "abcde", "unrelatedzz")
    def write(names: Seq[String], dir: String): Unit =
      names.toDF("p_name").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/names.parquet")
    val corpusDir = java.nio.file.Files.createTempDirectory("nixcorpus").toString
    val newDir = java.nio.file.Files.createTempDirectory("nixbatch").toString
    val idxDir = java.nio.file.Files.createTempDirectory("nixtables").toString
    write(corpusNames, corpusDir)
    write(newNames, newDir)
    try {
      DedupOps.writeNameIndex(
        DedupOps.buildNameIndex(
          spark.read.parquet(s"$corpusDir/names.parquet")),
        "ut_nix", idxDir, buckets = 4)
      val out = DedupOps.incrementalFuzzyMatch(
        spark.read.parquet(s"$newDir/names.parquet"),
        DedupOps.readNameIndex(spark, "ut_nix"))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains(corpusDir),
        s"fuzzy ingest re-scans corpus names:\n$plan")
      val got = out.as[(String, String, Long)].collect().toSet
      spark.catalog.clearCache()
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val want = (for {
        n <- newNames; o <- corpusNames
        d = lev(n, o) if d <= 2
      } yield (n, o, d.toLong)).toSet
      assert(got == want, s"got $got\nwant $want")
      assert(want.contains(("kitten", "kitten", 0L))) // exact repeat kept
      assert(want.contains(("cd", "ab", 2L)))         // tiny tier
      assert(want.contains(("abcde", "abcdefg", 2L))) // cross-tier (5,7)
    } finally Seq("grams", "prefixes", "chars", "tiny", "bigramdf")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ut_nix_$t"))
  }

  test("q31 label cap drops hot labels, keeps normal near-dup pairs") {
    import spark.implicits._
    // 1100 same-label vectors (identical direction => every pair would
    // pass the cosine gate: |block|²/2 ≈ 600k pairs at scale) + one
    // 2-vector label whose genuine near-dup pair must still surface
    val hot = (0 until 1100).map(i =>
      (i.toLong, 7, Array(1.0f, 0.0f, 0.0f, 1.0f)))
    val smalls = Seq(
      (2000L, 1, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (2001L, 1, Array(0.0f, 1.0f, 0.1f, 1.0f)))
    val dir = java.nio.file.Files.createTempDirectory("q31cap").toString
    (hot ++ smalls).toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = SparkEntry.queries("q31_cosine_neardup")(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(pairs == Set((2000L, 2001L)),
      s"expected only the small-label pair, got ${pairs.take(5)}")
  }

  test("k-means IVF centroids: partitioning-stable, beats the id-slice") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
    val a = EmbeddingOps.kmeansCentroids(e.repartition(7), k = 8, iters = 3)
    val b = EmbeddingOps.kmeansCentroids(e.repartition(3), k = 8, iters = 3)
    assert(a.length == 8 && a.forall(_.length == 64))
    // decimal-sum update => training is BIT-identical under any
    // physical partitioning (a double-sum mean would diverge here)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val assigned = EmbeddingOps.ivfAssignTrained(e, a)
    assert(assigned.count() == e.count())
    val ids = assigned.select("centroid_id").distinct().as[Long].collect()
    assert(ids.forall(i => i >= 0 && i < 8) && ids.length > 1)
    // trained centroids quantize better than an arbitrary id-slice set
    // (the oracle queries keep the slice only for determinism)
    def avgBestCos(cents: Array[Array[Float]]): Double = {
      val nrm = sqrt(functions.VectorFunctions.dot(col("embedding"), col("embedding")))
      val best = cents.map { c =>
        val cn = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
        functions.VectorFunctions.dot(col("embedding"), typedLit(c)) /
          (when(nrm === 0d, 1d).otherwise(nrm) * (if (cn == 0d) 1d else cn))
      }.reduce(greatest(_, _))
      e.select(avg(best)).head.getDouble(0)
    }
    val slice = e.filter(col("vec_id").between(100, 107))
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    assert(slice.length == 8)
    assert(avgBestCos(a) >= avgBestCos(slice) - 1e-9,
      s"trained ${avgBestCos(a)} vs slice ${avgBestCos(slice)}")
  }

  test("q58 decontamination flags injected eval overlap, honors df cap") {
    import spark.implicits._
    // eval doc 7 (7 % 25 = 7); train doc 1 copies an 8-word span of it
    // (6 shared 3-grams >= threshold 5) -> contaminated. Train doc 2
    // shares only 1 gram -> clean. Eval doc 32 contains a 5-gram
    // boilerplate snippet pasted into >1000 train docs: without the df
    // cap every one of them would flag (overlap 5 >= 5); the cap drops
    // the hot grams, so none may appear in the output.
    val evalText = "zeta alpha beta gamma delta epsilon theta iota kappa mu"
    val contam = "zeta alpha beta gamma delta epsilon theta iota other words"
    val lowOverlap = "zeta alpha beta unrelated tokens entirely different here"
    val boiler = "click here to subscribe and like below" // 5 hot grams
    val rows = Seq(
      7L -> evalText,
      32L -> s"intro text $boiler",
      1L -> contam,
      2L -> lowOverlap) ++
      (100L until 1300L).filter(_ % 25 != 7).map(i => i -> s"doc $i $boiler")
    val dir = java.nio.file.Files.createTempDirectory("decontam").toString
    rows.map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q58_decontamination")(spark, dir)
      .as[(Long, Long, Long)].collect().toList
    spark.catalog.clearCache()
    assert(got == List((1L, 1L, 6L)), got.toString)
  }

  test("IVF near-dup: finds a planted pair, caps oversized clusters") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
    val cents = EmbeddingOps.kmeansCentroids(e, k = 8, iters = 2)
    // a planted near-identical pair must surface within its cluster
    val v = e.filter(col("vec_id") === 5).select("embedding")
      .as[Array[Float]].head()
    val planted = Seq((9001L, 0, v), (9002L, 0, v.map(x => x * 0.999f)))
      .toDF("vec_id", "label", "embedding")
    val all = e.select("vec_id", "label", "embedding").unionByName(planted)
    val pairs = EmbeddingOps.ivfNearDup(all, cents, threshold = 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((9001L, 9002L)), s"planted pair missing: $pairs")
    // a cap below every cluster size must yield zero pairs (the guard
    // actually gates), while the default cap yields some
    assert(EmbeddingOps.ivfNearDup(all, cents, 0.95, clusterCap = 1L)
      .count() == 0)
    // candidate generation stays an equi-join
    val p = EmbeddingOps.ivfNearDup(all, cents, 0.95)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("trained IVF search: recall monotone in nprobe, exact at full probe") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = EmbeddingOps.kmeansCentroids(
      Tables.table(spark, sf, "embeddings"), k = 8, iters = 2)
    val queries = e.filter(col("vec_id") < 20)
    // independent brute force: full query×corpus scoring, same
    // (cosine DESC, vec_id ASC) total tie order as the IVF path
    def normed(df: org.apache.spark.sql.DataFrame, idOut: String) = df
      .withColumn("ss",
        functions.VectorFunctions.dot(col("embedding"), col("embedding")))
      .withColumn("nrm",
        when(col("ss") === 0.0, lit(1.0)).otherwise(sqrt(col("ss"))))
      .select(col("vec_id").as(idOut), col("embedding"), col("nrm"))
    val m = normed(e, "vec_id")
    val q = normed(queries, "query_id")
      .withColumnRenamed("embedding", "qv").withColumnRenamed("nrm", "qnrm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val brute = m.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        functions.VectorFunctions.dot(col("qv"), col("embedding")) /
          (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("vec_id").as("neighbor_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.size == 20 * 10)
    def hits(np: Int): Set[(Long, Long, Long)] =
      EmbeddingOps.ivfSearchTrained(e, cents, queries, k = 10, nprobe = np)
        .select("query_id", "rn", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long, Long)]): Double =
      s.map(t => (t._1, t._3))
        .intersect(brute.map(t => (t._1, t._3))).size.toDouble / brute.size
    val r1 = recall(hits(1)); val r3 = recall(hits(3))
    // probe sets are nested, so recall can only grow with nprobe; a
    // brute top-k neighbor inside the candidate set always survives
    // the candidate-set ranking (it beats all but < k rows globally)
    assert(r1 > 0.0, s"recall@nprobe=1 is zero")
    assert(r1 <= r3 + 1e-12, s"recall fell: nprobe=1 $r1 > nprobe=3 $r3")
    // probing every centroid IS brute force — identical ranked rows
    assert(hits(cents.length) == brute,
      s"full-probe IVF diverged from brute force (recall ${recall(hits(cents.length))})")
  }

  test("q37 small-n inputs match ntile(10) semantics exactly") {
    import spark.implicits._
    // ntile(10) over n < 10 rows assigns tiles 1..n one row each: n = 9
    // puts its top row in tile 9 (selected); n <= 8 selects nothing
    def run(n: Int): Seq[(Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"q37n$n").toString
      (1 to n).map(i => (i.toLong, i * 1000.0))
        .toDF("o_orderkey", "o_totalprice")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      SparkEntry.queries("q37_quantile_curation")(spark, dir)
        .select("o_orderkey", "decile").as[(Long, Long)].collect().toSeq.sorted
    }
    assert(run(5) == Seq.empty)
    assert(run(9) == Seq((9L, 9L)))
    assert(run(12) == Seq((11L, 9L), (12L, 10L)))
    assert(run(0) == Seq.empty)
  }

  test("connected components: chains, cycles, and disjoint pairs") {
    import spark.implicits._
    // chain 5-3-8-12 (diameter 3: forces multiple propagation rounds),
    // triangle 20-21-22 with a redundant closing edge, isolated pair
    // 30-31, and a self-loop 40-40 (a doc paired with itself must not
    // corrupt anything)
    val pairs = Seq(
      (5L, 3L), (3L, 8L), (8L, 12L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (31L, 30L),
      (40L, 40L)).toDF("doc_a", "doc_b")
    val got = graft.ops.DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    assert(got == Map(
      5L -> 3L, 3L -> 3L, 8L -> 3L, 12L -> 3L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L,
      40L -> 40L), got.toString)
  }

  test("co-bucketed tables join with zero exchanges (pre-shuffled layout)") {
    val tmp = java.nio.file.Files.createTempDirectory("buck").toString
    val li = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.table(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    graft.io.Sinks.bucketedTable(li, "li_b", "l_orderkey", 8, s"$tmp/li")
    graft.io.Sinks.bucketedTable(ord, "ord_b", "l_orderkey", 8, s"$tmp/ord")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(j.count() > 0)
      // negative control: the same join over plain parquet MUST shuffle,
      // so a plan-format change can't silently blind this audit
      val ctrl = li.join(ord, "l_orderkey")
        .queryExecution.executedPlan.toString
      assert(ctrl.contains("Exchange"), ctrl)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  // ---- physical-plan audits (scale hygiene) -------------------------

  test("q02 pushes its filters into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThan(l_quantity"), p)
  }

  test("q03 star joins broadcast the dimension chain") {
    val p = plan("q03_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q01_agg_pushdown")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q04 anti join stays a broadcast/hash join, not a nested loop") {
    val p = plan("q04_resume_anti_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q27 LSH candidates come from an equi-join (no cartesian product)") {
    val p = plan("q27_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q29 simhash candidates come from an equi-join (no cartesian product)") {
    val p = plan("q29_simhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q37 runs no global (partition-less) window") {
    // the curation scan classifies against collected boundary literals;
    // a Window node in the FINAL plan would mean the single-partition
    // global sort is back
    val p = plan("q37_quantile_curation")
    assert(!p.contains("Window"), p)
  }

  test("q32 centroid broadcast is constant-size (independent of corpus)") {
    val df = SparkEntry.queries("q32_ivf_assign")(spark, sf)
    import spark.implicits._
    val nCentroids = df.select(col("centroid_id")).distinct().as[Long]
      .collect().length
    assert(nCentroids <= 32, s"$nCentroids centroids")
  }

  test("q48 RP-LSH candidates come from an equi-join (no cartesian product)") {
    val p = plan("q48_rplsh_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q20 range join keys on user_id (hash join + residual filter)") {
    val p = plan("q20_range_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("plan sweep: no query plans a cartesian/nested-loop join or a " +
    "partition-less window (bounded-broadcast scorers excepted)") {
    // q30/q32/q33/q54 deliberately cross every corpus row (or the
    // 20-query set) with a CONSTANT-bounded broadcast side (20 query
    // vectors / 32 centroids): the correct linear-scan plan for
    // brute-force scoring, which Spark physically renders as
    // BroadcastNestedLoopJoin. Everything else must stay equi-join /
    // pushed-down.
    // q76's only nested-loop is the 1-row broadcast of the global doc
    // count (the scalar-subquery shape) — constant payload at any scale;
    // q78's are the same shape (1-row ΣW and T totals of the per-domain
    // count aggregate)
    // q89 fuses the q30 and q73 rankers, so it carries the same bounded
    // 20-query broadcast scoring pass; q98's nested loops broadcast the
    // k=8 centroid table per Lloyd iteration; q100's is the 1-row
    // survivor-count scalar (the q76/q78 shape)
    val crossOk = Set("q30_cosine_topk", "q32_ivf_assign", "q33_ivf_search",
      "q54_ivf_nprobe2", "q73_int8_quant", "q76_tfidf_topterms",
      "q78_domain_mix", "q81_cluster_reps", "q89_rrf_fusion",
      "q98_kmeans_train", "q100_pipeline_v2", "q105_rolling_distinct",
      "q106_collocations", // 1-row token-total scalar, the q76 shape
      "q107_containment_join", // 1-row min-prefix-size scalar broadcast
      "q116_pagerank", // 1-row node-count scalar broadcast
      "q124_bm25_topk", // 1-row corpus-stats scalar broadcast
      "q135_chi_square", // 1-row total/rank-count scalar broadcasts
      "q136_benford", // 1-row grand-total scalar broadcast
      "q137_pq_codes", // constant-k sub-codebook broadcasts (q98 family)
      "q138_pq_adc_search", // bounded codebook + 320-row LUT broadcasts
      "q143_kmv_wau", // 1-row max-day scalar broadcast (q105 shape)
      "q144_skew_report", // 1-row key-stats scalar broadcast
      "q145_join_forecast", // two 1-row summaries cross-joined
      "q150_ivfpq_search", // 8-row coarse-centroid + 4-row codebook
                           // broadcasts (q98/q137 family); the cell
                           // prune itself is an equi-join (spec'd)
      "q152_quantile_sketch", // 1-row sample-count scalar (q76 shape)
      "q205_vector_index", // q150's stored twin: 8-row coarse + 16-row
                           // codebook broadcasts read from the index
                           // tables; the cell prune is an equi-join
      "q210_vector_vacuum", // q205's serving plan over the vacuumed
                            // codes table — identical broadcast shapes
      "q160_hamming_search", // 20-query packed-code broadcast (q30 shape)
      "q162_staged_retrieval", // same bounded broadcast in its
                               // Hamming prefilter stage
      "q173_curriculum_schedule", // 10-row decile triangle join for the
                                  // cumulative budget (aggregate-sized)
      "q174_cluster_agreement", // two 1-row metric-total scalars
      "q177_blocking_audit", // 1-row corpus-count scalar broadcast
      "q178_simhash_sweep", // ≤7-row per-Hamming count table × 7 t's
      "q181_power_iteration", // 1-row ∞-norm / Rayleigh scalars per
                              // iteration (8-row vector payloads)
      "q186_matryoshka_recall", // bounded 20-query broadcast scan
                                // (q30 shape, both cosines in one pass)
      "q182_prf_expansion", // inherits q124's 1-row corpus-stats
                            // scalar broadcast in its retrieval stage
      "q187_maxsim_retrieval", // bounded 20-query × 4-slice broadcast
                               // scan (q30 shape, constant 16× factor)
      "q190_dataset_card", // 1-row stats × 1-row top-lang scalars
      "q191_mrr_eval", // bounded 20-query broadcast scan (q186 shape)
      "q192_spearman_eval", // same bounded broadcast scan (q186 shape)
      "q193_lift_rules", // 1-row basket-count scalar broadcast
      "q195_lsh_recall_audit", // 1-row truth/found totals broadcast
      "q209_band_sweep", // 1-row truth-total broadcast onto the 5-row
                         // B domain; the candidate join is an equi-join
                               // (inherits q107-family scalar shapes)
      "q199_conversion_sweep", // 1-row error-count scalar broadcast
      "q203_source_league", // 1-row corpus-mean scalar broadcast
      "q212_semdedup", // q98's k=8 centroid broadcasts (train + final
                       // assignment); the within-cluster pair scan is
                       // an equi-join on cid
      "q82_label_centroid", // 1-row min/max vec_id range broadcast of
                            // the r12 two-level orderedVecSum fold
                            // (the q76 scalar shape)
      "q83_centroid_outliers", // inherits q82's fold — same 1-row
                               // range-broadcast shape
      "q214_lm_surprise", // 1-row vocab-size scalar broadcast (V in
                          // the add-one smoothing denominator)
      "q218_staged_serve_recall", // q205 serving shapes + the audit's
                                  // bounded broadcasts: 20-query truth
                                  // scan (q30 shape), 3-row shortlist
                                  // domain, 20-row query-id domain
      "q219_stream_index_ingest", // q205's serving plan over the
                                  // stream-built codes table —
                                  // identical broadcast shapes
      "q220_semdedup_miss_audit", // q212's broadcast-k centroid
                                  // trainings ×3 swept k's + a 3-row
                                  // k domain; pair scans and the
                                  // truth join are equi-joins
      "q221_compacted_serve", // q205's serving plan over the
                              // compacted codes table —
                              // identical broadcast shapes
      "q231_cell_balance", // 1-row total scalar broadcast onto the
                           // 8-row cell domain (q76 shape)
      "q235_idle_customers", // 1-row positive-average scalar
                             // broadcast (q76 shape)
      "q232_live_masked_serve", // q205's serving plan with the
                                // broadcast tombstone anti-join —
                                // same bounded broadcast shapes
      "q240_reranked_serve", // q218's serving composition alone —
                             // the same q205 broadcast shapes plus
                             // the bounded rerank hash join
      "q241_retrained_serve", // q205's serving plan over the
                              // retrained generation's tables —
                              // identical broadcast shapes
      "q248_retrain_payoff", // two broadcast-k centroid trainings +
                             // two broadcast-k argmax assignment
                             // passes (q98/q212 family) + the 1-row
                             // total scalar onto the 8-row cell
                             // domain (q231 shape)
      "q217_dsir_importance", // two 1-row feature-total scalar
                              // broadcasts (N_target, N_source)
      "q256_multiprobe_audit", // q212's broadcast-k centroid training +
                               // the top-2 probe assignment (same q98
                               // shape); pair scans and the audit's
                               // truth joins are equi-joins
      "q260_retrain_policy", // q248's two broadcast-k trainings + two
                             // 1-row health summaries cross-joined
                             // (the q145 shape) into the decision row
      "q266_margin_mining", // the q30-shape bounded 20-query broadcast
                            // scan; the margin joins are equi-joins on
                            // the side keys
      "q275_pr_curve", // 9-threshold × 10-bucket triangle join (the
                       // q173 decile-triangle shape — both sides
                       // aggregate-bounded) + the 1-row totals scalar
      "q279_hubness_audit", // bounded 64-query broadcast scan (q30
                            // shape; the sample is constant-sized at
                            // any corpus scale)
      "q280_retrain_drift", // two broadcast-k centroid trainings + two
                            // broadcast-k argmax assignment passes
                            // (q248's shape) + the 1-row metric-total
                            // scalars (q174 shape)
      "q281_knn_reciprocity", // the same bounded 64-query broadcast
                              // scan as q279 + 1-row count scalars;
                              // the reverse-edge join is an equi-join
                              // on the ≤320-row edge set
      "q289_multiprobe_serve", // q212's broadcast-k centroid training
                               // + the top-2 probe assignment (q256's
                               // shape) over the masked live view
      "q291_mixing_weights", // two 1-row scalar broadcasts (corpus
                             // total, weight normalizer) onto the
                             // ≤|domains| frame — the q145 shape
      "q295_streaming_mixture", // q291's readout over the persisted
                                // rollup: same two 1-row scalars onto
                                // the domain-bounded fold
      "q296_pinned_generation_serve", // two q205-family serves (one
                                      // per generation): broadcast
                                      // coarse/codebook scorers only
      "q297_generation_gc", // q205's serving plan after the pin/GC
                            // cycle — identical broadcast shapes
      "q204_split_leakage") // 1-row pair-total scalar broadcast
    def globalWindow(p: String): Boolean = p.linesIterator.exists(l =>
      l.trim.stripPrefix("+- ").stripPrefix(":- ").startsWith("Window [") &&
        "\\], \\[".r.findAllIn(l).size == 1)
    // negative control: the detector must fire on a real global window,
    // so a Spark plan-format change can't silently disable this audit
    locally {
      import org.apache.spark.sql.expressions.{Window => W}
      val ctrl = Tables.table(spark, sf, "orders")
        .withColumn("nt", ntile(10).over(W.orderBy(col("o_totalprice"))))
        .queryExecution.executedPlan.toString
      assert(globalWindow(ctrl), s"global-window detector is blind:\n$ctrl")
    }
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name)
      val flags = Seq(
        "CartesianProduct" -> p.contains("CartesianProduct"),
        "BroadcastNestedLoopJoin" -> (p.contains("BroadcastNestedLoopJoin")
          && !crossOk(name)),
        // global window prints `Window [exprs], [order]` (one `], [`
        // separator); a partitioned one prints three bracket groups
        // (negative control above pins the format)
        "partition-less Window" -> globalWindow(p)
      ).collect { case (f, true) => f }
      if (flags.isEmpty) Nil else Seq(s"$name: ${flags.mkString(",")}")
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("plan-regression guards: the flagship queries keep their designed shapes") {
    // The most expensive queries carry deliberate physical designs
    // (prefix-filtered equi-joins, checkpoint-truncated CC rounds,
    // broadcast scalar prunes). The bench only surfaces a regression as
    // noise; this guard pins the SHAPE: zero cartesians, at most the one
    // documented 1-row-scalar nested loop (q107's min-prefix-size
    // broadcast), a bounded exchange count (measured at sf0.001 + ~25%
    // headroom), and at least one real equi-join operator.
    final case class Shape(exchanges: Int, smj: Int, bhj: Int,
        cart: Int, bnlj: Int)
    def shape(p: String) = Shape(
      "Exchange ".r.findAllIn(p).size,
      "SortMergeJoin".r.findAllIn(p).size,
      "BroadcastHashJoin".r.findAllIn(p).size,
      "CartesianProduct".r.findAllIn(p).size,
      "BroadcastNestedLoopJoin".r.findAllIn(p).size)
    // negative control: the detector must flag a genuinely bad plan, so
    // a Spark plan-format change can't silently blind this guard
    locally {
      val a = Tables.table(spark, sf, "nation")
      val bad = shape(a.crossJoin(a.select(col("n_name").as("x")))
        .queryExecution.executedPlan.toString)
      assert(bad.cart + bad.bnlj > 0, s"cartesian detector is blind: $bad")
    }
    val budgets = Map(
      // q51's count is low only because localCheckpoint truncates the
      // visible lineage to the last CC round — the guard still catches
      // a lost checkpoint (lineage blow-up => exchange count explodes)
      "q50_ngram_jaccard" -> (32, 0),
      "q51_dedup_clusters" -> (8, 0),
      "q55_incremental_dedup" -> (48, 0),
      "q94_triangle_count" -> (8, 0),
      "q107_containment_join" -> (56, 1),
      // round-5 heavies: the inverted-index cosine join and the
      // six-table rollup must keep their equi-join shapes too
      "q117_cosine_tf_join" -> (26, 0),
      "q129_revenue_rollup" -> (9, 0))
    val bad = budgets.toSeq.sortBy(_._1).flatMap { case (name, (maxEx, maxBnlj)) =>
      val s = shape(plan(name))
      spark.catalog.clearCache()
      val flags = Seq(
        s"cartesian(${s.cart})" -> (s.cart > 0),
        s"bnlj(${s.bnlj}>$maxBnlj)" -> (s.bnlj > maxBnlj),
        s"exchanges(${s.exchanges}>$maxEx)" -> (s.exchanges > maxEx),
        "no-equi-join" -> (s.smj + s.bhj == 0)
      ).collect { case (f, true) => f }
      if (flags.isEmpty) Nil else Seq(s"$name: ${flags.mkString(",")}")
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("q133 applies the tokenizer without a forced vocabulary broadcast") {
    // The distinct-word vocabulary is corpus-derived and unbounded (a
    // 100 TB web corpus has 1e8+ noise tokens): a broadcast() HINT on
    // the apply join is a forced driver/executor OOM at scale. The
    // right shape is a plain equi-join AQE promotes to broadcast only
    // when the measured build side is small — i.e. the analyzed plan
    // must carry NO ResolvedHint.
    val analyzed = SparkEntry.queries("q133_bpe_tokens")(spark, sf)
      .queryExecution.analyzed.toString
    spark.catalog.clearCache()
    assert(!analyzed.contains("ResolvedHint"),
      s"q133 still forces a vocabulary broadcast:\n$analyzed")
    // negative control: the detector must see a hint when one exists
    val n = Tables.table(spark, sf, "nation")
    val ctrl = n.join(broadcast(n.select(col("n_nationkey").as("k"))),
      col("n_nationkey") === col("k")).queryExecution.analyzed.toString
    assert(ctrl.contains("ResolvedHint"), s"hint detector is blind:\n$ctrl")
  }

  test("plan-regression guards: cached-loop (q133) and PQ search (q138) shapes") {
    // These plans print nested InMemoryRelation lineage, so TEXTUAL
    // operator counts explode combinatorially (4000+ "Exchange" tokens
    // for 6 real operators at 10 BPE rounds). plan_ids are stable per
    // operator across reprints, so counting DISTINCT plan_ids of
    // Exchange/BroadcastExchange lines measures the true number of
    // shuffle/broadcast operators in the whole lineage:
    //  - q133: per-round BPE plans run over the PREVIOUS round's cache,
    //    so the distinct-exchange count stays flat in rounds (~6). A
    //    lost persist() inlines all 10 rounds into one QueryExecution
    //    and the count jumps past 20 — this budget is the cache-loss
    //    detector for the train loop (q132 shares bpeTrain, so the
    //    same guard covers its trajectory; its own result is a
    //    driver-side LocalRelation with no plan to audit).
    //  - q138: codebook + LUT broadcasts are constant-size by design;
    //    the budget catches a corpus-sized table slipping into the
    //    broadcast set or the scan multiplying.
    // Budgets are measured values + headroom; cartesians stay zero.
    def distinctExchanges(p: String): Int =
      p.linesIterator.filter(l => l.contains("Exchange"))
        .flatMap("plan_id=([0-9]+)".r.findFirstMatchIn(_).map(_.group(1)))
        .toSet.size
    val budgets = Map(
      "q133_bpe_tokens" -> 12,
      // 48 → 60: the r12 two-level orderedVecSum fold adds one small
      // exchange (≤ k·1024 bucket-partial rows) per Lloyd iteration —
      // q138's trajectory trains 4 PQ sub-codebooks (one iteration
      // each) + reuses q137's coding; the added exchanges carry
      // bounded partials, the trade that removes the O(cluster)
      // aggregation buffer (guide §5)
      "q138_pq_adc_search" -> 60,
      // round-6 heavies: the IVF-PQ composition (coarse train + 4 PQ
      // trainings + probe/ADC joins), the span scrub, and the
      // bucket-blocked interval join — measured at sf0.001 + headroom
      "q150_ivfpq_search" -> 70,
      "q153_span_scrub" -> 12,
      "q156_session_overlap" -> 6,
      // round-6 batch heavies — measured at sf0.001 + ~30% headroom.
      // q183's visible count is 1 because localCheckpoint truncates
      // lineage to the last peel round (the q51 note); a lost
      // checkpoint shows up as an exchange blow-up here.
      "q167_hll_registers" -> 13,
      "q172_minhash_error" -> 40, // 31 in-suite (persist-state dependent)
      "q180_compress_proxy" -> 5,
      "q183_kcore" -> 4,
      "q187_maxsim_retrieval" -> 6)
    val bad = budgets.toSeq.sortBy(_._1).flatMap { case (name, maxEx) =>
      val p = plan(name)
      spark.catalog.clearCache()
      val ex = distinctExchanges(p)
      val flags = Seq(
        s"exchanges($ex>$maxEx)" -> (ex > maxEx),
        "cartesian" -> p.contains("CartesianProduct"))
        .collect { case (f, true) => f }
      if (flags.isEmpty) Nil else Seq(s"$name: ${flags.mkString(",")}")
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("orderedVecSum: two-level fold is bit-identical to the single-" +
    "group chain and no aggregate buffer holds a whole group's vectors") {
    import org.apache.spark.sql.functions._
    import graft.ops.EmbeddingOps
    val e = Tables.table(spark, sf, "embeddings")
    // reference: the pre-r12 single-group fold (the O(cluster)-buffer
    // shape this recipe replaced) — one ordered IEEE chain per label
    val ref = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
          .as("vs"))
      .withColumn("sumv", expr(
        """aggregate(vs, transform(vs[0].embedding, x -> 0e0),
           (acc, v) -> zip_with(acc, v.embedding,
             (a, x) -> a + CAST(x AS DOUBLE)))"""))
      .select(col("label"), col("n"), col("sumv"))
    val got = EmbeddingOps.orderedVecSum(e, e, Seq("label"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Double](2).toList)).sortBy(_._1).toList
    val (rr, gg) = (rows(ref), rows(got))
    // bit-identical: exact Double equality, not a tolerance — the
    // split identity must reproduce the single chain's every bit
    assert(rr == gg, s"two-level fold diverged from the single chain:" +
      s" ref=${rr.take(1)} got=${gg.take(1)}")
    // boundedness (the guide-§5 assertion the r11 verdict asked for):
    // no Aggregate whose buffer collects raw (vec_id, embedding)
    // structs may be keyed by fewer than 2 columns — a single-key
    // collect_list of member vectors is exactly the O(cluster) buffer
    // this fold exists to eliminate (level 1 keys by (label, _bkt);
    // level 2 collects only the ≤1024 bucket partials)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val offenders = got.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists {
          case c: CollectList =>
            c.child.dataType.catalogString.contains("embedding")
          case _ => false
        }) && a.groupingExpressions.size < 2 => a
    }
    assert(offenders.isEmpty,
      s"single-key collect_list of member embeddings survives:\n" +
        offenders.mkString("\n"))
    spark.catalog.clearCache()
  }

  test("q150 IVF-PQ: cell-pruned equi-join, recall monotone in nprobe, " +
    "flat-ADC-exact at full probe") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    // (1) plan: the probed-cell restriction must be an equi-join (the
    // whole point — only matching inverted lists are scanned), with no
    // cartesian anywhere
    val q150 = SparkEntry.queries("q150_ivfpq_search")(spark, sf)
    val p = q150.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    assert("cell#[0-9]+L".r.findFirstIn(p).isDefined,
      s"no cell-keyed operator in the plan:\n$p")
    def ranked(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "vec_id")
      .as[(Long, Long, Long)].collect().toSet
    val flat = ranked(SparkEntry.queries("q138_pq_adc_search")(spark, sf))
    // (2) recall vs the flat-ADC top-10 grows with nprobe (nested
    // probe sets), and probing every cell IS flat ADC — identical rows
    def pairs(s: Set[(Long, Long, Long)]) = s.map(t => (t._1, t._3))
    def recall(np: Int): (Double, Set[(Long, Long, Long)]) = {
      val r = ranked(EmbeddingOps.ivfPqSearch(spark, sf, np))
      (pairs(r).intersect(pairs(flat)).size.toDouble / flat.size, r)
    }
    val (r1, _) = recall(1)
    val (r2, _) = recall(2)
    val (r8, full) = recall(8)
    spark.catalog.clearCache()
    assert(r1 > 0.0, "recall@nprobe=1 is zero")
    assert(r1 <= r2 + 1e-12 && r2 <= r8 + 1e-12,
      s"recall not monotone: $r1, $r2, $r8")
    assert(full == flat,
      s"full-probe IVF-PQ diverged from flat ADC (recall $r8)")
  }

  test("q205 vector index: append == rebuild, search reads only stored " +
    "tables, serving equals the inline q150 trajectory") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val first = e.filter(col("vec_id") % 2 === 0)
    val second = e.filter(col("vec_id") % 2 =!= 0)
    def tmp() = java.nio.file.Files.createTempDirectory("vidx_spec")
      .toString
    def pfx(path: String) =
      "vs" + path.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    // (1) append == rebuild-from-scratch against the same frozen
    // codebooks: build(train=first, corpus=first) + append(second)
    // must equal build(train=first, corpus=all) table-for-table
    val (pA, pB) = (tmp(), tmp())
    val (pxA, pxB) = (pfx(pA), pfx(pB))
    VectorIndexOps.buildVectorIndex(spark, first, first, pxA, pA)
    VectorIndexOps.appendToVectorIndex(spark, second, pxA, pA)
    VectorIndexOps.buildVectorIndex(spark, first, e, pxB, pB)
    def codesOf(px: String) = VectorIndexOps.readVectorIndex(spark, px)
      .codes.as[(Long, Long, Long, Long)].collect().toSet
    assert(codesOf(pxA) == codesOf(pxB),
      "appended codes diverge from a from-scratch rebuild")
    // appended index serves identically to the rebuilt one
    val q = e.filter(col("vec_id") < 20)
    def served(px: String) = VectorIndexOps.searchVectorIndex(
      q, VectorIndexOps.readVectorIndex(spark, px), 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(served(pxA) == served(pxB))
    // (2) plan audit: the search plan reads the stored index tables
    // and touches embeddings ONLY through the vec_id<20 query-side
    // scan — no corpus-float scan, no k-means/codebook training stage
    val search = VectorIndexOps.searchVectorIndex(
      q, VectorIndexOps.readVectorIndex(spark, pxB), 2)
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains(pB) || plan.contains(s"${pxB}_codes"),
      s"search plan does not read the stored index:\n$plan")
    val embScans = plan.linesIterator
      .filter(_.contains("embeddings.parquet")).toSeq
    assert(embScans.nonEmpty)
    // every embeddings scan line is part of a FileScan whose pushed
    // filters restrict vec_id (the query side); training would need an
    // UNfiltered corpus scan
    val pushed = "PushedFilters: \\[[^\\]]*vec_id[^\\]]*\\]".r
    assert(pushed.findAllIn(plan).size ==
      plan.linesIterator.count(_.contains("PushedFilters")) ||
      plan.contains("LessThan(vec_id,20)"),
      s"corpus-float scan leaked into the serving plan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // (3) the gated query: persisted-index serving == inline q150
    val q205 = SparkEntry.queries("q205_vector_index")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    val q150 = SparkEntry.queries("q150_ivfpq_search")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    spark.catalog.clearCache()
    assert(q205 == q150, "stored-index serving diverged from q150")
  }

  test("q210 vector delete/vacuum: live view == vacuumed table == " +
    "survivor rebuild; crash-safe swap leaves the old registration") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def tmp() = java.nio.file.Files.createTempDirectory("vvac_spec")
      .toString
    def pfx(path: String) =
      "vv" + path.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    val (pA, pB) = (tmp(), tmp())
    val (pxA, pxB) = (pfx(pA), pfx(pB))
    val dead = e.filter(col("vec_id") % 5 === 1).select(col("vec_id"))
    // index A: full build, tombstone every fifth vector
    VectorIndexOps.buildVectorIndex(spark, e, e, pxA, pA)
    VectorIndexOps.deleteFromVectorIndex(spark, dead, pxA, pA)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val liveBefore = codeSet(
      VectorIndexOps.readVectorIndexLive(spark, pxA).codes)
    // tombstoned rows are masked, survivors intact
    assert(liveBefore.forall(_._1 % 5 != 1), "tombstoned row served")
    val raw = codeSet(VectorIndexOps.readVectorIndex(spark, pxA).codes)
    assert(raw.exists(_._1 % 5 == 1),
      "delete rewrote the codes table before vacuum")
    // the live search masks deletions BEFORE any vacuum
    val q = e.filter(col("vec_id") < 20)
    val servedLive = VectorIndexOps.searchVectorIndex(
      q, VectorIndexOps.readVectorIndexLive(spark, pxA), 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(servedLive.forall(_._3 % 5 != 1))
    // vacuum: physical rewrite equals the live view row-for-row, the
    // tombstone table is gone, and serving is unchanged
    VectorIndexOps.vacuumVectorIndex(spark, pxA, s"$pA/codes_v")
    assert(codeSet(VectorIndexOps.readVectorIndex(spark, pxA).codes)
      == liveBefore, "vacuum diverged from the tombstone-masked view")
    assert(!spark.catalog.tableExists(s"${pxA}_tombstones"))
    val servedAfter = VectorIndexOps.searchVectorIndex(
      q, VectorIndexOps.readVectorIndex(spark, pxA), 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(servedAfter == servedLive,
      "vacuum changed what the index serves")
    // with no tombstone table, live == raw (the mask is a no-op)
    assert(codeSet(VectorIndexOps.readVectorIndexLive(spark, pxA).codes)
      == liveBefore)
    // index B: from-scratch build coding only survivors against the
    // SAME training set — must equal the vacuumed table (codebooks are
    // trained on the full corpus in both, coding is deterministic)
    val survivors = e.join(broadcast(dead), Seq("vec_id"), "left_anti")
    VectorIndexOps.buildVectorIndex(spark, e, survivors, pxB, pB)
    assert(codeSet(VectorIndexOps.readVectorIndex(spark, pxB).codes)
      == liveBefore, "vacuum diverged from a survivor rebuild")
    spark.catalog.clearCache()
  }

  test("q218 staged serving: recall monotone in shortlist size, corpus " +
    "floats enter through one bounded hash join, guard reuses the index") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    // (1) the gated audit: 3 arms × 20 queries, every recall holds the
    // self-hit floor, and recall is non-decreasing in shortlist size
    val rows = SparkEntry.queries("q218_staged_serve_recall")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 60, s"${rows.length} rows")
    assert(rows.forall(_._4 >= 0.1),
      "a query lost its own self-hit from the reranked top-10")
    rows.groupBy(_._2).foreach { case (q, xs) =>
      val byS = xs.sortBy(_._1).map(_._3)
      assert(byS.zip(byS.tail).forall { case (a, b) => a <= b },
        s"recall not monotone in shortlist size for query $q: " +
          xs.sortBy(_._1).mkString(", "))
    }
    // (2) plan audit of the serving function alone: the ONLY
    // unfiltered embeddings scan is the rerank side of a broadcast
    // HASH join against the shortlist — never a full-corpus scoring
    // pass (the cost inversion the composition exists for)
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val p = java.nio.file.Files.createTempDirectory("rrk_spec").toString
    val px = "rr" + p.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    try {
      VectorIndexOps.buildVectorIndex(spark, e, e, px, p)
      val serve = VectorIndexOps.rerankVectorIndex(
        e.filter(col("vec_id") < 20), e,
        VectorIndexOps.readVectorIndex(spark, px), 2, 50)
      val plan = serve.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("BroadcastHashJoin"), plan)
      val scans = plan.linesIterator
        .filter(_.contains("embeddings.parquet")).toSeq
      val unfiltered = scans.filterNot(_.contains("LessThan(vec_id,20)"))
      assert(unfiltered.size == 1,
        s"expected exactly one corpus-float scan (the bounded rerank " +
          s"join), found ${unfiltered.size}:\n${unfiltered.mkString("\n")}")
      // exact rerank really reorders: adc_rank and rank must disagree
      // somewhere, and cosines must be non-increasing per query
      val served = serve
        .as[(Long, Long, Long, Double, Long)].collect()
      assert(served.exists(r => r._2 != r._5),
        "rerank never disagreed with ADC order — audit is vacuous")
      served.groupBy(_._1).foreach { case (_, xs) =>
        val cs = xs.sortBy(_._2).map(_._4)
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      }
    } finally Seq("coarse", "codebooks", "codes").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${px}_$t"))
    // (3) the build-once guard: a second gated invocation serves from
    // the SAME on-disk index (file set untouched), so warm runs time
    // the serve path alone
    val codesTable = spark.catalog.listTables()
      .filter(t => t.name.startsWith("vidx218_") &&
        t.name.endsWith("_codes"))
      .collect().map(_.name)
    assert(codesTable.length == 1, codesTable.mkString(", "))
    def fileSet() = {
      val loc = spark.sql(s"DESC FORMATTED ${codesTable.head}")
        .filter(col("col_name") === "Location")
        .collect()(0).getString(1).stripPrefix("file:")
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new java.io.File(loc)).toSet
    }
    val before = fileSet()
    val again = SparkEntry.queries("q218_staged_serve_recall")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(fileSet() == before,
      "warm invocation rebuilt the index instead of serving from it")
    assert(again.toSet == rows.toSet)
    spark.catalog.clearCache()
  }

  test("q246 pipeline v4: explode and scorers pipelined with no shuffle " +
    "between map stages — exactly two exchanges (dedup key, pack video)") {
    val p = plan("q246_pipeline_v4")
    assert(p.contains("Generate"), s"no explode generator in plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the whole pipeline pays exactly two hash exchanges: the canonical-
    // dedup window and the per-video pack window; scene-cut, frame
    // sampling, scoring, and both gates are row-local projections that
    // pipeline inside the scan+generate stage
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"$exchanges hash exchanges (want 2):\n$p")
    // the map stages really fused: the plan prints root-first, so the
    // Generate (and everything below it — scoring projections, integer
    // gates, the scan) must sit BELOW the last exchange, i.e. after it
    // in the rendering — no shuffle between the explode and the scorers
    assert(p.lastIndexOf("Exchange hashpartitioning")
        < p.indexOf("Generate"),
      "a shuffle crept between the explode and the scorers:\n" + p)
    val rows = SparkEntry.queries("q246_pipeline_v4")(spark, sf).count()
    assert(rows > 0, "pipeline v4 emitted nothing")
  }

  test("q243/q244/q245 decorrelation shapes: filters pushed to the scans, " +
    "dims broadcast, winners selected on exact compares, no products") {
    val p243 = plan("q243_top_supplier")
    // the ship-date window reaches the lineitem scan
    assert(p243.contains("GreaterThanOrEqual(l_shipdate") &&
      p243.contains("LessThan(l_shipdate"), p243)
    // the view-max winner join is a broadcast HASH join on the exact
    // integer revenue — never a nested loop over the view
    assert(p243.contains("BroadcastHashJoin"), p243)
    val p244 = plan("q244_min_cost_supplier")
    // part filters push to the part scan; the fact scan is semi-pruned
    assert(p244.contains("EqualTo(p_size,5)") &&
      p244.contains("EqualTo(p_type,STANDARD)"), p244)
    assert(p244.contains("BroadcastHashJoin"), p244)
    val p245 = plan("q245_dominant_suppliers")
    assert(p245.contains("GreaterThanOrEqual(l_shipdate"), p245)
    // the correlated-agg decorrelation is an equi join of the two
    // grouped sums on partkey
    assert(p245.contains("SortMergeJoin") ||
      p245.contains("ShuffledHashJoin") ||
      p245.contains("BroadcastHashJoin"), p245)
    Seq(p243, p244, p245).foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
    // non-empty at the driver's sf (all three return rows at sf0.01+;
    // q245's nation slice is data-thin at sf0.001 by construction)
    assert(SparkEntry.queries("q243_top_supplier")(spark, sf).count() > 0)
    assert(SparkEntry.queries("q244_min_cost_supplier")(spark, sf)
      .count() > 0)
    assert(SparkEntry.queries("q245_dominant_suppliers")(
      spark, "/root/testdata/sf0.01").count() > 0)
    // the round-9 additions to the set: Q18/Q16/Q14/Q12 shapes
    val p250 = plan("q250_supplier_variety")
    assert(p250.contains("In(p_size, [1,3,5,7])"), p250)
    val p251 = plan("q251_promo_share")
    assert(p251.contains("GreaterThanOrEqual(l_shipdate") &&
      p251.contains("BroadcastHashJoin"), p251)
    val p252 = plan("q252_priority_split")
    assert(p252.contains("GreaterThanOrEqual(l_shipdate"), p252)
    Seq(plan("q249_large_orders"), p250, p251, p252).foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("retrain lifecycle: crash before the pointer flip leaves gen 0 " +
    "serving; the flip restores scratch-build balance; appends follow " +
    "the new generation") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("vrt_spec").toString
    val px = "ut_vrt" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val pxScr = px + "scr"
    val queries = e.filter(col("vec_id") < 20)
    def serve(prefix: String) = VectorIndexOps.searchVectorIndex(queries,
      VectorIndexOps.readVectorIndex(spark, prefix), 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    // per-cell populations → max load factor (cell count ÷ mean)
    def maxLoad(prefix: String): Double = {
      val counts = VectorIndexOps.readVectorIndex(spark, prefix).codes
        .filter(col("sub") === 0)
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().map(_._2.toDouble)
      counts.max * counts.length / counts.sum
    }
    try {
      // generation 0 trained on an ADVERSARIALLY small slice (the 16
      // hash-rank-first vectors): the full corpus coded against those
      // centroids lands unbalanced — the drift q231 measures
      val g0 = e.orderBy(md5(concat_ws(":", lit("ivf"), col("vec_id"))
        .cast("binary")), col("vec_id")).limit(16)
      VectorIndexOps.buildVectorIndex(spark, g0, g0, px, s"$base/idx")
      VectorIndexOps.appendToVectorIndex(spark,
        e.join(g0.select(col("vec_id")), Seq("vec_id"), "left_anti"),
        px, s"$base/idx")
      val served0 = serve(px)
      val loadBefore = maxLoad(px)
      // CRASH: stage the full new generation, die before the flip —
      // the old index must keep serving byte-identical results
      val gen = VectorIndexOps.stageRetrainVectorIndex(spark, e, px,
        s"$base/retrain")
      assert(serve(px) == served0,
        "staging a retrain disturbed the live index")
      // RECOVERY/PUBLISH: flip the pointer; serving must now equal a
      // scratch build on the current corpus, bit for bit
      VectorIndexOps.publishRetrainVectorIndex(spark, px, gen,
        s"$base/retrain")
      VectorIndexOps.buildVectorIndex(spark, e, e, pxScr, s"$base/scr")
      assert(serve(px) == serve(pxScr),
        "retrained index diverges from the scratch build")
      // balance restored: the retrained profile is the scratch
      // profile, and strictly better than the drifted generation 0
      val loadAfter = maxLoad(px)
      assert(loadAfter == maxLoad(pxScr),
        "retrained balance differs from scratch-build balance")
      assert(loadAfter < loadBefore,
        s"retrain did not improve the max load factor " +
          s"($loadBefore -> $loadAfter)")
      // appends keep working after the generation move (the codes
      // table's location is resolved from the catalog, not the caller)
      val nBefore = VectorIndexOps.readVectorIndex(spark, px).codes.count()
      VectorIndexOps.appendToVectorIndex(spark,
        e.filter(col("vec_id") < 8)
          .select((col("vec_id") + 100000L).as("vec_id"),
            col("embedding")),
        px, s"$base/idx")
      assert(VectorIndexOps.readVectorIndex(spark, px).codes.count()
        > nBefore, "post-retrain append was lost")
      // retrain FOLDS TOMBSTONES: delete a slice (ids >= 20 so the
      // query set survives), retrain again — the second generation
      // must equal a scratch build on the survivors (training AND
      // coding both restricted), and the tombstone set must be gone
      VectorIndexOps.deleteFromVectorIndex(spark,
        e.filter(col("vec_id") >= 20 && col("vec_id") % 7 === 3)
          .select(col("vec_id")),
        px, s"$base/idx")
      val survivors = e.filter(col("vec_id") < 20 ||
        col("vec_id") % 7 =!= 3)
      VectorIndexOps.retrainVectorIndex(spark, e, px, s"$base/retrain2")
      val pxSur = px + "sur"
      VectorIndexOps.buildVectorIndex(spark, survivors, survivors, pxSur,
        s"$base/sur")
      assert(serve(px) == serve(pxSur),
        "tombstone-folding retrain diverges from the survivor build")
      assert(!spark.catalog.tableExists(s"${px}_tombstones"),
        "retrain left the folded tombstones registered")
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(t => t.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("pin/GC lifecycle: a pinned generation survives the retrain " +
    "flip and serves bit-identically; GC is a no-op while pinned and " +
    "retires tables + files after unpin; live serving is untouched") {
    import spark.implicits._
    import graft.io.IndexLifecycle
    import graft.ops.VectorIndexOps
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("vpin_spec").toString
    val px = "ut_vpin" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val queries = e.filter(col("vec_id") < 20)
    def serve(idx: VectorIndexOps.VectorIndex) =
      VectorIndexOps.searchVectorIndex(queries, idx, 2)
        .as[(Long, Long, Long, Double)].collect().toSet
    try {
      val g0 = e.filter(col("vec_id") % 4 === 0)
      VectorIndexOps.buildVectorIndex(spark, g0, g0, px, s"$base/idx")
      (1 to 3).foreach(i => VectorIndexOps.appendToVectorIndex(spark,
        e.filter(col("vec_id") % 4 === i), px, s"$base/idx"))
      val served0 = serve(VectorIndexOps.readVectorIndex(spark, px))
      VectorIndexOps.pinVectorIndexGeneration(spark, px, 0L, s"$base/idx")
      // a REPLAYED pin is harmless (insert-only signed rows)
      VectorIndexOps.pinVectorIndexGeneration(spark, px, 0L, s"$base/idx")
      VectorIndexOps.retrainVectorIndex(spark, e, px, s"$base/retrain")
      // retention: the pinned generation's tables survived the flip
      // and keep serving the EXACT pre-retrain results
      assert(spark.catalog.tableExists(s"${px}_codes"),
        "pinned generation 0 was dropped by the retrain publish")
      assert(serve(VectorIndexOps.readVectorIndexAt(spark, px, 0L))
        == served0, "pinned snapshot drifted across the retrain flip")
      val servedLive = serve(VectorIndexOps.readVectorIndex(spark, px))
      assert(servedLive != served0,
        "retrain did not change serving — the pin test is vacuous")
      // GC refuses while the pin holds (two pins, one unpin → held)
      VectorIndexOps.unpinVectorIndexGeneration(spark, px, 0L,
        s"$base/idx")
      assert(VectorIndexOps.gcVectorIndexGenerations(spark, px).isEmpty,
        "GC dropped a generation whose pin signed-sum is positive")
      assert(spark.catalog.tableExists(s"${px}_codes"))
      // the second unpin releases it; GC retires tables AND files
      val loc0 = graft.io.Sinks.tableLocation(spark, s"${px}_codes")
      VectorIndexOps.unpinVectorIndexGeneration(spark, px, 0L,
        s"$base/idx")
      assert(VectorIndexOps.gcVectorIndexGenerations(spark, px)
        == Seq(0L), "GC did not retire exactly generation 0")
      assert(!spark.catalog.tableExists(s"${px}_codes"),
        "GC left the retired generation's codes table registered")
      assert(!new java.io.File(loc0).exists,
        "GC left the retired generation's files on disk")
      // a retired generation refuses time-travel reads loudly
      intercept[IllegalArgumentException] {
        VectorIndexOps.readVectorIndexAt(spark, px, 0L)
      }
      // the live generation is byte-untouched by the whole cycle
      assert(serve(VectorIndexOps.readVectorIndex(spark, px))
        == servedLive, "pin/unpin/GC cycle disturbed live serving")
      // reading the LIVE generation through the time-travel entry
      // agrees with the pointer-resolved read
      assert(serve(VectorIndexOps.readVectorIndexAt(spark, px,
        IndexLifecycle.liveGeneration(spark, px))) == servedLive)
      // an UNPINNED superseded generation still drops at publish
      // (the pre-pin behavior is the default)
      VectorIndexOps.retrainVectorIndex(spark, e, px, s"$base/retrain2")
      assert(!spark.catalog.tableExists(s"${px}_r1_codes"),
        "publish retained an unpinned superseded generation")
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(t => t.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
      IndexLifecycle.rmDir(base)
    }
  }

  test("semantic pin/GC: a pinned generation's verdicts are bit-stable " +
    "across the retrain flip, current tombstones still mask the " +
    "snapshot, and GC retires it after unpin") {
    import graft.io.IndexLifecycle
    import graft.ops.SemanticDedupOps
    val e = graft.ops.EmbeddingOps.normedDf(spark, sf)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val base = java.nio.file.Files.createTempDirectory("spin_spec").toString
    val px = "ut_spin" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cid"), col("vec_id"), col("verdict"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    try {
      val total = e.count()
      SemanticDedupOps.buildSemanticIndex(spark,
        e.filter(col("vec_id") * 2 < total), px, s"$base/idx")
      SemanticDedupOps.ingestSemanticIndex(spark,
        e.filter(col("vec_id") * 2 >= total), px, s"$base/idx")
      val served0 = verdicts(
        SemanticDedupOps.semanticIndexVerdicts(spark, px))
      IndexLifecycle.pinGeneration(spark, px, 0L, s"$base/idx")
      SemanticDedupOps.retrainSemanticIndex(spark, px, s"$base/retrain")
      // the pinned snapshot serves its pre-retrain verdicts verbatim
      assert(verdicts(SemanticDedupOps.semanticIndexVerdictsAt(spark,
        px, 0L)) == served0,
        "pinned semantic snapshot drifted across the retrain flip")
      // forgetting trumps time travel: a post-retrain purge masks the
      // pinned generation too (subject AND witness)
      val victim = served0.map(_._2).max
      SemanticDedupOps.purgeSemanticIndex(spark,
        e.filter(col("vec_id") === victim).select(col("vec_id")),
        px, s"$base/idx")
      val pinnedAfterPurge = verdicts(
        SemanticDedupOps.semanticIndexVerdictsAt(spark, px, 0L))
      assert(!pinnedAfterPurge.exists(_._2 == victim),
        "a purged vector still appears in the pinned snapshot")
      // GC is a no-op while pinned; retires tables + files after unpin
      assert(SemanticDedupOps.gcSemanticIndexGenerations(spark, px)
        .isEmpty, "GC dropped a pinned semantic generation")
      val loc0 = graft.io.Sinks.tableLocation(spark, s"${px}_members")
      IndexLifecycle.unpinGeneration(spark, px, 0L, s"$base/idx")
      assert(SemanticDedupOps.gcSemanticIndexGenerations(spark, px)
        == Seq(0L))
      assert(!spark.catalog.tableExists(s"${px}_members") &&
        !new java.io.File(loc0).exists,
        "GC left the retired semantic generation behind")
      intercept[IllegalArgumentException] {
        SemanticDedupOps.semanticIndexVerdictsAt(spark, px, 0L)
      }
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(t => t.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
      IndexLifecycle.rmDir(base)
    }
  }

  test("scratch reaper deletes dead drivers' marked dirs, spares live " +
    "ones and unmarked (foreign) same-named dirs") {
    val tmp = sys.props("java.io.tmpdir")
    // a pid that cannot be running (beyond any realistic pid_max),
    // carrying the engine's sentinel — reapable
    val dead = new java.io.File(s"$tmp/graft_99999999")
    val deadSub = new java.io.File(dead, "idx")
    deadSub.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(deadSub, "x").toPath, "stale")
    java.nio.file.Files.writeString(
      new java.io.File(dead, ".graft_scratch").toPath, "")
    // a dead-pid dir WITHOUT the sentinel: some other process's data
    // that merely matches the graft_<digits> name — must be spared
    val foreign = new java.io.File(s"$tmp/graft_99999998")
    foreign.mkdirs()
    val fMarker = new java.io.File(foreign, "not_ours")
    java.nio.file.Files.writeString(fMarker.toPath, "foreign")
    val live = new java.io.File(
      s"$tmp/graft_${ProcessHandle.current().pid()}")
    live.mkdirs()
    val marker = new java.io.File(live, "keepme")
    java.nio.file.Files.writeString(marker.toPath, "live")
    try {
      Tables.reapDeadScratch()
      assert(!dead.exists(), "dead driver's scratch survived the reap")
      assert(fMarker.exists(),
        "the reaper deleted a foreign dir it never marked")
      assert(marker.exists(), "the reaper touched a LIVE pid's scratch")
    } finally {
      marker.delete(); fMarker.delete(); foreign.delete(); ()
    }
  }

  test("build-once guard self-validates: regenerating the corpus under " +
    "the same dir forces a rebuild instead of serving the stale index") {
    import spark.implicits._
    val full = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("fp_regen").toString
    // generation 1: only vec_id < 40 exist
    full.filter(col("vec_id") < 40).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val r1 = SparkEntry.queries("q240_reranked_serve")(spark, dir)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(r1.nonEmpty && r1.forall(_._3 < 40),
      "generation-1 serve returned ids outside its corpus")
    // generation 2: the data under the SAME dir is regenerated with the
    // full corpus — the old (tag, dir, geometry)-keyed guard would take
    // the warm hit and keep serving generation-1 shortlists
    full.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    spark.catalog.refreshByPath(s"$dir/embeddings.parquet")
    val r2 = SparkEntry.queries("q240_reranked_serve")(spark, dir)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(r2.exists(_._3 >= 40),
      "warm invocation served the stale generation-1 index " +
        "(no neighbor beyond the old corpus ever surfaced)")
    spark.catalog.clearCache()
  }

  test("incremental semdedup: verdicts are split-invariant across batch " +
    "boundaries and the ingest plan contains no training stage") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val rows = SparkEntry.queries("q242_incremental_semdedup")(spark, sf)
      .as[(Long, Long, String)].collect().toSet
    assert(rows.nonEmpty && rows.exists(_._3 == "prune"),
      "no prune verdict anywhere — the tau never fired, audit vacuous")
    // split invariance: one ingest of everything-after-base must equal
    // the gated query's two-batch trajectory verdict-for-verdict
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("""CASE WHEN aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
          ELSE sqrt(aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
    val total = e.count()
    val base = e.filter(col("vec_id") * 2 < total)
    val rest = e.filter(col("vec_id") * 2 >= total)
    val base2 = java.nio.file.Files.createTempDirectory("sem_spec").toString
    val px = "ut_sem" + base2.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    try {
      val v0 = SemanticDedupOps.buildSemanticIndex(spark, base, px, base2)
      val ing = SemanticDedupOps.ingestSemanticIndex(spark, rest, px, base2)
      val oneShot = v0.unionByName(ing)
        .as[(Long, Long, String)].collect().toSet
      assert(oneShot == rows,
        "verdicts depend on how the post-base corpus was batched")
      // no-retraining audit: ingestSemanticIndex materializes eagerly
      // (localCheckpoint), so audit its exact lazy composition —
      // assign against the stored centroids + one equi-join prune
      // against the stored members. The k-means seeding (md5 rank) and
      // the Lloyd fold (collect_list) must be absent, and the members
      // probe must be a hash join on cid, not a product.
      val lazyVerdicts = SemanticDedupOps.semPruneVerdicts(
        spark.table(s"${px}_members"),
        SemanticDedupOps.semAssign(rest.limit(50),
          spark.table(s"${px}_semcents")))
      val p = lazyVerdicts.queryExecution.executedPlan.toString
      assert(!p.contains("md5"), s"training seed hash in ingest plan:\n$p")
      // the Lloyd fold's signature is collecting (vec_id, embedding)
      // member structs per cluster; the row-local assignment's
      // collect_list(struct(cid, cv, cnrm)) packs the k STORED
      // centroid rows for the broadcast and is not training
      assert(!p.contains("collect_list(struct(vec_id"),
        s"Lloyd fold in ingest plan:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("members"), p)
      // the MULTI-PROBE arm must stay equally training-free: the probe
      // fan-out is assignment against the same frozen centroids, so
      // nprobe=2's lazy composition carries no seed hash, no Lloyd
      // fold, and no product either
      val probed = SemanticDedupOps.semAssignTop(rest.limit(50),
        spark.table(s"${px}_semcents"), 2)
      val lazyMulti = SemanticDedupOps.semPruneVerdictsProbed(
        spark.table(s"${px}_members"), probed.drop("pr"),
        probed.filter(col("pr") === 1).drop("pr"))
      val pm = lazyMulti.queryExecution.executedPlan.toString
      assert(!pm.contains("md5"), s"training hash in multiprobe plan:\n$pm")
      assert(!pm.contains("collect_list(struct(vec_id"), pm)
      assert(!pm.contains("CartesianProduct"), pm)
      // recall monotonicity: pr=1 rows are a subset of pr<=2 rows, so
      // every single-probe prune survives under multi-probe
      val single = SemanticDedupOps.ingestSemanticIndex(spark,
        rest.limit(50), px, base2).collect()
        .filter(_.getString(2) == "prune").map(_.getLong(1)).toSet
      val multi = SemanticDedupOps.ingestSemanticIndex(spark,
        rest.limit(50), px, base2, nprobe = 2).collect()
        .filter(_.getString(2) == "prune").map(_.getLong(1)).toSet
      assert(single.subsetOf(multi),
        s"multiprobe lost single-probe prunes: ${single -- multi}")
      // replay safety: re-running a micro-batch id neither duplicates
      // members nor changes the verdicts (the torn-batch recompute is
      // deterministic against the stored members)
      val nMembers = spark.table(s"${px}_members").count()
      val r1 = SemanticDedupOps.ingestSemanticIndex(spark, rest.limit(50),
        px, base2, batchId = Some(9L)).collect().toSet
      val r2 = SemanticDedupOps.ingestSemanticIndex(spark, rest.limit(50),
        px, base2, batchId = Some(9L)).collect().toSet
      assert(spark.table(s"${px}_members").count() == nMembers + 50,
        "replayed semantic ingest duplicated members")
      assert(r1 == r2, "replayed semantic ingest changed verdicts")
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("q255 semantic retrain: crash-before-flip leaves gen 0 serving, " +
    "the flip serves the full-train trajectory, ingest follows the pointer") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("""CASE WHEN aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
          ELSE sqrt(aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
    val total = e.count()
    val base = java.nio.file.Files.createTempDirectory("sem_rt").toString
    val px = "ut_srt" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    try {
      SemanticDedupOps.buildSemanticIndex(spark,
        e.filter(col("vec_id") * 2 < total), px, s"$base/idx")
      SemanticDedupOps.ingestSemanticIndex(spark,
        e.filter(col("vec_id") * 2 >= total), px, s"$base/idx")
      val pre = SemanticDedupOps.semanticIndexVerdicts(spark, px)
        .as[(Long, Long, String)].collect().toSet
      // CRASH POINT: the writer dies after staging gen 1 but before
      // the pointer flip — the index must keep serving gen 0 verbatim
      val gen = SemanticDedupOps.stageRetrainSemanticIndex(spark, px,
        s"$base/retrain")
      assert(gen == 1L)
      val during = SemanticDedupOps.semanticIndexVerdicts(spark, px)
        .as[(Long, Long, String)].collect().toSet
      assert(during == pre, "staged retrain disturbed the live index")
      // publication: one pointer flip; the served verdicts must now
      // equal the scratch FULL-train SemDeDup (and differ from the
      // drifted base-half-centroid state it replaces)
      SemanticDedupOps.publishRetrainSemanticIndex(spark, px, gen,
        s"$base/retrain")
      val post = SemanticDedupOps.semanticIndexVerdicts(spark, px)
        .as[(Long, Long, String)].collect().toSet
      val scratch = SemanticDedupOps.semDedupVerdicts(e, EmbeddingOps.KmK)
        .as[(Long, Long, String)].collect().toSet
      assert(post == scratch,
        "retrained index diverges from the scratch full-train trajectory")
      assert(post != pre,
        "retrain was a no-op: drifted and retrained states coincide " +
          "(weaken this only if the corpus genuinely has no drift)")
      // ingest follows the pointer: new rows land in the gen-1 members
      // table and get verdicts under the retrained centroids
      val nM = spark.table(s"${px}_r1_members").count()
      val newRows = e.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      val v = SemanticDedupOps.ingestSemanticIndex(spark, newRows, px,
        s"$base/idx").collect()
      assert(v.length == 50, s"${v.length} post-retrain ingest verdicts")
      assert(spark.table(s"${px}_r1_members").count() == nM + 50,
        "post-retrain ingest missed the live generation's members table")
      // a SECOND retrain flips to gen 2 and folds the ingest in
      SemanticDedupOps.retrainSemanticIndex(spark, px, s"$base/retrain2")
      assert(spark.table(s"${px}_r2_members").count() == total + 50)
      assert(!spark.catalog.tableExists(s"${px}_r1_members"),
        "superseded generation was not dropped")
      assert(SemanticDedupOps.semanticIndexVerdicts(spark, px).count()
        == total + 50)
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("q261 semantic purge: purged ids vanish, their prune-witness role " +
    "retires (victims flip to keep), retrain folds the tombstones") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("""CASE WHEN aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
          ELSE sqrt(aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
    val total = e.count()
    val base = java.nio.file.Files.createTempDirectory("sem_pg").toString
    val px = "ut_spg" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    def serve = SemanticDedupOps.semanticIndexVerdicts(spark, px)
      .as[(Long, Long, String)].collect().map(r => r._2 -> r._3).toMap
    try {
      SemanticDedupOps.buildSemanticIndex(spark,
        e.filter(col("vec_id") * 2 < total), px, s"$base/idx")
      SemanticDedupOps.ingestSemanticIndex(spark,
        e.filter(col("vec_id") * 2 >= total), px, s"$base/idx")
      val pre = serve
      SemanticDedupOps.purgeSemanticIndex(spark,
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")),
        px, s"$base/idx")
      val post = serve
      assert(post.keySet == pre.keySet.filterNot(_ % 5 == 2),
        "purged ids still served (or live ids lost)")
      // removing witnesses can only UN-prune, never prune
      assert(post.forall { case (id, v) =>
        !(v == "prune" && pre(id) == "keep") },
        "purge invented a prune verdict")
      val flipped = post.filter { case (id, v) =>
        v == "keep" && pre(id) == "prune" }
      assert(flipped.nonEmpty,
        "no victim flipped to keep — the witness-retirement half of " +
          "right-to-be-forgotten went unexercised")
      // retrain folds the mask: survivors-only training, tombstones
      // retire with the old generation
      SemanticDedupOps.retrainSemanticIndex(spark, px, s"$base/rt")
      assert(!spark.catalog.tableExists(s"${px}_tombstones"),
        "retrain left the folded tombstones behind")
      assert(spark.table(s"${px}_r1_members").count() == post.size,
        "retrained generation does not hold exactly the survivors")
      val served = SemanticDedupOps.semanticIndexVerdicts(spark, px)
        .as[(Long, Long, String)].collect().toSet
      val scratch = SemanticDedupOps.semDedupVerdicts(
        e.filter(col("vec_id") % 5 =!= 2), EmbeddingOps.KmK)
        .as[(Long, Long, String)].collect().toSet
      assert(served == scratch,
        "post-purge retrain diverges from the survivors-only scratch train")
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("semantic vacuum: masked rows physically drop, serving is " +
    "unchanged, post-vacuum ingest follows the moved members table") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("""CASE WHEN aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
          ELSE sqrt(aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
      .filter(col("vec_id") < 200)
    val base = java.nio.file.Files.createTempDirectory("sem_vc").toString
    val px = "ut_svc" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    def serve = SemanticDedupOps.semanticIndexVerdicts(spark, px)
      .as[(Long, Long, String)].collect().toSet
    try {
      SemanticDedupOps.buildSemanticIndex(spark,
        e.filter(col("vec_id") < 100), px, s"$base/idx")
      SemanticDedupOps.ingestSemanticIndex(spark,
        e.filter(col("vec_id") >= 100), px, s"$base/idx")
      SemanticDedupOps.purgeSemanticIndex(spark,
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")),
        px, s"$base/idx")
      val pre = serve
      SemanticDedupOps.vacuumSemanticIndex(spark, px, s"$base/vac")
      assert(!spark.catalog.tableExists(s"${px}_tombstones"),
        "vacuum left the folded tombstones behind")
      assert(spark.table(s"${px}_members")
        .filter(col("vec_id") % 5 === 2).isEmpty,
        "vacuum left tombstoned rows in the physical members table")
      assert(serve == pre, "vacuum changed the served verdicts")
      // the moved members table keeps accepting ingests (catalog-
      // resolved location) and serves them
      val newRows = e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      assert(SemanticDedupOps.ingestSemanticIndex(spark, newRows, px,
        s"$base/idx").count() == 20L)
      assert(serve.size == pre.size + 20)
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("semdedup cell cap: a planted mega-cluster's pair scan is bounded " +
    "(split + truncation) while planted near-twins are still pruned") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val cap = 64
    // one mega-cell (cid 0) of 512 vectors on a 2-d arc: pair j gets
    // angle j·π/256, and its twin (odd id) the SAME direction scaled —
    // identical cosine to everything, so any deterministic refinement
    // must co-locate the pair
    def vec(pair: Int, twin: Boolean): Seq[Float] = {
      val a = pair * math.Pi / 256.0
      val s = if (twin) 2.0 else 1.0
      Seq((s * math.cos(a)).toFloat, (s * math.sin(a)).toFloat, 0f, 0f)
    }
    val rows = (0 until 512).map { i =>
      val v = vec(i / 2, i % 2 == 1)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      (0L, i.toLong, v, nrm)
    }.toDF("cid", "vec_id", "embedding", "nrm")
    // bound: after split + scan-side truncation no scan cell exceeds
    // the cap, so the pair count is <= |probe| * cap
    val (m, _, _) = SemanticDedupOps.splitOversizedCells(rows, rows, cap)
    val residue = m.groupBy(col("ckey")).count()
      .filter(col("count") > cap).count()
    assert(residue == 0,
      "arc mega-cell did not split below the cap within bounded rounds")
    // quality: every odd id has an IDENTICAL-direction smaller twin in
    // its (refined) cell, so all 256 must come back pruned
    val verdicts = SemanticDedupOps.semPruneVerdicts(rows, rows, cap)
      .as[(Long, Long, String)].collect()
    val odd = verdicts.filter(_._2 % 2 == 1)
    assert(odd.length == 256 && odd.forall(_._3 == "prune"),
      s"capped scan lost planted twins: " +
        s"${odd.filter(_._3 != "prune").take(5).mkString(",")}")
    assert(verdicts.map(v => (v._1, v._2)).toSet ==
      rows.select(col("cid"), col("vec_id")).as[(Long, Long)]
        .collect().toSet, "capped verdicts lost or invented rows")
    // determinism: a retry re-derives the same refinement + verdicts
    val again = SemanticDedupOps.semPruneVerdicts(rows, rows, cap)
      .as[(Long, Long, String)].collect().toSet
    assert(again == verdicts.toSet, "capped verdicts nondeterministic")
    // degenerate all-identical mega-cell: unsplittable by construction,
    // but truncation is EXACT there — every row matches the min id,
    // which truncation always keeps: min id keep, all others prune
    val same = (0 until 200).map(i =>
        (0L, i.toLong, Seq(1f, 0f, 0f, 0f), 1.0))
      .toDF("cid", "vec_id", "embedding", "nrm")
    val sv = SemanticDedupOps.semPruneVerdicts(same, same, 16)
      .as[(Long, Long, String)].collect()
    assert(sv.count(_._3 == "keep") == 1 &&
      sv.find(_._3 == "keep").get._2 == 0L &&
      sv.length == 200,
      "all-identical cell under truncation must keep exactly the min id")
    // uncapped equivalence: with the cap above the cell size the
    // verdicts equal the brute-force smaller-id rule
    val brute = {
      val r = rows.as[(Long, Long, Seq[Float], Double)].collect()
      r.map { case (_, id, v, n) =>
        val pruned = r.exists { case (_, id2, v2, n2) =>
          id2 < id && v.zip(v2).map { case (x, y) =>
            x.toDouble * y.toDouble }.sum / (n * n2) > 0.4
        }
        (0L, id, if (pruned) "prune" else "keep")
      }.toSet
    }
    val uncapped = SemanticDedupOps.semPruneVerdicts(rows, rows, 1024)
      .as[(Long, Long, String)].collect().toSet
    assert(uncapped == brute, "uncapped verdicts diverge from brute force")
    spark.catalog.clearCache()
  }

  test("semPrune residue truncation: the false-keep edge is exactly the " +
    "planted above-bound witness, keep-direction only, and vanishes " +
    "when splitting is allowed") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    // one cid-0 cell of 6 DISTINCT vectors forced into the residue arm
    // (maxRounds = 0 disables splitting, standing in for a cell still
    // oversized after SemSplitRounds): ids 1..4 mutually orthogonal
    // fill the cap-4 scan prefix; the ONLY >tau pair is (5, 6) — and 5
    // sits ABOVE the truncation bound, so its witness role is lost
    def basis(i: Int): Seq[Float] =
      (0 until 8).map(j => if (j == i) 1f else 0f)
    val rows = ((1 to 4).map(i => (0L, i.toLong, basis(i - 1), 1.0)) ++
      Seq((0L, 5L, basis(5), 1.0), (0L, 6L, basis(5), 1.0)))
      .toDF("cid", "vec_id", "embedding", "nrm")
    def verdicts(cap: Int, rounds: Int) =
      SemanticDedupOps.semPruneVerdicts(rows, rows, cap, rounds)
        .as[(Long, Long, String)].collect()
        .map(v => v._2 -> v._3).toMap
    val exact = verdicts(10, 0) // cell under cap: no truncation
    assert(exact == Map(1L -> "keep", 2L -> "keep", 3L -> "keep",
      4L -> "keep", 5L -> "keep", 6L -> "prune"),
      s"exact rule wrong: $exact")
    // residue arm: the would-be pruner 5 is truncated out of the scan
    // side — QUANTIFIED loss: exactly ONE verdict flips, and only in
    // the keep direction (a false keep, never a false prune — the
    // bounded-cost trade documented at semPruneVerdicts)
    val truncated = verdicts(4, 0)
    assert(truncated == exact.updated(6L, "keep"),
      s"residue loss not exactly the planted false keep: $truncated")
    assert(exact.keySet.count(k => exact(k) != truncated(k)) == 1)
    // distinct-vector cells split below the cap within bounded rounds
    // (each round strictly peels at least the second seed off), so
    // with splitting allowed the edge never fires here — the residue
    // arm is reachable only past cap * 2^SemSplitRounds
    assert(verdicts(4, SemanticDedupOps.SemSplitRounds) == exact,
      "split rounds did not recover the truncated witness")
    spark.catalog.clearCache()
  }

  test("q256 multi-probe semdedup: structural misses fall vs single-probe, " +
    "counts consistent, verdicts deterministic") {
    import spark.implicits._
    val rows = SparkEntry.queries("q256_multiprobe_audit")(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (s1, m) = (rows("single"), rows("multiprobe"))
    assert(rows.size == 2)
    assert(s1._2 == m._2, "phases disagree on the truth-pair count")
    assert(s1._2 > 0, "no truth pairs — audit vacuous")
    assert(s1._4 > 0,
      "single-probe shows no structural miss — recovery unmeasurable")
    assert(m._4 < s1._4,
      s"multi-probe did not reduce structural misses: ${m._4} vs ${s1._4}")
    // multi-probe can only prune MORE (a superset of pair comparisons)
    assert(m._3 <= s1._3, "multi-probe kept more than single-probe")
    Seq(s1, m).foreach { r =>
      assert(r._4 <= r._3, s"${r._1}: structural exceeds both-kept")
      assert(r._5 == r._4.toDouble / r._2.toDouble, s"${r._1} rate")
    }
    // determinism: a re-run reproduces the audit bit-for-bit
    val again = SparkEntry.queries("q256_multiprobe_audit")(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(again == rows, "audit nondeterministic across runs")
    spark.catalog.clearCache()
  }

  test("q266 margin mining: one mined pair per confident query, matches " +
    "in the target side only, margins above the neighborhood bar") {
    import spark.implicits._
    val rows = SparkEntry.queries("q266_margin_mining")(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 20,
      s"${rows.length} mined pairs for 20 queries")
    assert(rows.map(_._1).distinct.length == rows.length,
      "a query mined more than one pair")
    assert(rows.forall(_._2 >= 20L), "mined a match from the query side")
    assert(rows.forall(_._4 > 1.0), "margin at or below the bar leaked")
    // margin is a RATIO score: it can exceed 1 while the raw cosine is
    // modest — assert the score actually normalizes (margin != cosine)
    assert(rows.forall(r => r._4 != r._3))
    val again = SparkEntry.queries("q266_margin_mining")(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(again == rows.toSet, "mining nondeterministic")
    spark.catalog.clearCache()
  }

  test("q260 retrain policy: one decision row, decision recomputable from " +
    "its own integer stats") {
    import spark.implicits._
    val rows = SparkEntry.queries("q260_retrain_policy")(spark, sf)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(rows.length == 1)
    val (hd, hr, sd, sr, dec) = rows.head
    assert(hd >= 0 && hr >= 0 && sd >= 0 && sr >= 0)
    val want = if (hd > hr || sd * 10 > sr * 13) "retrain" else "hold"
    assert(dec == want, s"decision $dec inconsistent with ($hd,$hr,$sd,$sr)")
    spark.catalog.clearCache()
  }

  test("q220 semdedup miss audit: counts consistent, kept pairs split " +
    "exactly into cross-cluster and same-cluster misses") {
    import spark.implicits._
    val rows = SparkEntry.queries("q220_semdedup_miss_audit")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq(4L, 8L, 16L))
    rows.foreach { case (k, nTruth, bothKept, cross, same, rate) =>
      assert(cross + same == bothKept,
        s"k=$k: kept-pair split $cross + $same != $bothKept")
      assert(bothKept <= nTruth, s"k=$k: kept pairs exceed truth")
      assert(math.abs(rate - cross.toDouble / math.max(nTruth, 1)) == 0.0
        || nTruth == 0, s"k=$k rate mismatch")
    }
    // the audit must be exercised: the corpus has truth pairs, and at
    // least one arm shows a structural (cross-cluster) miss
    assert(rows.exists(_._2 > 0), "no truth pairs — audit vacuous")
    spark.catalog.clearCache()
  }

  test("q221 compaction: contents identical, file count collapses to " +
    "one per bucket, bucket spec survives, serving unchanged") {
    import spark.implicits._
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("vcp_spec")
      .toString
    val px = "vc" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir))
        .count(_.getName.endsWith(".parquet"))
    }
    def codeSet() = VectorIndexOps.readVectorIndex(spark, px).codes
      .as[(Long, Long, Long, Long)].collect().toSet
    def served() = VectorIndexOps.searchVectorIndex(
      e.filter(col("vec_id") < 20),
      VectorIndexOps.readVectorIndex(spark, px), 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    try {
      VectorIndexOps.buildVectorIndex(spark, e,
        e.filter(col("vec_id") % 4 === 0), px, s"$base/idx")
      (1 to 3).foreach(i => VectorIndexOps.appendToVectorIndex(spark,
        e.filter(col("vec_id") % 4 === i), px, s"$base/idx"))
      val (beforeRows, beforeServe) = (codeSet(), served())
      val beforeFiles = parquetFiles(s"$base/idx/codes")
      assert(beforeFiles > 8,
        s"appends did not accrete file sets ($beforeFiles files)")
      VectorIndexOps.compactVectorIndex(spark, px, s"$base/idx/codes",
        s"$base/codes_compact")
      assert(codeSet() == beforeRows, "compaction changed table contents")
      // one file per NON-EMPTY bucket (empty buckets write none — with
      // 8 cells murmur3-pmod'd into 8 buckets, collisions leave some
      // buckets empty at this sf)
      val afterFiles = parquetFiles(s"$base/codes_compact")
      assert(afterFiles <= 8 && afterFiles < beforeFiles,
        s"expected at most one file per bucket after compaction " +
          s"(was $beforeFiles), got $afterFiles")
      // the rewritten table keeps its bucket layout (co-bucketed joins
      // on `cell` stay exchange-free) and serves identically
      val desc = spark.sql(s"DESC EXTENDED ${px}_codes")
        .collect().map(r => s"${r.get(0)}=${r.get(1)}").mkString("\n")
      assert(desc.contains("Num Buckets=8") &&
        desc.contains("Bucket Columns=[`cell`]"), desc)
      assert(served() == beforeServe, "compaction changed serving")
      // crash-safety: the staging name is gone after a clean swap
      assert(!spark.catalog.tableExists(s"${px}_codes__compacting"))
    } finally {
      Seq("coarse", "codebooks", "codes", "codes__compacting").foreach(
        t => spark.sql(s"DROP TABLE IF EXISTS ${px}_$t"))
      spark.catalog.clearCache()
    }
  }

  test("TPC-H trio plans: pushed filters, TakeOrdered top-k, anti+semi " +
    "on the same fact for q224, no nested-loop joins") {
    val p222 = plan("q222_shipping_priority")
    assert(p222.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$p222")
    assert(p222.contains("IsNotNull(o_orderdate)") ||
      p222.contains("LessThan(o_orderdate"), p222)
    assert(p222.contains("GreaterThan(l_shipdate"),
      s"ship-date filter not pushed:\n$p222")
    assert(p222.contains("TakeOrderedAndProject"),
      s"top-10 did not plan as TakeOrdered:\n$p222")
    val p223 = plan("q223_returned_items")
    assert(p223.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed:\n$p223")
    assert(p223.contains("TakeOrderedAndProject"), p223)
    val p224 = plan("q224_suppliers_waiting")
    assert(p224.contains("LeftSemi"), s"missing semi join:\n$p224")
    assert(p224.contains("LeftAnti"), s"missing anti join:\n$p224")
    assert(p224.contains("EqualTo(o_orderstatus,F)"),
      s"status filter not pushed:\n$p224")
    // q233: the disjunction's COMMON conjuncts (quantity band, size
    // floor) push to their scans; the cross-table OR stays a residual
    val p233 = plan("q233_disjunctive_revenue")
    assert(p233.contains("GreaterThanOrEqual(l_quantity") ||
      p233.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"quantity band not pushed to the lineitem scan:\n$p233")
    assert(p233.contains("BroadcastHashJoin"), p233)
    Seq(p222, p223, p224, p233).foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("incremental rollup: partials are split-invariant and equal " +
    "the scratch aggregate") {
    import spark.implicits._
    val ev = Tables.table(spark, sf, "events")
    def tmp() = java.nio.file.Files.createTempDirectory("roll_spec")
      .toString
    val (tA, tB) = ("ut_roll_a", "ut_roll_b")
    try {
      // A: three arbitrary batches; B: one batch of everything
      val (pA, pB) = (tmp(), tmp())
      (0 to 2).foreach(i => graft.io.Sinks.appendRollup(
        ev.filter(col("event_id") % 3 === i), Seq("event_type"),
        Seq("value"), tA, 2, pA))
      graft.io.Sinks.appendRollup(ev, Seq("event_type"), Seq("value"),
        tB, 2, pB)
      def fold(t: String) = graft.io.Sinks.readRollup(spark, t,
          Seq("event_type"), Seq("value"))
        .select(col("event_type"), col("n"),
          col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      val (a, b) = (fold(tA), fold(tB))
      assert(a == b, "rollup fold depends on the batch split")
      val scratch = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("s"))
        .as[(String, Long, Double)].collect().toSet
      assert(a == scratch, "maintained rollup diverged from scratch")
      // the A table holds one partial row per (key, append) — the fold
      // input is key-domain × appends, never corpus-sized
      val partialRows = spark.table(tA).count()
      val keyDomain = scratch.size
      assert(partialRows <= keyDomain * 3L, s"$partialRows partials")
      // compaction collapses partials to one row per key, the fold is
      // unchanged, and a post-compaction append still folds correctly
      val pC = tmp()
      graft.io.Sinks.compactRollup(spark, tA, Seq("event_type"),
        Seq("value"), pC)
      assert(spark.table(tA).count() == keyDomain.toLong,
        "compaction did not collapse to one partial per key")
      assert(fold(tA) == scratch, "compaction changed the fold")
      // a caller resuming with the ORIGINAL (pre-compaction) path must
      // keep appending: the append resolves the table's registered
      // location from the catalog, so the move is invisible to it
      // (previously this threw mismatched-table-location)
      graft.io.Sinks.appendRollup(ev, Seq("event_type"),
        Seq("value"), tA, 2, pA)
      val doubled = ev.unionByName(ev).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("s"))
        .as[(String, Long, Double)].collect().toSet
      assert(fold(tA) == doubled,
        "post-compaction append with the stale path did not fold in")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tA")
      spark.sql(s"DROP TABLE IF EXISTS $tB")
      spark.catalog.clearCache()
    }
  }

  test("q236 partitioned layout: the date slice prunes partitions at " +
    "file-listing level") {
    // running the gated query materializes the partitioned copy
    val df = SparkEntry.queries("q236_partitioned_layout")(spark, sf)
    assert(df.count() > 0)
    val path = s"${Tables.scratchDir}/part_q236"
    val sliced = spark.read.parquet(path)
      .filter(col("dt") >= "2024-01-08" && col("dt") <= "2024-01-14")
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"no partition filters in the scan:\n$plan")
    assert(plan.contains("dt"), plan)
    // inputFiles reflects the UNPRUNED file index; the executed scan's
    // numFiles metric counts what was actually read after pruning —
    // execute THIS queryExecution (collect), then unwrap AQE to reach
    // the leaf scan whose metric was populated
    val allFiles = spark.read.parquet(path).inputFiles.length
    sliced.collect()
    val finalPlan = sliced.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanned = finalPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    assert(scanned > 0 && scanned < allFiles,
      s"pruning ineffective: read $scanned of $allFiles files")
    spark.catalog.clearCache()
  }

  test("q238 backfill: dynamic overwrite rewrites only the revised " +
    "partition, all others' files are untouched") {
    val base = java.nio.file.Files.createTempDirectory("bkf_spec")
      .toString + "/t"
    val ev = Tables.table(spark, sf, "events")
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.partitionBy("dt").parquet(base)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(base))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    val before = files()
    ev.filter(col("dt") === "2024-01-10")
      .withColumn("value", col("value") * 2.0)
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("dt").parquet(base)
    val after = files()
    val (touchedB, untouchedB) = before.partition(_._1.contains("dt=2024-01-10"))
    val (touchedA, untouchedA) = after.partition(_._1.contains("dt=2024-01-10"))
    assert(untouchedA == untouchedB,
      "dynamic overwrite touched partitions outside the revised day")
    assert(touchedB.nonEmpty && touchedA.keySet != touchedB.keySet,
      "the revised partition was not rewritten")
    // and the corrected table equals a full recompute
    val cor = spark.read.parquet(base)
      .agg(Tables.dsum(col("value"))).collect()(0).getDouble(0)
    val exp = ev.withColumn("value",
        when(col("dt") === "2024-01-10", col("value") * 2.0)
          .otherwise(col("value")))
      .agg(Tables.dsum(col("value"))).collect()(0).getDouble(0)
    assert(cor == exp, s"backfilled $cor != recompute $exp")
    spark.catalog.clearCache()
  }

  test("q138 ADC search: well-formed rankings, recall above chance") {
    import spark.implicits._
    val rows = SparkEntry.queries("q138_pq_adc_search")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val approx = rows.groupBy(_._1)
      .map { case (q, xs) => q -> xs.sortBy(_._2) }
    // structural: 20 queries x ranks 1..10, scores non-increasing in
    // rank (the window's total order is real)
    assert(approx.size == 20)
    approx.values.foreach { xs =>
      assert(xs.map(_._2).toSeq == (1L to 10L))
      xs.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 >= b._4)
        case _ =>
      }
    }
    // recall floor: isotropic synthetic vectors are PQ's worst case
    // (4x16 dims -> 4 codes leaves ~2 vectors per code tuple, so
    // near-orthogonal "neighbors" tie massively) — the honest check is
    // BETTER THAN CHANCE against q30's exact top-5, not a high-recall
    // bar that only structured data could meet. Chance overlap of a
    // random 10-set with a 5-set over ~500 vectors is ~0.02.
    val exact = SparkEntry.queries("q30_cosine_topk")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    spark.catalog.clearCache()
    val recalls = exact.map { case (q, ex) =>
      approx.get(q).map(ap => (ex & ap.map(_._3).toSet).size.toDouble
        / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(recalls.size == 20 && mean > 0.04,
      s"ADC recall vs exact top-5 at chance level: $mean")
  }

  test("q116 pagerank: mass conserved, every node positive, order sane") {
    import spark.implicits._
    val pr = SparkEntry.queries("q116_pagerank")(spark, sf)
      .as[(String, Double)].collect()
    spark.catalog.clearCache()
    assert(pr.nonEmpty)
    // no dangling nodes in this graph (every event type that appears as
    // a source has outgoing weight 1), so total rank mass is conserved
    // across iterations up to IEEE rounding
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-9, pr.map(_._2).sum)
    assert(pr.forall(_._2 > 0.0)) // damping floor keeps every node > 0
  }

  test("q118 merkle diff flags exactly the buckets holding mutated rows") {
    import spark.implicits._
    val flagged = SparkEntry.queries("q118_merkle_diff")(spark, sf)
      .select("bucket").as[Long].collect().toSet
    val want = Tables.table(spark, sf, "orders")
      .filter(col("o_orderkey") % 997 === 0)
      .select((col("o_orderkey") % 64).as("b")).distinct()
      .as[Long].collect().toSet
    assert(flagged == want && flagged.nonEmpty)
  }

  test("q119 SCD2 intervals tile each user's history exactly") {
    import spark.implicits._
    val rows = SparkEntry.queries("q119_scd2_history")(spark, sf)
      .as[(Long, String, Option[String], String, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { h =>
      val sorted = h.sortBy(_._2)
      // exactly one open-ended current row per user, and it is the last
      assert(h.count(_._5) == 1 && sorted.last._5)
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._3.contains(b._2)) // valid_to == next valid_from
          assert(a._4 != b._4)        // consecutive repeats collapsed
        case _ =>
      }
    }
  }

  test("q71 z-value de-interleaves back to its inputs (bijective layout key)") {
    import spark.implicits._
    val rows = SparkEntry.queries("q71_zorder")(spark, sf)
      .select("xk", "yk", "zval").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (x, y, z) =>
      var (dx, dy) = (0L, 0L)
      (0 until 10).foreach { i =>
        dx |= ((z >> (2 * i)) & 1L) << i
        dy |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(dx == x && dy == y, s"z=$z decoded ($dx,$dy) != ($x,$y)")
    }
  }

  test("q71 z-order tiles bound both key ranges (the pruning property)") {
    // within one tile, each dimension spans at most 2^(ceil(14/2)) = 128
    // of its 1024-value range — a predicate on EITHER column prunes to
    // a fraction of tiles, which is the point of the layout
    import spark.implicits._
    val spans = SparkEntry.queries("q71_zorder")(spark, sf)
      .groupBy("tile")
      .agg((max("xk") - min("xk")).as("xs"), (max("yk") - min("yk")).as("ys"))
      .as[(Long, Long, Long)].collect()
    spans.foreach { case (t, xs, ys) =>
      assert(xs <= 127 && ys <= 127, s"tile $t spans x=$xs y=$ys")
    }
  }

  test("q72 percentile profile is ordered and within range per stratum") {
    val bad = SparkEntry.queries("q72_percentile_profile")(spark, sf)
      .filter(!(col("min_chars") <= col("p50_chars") &&
        col("p50_chars") <= col("p90_chars") &&
        col("p90_chars") <= col("p99_chars") &&
        col("p99_chars") <= col("max_chars")))
      .count()
    assert(bad == 0)
  }

  test("q68 dup coverage: verbatim duplicate docs reach coverage 1") {
    import spark.implicits._
    // synthetic corpus: doc 1 and 2 identical (coverage 1 for both),
    // doc 3 unique (coverage 0), doc 4 shares only its first 5 words
    // with doc 3's start — partial coverage strictly between
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "one two three four five SIX different tail words here")
    ).toDF("doc_id", "text")
    val g = graft.ops.DedupOps.gramRowsOf(docs, 5)
      .withColumn("h", md5(col("gram").cast("binary")))
    val dfreq = g.groupBy("h").agg(count(lit(1)).as("cnt"))
    val cov = g.join(dfreq, "h").groupBy("doc_id")
      .agg((count(when(col("cnt") >= 2, lit(1))).cast("double") /
        count(lit(1))).as("coverage"))
      .as[(Long, Double)].collect().toMap
    assert(cov(1L) == 1.0 && cov(2L) == 1.0)
    assert(cov(3L) > 0.0 && cov(3L) < 1.0) // shares its first shingle with 4
    assert(cov(4L) > 0.0 && cov(4L) < 1.0)
  }

  test("q69 block dedup drops later copies of a repeated block only") {
    import spark.implicits._
    val out = SparkEntry.queries("q69_block_dedup")(spark, sf)
    // global invariants on real data: kept blocks never exceed total,
    // every doc keeps at least one block unless ALL its blocks appeared
    // earlier; reconstruction digest of fully-kept docs matches the
    // direct text digest
    assert(out.filter(col("n_kept") > col("n_blocks")).count() == 0)
    assert(out.filter(col("n_blocks") === 0).count() == 0)
    // the corpus has near-duplicate docs (TESTDATA near-dup pairs), so
    // at least one block must have been deduped somewhere
    val dropped = out.agg(sum(col("n_blocks") - col("n_kept"))).head.getLong(0)
    assert(dropped > 0, "no block was ever deduplicated — detector dead?")
  }

  test("q73 int8 quantized top-5 overlaps exact top-5 (recall sanity)") {
    import spark.implicits._
    val exact = SparkEntry.queries("q30_cosine_topk")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = SparkEntry.queries("q73_int8_quant")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      (exact(q) intersect quant.getOrElse(q, Set.empty)).size.toDouble / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, f"mean quantized recall@5 = $mean%.2f")
  }

  test("q74 chunking covers every token and overlaps by len-stride") {
    import spark.implicits._
    val chunks = SparkEntry.queries("q74_chunk_overlap")(spark, sf)
      .select("doc_id", "chunk_idx", "start_tok", "n_tok")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(chunks.size == nDocs, "every document must chunk")
    chunks.values.foreach { cs =>
      val sorted = cs.sortBy(_._2)
      // stride spacing and window size
      sorted.foreach { case (_, idx, start, n) =>
        assert(start == idx * 24 + 1 && n >= 1 && n <= 32)
      }
      // coverage: next chunk starts inside the previous window (+1)
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, s1, n1), (_, _, s2, _)) => assert(s2 <= s1 + n1)
        case _ =>
      }
    }
  }

  test("q75 verdict is the conjunction of its rule flags") {
    import spark.implicits._
    val rows = SparkEntry.queries("q75_gopher_rules")(spark, sf)
      .select($"ok_count" + $"ok_len" + $"ok_stop", $"verdict",
        $"mean_word_len", $"ok_len")
      .as[(Long, String, Option[Double], Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nOk, verdict, mean, okLen) =>
      assert((verdict == "keep") == (nOk == 3))
      if (okLen == 1) {
        val m = mean.get
        assert(m >= 3.0 && m <= 10.0,
          s"ok_len row outside the mean-word-length bounds: $m")
      }
    }
    // both verdicts must actually occur on the fixture, or the gate
    // is vacuous
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq("drop", "keep"))
  }

  test("q76 emits contiguous ranks with non-increasing scores") {
    import spark.implicits._
    val byDoc = SparkEntry.queries("q76_tfidf_topterms")(spark, sf)
      .select("doc_id", "rank", "score")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, s1), (_, _, s2)) => assert(s1 >= s2)
        case _ =>
      }
    }
  }

  test("q77 postings are a sorted prefix of the term's documents") {
    import spark.implicits._
    val idx = SparkEntry.queries("q77_inverted_index")(spark, sf)
      .as[(String, Long, String)].collect()
    assert(idx.nonEmpty)
    // recompute the ground truth per term from the raw table
    val truth = Tables.table(spark, sf, "documents")
      .select($"doc_id", explode(array_distinct(
        expr("filter(split(text, '\\\\s+'), x -> length(x) > 0)"))).as("term"))
      .as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    idx.foreach { case (term, df, posts) =>
      val docs = truth(term)
      assert(df == docs.length, s"df mismatch for $term")
      val head = posts.split(",").map(_.toLong).toSeq
      assert(head == docs.take(8), s"postings head mismatch for $term")
    }
    // the window cap must bound every posting list
    assert(idx.forall(_._3.split(",").length <= 8))
  }

  test("q78 domain mix: quotas respect weights and never over-draw") {
    import spark.implicits._
    val rows = SparkEntry.queries("q78_domain_mix")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val avail = Tables.table(spark, sf, "documents")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    val bysrc = rows.groupBy(_._1)
    // every domain draws exactly its quota, and the quota is feasible
    bysrc.foreach { case (src, rs) =>
      val quota = rs.head._4
      assert(rs.map(_._4).distinct.length == 1)
      assert(rs.length == quota, s"$src drew ${rs.length} != quota $quota")
      assert(quota <= avail(src), s"$src over-drawn")
      assert(rs.map(_._2).sorted.toSeq == (1L to quota).toSeq)
    }
    // drawn counts are proportional to the configured weights: for any
    // two domains, |q_a/w_a - q_b/w_b| * W <= W (integer floors differ
    // by at most one T/W unit) — check via cross-multiplication
    def w(src: String) = 1L + src.stripPrefix("src").toLong % 4
    val qs = bysrc.view.mapValues(_.head._4).toMap
    for (a <- qs.keys; b <- qs.keys if a < b) {
      val (qa, wa, qb, wb) = (qs(a), w(a), qs(b), w(b))
      assert((qa * wb - qb * wa).abs <= wa * wb,
        s"mixture skew between $a ($qa/$wa) and $b ($qb/$wb)")
    }
  }

  test("q79 token budget: cut is tight and cumulative sums are exact") {
    import spark.implicits._
    val rows = SparkEntry.queries("q79_token_budget")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val total = rs.map(_._3).sum
      assert(total == rs.map(_._4).max, s"$src cum/total mismatch")
      assert(total <= 600L, s"$src exceeds budget: $total")
    }
  }

  test("q80 winnowing fingerprints detect a shared run (the theorem)") {
    import spark.implicits._
    // two docs sharing a >= w+k-1 = 6 word run MUST share a fingerprint
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "one two three alpha beta gamma delta epsilon zeta nine"),
      (3L, "completely different words with no overlap at all here")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("winnow_docs")
    val fp = graft.ops.TextOps.winnowFingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "shared 7-word run missed")
    assert((fp(1L) & fp(3L)).isEmpty, "false overlap")
    // the oracle query's checksum agrees with the library fingerprints
    val prof = SparkEntry.queries("q80_winnowing")(spark, sf)
      .select("doc_id", "n_fingerprints", "fp_sum")
      .as[(Long, Long, Long)].collect()
    assert(prof.nonEmpty)
    val lib = graft.ops.TextOps.winnowFingerprints(
      Tables.table(spark, sf, "documents").select($"doc_id", $"text"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    prof.filter(_._2 > 0).foreach { case (id, n, s) =>
      assert(lib(id).size == n && lib(id).sum == s, s"doc $id profile drift")
    }
  }

  test("q82 label centroids: full dim coverage, counts add up") {
    import spark.implicits._
    val rows = SparkEntry.queries("q82_label_centroid")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val total = Tables.table(spark, sf, "embeddings").count()
    val byLabel = rows.groupBy(_._1)
    // each label's n is its member count; every dim position appears once
    assert(byLabel.values.map(_.head._2).sum == total)
    byLabel.values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq == (0L until 64L).toSeq)
      assert(rs.map(_._2).distinct.length == 1)
    }
    // spot-check one component against an independent driver-side fold
    val (lbl, pos) = (byLabel.keys.min, 0L)
    val members = Tables.table(spark, sf, "embeddings")
      .filter(col("label") === lbl).orderBy(col("vec_id"))
      .select(col("embedding")).as[Seq[Float]].collect()
    val want = members.foldLeft(0.0)((a, v) => a + v(pos.toInt).toDouble) /
      members.length
    val got = rows.find(r => r._1 == lbl && r._3 == pos).get._4
    assert(got == want, s"label $lbl pos $pos: $got != $want")
  }

  test("q83 centroid outliers: worst-first contiguous ranks per label") {
    import spark.implicits._
    val rows = SparkEntry.queries("q83_centroid_outliers")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.length <= 3)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, _, c1), (_, _, _, c2)) => assert(c1 <= c2)
        case _ =>
      }
      // an outlier's cosine to its own label centroid is still a cosine
      rs.foreach { case (_, _, _, c) => assert(c >= -1.0001 && c <= 1.0001) }
    }
  }

  test("q81 cluster reps: at most 3 reps per cluster, best-first") {
    import spark.implicits._
    val rows = SparkEntry.queries("q81_cluster_reps")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.length <= 3)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, _, c1), (_, _, _, c2)) => assert(c1 >= c2)
        case _ =>
      }
    }
  }

  test("q84 funnel stages are ordered and monotone (stage k needs k-1)") {
    import spark.implicits._
    val rows = SparkEntry.queries("q84_funnel")(spark, sf)
      .as[(Long, Long, String, Option[String], Option[String])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, stage, fv, fc, fp) =>
      assert(stage >= 1 && stage <= 3)
      assert(fc.isDefined == (stage >= 2))
      assert(fp.isDefined == (stage == 3))
      // string timestamps compare chronologically (fixed-width format)
      fc.foreach(c => assert(c > fv))
      (fc, fp) match {
        case (Some(c), Some(p)) => assert(p > c)
        case _ =>
      }
    }
  }

  test("q85 retention: offset-0 cell covers every cohort member") {
    import spark.implicits._
    val rows = SparkEntry.queries("q85_retention")(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0)) // first activity is the cohort floor
    val day0 = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    // every user appears in their own cohort's day-0 cell, so summing
    // day-0 counts recovers the distinct-user total
    val users = Tables.table(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(day0.values.sum == users)
  }

  test("q86 hopping windows triple-count relative to q17's tumbling") {
    val hop = SparkEntry.queries("q86_hopping_window")(spark, sf)
      .agg(sum("n")).head.getLong(0)
    val events = Tables.table(spark, sf, "events").count()
    assert(hop == 3 * events) // 30min/10min => every event in 3 windows
  }

  test("q87 commonness is bounded by the corpus document count") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents").count().toDouble
    val rows = SparkEntry.queries("q87_commonness")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nTok, sumDf, c) =>
      assert(nTok > 0 && sumDf >= nTok) // df >= 1 per token
      assert(c >= 1.0 && c <= docs)
    }
  }

  test("KMV sketch: merge order never changes the state (associative)") {
    val agg = new graft.functions.KmvAgg(8)
    val hashes = (1 to 200).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"v$i".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString)
    // duplicates included: set semantics must hold
    val input = hashes ++ hashes.take(50)
    val whole = input.foldLeft(agg.zero)(agg.reduce)
    val expected = hashes.distinct.sorted.take(8)
    assert(whole.toSeq == expected)
    // arbitrary 3-way split, merged in both associations
    val (a, rest) = input.splitAt(57)
    val (b, c) = rest.splitAt(91)
    def fold(xs: Seq[String]) = xs.foldLeft(agg.zero)(agg.reduce)
    val m1 = agg.merge(agg.merge(fold(a), fold(b)), fold(c))
    val m2 = agg.merge(fold(a), agg.merge(fold(b), fold(c)))
    assert(m1.toSeq == expected && m2.toSeq == expected)
  }

  test("q89 RRF fusion: scores decompose into the rank addends") {
    import spark.implicits._
    val rows = SparkEntry.queries("q89_rrf_fusion")(spark, sf)
      .as[(Long, Long, Long, Option[Long], Option[Long], Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, rc, rq, rrf) =>
      assert(rc.isDefined || rq.isDefined) // came from at least one list
      val expect = rc.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rq.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(rrf == expect) // exact: same IEEE ops
    }
    rows.groupBy(_._1).values.foreach { qs =>
      val sorted = qs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._6 >= b._6) // rrf non-increasing
        case _ =>
      }
    }
  }

  test("q90 anomalies match a driver-side exact recompute") {
    import spark.implicits._
    val got = SparkEntry.queries("q90_anomaly")(spark, sf)
      .as[(String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 1e2) AS BIGINT)").as("cents"))
      .as[(String, Long, Long)].collect()
    val want = ev.groupBy(_._1).iterator.flatMap { case (t, rows) =>
      val n = BigInt(rows.length)
      val s1 = rows.map(r => BigInt(r._3)).sum
      val s2 = rows.map(r => BigInt(r._3) * r._3).sum
      rows.filter { r =>
        val d = n * r._3 - s1
        d * d > 9 * (n * s2 - s1 * s1)
      }.map(r => (t, r._2))
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q91 pivot round-trips through unpivot back to the long form") {
    val wide = SparkEntry.queries("q91_pivot")(spark, sf)
    val long = wide.unpivot(Array(col("user_id")),
      Array(col("n_click"), col("n_error"), col("n_purchase"),
        col("n_signup"), col("n_view")), "event_type", "n")
      .filter(col("n") > 0)
      .withColumn("event_type",
        expr("substring(event_type, 3)")) // strip the n_ prefix
    val direct = Tables.table(spark, sf, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    assert(long.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(long).count() == 0)
  }

  test("q92 CDC merge equals the from-scratch snapshot (tombstones drop)") {
    import spark.implicits._
    val got = SparkEntry.queries("q92_cdc_merge")(spark, sf)
      .as[(Long, String, String, Double)].collect().toSet
    // from-scratch: global latest row per user, tombstones dropped
    val log = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Double)].collect()
    val want = log.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      val last = rows.maxBy(_._2.getTime)
      if (last._3 == "error") None else Some(last)
    }.map { case (u, ts, t, v) =>
      val s = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      s.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      (u, s.format(ts) + f".${ts.getNanos / 1000}%06d", t, v)
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q93 attribution: channels legal, purchases all covered") {
    import spark.implicits._
    val rows = SparkEntry.queries("q93_attribution")(spark, sf)
      .as[(Long, Long, String, String)].collect()
    val purchases = Tables.table(spark, sf, "events")
      .filter(col("event_type") === "purchase").count()
    assert(rows.length == purchases) // attribution never drops a purchase
    assert(rows.forall(r => Set("click", "view", "direct")(r._3)))
    assert(rows.exists(_._3 != "direct")) // lookback actually fires
  }

  test("triangleCounts: 4-clique, chain, and isolated edge (exact)") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (4 triangles, each node in 3), a chain 5-6-7
    // (no closure, zero triangles), and an isolated edge 8-9
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (8L, 9L)).toDF("doc_a", "doc_b")
    val got = graft.ops.DedupOps.triangleCounts(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("q95 fuzzy join finds EVERY pair a brute-force sweep finds") {
    import spark.implicits._
    val got = SparkEntry.queries("q95_fuzzy_join")(spark, sf)
      .as[(String, String, Long)].collect().toSet
    val names = Tables.table(spark, sf, "part")
      .select("p_name").distinct().as[String].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(got == want) // blocking loses nothing (names are >= 6 chars)
    assert(got.nonEmpty)
  }

  test("fuzzyCandidates: tiered blocking is complete at EVERY length") {
    import spark.implicits._
    // lengths 0..7, engineered to hit every tier and tier boundary:
    // tiny pairs with NO shared character ("ab"/"cd"), short unigram
    // pairs, and cross-tier (5,6)/(5,7) pairs that only tier 1 covers
    val names = Seq("", "a", "b", "ab", "ba", "cd", "ce", "abc", "abd",
      "xyz", "abcd", "abde", "hello", "hallo", "help", "helps",
      "kitten", "sitting", "mitten", "bitten", "abcde", "abcdef",
      "abcdefg", "vwxyz")
    val cand = graft.ops.DedupOps.fuzzyCandidates(names.toDF("p_name"))
      .as[(String, String)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      a <- names; b <- names if a < b
      if lev(a, b) <= 2
    } yield (a, b)).toSet
    assert(truth.nonEmpty && (truth -- cand).isEmpty) // no pair lost
    assert(truth.contains(("ab", "cd")))     // the shared-char-free case
    assert(truth.contains(("abcde", "abcdefg"))) // cross-tier (5,7)
  }

  test("fuzzyCandidates: complete on a seeded random small-alphabet corpus") {
    import spark.implicits._
    // adversarial regime for blocking: 120 random strings over a
    // 3-letter alphabet, lengths 0..9 — dense with true near-matches
    // at every tier boundary. Seeded, so failures reproduce.
    val rnd = new scala.util.Random(20260814L)
    val names = Seq.fill(120)(
      Seq.fill(rnd.nextInt(10))("abc"(rnd.nextInt(3))).mkString).distinct
    val cand = graft.ops.DedupOps.fuzzyCandidates(names.toDF("p_name"))
      .as[(String, String)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      a <- names; b <- names if a < b
      if lev(a, b) <= 2
    } yield (a, b)).toSet
    assert(truth.size > 50, s"fixture too sparse: ${truth.size}")
    assert((truth -- cand).isEmpty,
      s"blocking lost ${(truth -- cand).size} true pairs: " +
        (truth -- cand).take(5))
  }

  test("fuzzyCandidates: corpus-wide hot bigram stays out of blocking") {
    import spark.implicits._
    // every name shares the hot bigram "zz"; suffix chars are
    // hash-derived so each name carries >= 5 rare bigrams. A naive
    // bigram join emits ALL n(n-1)/2 pairs through the zz bucket alone;
    // the rarest-5 prefix never selects zz (5 rarer grams always
    // exist), so candidate volume collapses to rare-gram collisions.
    val n = 400
    val md = java.security.MessageDigest.getInstance("MD5")
    val names = (0 until n).map { i =>
      val h = md.digest(s"hot$i".getBytes("UTF-8"))
      "zz" + h.take(8).map(b => ('a' + ((b & 0xff) % 24)).toChar).mkString
    }.distinct
    val allPairs = names.length.toLong * (names.length - 1) / 2
    val cand = graft.ops.DedupOps.fuzzyCandidates(names.toDF("p_name"))
    assert(cand.count() < allPairs / 4) // bounded, not quadratic
    // hotGramCap = 1 drops every gram from tier-1 blocking; with all
    // names long, the other tiers are empty -> zero candidates (the
    // documented recall trade of the cap, taken to its limit)
    val capped = graft.ops.DedupOps.fuzzyCandidates(
      names.toDF("p_name"), hotGramCap = Some(1L))
    assert(capped.count() == 0)
  }

  test("kmvEstimate: below-capacity groups return NULL kth and exact est") {
    import spark.implicits._
    // group "small" has 5 distinct hashes (< K=128): kh/kth_v must be
    // NULL (not an ANSI element_at crash) and est falls back to the
    // exact count; group "big" has 300 and exercises the sketch path
    val rows =
      (1 to 5).map(i => ("small", s"s$i")) ++
        (1 to 300).map(i => ("big", s"b$i"))
    val hashed = rows.toDF("grp", "v")
      .select(col("grp"), md5(col("v").cast("binary")).as("h"))
      .distinct()
    val out = graft.ops.SketchOps.kmvEstimate(hashed)
      .as[(String, Long, Long, Option[Long], Double)].collect()
      .map(r => r._1 -> r).toMap
    val small = out("small")
    assert(small._2 == 5 && small._3 == 5 && small._4.isEmpty)
    assert(small._5 == 5.0)
    val big = out("big")
    assert(big._2 == 300 && big._3 == 128 && big._4.isDefined)
    assert(big._5 > 150 && big._5 < 600) // estimator engaged, sane band
  }

  test("q96 grouping sets: margins and grand total are consistent") {
    import spark.implicits._
    val rows = SparkEntry.queries("q96_grouping_sets")(spark, sf)
      .as[(Long, String, Long, Double)].collect()
    val cells = rows.filter(r => r._1 >= 0 && r._2 != "ALL")
    val hodMargin = rows.filter(r => r._1 >= 0 && r._2 == "ALL")
    val typeMargin = rows.filter(r => r._1 < 0 && r._2 != "ALL")
    val grand = rows.filter(r => r._1 < 0 && r._2 == "ALL")
    assert(grand.length == 1)
    assert(cells.map(_._3).sum == grand.head._3)
    assert(hodMargin.map(_._3).sum == grand.head._3)
    assert(typeMargin.map(_._3).sum == grand.head._3)
    // each hod margin equals the sum of its cells
    cells.groupBy(_._1).foreach { case (h, cs) =>
      assert(hodMargin.find(_._1 == h).get._3 == cs.map(_._3).sum)
    }
  }

  test("q97 path mining: trigram mass equals sum of max(0, len-2)") {
    import spark.implicits._
    // fewer than 20 distinct paths exist at this sf, so the top-20 cut
    // keeps ALL trigrams and the total mass is checkable exactly
    val paths = SparkEntry.queries("q97_path_mining")(spark, sf)
      .as[(String, Long)].collect()
    assert(paths.nonEmpty && paths.length < 20)
    val evs = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
    val want = evs.groupBy(_._1).valuesIterator.map { rows =>
      val ts = rows.map(_._2.getTime).sorted // ms; 30-min gap
      var lens = List.empty[Int]
      var cur = 0
      var prev = Long.MinValue
      ts.foreach { t =>
        if (cur > 0 && t - prev >= 1800000L) { lens ::= cur; cur = 0 }
        cur += 1; prev = t
      }
      lens ::= cur
      lens.map(l => math.max(0, l - 2)).sum.toLong
    }.sum
    assert(paths.map(_._2).sum == want)
  }

  test("sessionization: a gap of exactly 30 minutes starts a new session, " +
    "one microsecond less does not") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def at(us: Long) = java.sql.Timestamp.from(t0.plusNanos(us * 1000L))
    val gap = 1800000000L // 30:00.000000 in µs
    val ev = Seq(
      (1L, at(0L)), (1L, at(gap)), // exactly 30 minutes apart
      (2L, at(0L)), (2L, at(gap - 1L))) // 29:59.999999 apart
      .toDF("user_id", "ts")
    val sess = graft.ops.EventOps.sessionize(ev)
      .select(col("user_id"), col("new_sess"), col("sid"))
      .as[(Long, Int, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3)).sorted.toSeq).toMap
    assert(sess(1L) == Seq((1, 1L), (1, 2L)))
    assert(sess(2L) == Seq((0, 1L), (1, 1L)))
  }

  test("q98 trained k-means: full assignment mass, full dim coverage") {
    import spark.implicits._
    val rows = SparkEntry.queries("q98_kmeans_train")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val corpus = Tables.table(spark, sf, "embeddings").count()
    val perCid = rows.groupBy(_._1).map { case (cid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until 64L)) // every dim
      assert(rs.map(_._2).distinct.length == 1) // one n per cluster
      cid -> rs.head._2
    }
    assert(perCid.values.sum == corpus) // every vector assigned once
    assert(perCid.keys.forall(c => c >= 0 && c < 8))
  }

  test("q101 exact median matches a driver-side sort per group") {
    import spark.implicits._
    val got = SparkEntry.queries("q101_exact_median")(spark, sf)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rows = Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 1e2) AS BIGINT)"))
      .as[(String, Long)].collect()
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      val sorted = rs.map(_._2).sorted
      val median = sorted((sorted.length + 1) / 2 - 1) // lower median
      assert(got(flag) == (sorted.length.toLong, median / 100.0))
    }
  }

  test("q102 integrity audit counts injected violations exactly") {
    import spark.implicits._
    // 3 keyed lineitem orphans + 1 null key (a NULL FK never matches, so
    // it counts as an orphan too — NOT EXISTS and left_anti agree);
    // 1 orphan order; one duplicated PK
    val li = Seq(Some(1L), Some(1L), Some(99L), Some(98L), Some(97L), None)
      .toDF("l_orderkey")
    val o = Seq((1L, 10L), (1L, 10L), (2L, 77L)).toDF("o_orderkey", "o_custkey")
    val c = Seq(10L).toDF("c_custkey")
    val got = graft.ops.Relational.integrityAudit(li, o, c)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "lineitem_orphan_orderkey" -> 4L,
      "orders_orphan_custkey" -> 1L,
      "orders_dup_orderkey" -> 1L,
      "lineitem_null_orderkey" -> 1L))
    // and the gated corpus is clean — zeros are the CORRECT answer there
    val corpus = SparkEntry.queries("q102_integrity_audit")(spark, sf)
      .as[(String, Long)].collect()
    assert(corpus.forall(_._2 == 0L))
  }

  test("q103 Markov rows are proper distributions per current state") {
    import spark.implicits._
    val rows = SparkEntry.queries("q103_markov_transitions")(spark, sf)
      .as[(String, String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).sum == rs.head._4) // counts sum to the row total
      assert(math.abs(rs.map(_._5).sum - 1.0) < 1e-9)
    }
  }

  test("q104 checksum is invariant under repartitioning and row order") {
    import spark.implicits._
    val base = SparkEntry.queries("q104_table_checksum")(spark, sf)
      .as[(Long, Long, Long)].head()
    // same fingerprint off a deliberately reshuffled, reordered scan
    val shuffled = Tables.table(spark, sf, "orders")
      .repartition(13, col("o_orderpriority"))
      .sortWithinPartitions(col("o_totalprice").desc)
      .withColumn("hx",
        md5(expr(graft.ops.Relational.chkSer).cast("binary")))
      .withColumn("hv", expr {
        val fold = (0 until 15).map { i =>
          val p = math.pow(16, 14 - i).toLong
          s"(instr('0123456789abcdef', substring(hx, ${1 + i}, 1)) - 1)" +
            s" * CAST($p AS BIGINT)"
        }.mkString("(", " + ", ")")
        s"CAST($fold AS BIGINT)"
      })
      .agg(count(lit(1)),
        expr("""CAST(SUM(CAST(hv AS DECIMAL(38,0)))
                % 2305843009213693951 AS BIGINT)"""),
        expr("CAST(bit_xor(hv) AS BIGINT)"))
      .as[(Long, Long, Long)].head()
    assert(shuffled == base)
  }

  test("q105 trailing WAU equals a brute-force window recount") {
    import spark.implicits._
    val got = SparkEntry.queries("q105_rolling_distinct")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val pairs = Tables.table(spark, sf, "events")
      .select(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long"), col("user_id"))
      .as[(Long, Long)].collect().distinct
    val maxDay = pairs.map(_._1).max
    val want = (0L to maxDay).map { d =>
      d -> pairs.filter(p => p._1 >= d - 6 && p._1 <= d)
        .map(_._2).distinct.length.toLong
    }.filter(_._2 > 0).toMap
    assert(got == want)
  }

  test("q151 shared spans: planted passages surface exactly, short runs filtered") {
    import spark.implicits._
    import graft.ops.DedupOps
    // doc 1 & 2 share a 20-token passage at different offsets; 3 & 4
    // share exactly 7 tokens (one below the 8-token floor — must NOT
    // report); 5 & 6 share TWO disjoint passages (10 and 12 tokens) in
    // swapped order. All filler tokens are unique, so the expected
    // span set is exact.
    val p20 = (1 to 20).map(i => s"s$i").mkString(" ")
    val p7 = (1 to 7).map(i => s"q$i").mkString(" ")
    val u10 = (1 to 10).map(i => s"u$i").mkString(" ")
    val v12 = (1 to 12).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      1L -> s"a1 a2 a3 $p20 a4 a5",
      2L -> s"b1 $p20 b2 b3 b4",
      3L -> s"c1 c2 $p7 c3 c4",
      4L -> s"$p7 d1 d2 d3",
      5L -> s"e1 $u10 e2 e3 $v12 e4",
      6L -> s"$v12 f1 f2 $u10").toDF("doc_id", "text")
    val got = DedupOps.sharedSpans(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(got == Set(
      (1L, 2L, 3L, 1L, 20L),   // the 20-token passage, offsets 3 vs 1
      (5L, 6L, 1L, 14L, 10L),  // u-block: doc5 pos 1, doc6 pos 14
      (5L, 6L, 13L, 0L, 12L)), // v-block: doc5 pos 13, doc6 pos 0
      got.toString)
    // the 7-token run IS found when the floor allows it — proves the
    // filter (not the blocking) removed it above
    val loose = DedupOps.sharedSpans(docs, minSpanTokens = 7)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(loose.contains((3L, 4L, 2L, 0L, 7L)), loose.toString)
    // the scrub applies keep-first: lower-id docs keep their passage
    // verbatim, higher-id docs lose exactly the covered tokens (doc 6
    // loses BOTH planted blocks), and the below-floor 7-token share
    // survives in doc 4
    val scrub = DedupOps.scrubSharedSpans(docs)
      .select("doc_id", "n_tokens", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    spark.catalog.clearCache()
    assert(scrub(1L)._3 == 0L && scrub(3L)._3 == 0L && scrub(5L)._3 == 0L)
    assert(scrub(4L)._3 == 0L, scrub(4L).toString) // below the floor
    assert(scrub(2L) == (2L, 24L, 20L, "b1 b2 b3 b4"), scrub(2L).toString)
    assert(scrub(6L)._3 == 22L && scrub(6L)._4 == "f1 f2",
      scrub(6L).toString)
  }

  test("q207/q208 count-min: shard-merge == corpus sketch, estimates " +
    "never undercount and sit inside the CM error band") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def wc(d: org.apache.spark.sql.DataFrame) = d
      .select(explode(expr(
        "filter(split(text, '\\\\s+'), x -> length(x) > 0)")).as("w"))
      .select(lower(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // (1) mergeability: per-shard cell tables summed cell-wise must
    // equal the whole-corpus sketch — the invariant that lets each
    // partition keep its own 256 cells
    val whole = ops.SketchOps.countMinCells(wc(docs))
      .as[(Long, Long, Long)].collect().toSet
    val merged = (0 until 4)
      .map(i => ops.SketchOps.countMinCells(
        wc(docs.filter(col("doc_id") % 4 === i))))
      .reduce(_ unionByName _)
      .groupBy(col("r"), col("col")).agg(sum(col("cnt")).as("cnt"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged == whole,
      s"merge diverged: ${(merged diff whole).take(3)}")
    // (2) error band vs exact q66 counts: est >= n always (CM never
    // undercounts), overshoot bounded by the row-collision mass
    // (<= total token count — n, and in expectation total/W; assert a
    // generous deterministic 4*total/W)
    val rows = SparkEntry.queries("q208_countmin_est")(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val total = wc(docs).agg(sum(col("n"))).collect()(0).getLong(0)
    rows.foreach { case (word, n, est) =>
      assert(est >= n, s"$word: CM undercounted ($est < $n)")
      assert(est - n <= 4 * total / 64,
        s"$word: overshoot ${est - n} past the 4N/W band")
    }
  }

  test("q152 quantile sketch: merge-invariant, estimates inside the error band") {
    import spark.implicits._
    import graft.ops.SketchOps
    val events = Tables.table(spark, sf, "events")
    // (1) merge invariance (the q99 pattern): sketches of two disjoint
    // halves merged == the sketch of the whole table, row-for-row
    def half(pred: org.apache.spark.sql.Column) =
      SketchOps.quantileSketch(events.filter(pred), "event_id", "value",
        salt = "qtest")
    val whole = SketchOps.quantileSketch(events, "event_id", "value",
      salt = "qtest").collect().toSet
    val merged = SketchOps.mergeQuantileSketches(Seq(
      half(col("event_id") % 2 === 0), half(col("event_id") % 2 === 1)))
      .collect().toSet
    assert(merged == whole, s"merge diverged: ${(merged -- whole).take(3)}")
    // (2) error band vs the exact distribution: each estimate's true
    // CDF position must sit within ~4 sigma of its target quantile
    // (sigma = sqrt(p(1-p)/k) for a k-row uniform sample; k = 128 ->
    // sigma ~ 0.044 at the median). Chance-level placement would blow
    // this immediately; a correct sampler passes deterministically.
    val ests = SketchOps.sketchQuantiles(
      SketchOps.quantileSketch(events, "event_id", "value", salt = "qtest"))
      .select("p", "est").as[(Double, Double)].collect()
    assert(ests.length == 4, ests.mkString(","))
    val n = events.count().toDouble
    ests.foreach { case (p, est) =>
      val cdf = events.filter(col("value") <= est).count() / n
      val sigma = math.sqrt(p * (1 - p) / 128.0)
      assert(math.abs(cdf - p) <= 4 * sigma,
        f"quantile $p: est $est sits at cdf $cdf%.3f (band ±${4 * sigma}%.3f)")
    }
  }

  test("q107 containment join finds EVERY pair brute force finds") {
    import spark.implicits._
    val got = SparkEntry.queries("q107_containment_join")(spark, sf)
      .select("doc_small", "doc_large", "n_inter")
      .as[(Long, Long, Long)].collect().toSet
    val words = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), expr(
        "filter(split(text, '\\\\s+'), x -> length(x) > 0)"))
      .as[(Long, Seq[String])].collect()
    val gsets = words.map { case (id, ws) =>
      id -> ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val want = (for {
      (ia, ga) <- gsets; (ib, gb) <- gsets
      if ga.size < gb.size || (ga.size == gb.size && ia < ib)
      inter = ga.intersect(gb).size
      if 4 * inter >= 3 * ga.size
    } yield (ia, ib, inter.toLong)).toSet
    assert(got == want) // one-sided prefix blocking loses nothing
    assert(got.nonEmpty)
  }

  test("q106 lift decomposes into its exact count factors") {
    import spark.implicits._
    val rows = SparkEntry.queries("q106_collocations")(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val nTok = Tables.table(spark, sf, "documents")
      .select(expr("CAST(size(filter(split(text, '\\\\s+'), " +
        "x -> length(x) > 0)) AS BIGINT)").as("n"))
      .agg(sum("n")).head.getLong(0)
    rows.foreach { case (_, _, cxy, cx, cy, lift) =>
      assert(cxy >= 5 && cx >= cxy && cy >= cxy)
      assert(lift == (nTok * cxy).toDouble / (cx * cy).toDouble)
    }
    // descending by lift with the pinned tie-break
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a._6 > b._6 ||
        (a._6 == b._6 && (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2))))
      case _ =>
    }
  }

  test("q108 WoW deltas reconcile against the weekly totals") {
    import spark.implicits._
    val rows = SparkEntry.queries("q108_week_over_week")(spark, sf)
      .as[(String, Long, Long, Double, Option[Long], Option[Double])]
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { rs =>
      val byWk = rs.sortBy(_._2).toSeq
      assert(byWk.head._5.isEmpty) // first week has no prior
      byWk.sliding(2).foreach {
        case Seq(prev, cur) =>
          val prevCents = math.round(prev._4 * 100)
          val curCents = math.round(cur._4 * 100)
          assert(cur._5.contains(curCents - prevCents))
        case _ =>
      }
    }
  }

  test("q110 log2 bins bound their members and shares sum to 1") {
    import spark.implicits._
    val rows = SparkEntry.queries("q110_log2_histogram")(spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, bin, lo, hi, _, _) =>
      assert(lo == (1L << bin) && hi == (1L << (bin + 1)) - 1)
    }
    rows.groupBy(_._1).values.foreach { rs =>
      assert(math.abs(rs.map(_._6).sum - 1.0) < 1e-9)
    }
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("n_chars") > 0).count()
    assert(rows.map(_._5).sum == docs) // every doc in exactly one bin
  }

  test("q88 KMV estimate is within the k=128 theoretical error band") {
    import spark.implicits._
    val rows = SparkEntry.queries("q88_kmv_distinct")(spark, sf)
      .as[(String, Long, Long, Option[Long], Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, exact, seen, kth, est) =>
      if (seen < 128) { // sketch below capacity IS exact
        assert(kth.isEmpty && est == exact.toDouble)
      } else {
        // KMV relative std error is ~1/sqrt(k-2) ≈ 8.9%; allow 5 sigma
        assert(math.abs(est - exact) / exact < 0.45,
          s"est $est vs exact $exact")
      }
    }
  }

  test("q167 HLL: shard-merge == whole-corpus registers, estimate sane") {
    // the invariant that makes the sketch storable per partition:
    // max-merge of disjoint shard registers equals the union's registers
    val base = Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), (col("l_orderkey") % 4).as("shard"),
        md5(concat(lit("hll:"), col("l_partkey")).cast("binary")).as("h"))
      .select(col("l_returnflag"), col("shard"),
        expr("CAST(conv(substring(h, 1, 2), 16, 10) % 64 AS BIGINT)")
          .as("b"),
        expr("CAST(conv(substring(h, 3, 15), 16, 10) AS BIGINT)").as("w"))
      .withColumn("rho", when(col("w") === 0, lit(61L))
        .otherwise(expr("CAST(61 - length(bin(w)) AS BIGINT)")))
    val whole = base.groupBy(col("l_returnflag"), col("b"))
      .agg(max(col("rho")).as("register"))
    val merged = base.groupBy(col("l_returnflag"), col("shard"), col("b"))
      .agg(max(col("rho")).as("r"))
      .groupBy(col("l_returnflag"), col("b"))
      .agg(max(col("r")).as("register"))
    assert(merged.except(whole).count() == 0 &&
      whole.except(merged).count() == 0)
    // the gated query's non-empty registers match the direct computation
    val q = SparkEntry.queries("q167_hll_registers")(spark, sf)
    assert(q.filter(col("register") > 0)
      .select(col("l_returnflag"), col("b"), col("register"))
      .except(whole.filter(col("register") > 0)).count() == 0)
    // raw HLL estimate within a generous band (m=64 → ~13% rse; no
    // small-range correction by design, so allow wide)
    q.select(col("n_exact"), col("est")).distinct().collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getLong(0)) / r.getLong(0) < 0.5)
    }
  }

  test("q169 weighted sample: equals brute-force A-ES min-draw ranking") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val expect = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map { r =>
        val id = r.getLong(0)
        val w = math.max(1L, math.min(8L, r.getLong(2) / 256))
        val key = (1L to w).map(j => md5hex(s"wsample:$id:$j")).min
        (id, r.getString(1), w, key)
      }.sortBy(t => (t._4, t._1)).take(30).toSeq
    val got = SparkEntry.queries("q169_weighted_sample")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == expect)
  }

  test("q168 covariance: 36 upper-triangle cells, exact unit diagonal") {
    val rows = SparkEntry.queries("q168_embedding_covariance")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows.size == 36 &&
      rows.keySet == (for (i <- 0L to 7L; j <- i to 7L) yield (i, j)).toSet)
    (0L to 7L).foreach { i =>
      val (cov, corr) = rows((i, i))
      assert(cov > 0 && corr == 1.0) // num/sqrt(num·num) is exactly 1
    }
    rows.values.foreach { case (_, corr) =>
      assert(corr >= -1.0 && corr <= 1.0)
    }
  }

  test("q171 vocab coverage: monotone in k, bounded by 1") {
    val rows = SparkEntry.queries("q171_vocab_coverage")(spark, sf)
      .orderBy(col("k")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 100L, 1000L))
    val cov = rows.map(_.getDouble(4))
    assert(cov.sameElements(cov.sorted) && cov.forall(c => c > 0 && c <= 1))
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(1) <= r.getLong(0))
    }
  }

  test("q173 curriculum: 10 deciles, cumulative budget strictly increases") {
    val rows = SparkEntry.queries("q173_curriculum_schedule")(spark, sf)
      .orderBy(col("decile")).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val cum = rows.map(_.getLong(5))
    assert(cum.zip(cum.tail).forall { case (a, b) => b > a })
    assert(cum.last == rows.map(_.getLong(2)).sum)
    // deciles are ordered by difficulty: min_chars nondecreasing
    val mins = rows.map(_.getLong(3))
    assert(mins.zip(mins.tail).forall { case (a, b) => b >= a })
  }

  test("q172 minhash error audit: estimates and exacts in [0,1], " +
    "error column consistent") {
    val rows = SparkEntry.queries("q172_minhash_error")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nm, jEst, jEx, err) =
        (r.getLong(2), r.getDouble(3), r.getDouble(5), r.getDouble(6))
      assert(nm >= 0 && nm <= 12)
      assert(jEst >= 0 && jEst <= 1 && jEx >= 0 && jEx <= 1)
      assert(err == math.abs(jEst - jEx))
    }
  }

  test("q174 cluster agreement: metric bounds hold on the real assignment") {
    val r = SparkEntry.queries("q174_cluster_agreement")(spark, sf)
      .collect().head
    val (n, purity, rand, ari) =
      (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(n > 0 && purity > 0 && purity <= 1)
    assert(rand >= 0 && rand <= 1 && ari <= 1.0)
  }

  test("q176 compaction plan: contiguous bins, mass preserved, " +
    "non-final bins close at the target boundary") {
    val target = 4096L
    val rows = SparkEntry.queries("q176_compaction_plan")(spark, sf)
      .collect()
      .groupBy(_.getString(0)).toSeq
    val totalBytes = Tables.table(spark, sf, "documents")
      .agg(sum(col("n_chars"))).collect().head.getLong(0)
    assert(rows.map(_._2.map(_.getLong(3)).sum).sum == totalBytes)
    rows.foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getLong(1))
      // bins numbered contiguously from 0, doc ranges ordered
      assert(sorted.map(_.getLong(1)).toSeq ==
        (0L until sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4))
        case _ =>
      }
      // every non-final bin closed because it crossed its boundary
      var cum = 0L
      sorted.dropRight(1).foreach { b =>
        cum += b.getLong(3)
        assert(cum >= (b.getLong(1) + 1) * target)
      }
    }
  }

  test("q178 simhash sweep: cumulative, monotone, t=6 equals q29") {
    val sweep = SparkEntry.queries("q178_simhash_sweep")(spark, sf)
      .orderBy(col("t")).collect()
    assert(sweep.map(_.getLong(0)).toSeq == (0L to 6L))
    val counts = sweep.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => b >= a })
    val q29n = SparkEntry.queries("q29_simhash_pairs")(spark, sf).count()
    assert(counts.last == q29n)
    // EMPTY pair set (all-distinct corpus): the 7-row t domain must
    // survive with n_pairs = 0 — the oracle's LEFT JOIN ... ON true
    // shape, which a crossJoin would collapse to zero rows
    val empty = spark.range(0).select(col("id").as("hamming"),
      col("id").as("n"))
    val zeros = ops.DedupOps.hammingSweep(spark, empty)
      .orderBy(col("t")).collect()
    assert(zeros.map(_.getLong(0)).toSeq == (0L to 6L))
    assert(zeros.forall(_.getLong(1) == 0L))
  }

  test("q179 epoch shuffle: reproducible, epochs decorrelate") {
    val a = SparkEntry.queries("q179_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = SparkEntry.queries("q179_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b) // rerun-stable
    val byEpoch = a.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    assert(byEpoch.keySet == Set(0L, 1L, 2L) &&
      byEpoch.values.forall(_.length == 5))
    assert(byEpoch.values.toSeq.distinct.length > 1) // orders differ
  }

  test("q209 band sweep: nested along divisor chains, B=12 dominates, " +
    "truth total fixed") {
    import spark.implicits._
    val rows = SparkEntry.queries("q209_band_sweep")(spark, sf)
      .select("b", "r", "n_cand", "n_truth", "n_found", "recall")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(rows.keySet == Set(2L, 3L, 4L, 6L, 12L))
    assert(rows.values.map(_._4).toSet.size == 1) // one truth total
    rows.values.foreach { r =>
      assert(r._2 == 12 / r._1)
      assert(r._5 <= r._4 && r._5 <= r._3) // found <= truth, <= cand
      assert(r._6 >= 0.0 && r._6 <= 1.0)
    }
    // a match on an aligned R-band implies a match on some aligned
    // R'-band it contains, so candidates nest along divisor chains
    // (2->4->12 and 3->6->12) — recall and volume must be monotone
    // there; B=3 vs B=4 is deliberately NOT comparable (bands of 4 and
    // 3 don't align within K=12)
    for (chain <- Seq(Seq(2L, 4L, 12L), Seq(3L, 6L, 12L)))
      chain.sliding(2).foreach { case Seq(lo, hi) =>
        assert(rows(lo)._3 <= rows(hi)._3,
          s"volume not monotone $lo->$hi")
        assert(rows(lo)._5 <= rows(hi)._5,
          s"recall not monotone $lo->$hi")
      }
    assert(rows.values.forall(_._3 <= rows(12L)._3)) // B=12 max volume
    assert(rows.values.forall(_._5 <= rows(12L)._5)) // B=12 max recall
  }

  test("q177 blocking audit: budgets bounded by all-pairs, blocks sane") {
    val n = Tables.table(spark, sf, "part").count()
    val rows = SparkEntry.queries("q177_blocking_audit")(spark, sf)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (blocks, mx, budget, red) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(blocks >= 1 && mx <= n && budget <= n * (n - 1) / 2)
      assert(red > 0 && red <= 1)
    }
  }

  test("q181 power iteration: unit ∞-norm loading, positive dominant " +
    "eigenvalue, small residual") {
    val rows = SparkEntry.queries("q181_power_iteration")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length == 8)
    val lambda = rows.head._3
    assert(lambda > 0) // covariance is PSD; dominant eigenvalue > 0
    assert(math.abs(rows.map(r => math.abs(r._2)).max - 1.0) < 1e-12)
    // residual check: ‖Mv − λv‖∞ small relative to λ (3 iterations)
    val v = rows.sortBy(_._1).map(_._2)
    val cov = SparkEntry.queries("q168_embedding_covariance")(spark, sf)
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt),
        r.getDouble(2))).toMap
    def m(i: Int, j: Int) = cov.getOrElse((i min j, i max j), 0.0)
    val mv = (0 until 8).map(i => (0 until 8).map(j => m(i, j) * v(j)).sum)
    val resid = (0 until 8).map(i => math.abs(mv(i) - lambda * v(i))).max
    assert(resid < 0.2 * lambda, s"residual $resid vs lambda $lambda")
  }

  test("q180 compress proxy: ratios in (0,1], flags consistent") {
    val rows = SparkEntry.queries("q180_compress_proxy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (docs, rep, d, t, ratio) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(rep <= docs && d <= t && ratio > 0 && ratio <= 1)
      assert(ratio == d.toDouble / t.toDouble)
    }
  }

  test("q183 k-core: degrees match surviving edge set, peel is at " +
    "fixpoint on this fixture") {
    val out = SparkEntry.queries("q183_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    // recompute: support>=2 edges, 3 peels at k=2 (brute force)
    val lines = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val allPairs = lines.groupBy(_._1).values.toSeq.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }
    // .iterator is load-bearing: Map.collect yielding tuples would
    // rebuild a Map keyed on edge._1 and silently collapse edges
    var edges = allPairs.groupBy(identity).iterator
      .collect { case (e, os) if os.size >= 2 => e }.toSet
    def peel(es: Set[(Long, Long)]): Set[(Long, Long)] = {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.collect { case (n, d) if d >= 2 => n }.toSet
      es.filter(e => keep(e._1) && keep(e._2))
    }
    val e3 = peel(peel(peel(edges)))
    val expect = e3.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out == expect)
    assert(peel(e3) == e3) // converged on this fixture — a 4th round
                           // would change nothing
  }

  test("q184 lateness audit: counts consistent, skew matches brute force") {
    val rows = SparkEntry.queries("q184_lateness_audit")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) == r.getLong(2).toDouble / r.getLong(1))
    }
    // brute-force one event type
    val tpe = rows.head.getString(0)
    val evs = Tables.table(spark, sf, "events")
      .filter(col("event_type") === tpe)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy(col("event_id")).collect().map(_.getLong(1))
    var mx = Long.MinValue; var late = 0L; var maxSkew = 0L
    evs.foreach { us =>
      if (mx > us) { late += 1; maxSkew = math.max(maxSkew, mx - us) }
      mx = math.max(mx, us)
    }
    val row = rows.find(_.getString(0) == tpe).get
    assert(row.getLong(2) == late && row.getLong(4) == maxSkew)
  }

  test("q185 sentence stats: bounds hold, run-on flags within doc counts") {
    val rows = SparkEntry.queries("q185_sentence_stats")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) >= r.getLong(1))
      assert(r.getDouble(3) > 0 && r.getLong(4) >= 1)
      assert(r.getLong(5) <= r.getLong(1))
    }
  }

  test("q186 matryoshka recall: 20 queries, recall consistent and bounded") {
    val rows = SparkEntry.queries("q186_matryoshka_recall")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (n, rec) = (r.getLong(1), r.getDouble(2))
      assert(n >= 0 && n <= 10 && rec == n.toDouble / 10.0)
    }
    // prefix ranking carries signal: mean recall beats random-overlap
    val mean = rows.map(_.getLong(1)).sum.toDouble / (10 * rows.length)
    assert(mean > 0.05, s"mean prefix recall $mean")
  }

  test("q212 semdedup: kept set has no internal near-pair, every pruned " +
    "vector has a smaller-id same-cluster twin above tau") {
    val out = SparkEntry.queries("q212_semdedup")(spark, sf).collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getString(2)))).toMap
    val emb = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.keySet == emb.keySet, "verdict set != corpus")
    assert(out.valuesIterator.map(_._2).toSet.subsetOf(Set("keep", "prune")))
    def cos(a: Array[Double], b: Array[Double]) = {
      def nrm(v: Array[Double]) = {
        val ss = v.map(x => x * x).sum
        if (ss == 0.0) 1.0 else math.sqrt(ss)
      }
      a.zip(b).map { case (x, y) => x * y }.sum / (nrm(a) * nrm(b))
    }
    val ids = out.keys.toSeq.sorted
    val tau = 0.4
    for (i <- ids; j <- ids if i < j) {
      val ((ci, vi), (cj, vj)) = (out(i), out(j))
      if (ci == cj) {
        val c = cos(emb(i), emb(j))
        // maximality: two kept same-cluster vectors are never near-twins
        assert(!(vi == "keep" && vj == "keep" && c > tau),
          s"kept pair $i/$j cos=$c")
      }
    }
    // soundness: every pruned id has SOME earlier same-cluster twin
    for (j <- ids if out(j)._2 == "prune") {
      val cj = out(j)._1
      assert(ids.exists(i => i < j && out(i)._1 == cj
        && cos(emb(i), emb(j)) > tau), s"pruned $j has no earlier twin")
    }
    // the prune rule fires on this corpus (non-vacuous gate)
    assert(out.valuesIterator.count(_._2 == "prune") > 0)
  }

  test("q182 PRF expansion: 5 terms, none from the query band") {
    val out = SparkEntry.queries("q182_prf_expansion")(spark, sf)
      .collect()
    assert(out.length == 5 && out.forall(_.getLong(1) > 0))
    // recompute the query-term band (df rank 10..14) and assert disjoint
    val words = Tables.table(spark, sf, "documents")
      .select(explode(expr(
        "filter(split(text, '\\\\s+'), x -> length(x) > 0)")).as("t"))
      .groupBy(col("t")).agg(countDistinct(lit(1)))
    val dfTab = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), explode(expr(
        "filter(split(text, '\\\\s+'), x -> length(x) > 0)")).as("t"))
      .distinct().groupBy(col("t")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("t").asc).collect()
    val band = dfTab.slice(9, 14).map(_.getString(0)).toSet
    val stop = dfTab.take(5).map(_.getString(0)).toSet
    out.foreach { r =>
      assert(!band(r.getString(0)) && !stop(r.getString(0)))
    }
  }

  test("q187 maxsim: 5 ranked hits per query, scores bounded by slice " +
    "count") {
    val rows = SparkEntry.queries("q187_maxsim_retrieval")(spark, sf)
      .collect().groupBy(_.getLong(0))
    assert(rows.size == 20)
    rows.values.foreach { hits =>
      val sorted = hits.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 5L))
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(v => v <= 4.0 + 1e-9 && v >= -4.0 - 1e-9))
    }
  }

  test("q189 Theil-Sen: matches brute-force pairwise-slope median") {
    val rows = SparkEntry.queries("q189_theil_sen")(spark, sf).collect()
    assert(rows.nonEmpty)
    val tpe = rows.head.getString(0)
    val daily = Tables.table(spark, sf, "events")
      .filter(col("event_type") === tpe)
      .select(expr("""CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')
        AS BIGINT)""").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val slopes = (for {
      i <- daily.indices; j <- daily.indices
      if daily(i)._1 < daily(j)._1
    } yield (daily(j)._2 - daily(i)._2).toDouble /
        (daily(j)._1 - daily(i)._1)).sorted
    val n = slopes.length
    val med = (slopes((n - 1) / 2) + slopes(n / 2)) / 2
    val row = rows.find(_.getString(0) == tpe).get
    assert(row.getLong(1) == daily.length && row.getLong(2) == n)
    assert(math.abs(row.getDouble(3) - med) < 1e-12,
      s"${row.getDouble(3)} vs $med")
  }

  test("q188 winsorized mean: bounded between clips, pulls toward " +
    "center vs raw mean extremes") {
    val rows = SparkEntry.queries("q188_winsorized_mean")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi, wm) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi && wm >= lo && wm <= hi)
    }
  }

  test("q190 dataset card: one row, internally consistent ratios") {
    val r = SparkEntry.queries("q190_dataset_card")(spark, sf)
      .collect().head
    val (nDocs, chars, meanChars) =
      (r.getLong(0), r.getLong(3), r.getDouble(4))
    assert(nDocs > 0 && meanChars == chars.toDouble / nDocs)
    assert(r.getDouble(7) >= 0 && r.getDouble(7) < 1) // dup_rate
    val share = r.getDouble(9)
    assert(share > 0 && share <= 1 &&
      share >= 1.0 / math.max(1L, r.getLong(2))) // top lang ≥ uniform
  }

  test("q191 MRR: rr consistent with rank, agrees with q186 overlap " +
    "direction") {
    val rows = SparkEntry.queries("q191_mrr_eval")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val rank = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val rr = r.getDouble(3)
      rank match {
        case Some(k) => assert(k >= 1 && k <= 10 && rr == 1.0 / k)
        case None => assert(rr == 0.0)
      }
    }
  }

  test("q192 Spearman: 20 queries, rho in [-1,1] consistent with d2") {
    val rows = SparkEntry.queries("q192_spearman_eval")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (n, d2, rho) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(rho >= -1.0 && rho <= 1.0)
      assert(rho == 1.0 - 6.0 * d2 / (n.toDouble * n * n - n))
    }
  }

  test("q193 lift rules: metrics consistent with exact supports") {
    val n = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey")).distinct().count()
    val rows = SparkEntry.queries("q193_lift_rules")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (sab, sa, sb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sab >= 2 && sab <= math.min(sa, sb))
      assert(r.getDouble(5) == sab.toDouble / sa)
      assert(r.getDouble(6) == sab.toDouble * n / (sa.toDouble * sb))
    }
  }

  test("q194 langid confusion: shares sum to 1 per true class, counts " +
    "match q22") {
    val rows = SparkEntry.queries("q194_langid_confusion")(spark, sf)
      .collect()
    val n22 = SparkEntry.queries("q22_lang_id")(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == n22)
    rows.groupBy(_.getString(0)).values.foreach { cells =>
      assert(math.abs(cells.map(_.getDouble(4)).sum - 1.0) < 1e-12)
      assert(cells.map(_.getLong(2)).sum == cells.head.getLong(3))
    }
  }

  test("q195 LSH recall audit: truth equals q50, found implies q27 " +
    "membership") {
    val rows = SparkEntry.queries("q195_lsh_recall_audit")(spark, sf)
      .collect()
    val truth = SparkEntry.queries("q50_ngram_jaccard")(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q27_minhash_lsh")(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == truth)
    rows.foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(3) == lsh(pair))
      assert(r.getLong(5) <= r.getLong(4))
    }
  }

  test("q196 dow profile: 7-value weekday domain, shares sum to 1, " +
    "peak is the max cell") {
    val rows = SparkEntry.queries("q196_dow_profile")(spark, sf).collect()
    rows.groupBy(_.getString(0)).values.foreach { cells =>
      assert(cells.forall(c => c.getLong(1) >= 0 && c.getLong(1) <= 6))
      assert(math.abs(cells.map(_.getDouble(4)).sum - 1.0) < 1e-12)
      val best = cells.maxBy(c => (c.getLong(2), -c.getLong(1)))
      assert(cells.head.getLong(5) == best.getLong(1))
    }
  }

  test("q197 Poisson bootstrap: CI brackets the point mean, rerun-stable") {
    val a = SparkEntry.queries("q197_poisson_bootstrap")(spark, sf)
      .collect().sortBy(_.getString(0))
    val b = SparkEntry.queries("q197_poisson_bootstrap")(spark, sf)
      .collect().sortBy(_.getString(0))
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.foreach { r =>
      val (mean, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi)
      // a 94%-ish CI of the mean should bracket the point estimate on
      // thousands of rows
      assert(mean >= lo && mean <= hi, s"$mean not in [$lo, $hi]")
    }
  }

  test("q197 small-group NULL path: singleton type still yields a " +
    "non-null degenerate CI (n_eff=0 replicates dropped pre-rank)") {
    import spark.implicits._
    // a 1-row event type draws Poisson weight 0 on ~12 of its 32 hex
    // digits, so ~12 replicate means are NULL. Ranking over those NULLs
    // (Spark NULLS FIRST vs DuckDB NULLS LAST) is the divergence the
    // fix removes: survivors' means all equal the row's value, so both
    // CI ends must be exactly that value, never NULL.
    val dir = java.nio.file.Files.createTempDirectory("q197nulls").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (("solo", 1L, 5.0) +:
      (0 until 200).map(i => ("big", 100L + i, i.toDouble)))
    rows.map { case (t, id, v) => (id, ts, id, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q197_poisson_bootstrap")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val solo = out("solo")
    assert(!solo.isNullAt(3) && !solo.isNullAt(4),
      s"singleton CI must not be NULL: $solo")
    assert(solo.getDouble(3) == 5.0 && solo.getDouble(4) == 5.0)
    val big = out("big")
    assert(big.getDouble(3) <= big.getDouble(2) &&
      big.getDouble(2) <= big.getDouble(4))
  }

  test("q198 TV drift: bounded in [0,1], below the disjoint-support " +
    "extreme") {
    val rows = SparkEntry.queries("q198_tv_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getDouble(4)
      assert(tv >= 0.0 && tv <= 1.0)
    }
    // even/odd halves of one stream never have fully disjoint support
    // (TV = 1); at sf0.001 per-type samples are tiny so individual TVs
    // run high — the homogeneity claim is on the typical value
    assert(rows.map(_.getDouble(4)).max < 1.0)
    assert(rows.map(_.getDouble(4)).sum / rows.length < 0.8)
  }

  test("q199 conversion sweep: monotone nondecreasing in the window") {
    val rows = SparkEntry.queries("q199_conversion_sweep")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val conv = rows.map(_.getLong(1))
    assert(conv.zip(conv.tail).forall { case (x, y) => y >= x })
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2))
      assert(r.getDouble(3) == r.getLong(1).toDouble / r.getLong(2))
    }
  }

  test("q200 pipeline v3: 40 gated keepers, every stage's invariant " +
    "holds on the output") {
    val rows = SparkEntry.queries("q200_pipeline_v3")(spark, sf).collect()
    assert(rows.length == 40)
    val keys = rows.map(_.getString(5))
    assert(keys.distinct.length == 40)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.5) // quality gate held
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 8) // weight tier
    }
    // canonical-dedup stage: every selected doc is its group's keeper
    val ids = rows.map(_.getLong(0)).toSet
    val keepers = Tables.table(spark, sf, "documents")
      .groupBy(md5(trim(regexp_replace(lower(col("text")),
        "[^a-z0-9]+", " ")).cast("binary")).as("nk"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepers))
  }

  test("q201 b-bit minhash: low-bit matches dominate full matches, " +
    "estimates bounded") {
    val rows = SparkEntry.queries("q201_bbit_minhash")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mf, mb) = (r.getLong(2), r.getLong(3))
      // dropping bits can only CREATE matches, never destroy them
      assert(mb >= mf && mb <= 12)
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1) // j_full
      assert(r.getDouble(5) <= 1.0 + 1e-12) // j_bbit (can dip below 0)
      assert(r.getDouble(6) >= 0 && r.getDouble(6) <= 1) // j_exact
    }
  }

  test("q202 balanced corpus: quotas sum to budget, fills match quotas, " +
    "mix proportional within one slot") {
    val rows = SparkEntry.queries("q202_balanced_corpus")(spark, sf)
      .collect()
    assert(rows.length == 100)
    val bySrc = rows.groupBy(_.getString(1))
    bySrc.foreach { case (_, docs) =>
      val quota = docs.head.getLong(3)
      assert(docs.length == quota)
      assert(docs.map(_.getLong(2)).sorted.toSeq == (1L to quota))
    }
    val counts = Tables.table(spark, sf, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    bySrc.foreach { case (src, docs) =>
      val exact = 100.0 * counts(src) / total
      assert(math.abs(docs.length - exact) < 1.0,
        s"$src: ${docs.length} vs $exact")
    }
  }

  test("q203 source league: deltas center on zero, rates bounded") {
    val rows = SparkEntry.queries("q203_source_league")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1) // mean quality
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1) // pass rate
    }
    // doc-weighted mean of the deltas is zero by construction
    val weighted = rows.map(r => r.getDouble(4) * r.getLong(1)).sum
    assert(math.abs(weighted) < 1e-6)
  }

  test("q204 split leakage: shares sum to one, flags match labels") {
    val rows = SparkEntry.queries("q204_split_leakage")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.head.getLong(4)
    assert(rows.map(_.getLong(2)).sum == total) // cells partition pairs
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getString(0) != r.getString(1)))
      assert(r.getString(0) <= r.getString(1)) // canonical order
    }
  }

  test("q214 lm surprise: every doc scored once, verdict matches the " +
    "threshold, one doc's score reproduced brute-force") {
    val rows = SparkEntry.queries("q214_lm_surprise")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq).toMap
    assert(rows.keySet == docs.keySet.filter(docs(_).length >= 2))
    rows.foreach { case (_, (nb, ms, v)) =>
      assert(nb > 0 && ms > 0.0 && !ms.isNaN)
      assert(v == (if (ms > 40.0) "flag" else "keep"))
    }
    // the threshold sits in the tail, not the body
    val flagged = rows.count(_._2._3 == "flag")
    assert(flagged.toDouble / rows.size < 0.2, s"$flagged flagged")
    // brute-force one document against driver-side model counts
    val refWords = docs.filter(_._1 % 5 == 0).values
    val uni = refWords.flatten.groupBy(identity).map { case (w, o) =>
      w -> o.size.toLong }
    val vocabV = uni.size.toLong
    val bg = refWords.flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val probe = rows.keys.min
    val ws = docs(probe)
    val surprises = ws.zip(ws.tail).map { case (w1, w2) =>
      (uni.getOrElse(w1, 0L) + vocabV).toDouble /
        (bg.getOrElse((w1, w2), 0L) + 1L).toDouble
    }
    val expected = surprises.sum / surprises.size
    assert(math.abs(rows(probe)._2 - expected) < 1e-9,
      s"doc $probe: got ${rows(probe)._2}, brute-force $expected")
  }

  test("q215 padding audit: length-sorted batching never wastes more " +
    "than arrival order, identities hold") {
    val rows = SparkEntry.queries("q215_padding_audit")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(rows.keySet == Set("arrival", "length_sorted"))
    val (aB, aT, aP, aW, aF) = rows("arrival")
    val (sB, sT, sP, sW, sF) = rows("length_sorted")
    // same corpus either way: batch count and true token mass invariant
    assert(aB == sB && aT == sT && aT > 0)
    Seq(rows("arrival"), rows("length_sorted")).foreach {
      case (_, t, p, w, f) =>
        assert(p >= t && w == p - t)
        assert(math.abs(f - w.toDouble / p.toDouble) == 0.0)
    }
    // the point of the audit: sorting by length reduces pad burn
    assert(sW <= aW, s"length-sorted $sW > arrival $aW")
    assert(sF <= aF)
  }

  test("q217 dsir importance: ranks are a permutation, cutoff is " +
    "ceil(n/5), and target-language docs score higher on average") {
    val rows = SparkEntry.queries("q217_dsir_importance")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    assert(rows.map(_._3).sorted.toSeq == (1L to n), "ranks not 1..n")
    val cutoff = (n + 4) / 5
    assert(rows.count(_._4 == "take") == cutoff)
    rows.foreach { case (_, _, rk, v) =>
      assert(v == (if (rk <= cutoff) "take" else "skip"))
    }
    // rank order agrees with (score desc, doc_id) order
    assert(rows.sortBy(r => (-r._2, r._1)).map(_._3).toSeq ==
      (1L to n))
    // the selection is target-seeking: the en slice outscores the rest
    val langs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, rest) = rows.partition(r => langs(r._1) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    val enMean = en.map(_._2).sum.toDouble / en.size
    val restMean = rest.map(_._2).sum.toDouble / rest.size
    assert(enMean > restMean,
      s"en mean $enMean not above non-target mean $restMean")
  }

  test("q267/q268/q269: the in-engine trained classifier actually learns " +
    "(holdout AUC in the noisy-label band) and the evaluations cohere") {
    val scored = SparkEntry.queries("q267_logistic_train")(spark, sf)
      .collect()
    val hold = scored.filter(_.getAs[String]("split") == "holdout")
    assert(hold.nonEmpty && hold.length < scored.length)
    // scores are probabilities; pred is the 0.5 threshold
    scored.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > 0.0 && s < 1.0)
      assert(r.getAs[Long]("pred") == (if (s >= 0.5) 1L else 0L))
    }
    // the 10% label flip bounds attainable AUC below 1; a failed
    // training sits at 0.5 — assert the learning band between them
    val auc = SparkEntry.queries("q268_auc_eval")(spark, sf).head()
    assert(auc.getAs[Long]("n_pos") > 0 && auc.getAs[Long]("n_neg") > 0)
    val a = auc.getAs[Double]("auc")
    assert(a > 0.65 && a < 0.95, s"holdout AUC $a outside learning band")
    // u2 is the exact integer Mann-Whitney numerator: recompute it
    // pair-wise from the scored rows (holdout is small at spec scale)
    val pos = hold.filter(_.getAs[Long]("y") == 1L).map(_.getAs[Double]("score"))
    val neg = hold.filter(_.getAs[Long]("y") == 0L).map(_.getAs[Double]("score"))
    val u2 = (for (p <- pos; n <- neg) yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(auc.getAs[Long]("u2") == u2,
      s"fold u2 ${auc.getAs[Long]("u2")} != pairwise $u2")
    // calibration bins partition the holdout; per-bin stats are sane
    val cal = SparkEntry.queries("q269_calibration")(spark, sf).collect()
    assert(cal.map(_.getAs[Long]("n")).sum == hold.length)
    cal.foreach { r =>
      val fp = r.getAs[Double]("frac_pos")
      val ms = r.getAs[Double]("mean_score")
      val b = r.getAs[Long]("bin")
      assert(b >= 0 && b <= 9)
      assert(fp >= 0.0 && fp <= 1.0)
      assert(ms >= b / 10.0 - 1e-9 && (b == 9 || ms < (b + 1) / 10.0 + 1e-9))
      assert(math.abs(r.getAs[Double]("gap") - math.abs(fp - ms)) < 1e-12)
    }
  }

  test("q293 ORC round-trip: scans keep predicate pushdown and column " +
    "pruning — the format carries parquet's scan discipline") {
    val path = java.nio.file.Files.createTempDirectory("orc").toString
    Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .write.mode("overwrite").orc(path)
    val plan = spark.read.orc(path)
      .filter(col("doc_id") > 100L).select(col("doc_id"), col("source"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThan(doc_id,100)]") || plan.contains("GreaterThan(doc_id"),
      s"ORC scan lost predicate pushdown:\n$plan")
    assert(!plan.contains("text"),
      s"ORC scan reads the pruned text column:\n$plan")
    graft.io.IndexLifecycle.rmDir(path)
  }

  test("q290 k-center coreset: exactly k self-assigned centers, sane " +
    "distances, and the greedy max-min selection is deterministic") {
    val rows = SparkEntry.queries("q290_kcenter_coreset")(spark, sf)
      .collect()
    val centers = rows.filter(_.getAs[Long]("is_center") == 1L)
    assert(centers.length == 8, s"expected 8 centers, ${centers.length}")
    // a center's nearest center is itself (distance ~0 up to the
    // sqrt(x)^2 ulp; ties broken by selection rank)
    centers.foreach { r =>
      assert(r.getAs[Long]("center_id") == r.getAs[Long]("vec_id"))
      assert(math.abs(r.getAs[Double]("dist")) < 1e-9)
    }
    // cosine distance lives in [0, 2]
    rows.foreach { r =>
      val d = r.getAs[Double]("dist")
      assert(d > -1e-9 && d < 2.0 + 1e-9, s"dist $d out of range")
    }
    // every vector is assigned to one of the selected centers
    val cids = centers.map(_.getAs[Long]("center_id")).toSet
    assert(rows.forall(r => cids.contains(r.getAs[Long]("center_id"))))
    // determinism: the md5-free greedy (min-id seed, max-min-dist
    // argmax, id tie-break) re-derives the same set
    val again = SparkEntry.queries("q290_kcenter_coreset")(spark, sf)
      .filter(col("is_center") === 1L).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(again == cids, "greedy selection nondeterministic")
  }

  test("q292 k-center radius trajectory: nonincreasing coverage and " +
    "the greedy invariant (round r's farthest vector is center r+1)") {
    val traj = SparkEntry.queries("q292_kcenter_radius")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("r") ->
        ((r.getAs[Double]("radius"), r.getAs[Long]("farthest_id"))))
      .toMap
    assert(traj.size == 8 && traj.keySet == (1L to 8L).toSet)
    // adding a center can only shrink (or hold) the coverage radius
    (1L to 7L).foreach { r =>
      assert(traj(r)._1 >= traj(r + 1)._1,
        s"radius grew at round $r: ${traj(r)._1} -> ${traj(r + 1)._1}")
    }
    // the greedy rule: the vector attaining round r's radius IS the
    // center the (r+1)-th round selects
    val centers = SparkEntry.queries("q290_kcenter_coreset")(spark, sf)
      .filter(col("is_center") === 1L)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    (1L to 7L).foreach { r =>
      assert(centers.contains(traj(r)._2),
        s"round-$r farthest ${traj(r)._2} was never selected")
    }
    assert(traj.values.forall(_._1 >= 0.0))
  }

  test("q294 coverage sample: at most the quota per k-center cell, " +
    "drawn only from that cell's members, deterministic") {
    val sample = SparkEntry.queries("q294_coverage_sample")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("center_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("srn")))
    val perCell = sample.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perCell.values.forall(_ <= 4), s"quota exceeded: $perCell")
    assert(perCell.nonEmpty && sample.map(_._2).distinct.length
      == sample.length, "duplicate vec_id in sample")
    // each sampled row really belongs to the cell it was drawn from
    val asg = SparkEntry.queries("q290_kcenter_coreset")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("center_id"))
      .toMap
    sample.foreach { case (cell, id, _) =>
      assert(asg(id) == cell, s"sampled $id from foreign cell $cell")
    }
    // determinism: the salted-hash rank re-derives the same rows
    val again = SparkEntry.queries("q294_coverage_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(again == sample.toSet)
  }

  test("q291 mixing weights: weights normalize to one and the boost " +
    "is monotone in inverse share (low-resource domains upsampled)") {
    val rows = SparkEntry.queries("q291_mixing_weights")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("p"), r.getAs[Double]("weight"),
        r.getAs[Double]("boost")))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12,
      s"weights sum to ${rows.map(_._4).sum}")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-12)
    // alpha = 1/2 flattening: boost = p^(-1/2)/z strictly falls as the
    // observed share rises — the low-resource domain gets the largest
    // upsampling factor
    val byShare = rows.sortBy(_._3)
    byShare.sliding(2).foreach {
      case Array((_, _, p1, _, b1), (_, _, p2, _, b2)) =>
        if (p1 < p2) assert(b1 > b2,
          s"boost not monotone: p=$p1 b=$b1 vs p=$p2 b=$b2")
      case _ => ()
    }
    rows.foreach { case (_, n, p, w, b) =>
      assert(n > 0 && p > 0 && w > 0 && b > 0)
    }
  }

  test("IndexLifecycle: pointer resolution, staged swap, tombstone " +
    "mask, and reset — the shared discipline all six index families " +
    "delegate to") {
    import spark.implicits._
    import graft.io.{IndexLifecycle, Sinks}
    val base = java.nio.file.Files.createTempDirectory("lcy").toString
    val px = "ut_lcy" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val t = s"${px}_data"
    try {
      // no pointer yet: the logical prefix IS the live prefix and the
      // first retrain stages generation 1
      IndexLifecycle.resetPrefix(spark, px, s"$base/none") // no-op ok
      assert(IndexLifecycle.livePrefix(spark, px) == px)
      assert(IndexLifecycle.nextGeneration(spark, px) == 1L)
      // staged swap: rewrite lands at the new path, rows are exactly
      // the rewrite, staging is dropped, the public name never
      // unregisters (tableExists holds throughout)
      Sinks.bucketedTable(Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("id", "v"), t, "id", 2, s"$base/d0")
      IndexLifecycle.stagedSwap(spark, t,
        spark.table(t).filter(col("id") =!= 2L), s"$base/d1")
      assert(spark.catalog.tableExists(t))
      assert(spark.table(t).collect().map(_.getLong(0)).toSet
        == Set(1L, 3L), "staged swap changed contents")
      assert(Sinks.tableLocation(spark, t).endsWith("/d1"),
        "staged swap did not move the registered location")
      assert(!spark.catalog.tableExists(s"${t}__vacuum"),
        "staging registration leaked")
      // generation pointer: create-on-first-flip, then single-row
      // re-points; livePrefix/nextGeneration follow each flip,
      // including the flip back to generation 0
      IndexLifecycle.flipGenerationPtr(spark, px, 1L, s"$base/g1")
      assert(IndexLifecycle.livePrefix(spark, px) == s"${px}_r1")
      assert(IndexLifecycle.nextGeneration(spark, px) == 2L)
      IndexLifecycle.flipGenerationPtr(spark, px, 2L, s"$base/g2")
      assert(IndexLifecycle.livePrefix(spark, px) == s"${px}_r2")
      IndexLifecycle.flipGenerationPtr(spark, px, 0L, s"$base/g0")
      assert(IndexLifecycle.livePrefix(spark, px) == px)
      // tombstone mask: identity while no tombstone table exists,
      // broadcast anti-join once it does
      val df = Seq(1L, 2L, 3L).toDF("id")
      assert(IndexLifecycle.maskTombstones(spark, df,
        s"${px}_tombstones", "id").count() == 3L)
      Sinks.bucketedTable(Seq(2L).toDF("id"), s"${px}_tombstones",
        "id", 1, s"$base/tomb")
      assert(IndexLifecycle.maskTombstones(spark, df,
        s"${px}_tombstones", "id").collect().map(_.getLong(0)).toSet
        == Set(1L, 3L))
      // reset: every <prefix>_* table goes (data, ptr, tombstones,
      // any staging) and the path is cleared
      IndexLifecycle.resetPrefix(spark, px, base)
      assert(!spark.catalog.tableExists(t))
      assert(!spark.catalog.tableExists(s"${px}_ptr"))
      assert(!spark.catalog.tableExists(s"${px}_tombstones"))
      assert(!new java.io.File(base).exists())
    } finally {
      Seq(t, s"${t}__vacuum", s"${px}_ptr", s"${px}_ptr__retrain",
        s"${px}_tombstones")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      spark.catalog.clearCache()
    }
  }

  test("IndexLifecycle declarations: per tombstoned family, a purge " +
    "masks the live view, vacuum leaves exactly the declared tables " +
    "holding the live rows, and resetPrefix leaves nothing behind") {
    import spark.implicits._
    import graft.io.IndexLifecycle
    import graft.io.IndexLifecycle._
    import graft.ops.{DedupOps, EmbeddingOps, SemanticDedupOps,
      VectorIndexOps}
    import org.apache.spark.sql.DataFrame
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda")
      .toDF("doc_id", "text")
    val names = Seq("alpha", "alphabet", "ninety", "gamma").toDF("p_name")
    val e = EmbeddingOps.normedDf(spark, sf).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val vecs = e.select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("lcd").toString
    val tag = root.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    // by column name, so the compare does not depend on the order a
    // read returns its columns in
    def rows(dfs: Seq[DataFrame]) = dfs.map(d =>
      d.select(d.columns.sorted.map(col): _*).collect().toSet)
    /** One family's lifecycle through its public API: `build(px, path)`,
      * `purge(px, path)` of the id `dead`, `vacuum(px, newPath)`, and
      * its tables as opened by `read(px, live)`. */
    final case class Family(name: String, tables: IndexTables, dead: Any,
        build: (String, String) => Unit, purge: (String, String) => Unit,
        vacuum: (String, String) => Unit,
        read: (String, Boolean) => Seq[DataFrame])
    def frames(p: Product) =
      p.productIterator.collect { case d: DataFrame => d }.toSeq
    val families = Seq(
      Family("corpus", CorpusIndexTables, 1L,
        (px, p) => DedupOps.writeCorpusIndex(
          DedupOps.buildCorpusIndex(texts), px, p, buckets = 2),
        (px, p) => DedupOps.purgeFromCorpusIndex(spark,
          Seq(1L).toDF("doc_id"), px, p),
        (px, p) => DedupOps.vacuumCorpusIndex(spark, px, p),
        (px, live) => frames(
          if (live) DedupOps.readCorpusIndexLive(spark, px)
          else DedupOps.readCorpusIndex(spark, px))),
      Family("gram", GramIndexTables, 1L,
        (px, p) => DedupOps.writeGramIndex(DedupOps.buildGramIndex(texts),
          px, p, buckets = 2),
        (px, p) => DedupOps.purgeGramIndex(spark, Seq(1L).toDF("doc_id"),
          px, p),
        (px, p) => DedupOps.vacuumGramIndex(spark, px, p),
        (px, live) => frames(
          if (live) DedupOps.readGramIndexLive(spark, px)
          else DedupOps.readGramIndex(spark, px))),
      Family("name", NameIndexTables, "alphabet",
        (px, p) => DedupOps.writeNameIndex(DedupOps.buildNameIndex(names),
          px, p, buckets = 2),
        (px, p) => DedupOps.purgeNameIndex(spark,
          Seq("alphabet").toDF("p_name"), px, p),
        (px, p) => DedupOps.vacuumNameIndex(spark, px, p),
        (px, live) => frames(
          if (live) DedupOps.readNameIndexLive(spark, px)
          else DedupOps.readNameIndex(spark, px))),
      Family("vector", VectorIndexTables, 5L,
        (px, p) => VectorIndexOps.buildVectorIndex(spark, vecs, vecs, px, p),
        (px, p) => VectorIndexOps.deleteFromVectorIndex(spark,
          Seq(5L).toDF("vec_id"), px, p),
        (px, p) => VectorIndexOps.vacuumVectorIndex(spark, px, p),
        (px, live) => frames(
          if (live) VectorIndexOps.readVectorIndexLive(spark, px)
          else VectorIndexOps.readVectorIndex(spark, px))),
      Family("semantic", SemanticIndexTables, 5L,
        (px, p) => { SemanticDedupOps.buildSemanticIndexTables(spark, e,
          px, p); () },
        (px, p) => SemanticDedupOps.purgeSemanticIndex(spark,
          Seq(5L).toDF("vec_id"), px, p),
        (px, p) => SemanticDedupOps.vacuumSemanticIndex(spark, px, p),
        (px, live) => IndexLifecycle.readTables(spark, SemanticIndexTables,
          px, px, live).toSeq.sortBy(_._1).map(_._2)))
    def prefixTables(px: String) =
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(s"${px}_")).toSet
    try families.foreach { f =>
      val px = s"lc${f.name}$tag"
      val path = s"$root/${f.name}"
      def masked(live: Boolean) = f.tables.tables.filter(_.masked)
        .map(t => IndexLifecycle.readTable(spark, f.tables, t.suffix, px,
          px, live).filter(col(f.tables.idCol) === lit(f.dead)).count())
      f.build(px, s"$path/idx")
      assert(masked(live = false).sum > 0,
        s"${f.name}: the purged id is not in the built index")
      f.purge(px, s"$path/idx")
      // logical delete: the live view drops the id, the tables keep it
      assert(masked(live = true).forall(_ == 0L),
        s"${f.name}: the live view still serves the purged id")
      assert(masked(live = false).sum > 0,
        s"${f.name}: the purge rewrote a table")
      val liveBefore = rows(f.read(px, true))
      f.vacuum(px, s"$path/vac")
      assert(prefixTables(px) == f.tables.suffixes.map(t => s"${px}_$t")
        .toSet, s"${f.name}: after vacuum the catalog holds " +
        s"${prefixTables(px)}, not the declared tables")
      assert(masked(live = false).forall(_ == 0L),
        s"${f.name}: vacuum left the purged id in a physical table")
      assert(rows(f.read(px, false)) == liveBefore,
        s"${f.name}: the vacuumed tables differ from the live view")
      if (f.name == "vector") {
        // the masked read of the bucketed codes table already
        // hash-partitions on the bucket key, so the staged swap's
        // repartition is planned away: files are per (task, bucket)
        val files = new java.io.File(s"$path/vac").listFiles()
          .map(_.getName).filter(_.endsWith(".parquet"))
        val bucketIds = files.map(_.split("_").last.take(5)).toSet
        info(s"vector vacuum: ${files.length} files for " +
          s"${bucketIds.size} buckets")
        assert(files.length >= bucketIds.size && bucketIds.size <= 8)
      }
      IndexLifecycle.resetPrefix(spark, px, path)
      assert(prefixTables(px).isEmpty, s"${f.name}: reset left tables")
      assert(!new java.io.File(path).exists(),
        s"${f.name}: reset left the index directory")
    } finally {
      families.foreach(f =>
        prefixTables(s"lc${f.name}$tag")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
      spark.catalog.clearCache()
    }
  }

  test("IndexLifecycle mask keeps column order: every declared masked " +
    "table reads live with its plain read's columns, and a vacuum " +
    "writes its files in the catalog's column order") {
    import spark.implicits._
    import graft.io.{IndexLifecycle, Sinks}
    import graft.io.IndexLifecycle._
    import graft.ops.{DedupOps, EmbeddingOps, SemanticDedupOps,
      VectorIndexOps}
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda")
      .toDF("doc_id", "text")
    val names = Seq("alpha", "alphabet", "ninety", "gamma").toDF("p_name")
    val e = EmbeddingOps.normedDf(spark, sf).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val vecs = e.select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("lco").toString
    val tag = root.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    type Step = (String, String) => Unit
    // (family, declaration, build, purge one id, vacuum)
    val families: Seq[(String, IndexTables, Step, Step, Step)] = Seq(
      ("corpus", CorpusIndexTables,
        (px, p) => DedupOps.writeCorpusIndex(
          DedupOps.buildCorpusIndex(texts), px, p, buckets = 2),
        (px, p) => DedupOps.purgeFromCorpusIndex(spark,
          Seq(1L).toDF("doc_id"), px, p),
        (px, p) => DedupOps.vacuumCorpusIndex(spark, px, p)),
      ("gram", GramIndexTables,
        (px, p) => DedupOps.writeGramIndex(DedupOps.buildGramIndex(texts),
          px, p, buckets = 2),
        (px, p) => DedupOps.purgeGramIndex(spark, Seq(1L).toDF("doc_id"),
          px, p),
        (px, p) => DedupOps.vacuumGramIndex(spark, px, p)),
      ("name", NameIndexTables,
        (px, p) => DedupOps.writeNameIndex(DedupOps.buildNameIndex(names),
          px, p, buckets = 2),
        (px, p) => DedupOps.purgeNameIndex(spark,
          Seq("alphabet").toDF("p_name"), px, p),
        (px, p) => DedupOps.vacuumNameIndex(spark, px, p)),
      ("vector", VectorIndexTables,
        (px, p) => VectorIndexOps.buildVectorIndex(spark, vecs, vecs, px, p),
        (px, p) => VectorIndexOps.deleteFromVectorIndex(spark,
          Seq(5L).toDF("vec_id"), px, p),
        (px, p) => VectorIndexOps.vacuumVectorIndex(spark, px, p)),
      ("semantic", SemanticIndexTables,
        (px, p) => { SemanticDedupOps.buildSemanticIndexTables(spark, e,
          px, p); () },
        (px, p) => SemanticDedupOps.purgeSemanticIndex(spark,
          Seq(5L).toDF("vec_id"), px, p),
        (px, p) => SemanticDedupOps.vacuumSemanticIndex(spark, px, p)))
    def prefixTables(px: String) =
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(s"${px}_"))
    try families.foreach { case (name, decl, build, purge, vacuum) =>
      val px = s"lo$name$tag"
      val path = s"$root/$name"
      val masked = decl.tables.filter(_.masked).map(_.suffix)
      build(px, s"$path/idx")
      purge(px, s"$path/idx")
      masked.foreach { t =>
        def cols(live: Boolean) = IndexLifecycle.readTable(spark, decl, t,
          px, px, live).columns.toSeq
        assert(cols(live = true) == cols(live = false),
          s"$name/$t: the live read reorders the plain read's columns")
      }
      val catalog = masked.map(t => t -> spark.table(s"${px}_$t").columns
        .toSeq).toMap
      vacuum(px, s"$path/vac")
      masked.foreach { t =>
        val tbl = s"${px}_$t"
        assert(spark.table(tbl).columns.toSeq == catalog(t),
          s"$name/$t: the vacuum changed the catalog's column order")
        // an empty table is written as no file at all
        if (!spark.table(tbl).isEmpty) {
          val files = spark.read.parquet(Sinks.tableLocation(spark, tbl))
            .columns.toSeq
          assert(files == catalog(t), s"$name/$t: the vacuum wrote " +
            s"files in order $files, the catalog reads ${catalog(t)}")
        }
      }
      IndexLifecycle.resetPrefix(spark, px, path)
    } finally {
      families.foreach(f => prefixTables(s"lo${f._1}$tag")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
      spark.catalog.clearCache()
    }
  }

  test("IndexLifecycle layout: a gram index built with 4 buckets keeps " +
    "(g, 4) through a purge and a vacuum given no count, and its " +
    "bucketed self-join matches a survivor build") {
    import spark.implicits._
    import graft.io.IndexLifecycle
    import graft.ops.DedupOps
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val base = java.nio.file.Files.createTempDirectory("lay").toString
    val tag = base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    val (px, pxS) = (s"ut_lay$tag", s"ut_lays$tag")
    val docs = (1L to 40L).map(i => i -> (0 until 12)
      .map(j => s"w${(i * 7 + j * 3) % 29}").mkString(" "))
      .toDF("doc_id", "text")
    val dead = col("doc_id") % 3 === 0
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prevBcast = spark.conf.get(bcast)
    try {
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(docs), px,
        s"$base/idx", buckets = 4)
      DedupOps.purgeGramIndex(spark, docs.filter(dead).select(col("doc_id")),
        px, s"$base/idx")
      DedupOps.vacuumGramIndex(spark, px, s"$base/vac")
      Seq("ranked", "prefixes").foreach { sfx =>
        val spec = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(s"${px}_$sfx")).bucketSpec
        assert(spec.map(b => (b.bucketColumnNames, b.numBuckets))
          == Some((Seq("g"), 4)), s"$sfx: bucket spec is now $spec")
      }
      val ids = Seq("ranked", "prefixes", "docgrams").flatMap(sfx =>
        new java.io.File(s"$base/vac/$sfx").listFiles().map(_.getName)
          .filter(_.endsWith(".parquet"))
          .map(f => BucketingUtils.getBucketId(f).getOrElse(-1)))
      assert(ids.nonEmpty && ids.forall(b => b >= 0 && b < 4),
        s"swapped files carry bucket ids ${ids.distinct.sorted}")
      DedupOps.writeGramIndex(DedupOps.buildGramIndex(docs.filter(!dead)),
        pxS, s"$base/scr", buckets = 4)
      // no broadcast: the join must read both sides by bucket
      spark.conf.set(bcast, "-1")
      def selfJoin(p: String): Long = {
        val r = spark.table(s"${p}_ranked")
        val j = r.as("a").join(r.as("b"), col("a.g") === col("b.g"))
        val n = j.collect().length.toLong
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
          s"$p: the self-join shuffled instead of reading by bucket")
        n
      }
      val n = selfJoin(px)
      assert(n > 0 && n == selfJoin(pxS),
        s"vacuumed self-join matched $n rows, survivor build ${selfJoin(pxS)}")
    } finally {
      spark.conf.set(bcast, prevBcast)
      Seq(px, pxS).foreach(p => IndexLifecycle.resetPrefix(spark, p, base))
      spark.catalog.clearCache()
    }
  }

  test("IndexLifecycle layout: stagedSwap and compactBucketedTable " +
    "refuse a table with no bucket spec before writing, leaving it " +
    "readable and unchanged") {
    import spark.implicits._
    import graft.io.{IndexLifecycle, Sinks}
    import org.apache.spark.sql.catalyst.TableIdentifier
    val base = java.nio.file.Files.createTempDirectory("unb").toString
    val t = "ut_unb" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write
        .option("path", s"$base/d0").format("parquet").saveAsTable(t)
      val before = spark.table(t).collect().toSet
      val errs = Seq(
        intercept[IllegalArgumentException](IndexLifecycle.stagedSwap(
          spark, t, spark.table(t).filter(col("id") =!= 2L), s"$base/d1")),
        intercept[IllegalArgumentException](Sinks.compactBucketedTable(
          spark, t, s"$base/d0", s"$base/d2")))
      errs.foreach(e => assert(e.getMessage.contains(
        s"table $t has no single-column bucket spec"), e.getMessage))
      assert(spark.table(t).collect().toSet == before,
        "a refused rewrite changed the table")
      assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        .location.getPath.endsWith("/d0"), "a refused rewrite moved the table")
      assert(Seq("d1", "d2").forall(d => !new java.io.File(s"$base/$d").exists),
        "a refused rewrite wrote files")
      assert(Seq("__vacuum", "__compacting")
        .forall(x => !spark.catalog.tableExists(s"$t$x")),
        "a refused rewrite registered a staging table")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("bench plan gate: the shuffle tally records exchange rows and " +
    "the gate trips on an intentional regression") {
    val tally = new graft.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    try {
      val df = spark.range(0L, 100000L, 1L, 8)
        .select((col("id") % 100).as("k"), col("id").as("v"))
      def shuffleRowsOf(d: org.apache.spark.sql.DataFrame): Long = {
        val (r0, _) = tally.snapshot(spark.sparkContext)
        d.groupBy(col("k")).agg(sum(col("v")).as("s"))
          .write.mode("overwrite").format("noop").save()
        val (r1, _) = tally.snapshot(spark.sparkContext)
        r1 - r0
      }
      // clean plan: map-side partial aggregation shuffles ~100 keys
      // per task, never the 100k input rows
      val clean = shuffleRowsOf(df)
      assert(clean > 0, "tally recorded no shuffle for a groupBy")
      assert(clean < 10000L,
        s"partial aggregation missing — $clean rows shuffled")
      // intentional regression: a full-width repartition upstream of
      // the same aggregate shuffles every input row
      val regressed = shuffleRowsOf(df.repartition(32, col("v")))
      assert(regressed >= 100000L,
        s"regression fixture did not shuffle the input: $regressed")
      // the one plan gate, run on two bench records of these counts
      // (row tolerance 1.25x, no slack): it trips on the regression and
      // stays quiet on identity and on a query with no baseline
      val tmp = java.nio.file.Files.createTempDirectory("plangate")
      def record(name: String, rows: (String, Long)*): String = {
        val f = tmp.resolve(name)
        java.nio.file.Files.writeString(f, rows.map { case (q, r) =>
          s""""$q": $r""" }.mkString("""{"shuffle_rows": {""", ", ", "}}"))
        f.toString
      }
      def gate(cur: String): Int = scala.sys.process.Process(Seq(
        "python3", "tools/plan_gate.py", record("base.json", "q" -> clean),
        cur, "1.25", "0")).!
      assert(gate(record("regressed.json", "q" -> regressed)) == 1,
        "gate missed the regression")
      assert(gate(record("same.json", "q" -> clean)) == 0,
        "gate false-positived")
      assert(gate(record("new.json", "q_new" -> 999999999L)) == 0,
        "gate flagged a query with no baseline")
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("q268 two-level AUC fold: exact on an adversarial all-distinct-" +
    "score holdout, with the final aggregate input bucket-bounded") {
    import spark.implicits._
    import graft.ops.ClassifierOps
    // 5000 rows, EVERY score distinct — the shape that made the old
    // single ordered fold's state O(n) in one task: here the final
    // fold must still only see <= AucBuckets bucket partials
    val n = 5000
    val rows = (0 until n).map { i =>
      val score = (i + 0.5) / n.toDouble
      val y = if (((i * 2654435761L) >>> 7) % 10 < 3) 1L else 0L
      (score, y)
    }
    val grp = rows.toDF("score", "y")
      .groupBy(col("score"))
      .agg(sum(col("y")).cast("long").as("p"),
        (count(lit(1)) - sum(col("y"))).cast("long").as("m"))
    // level-1 output is the final fold's entire input: bucket-bounded
    val partials = ClassifierOps.aucBucketPartials(grp)
    val nPart = partials.count()
    assert(nPart <= ClassifierOps.AucBuckets,
      s"final-fold input $nPart exceeds the ${ClassifierOps.AucBuckets}" +
        " bucket bound")
    assert(nPart > 1, "fixture degenerated to one bucket — not a " +
      "two-level test")
    // and the merged result is EXACT vs the brute-force pairwise count
    val out = ClassifierOps.aucFromScoreGroups(grp).head()
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    val u2 = (for (p <- pos; m <- neg) yield
      if (p > m) 2L else if (p == m) 1L else 0L).sum
    assert(out.getAs[Long]("n_pos") == pos.length.toLong)
    assert(out.getAs[Long]("n_neg") == neg.length.toLong)
    assert(out.getAs[Long]("u2") == u2,
      s"two-level u2 ${out.getAs[Long]("u2")} != pairwise $u2")
    assert(math.abs(out.getAs[Double]("auc") -
      u2.toDouble / (2.0 * pos.length * neg.length)) == 0.0)
    // plan hygiene: two aggregate tiers (bkt keyed then global), no
    // window anywhere
    val plan = ClassifierOps.aucFromScoreGroups(grp)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"AUC fold plans a window:\n$plan")
    assert(plan.contains("bkt"),
      s"AUC fold lost its bucket tier:\n$plan")
  }

  test("q270 uncertainty sample: exactly the k least-confident holdout " +
    "docs, deterministic under ties") {
    val sel = SparkEntry.queries("q270_uncertainty_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("uncertainty")))
    assert(sel.length == 40)
    // every selected uncertainty <= every unselected one
    val all = SparkEntry.queries("q267_logistic_train")(spark, sf)
      .filter(col("split") === "holdout").collect()
      .map(r => (r.getLong(0), math.abs(r.getAs[Double]("score") - 0.5)))
    val selIds = sel.map(_._1).toSet
    val maxSel = sel.map(_._2).max
    val minUnsel = all.filterNot(r => selIds(r._1)).map(_._2).min
    assert(maxSel <= minUnsel,
      s"selected max $maxSel above unselected min $minUnsel")
    // selection equals the brute-force (uncertainty, doc_id) prefix
    assert(selIds == all.sortBy(r => (r._2, r._1)).take(40).map(_._1).toSet)
  }

  test("q271 streaming classifier serving equals the batch scoring " +
    "row-for-row (frozen weights, stateless map)") {
    val streamed = SparkEntry.queries("q271_streaming_classifier")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q267_logistic_train")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q272/q274 sink layouts: per-clip JSON writes one file per row; " +
    "merged JSON writes exactly one data file") {
    val n272 = SparkEntry.queries("q272_perclip_json_roundtrip")(spark, sf)
      .agg(sum(col("n"))).head().getLong(0)
    val files272 = new java.io.File(s"${Tables.scratchDir}/pcjson_q272")
      .listFiles().count(f => f.getName.endsWith(".json"))
    assert(files272.toLong == n272,
      s"per-clip layout: $files272 files for $n272 rows")
    SparkEntry.queries("q274_merged_json_roundtrip")(spark, sf).collect()
    val files274 = new java.io.File(s"${Tables.scratchDir}/mjson_q274")
      .listFiles().count(f => f.getName.endsWith(".json"))
    assert(files274 == 1, s"merged layout wrote $files274 data files")
  }

  test("q275 PR sweep: confusion counts are consistent, monotone in the " +
    "threshold, and tie out against brute force at one threshold") {
    val rows = SparkEntry.queries("q275_pr_curve")(spark, sf).collect()
      .sortBy(_.getAs[Double]("threshold"))
    assert(rows.length == 9)
    val hold = SparkEntry.queries("q267_logistic_train")(spark, sf)
      .filter(col("split") === "holdout").collect()
    val nPos = hold.count(_.getAs[Long]("y") == 1L)
    val nNeg = hold.length - nPos
    rows.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") == nPos)
      assert(r.getAs[Long]("fp") + r.getAs[Long]("tn") == nNeg)
    }
    // raising the threshold never gains positives
    val tps = rows.map(_.getAs[Long]("tp"))
    val fps = rows.map(_.getAs[Long]("fp"))
    assert(tps.zip(tps.tail).forall { case (a, b) => b <= a })
    assert(fps.zip(fps.tail).forall { case (a, b) => b <= a })
    // brute-force tie-out at t = 0.5 (the q267 pred threshold)
    val t5 = rows(4)
    assert(t5.getAs[Double]("threshold") == 0.5)
    val tp5 = hold.count(r => r.getAs[Long]("y") == 1L &&
      r.getAs[Double]("score") >= 0.5)
    val fp5 = hold.count(r => r.getAs[Long]("y") == 0L &&
      r.getAs[Double]("score") >= 0.5)
    assert(t5.getAs[Long]("tp") == tp5 && t5.getAs[Long]("fp") == fp5)
  }

  test("quality stage: empty, whitespace-only and punctuation-only " +
    "documents score without an ANSI divide-by-zero") {
    import spark.implicits._
    // the naked n_punct/len and n_stop/n_words divisions would throw
    // DIVIDE_BY_ZERO under ANSI mode for a zero-length or zero-word doc
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val docs = Seq((1L, ""), (2L, "   \t "), (3L, "?!..."),
      (4L, "the cat sat on a mat.")).toDF("doc_id", "text")
    val q = graft.ops.TextOps.qualityStage(docs)
      .select(col("doc_id"), col("quality")).as[(Long, Double)]
      .collect().toMap
    assert(q(1L) == 0.0 && q(2L) == 0.0)
    // one word of 5 punctuation chars, no stopword:
    // 0.4 * 1/50 + 0.3 * (1 - 5/5) + 0.3 * 0/1
    assert(q(3L) == 0.008)
    // 6 words, 1 punctuation char in 21, 2 stopwords (the, a):
    // 0.4 * 6/50 + 0.3 * 20/21 + 0.3 * 2/6 = 0.4337142857… → 0.433714
    assert(q(4L) == 0.433714)
  }

  test("q276/q277 curation funnel: attribution partitions the corpus, " +
    "the waterfall conserves counts, and dedup only kills survivors") {
    val attrib = SparkEntry.queries("q276_filter_attribution")(spark, sf)
      .collect()
    val total = Tables.table(spark, sf, "documents").count()
    assert(attrib.length.toLong == total) // one verdict per doc
    val byStage = attrib.groupBy(_.getAs[Long]("stage_idx"))
      .view.mapValues(_.length.toLong).toMap
    // every stage kills something at spec scale and some docs survive
    (1L to 4L).foreach(i => assert(byStage.getOrElse(i, 0L) > 0,
      s"stage $i killed nothing"))
    assert(byStage.getOrElse(5L, 0L) > 0, "nothing survived")
    val funnel = SparkEntry.queries("q277_filter_funnel")(spark, sf)
      .collect().sortBy(_.getAs[Long]("stage_idx"))
    assert(funnel.length == 4)
    // conservation: n_in(1) = corpus; n_out(i) = n_in(i+1);
    // kills match the attribution; final n_out = kept count
    assert(funnel.head.getAs[Long]("n_in") == total)
    funnel.foreach { r =>
      assert(r.getAs[Long]("n_kill") ==
        byStage(r.getAs[Long]("stage_idx")))
      assert(r.getAs[Long]("n_out") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_kill"))
    }
    funnel.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_out") == b.getAs[Long]("n_in"))
    }
    assert(funnel.last.getAs[Long]("n_out") == byStage(5L))
  }

  test("q278 incremental funnel: ingest joins the persisted fingerprint " +
    "index, never corpus text; corpus-first keeper semantics hold") {
    import spark.implicits._
    import graft.ops.CurationOps
    // corpus doc 7 and batch doc 2 share a wordset; batch doc 2 has the
    // SMALLER id but corpus was ingested first, so first-ingested-wins
    // must kill doc 2. Batch docs 4/6 duplicate each other (min id 4
    // keeps). Doc 8 is novel. All pass stages 1-3 (>=100 chars, wordy).
    val base = (1 to 30).map(i => s"w$i").mkString(" ") // 30 distinct words
    val corpusDir = java.nio.file.Files.createTempDirectory("fixc").toString
    val batchDir = java.nio.file.Files.createTempDirectory("fixb").toString
    val idxDir = java.nio.file.Files.createTempDirectory("fixi").toString
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    write(Seq(7L -> base), corpusDir)
    write(Seq(
      2L -> (base + " "),             // same wordset as corpus doc 7
      4L -> (base.replace("w1 ", "x1 ")), // novel set, = doc 6's
      6L -> (base.replace("w1 ", "x1 ")),
      8L -> (base.replace("w1 ", "z9 "))), batchDir)
    try {
      spark.sql("DROP TABLE IF EXISTS utfix_wsh")
      CurationOps.writeFunnelIndex(
        spark.read.parquet(s"$corpusDir/documents.parquet"),
        "utfix", idxDir)
      val out = CurationOps.incrementalFunnel(spark,
        spark.read.parquet(s"$batchDir/documents.parquet"), "utfix")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains(corpusDir),
        s"incremental funnel re-scans corpus text:\n$plan")
      assert(plan.contains(idxDir), s"ingest plan misses the index:\n$plan")
      val got = out.collect()
        .map(r => r.getLong(0) -> r.getAs[String]("kill_stage")).toMap
      assert(got == Map(2L -> "wordset_dup", 4L -> "kept",
        6L -> "wordset_dup", 8L -> "kept"), got.toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS utfix_wsh")
      spark.catalog.clearCache()
    }
  }

  test("q279 hubness audit: one row per vector, edge mass conserved, " +
    "roles follow the integer thresholds, deterministic") {
    val df = SparkEntry.queries("q279_hubness_audit")(spark, sf)
      .persist()
    val n = Tables.table(spark, sf, "embeddings").count()
    assert(df.count() == n, "audit must cover every vector")
    // each of the 64 sampled queries lists exactly 5 neighbors (n > 6),
    // so total k-occurrence mass is fixed by construction
    val nq = math.min(64L, n)
    val mass = df.agg(sum(col("k_occ"))).head.getLong(0)
    assert(mass == nq * 5, s"edge mass $mass != ${nq * 5}")
    // role is a pure function of (k_occ, n, nq) under the cross-
    // multiplied thresholds — no row may disagree
    val misroled = df.filter(
      (col("k_occ") === 0L && col("role") =!= "antihub") ||
      (col("k_occ") > 0L && lit(n) * col("k_occ") > lit(2L * 5 * nq) &&
        col("role") =!= "hub") ||
      (col("k_occ") > 0L && lit(n) * col("k_occ") <= lit(2L * 5 * nq) &&
        col("role") =!= "normal")).count()
    assert(misroled == 0)
    // 320 edges over 500 vectors forces antihubs to exist — the class
    // the audit is there to surface
    assert(df.filter(col("role") === "antihub").count() > 0)
    val again = SparkEntry.queries("q279_hubness_audit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.toSet ==
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))).toSet, "hubness audit is nondeterministic")
    df.unpersist()
    spark.catalog.clearCache()
  }

  test("q281 knn reciprocity: counts bounded by the sample geometry, " +
    "mutual edges conserved under direction reversal") {
    val r = SparkEntry.queries("q281_knn_reciprocity")(spark, sf)
      .collect().head
    val nq = r.getAs[Long]("n_queries")
    val ne = r.getAs[Long]("n_edges")
    val nm = r.getAs[Long]("n_mutual")
    assert(nq == 64, s"n_queries $nq")
    // within-sample edges are a subset of all directed top-5 edges
    assert(ne >= 0 && ne <= nq * 5, s"n_edges $ne")
    // every reciprocated edge's reverse is also reciprocated, so the
    // count is even; and mutual edges are a subset of edges
    assert(nm % 2 == 0 && nm <= ne, s"n_mutual $nm of $ne")
    val rate = r.getAs[Double]("reciprocity")
    assert((ne == 0 && rate == 0.0) ||
      rate == nm.toDouble / ne.toDouble, s"rate $rate")
    spark.catalog.clearCache()
  }

  test("semanticRetrainDrift: the live-index measurement equals the " +
    "gated q280 row bit-for-bit on the same build+ingest trajectory") {
    import graft.ops.{EmbeddingOps, SemanticDedupOps, VectorIndexOps}
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("""CASE WHEN aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
          ELSE sqrt(aggregate(embedding, 0e0,
            (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))
    val total = e.count()
    val base = java.nio.file.Files.createTempDirectory("sem_dr").toString
    val px = "ut_sdr" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    try {
      // the index's frozen generation IS q280's gen 0 world: centroids
      // trained on the old half, the full corpus assigned against them
      // (base members at build, the new half at ingest)
      SemanticDedupOps.buildSemanticIndex(spark,
        e.filter(col("vec_id") * 2 < total), px, s"$base/idx")
      SemanticDedupOps.ingestSemanticIndex(spark,
        e.filter(col("vec_id") * 2 >= total), px, s"$base/idx")
      def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("n"), r.getAs[Long]("c_gen0"),
          r.getAs[Long]("c_gen1"), r.getAs[Double]("retention"),
          r.getAs[Double]("rand_index"), r.getAs[Double]("ari"))).toSeq
      val fromIndex = row(SemanticDedupOps.semanticRetrainDrift(spark, px))
      val gated = row(SparkEntry.queries("q280_retrain_drift")(spark, sf))
      assert(fromIndex == gated,
        s"index drift $fromIndex != gated q280 $gated")
    } finally {
      spark.sessionState.catalog.listTables("default").map(_.table)
        .filter(_.startsWith(px))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("q280 retrain drift: one decision row with metrics inside their " +
    "algebraic ranges and the full corpus accounted for") {
    val rows = SparkEntry.queries("q280_retrain_drift")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val n = Tables.table(spark, sf, "embeddings").count()
    assert(r.getAs[Long]("n") == n, "contingency lost vectors")
    val c0 = r.getAs[Long]("c_gen0"); val c1 = r.getAs[Long]("c_gen1")
    assert(c0 >= 1 && c0 <= 8 && c1 >= 1 && c1 <= 8, s"($c0, $c1)")
    val ret = r.getAs[Double]("retention")
    // majority retention can never fall below 1/k (uniform smear) nor
    // exceed 1 (perfect alignment)
    assert(ret >= 1.0 / 8 && ret <= 1.0, s"retention $ret")
    val ri = r.getAs[Double]("rand_index")
    assert(ri >= 0.0 && ri <= 1.0, s"rand_index $ri")
    val ari = r.getAs[Double]("ari")
    assert(ari <= 1.0 && ari >= -1.0, s"ari $ari")
    spark.catalog.clearCache()
  }

  test("q282 gram novelty: every doc reported once, novel mass bounded, " +
    "verdict a pure function of the counts") {
    val df = SparkEntry.queries("q282_gram_novelty")(spark, sf).persist()
    assert(df.count() == Tables.table(spark, sf, "documents").count())
    assert(df.filter(col("n_novel") > col("n_grams")).count() == 0)
    val misverdict = df.filter(
      (col("n_grams") === 0L && col("verdict") =!= "short") ||
      (col("n_grams") > 0L && lit(2) * col("n_novel") < col("n_grams") &&
        col("verdict") =!= "boilerplate") ||
      (col("n_grams") > 0L && lit(2) * col("n_novel") >= col("n_grams") &&
        col("verdict") =!= "novel")).count()
    assert(misverdict == 0)
    // a doc's novelty is 1 iff every one of its grams is unique to it;
    // at least one such doc exists in the synthetic corpus (and the
    // column is the exact division of the two integer columns)
    val offGrid = df.filter(col("n_grams") > 0L &&
      col("novelty") =!= col("n_novel").cast("double")
        / col("n_grams").cast("double")).count()
    assert(offGrid == 0)
    df.unpersist(); spark.catalog.clearCache()
  }

  test("q283 incremental novelty: ingest joins the persisted gram-df " +
    "index, never corpus text; first-ingested-wins across batches") {
    import spark.implicits._
    import graft.ops.TextOps
    val corpusDir = java.nio.file.Files.createTempDirectory("nvc").toString
    val batchDir = java.nio.file.Files.createTempDirectory("nvb").toString
    val idxDir = java.nio.file.Files.createTempDirectory("nvi").toString
    val px = "utnvx" + idxDir.replaceAll("[^A-Za-z0-9]", "").takeRight(6)
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    // corpus doc 7 owns grams [w1..w5] and [w2..w6]; batch doc 10
    // repeats the first corpus gram + one fresh gram, docs 20/30 are
    // batch-internal twins, doc 40 is wholly novel
    write(Seq(7L -> "w1 w2 w3 w4 w5 w6"), corpusDir)
    write(Seq(
      10L -> "w1 w2 w3 w4 w5 x9",
      20L -> "a1 a2 a3 a4 a5",
      30L -> "a1 a2 a3 a4 a5",
      40L -> "b1 b2 b3 b4 b5"), batchDir)
    try {
      spark.sql(s"DROP TABLE IF EXISTS ${px}_gramdf")
      TextOps.writeNoveltyIndex(
        spark.read.parquet(s"$corpusDir/documents.parquet"), px, idxDir)
      val out = TextOps.ingestNovelty(spark,
        spark.read.parquet(s"$batchDir/documents.parquet"), px)
      val got = out.collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[String]("verdict")))).toMap
      assert(got == Map(
        10L -> ((2L, 1L, "novel")),       // corpus gram seen, x9 fresh
        20L -> ((1L, 0L, "boilerplate")), // batch twin (min id owns)
        30L -> ((1L, 0L, "boilerplate")),
        40L -> ((1L, 1L, "novel"))), got.toString)
      // the checkpointed report can't expose its plan, so audit the
      // UNSEALED scoring half: batch + persisted index lineage only
      val probe = TextOps.scoreNoveltyBatch(spark,
        spark.read.parquet(s"$batchDir/documents.parquet"), px)
        ._1.queryExecution.executedPlan.toString
      assert(probe.contains(idxDir), probe)
      assert(!probe.contains(corpusDir),
        s"novelty scoring re-scans corpus text:\n$probe")
      // first-ingested-wins: doc 40's gram was folded in at ingest, so
      // a later twin scores zero novelty against the index
      write(Seq(50L -> "b1 b2 b3 b4 b5"), batchDir)
      val again = TextOps.ingestNovelty(spark,
        spark.read.parquet(s"$batchDir/documents.parquet"), px)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_novel"))
        .toMap
      assert(again == Map(50L -> 0L), again.toString)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${px}_gramdf")
      spark.catalog.clearCache()
    }
  }

  test("novelty purge/vacuum: a forgotten doc stops witnessing, shared " +
    "grams keep witnessing, and the vacuum folds to positive singletons") {
    import spark.implicits._
    import graft.ops.TextOps
    val base = java.nio.file.Files.createTempDirectory("nvpg").toString
    val px = "ut_nvpg" + base.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def score(b: org.apache.spark.sql.DataFrame) =
      TextOps.scoreNoveltyBatch(spark, b, px)._1
        .select(col("doc_id"), col("n_novel")).as[(Long, Long)]
        .collect().toMap
    try {
      spark.sql(s"DROP TABLE IF EXISTS ${px}_gramdf")
      // docs 1 and 2 share gram [s1..s5]; doc 1 alone owns [u1..u5]
      TextOps.writeNoveltyIndex(docs(Seq(
        1L -> "s1 s2 s3 s4 s5 zz u1 u2 u3 u4 u5",
        2L -> "s1 s2 s3 s4 s5")), px, s"$base/idx")
      val probes = docs(Seq(
        100L -> "s1 s2 s3 s4 s5",   // twin of the SHARED gram
        200L -> "u1 u2 u3 u4 u5"))  // twin of doc 1's sole gram
      assert(score(probes) == Map(100L -> 0L, 200L -> 0L))
      // forget doc 1: its solely-owned gram must stop witnessing
      // (signed sum 0) while the shared gram still has doc 2's count
      TextOps.purgeNoveltyIndex(spark,
        docs(Seq(1L -> "s1 s2 s3 s4 s5 zz u1 u2 u3 u4 u5")), px,
        takedownId = 0L)
      assert(score(probes) == Map(100L -> 0L, 200L -> 1L),
        "purge did not flip the solely-owned gram back to novel")
      // REPLAY SAFETY: a retried takedown (same id, same docs) is a
      // no-op — verdicts identical, signed df sums identical, no
      // double subtraction (the skip/heal contract every other purge
      // path already has)
      val sumsBefore = spark.table(s"${px}_gramdf")
        .groupBy(col("g")).agg(sum(col("df")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      TextOps.purgeNoveltyIndex(spark,
        docs(Seq(1L -> "s1 s2 s3 s4 s5 zz u1 u2 u3 u4 u5")), px,
        takedownId = 0L)
      val sumsAfter = spark.table(s"${px}_gramdf")
        .groupBy(col("g")).agg(sum(col("df")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sumsAfter == sumsBefore,
        "double purge changed signed df sums (not idempotent)")
      assert(score(probes) == Map(100L -> 0L, 200L -> 1L),
        "double purge changed verdicts")
      // a DISTINCT takedown id still purges (the id names the batch,
      // not a global once-only latch): forget doc 2 → the shared gram
      // loses its last witness and flips novel for a later twin
      TextOps.purgeNoveltyIndex(spark,
        docs(Seq(2L -> "s1 s2 s3 s4 s5")), px, takedownId = 1L)
      assert(score(probes) == Map(100L -> 1L, 200L -> 1L),
        "second takedown under a fresh id did not purge")
      // and ITS replay is a no-op too
      TextOps.purgeNoveltyIndex(spark,
        docs(Seq(2L -> "s1 s2 s3 s4 s5")), px, takedownId = 1L)
      assert(score(probes) == Map(100L -> 1L, 200L -> 1L),
        "replay of the second takedown double-subtracted")
      // vacuum: physically one row per SURVIVING gram, all sums
      // positive, verdicts unchanged
      TextOps.vacuumNoveltyIndex(spark, px, s"$base/vac")
      val t = spark.table(s"${px}_gramdf")
      assert(t.count() == t.select(col("g")).distinct().count(),
        "vacuum left multiple rows per gram")
      assert(t.filter(col("df") <= 0L).count() == 0,
        "vacuum kept non-positive rows")
      assert(score(probes) == Map(100L -> 1L, 200L -> 1L),
        "vacuum changed scoring")
      // post-vacuum ingest still appends and first-ingested-wins holds
      TextOps.ingestNovelty(spark,
        docs(Seq(300L -> "f1 f2 f3 f4 f5")), px)
      assert(score(docs(Seq(400L -> "f1 f2 f3 f4 f5")))
        == Map(400L -> 0L), "post-vacuum append not visible")
    } finally {
      Seq(s"${px}_gramdf", s"${px}_gramdf__vacuum")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("q170 normalized dedup: keeper per group, canon never longer") {
    val df = SparkEntry.queries("q170_normalized_dedup")(spark, sf)
    val nGroups = df.select(col("nk")).distinct().count()
    assert(df.filter(col("is_keeper")).count() == nGroups)
    assert(df.filter(col("n_canon") > col("n_raw")).count() == 0)
    // keeper is the group min and copy counts agree with group sizes
    val bad = df.groupBy(col("nk"))
      .agg(min(col("doc_id")).as("lo"), count(lit(1)).as("c"),
        first(col("keep_id")).as("k"), first(col("n_copies")).as("nc"))
      .filter(col("lo") =!= col("k") || col("c") =!= col("nc")).count()
    assert(bad == 0)
  }
}
