package graft

import graft.schema.ClipMeta
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-contract tests over reference-shaped fixtures (FIXTURES.md A1)
  * + SQL registration of the native expressions.
  */
class SchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private def fixture: String =
    getClass.getResource("/macvid_rows.jsonl").getPath

  test("permissive shard reader keeps well-formed, degraded and corrupt rows") {
    // mirrors load_from_dict's graceful degradation (scene_cut.py:120-137)
    val df = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(ClipMeta.macvidSchema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .json(fixture)
      .cache() // Spark refuses corrupt-record-only queries on raw files
    assert(df.count() == 4)
    // full nested row parses
    val full = df.filter(col("basic.video_id") === "vid_000")
    assert(full.select("scene.objects").head.getSeq[Any](0).nonEmpty)
    assert(full.select("basic.clip_start_end_idx").head
      .getSeq[Long](0) == Seq(248L, 496L))
    // v1-reduced row (basic + transcript only): missing sections -> null
    val v1 = df.filter(col("basic.video_id") === "vid_001")
    assert(v1.select("camera").head.isNullAt(0))
    assert(v1.select(element_at(col("transcript"), "lang")).head.getString(0) == "en")
    // type-mismatched and non-JSON rows are kept, flagged corrupt
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 2)
  }

  test("stage contract: withNestedField adds a scored field (ocr_score)") {
    val df = spark.read.schema(ClipMeta.macvidSchema).json(fixture)
      .filter(col("basic.video_id") === "vid_000")
    val out = ClipMeta.withNestedField(df, "scene", "ocr_score", lit(0.25))
    assert(out.select("scene.ocr_score").head.getDouble(0) == 0.25)
    assert(ClipMeta.addedColumns(df, out).isEmpty) // nested upsert, no new top-level col
  }

  test("withNestedField upserts into a NULL section instead of dropping") {
    // the v1-reduced row has camera = null; withField on a null struct
    // returns null, silently losing the score for exactly the degraded
    // rows the permissive reader keeps — the upsert must create the
    // section instead
    val df = spark.read.schema(ClipMeta.macvidSchema).json(fixture)
      .filter(col("basic.video_id") === "vid_001")
    assert(df.select("camera").head.isNullAt(0))
    val out = ClipMeta.withNestedField(df, "camera", "movement", lit("pan"))
    assert(out.select("camera.movement").head.getString(0) == "pan")
    assert(out.select("camera.speed").head.isNullAt(0))
  }

  test("mmtrail flat schema round-trips through json") {
    import spark.implicits._
    val row = """{"video_id":"v","clip_id":"v_0000001","clip_duration":3.5,
      "aesthetic_score":[5.1,5.2,5.3],"frame_caption":["a","b","c"],
      "music_caption":[{"text":"t","time":"0:00-10:00"}],"ocr_score":0.1}"""
    val df = spark.read.schema(ClipMeta.mmtrailSchema)
      .json(Seq(row).toDS())
    assert(df.select("music_caption").head.getSeq[Any](0).size == 1)
    assert(df.select(element_at(col("aesthetic_score"), 2)).head.getDouble(0) == 5.2)
  }

  test("dot_product is callable from SQL via GraftExtensions") {
    GraftExtensions.install(spark) // suites share one session; config-time
                                   // extensions don't reach it
    val r = spark.sql(
      """SELECT dot_product(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
                            CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d""")
      .head.getDouble(0)
    assert(r == 11.0)
  }

  test("registerTables exposes the corpus to plain spark.sql") {
    GraftExtensions.install(spark)
    Graft.registerTables(spark, "/root/testdata/sf0.001")
    // a cross-table SQL query with a native function — the full ad-hoc
    // surface a reference user would expect after switching
    val n = spark.sql("""
      SELECT count(*) FROM lineitem l JOIN orders o
        ON l.l_orderkey = o.o_orderkey""").head.getLong(0)
    assert(n > 0)
    val d = spark.sql(
      "SELECT dot_product(embedding, embedding) FROM embeddings LIMIT 1")
      .head.getDouble(0)
    assert(d >= 0.0)
    // events.ts arrives normalized exactly like Tables.table
    assert(spark.sql("SELECT unix_micros(ts) FROM events LIMIT 1")
      .head.getLong(0) > 0L)
  }

  test("dot_product with wrong arity is an analysis error, not an IOOBE") {
    GraftExtensions.install(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT dot_product(CAST(array(1.0) AS ARRAY<FLOAT>))")
        .head
    }
    assert(e.getMessage.contains("dot_product"), e.getMessage)
    assert(!e.isInstanceOf[IndexOutOfBoundsException])
  }

  test("sorted_intersect_count is callable from SQL, arity-checked") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_count(
           CAST(array(1, 3, 5, 9) AS ARRAY<BIGINT>),
           CAST(array(2, 3, 7, 9) AS ARRAY<BIGINT>)) AS n""")
      .head.getLong(0)
    assert(r == 2L)
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(CAST(array(1) AS ARRAY<BIGINT>))")
        .head
    }
    assert(e.getMessage.contains("sorted_intersect_count"), e.getMessage)
    // null elements never match — getLong on a null slot would read an
    // arbitrary value and count phantom intersections
    val withNull = spark.sql(
      """SELECT sorted_intersect_count(
           CAST(array(NULL, 5) AS ARRAY<BIGINT>),
           CAST(array(0, 5) AS ARRAY<BIGINT>)) AS n""")
      .head.getLong(0)
    assert(withNull == 1L)
  }

  test("Graft.session() yields a ready session (configs + natives)") {
    val s = Graft.session(master = "local[2]")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    val r = s.sql(
      """SELECT dot_product(CAST(array(2.0, 3.0) AS ARRAY<FLOAT>),
                            CAST(array(4.0, 5.0) AS ARRAY<FLOAT>)) AS d""")
      .head.getDouble(0)
    assert(r == 23.0)
  }

  test("codegen cache: a plan compiled once stays compiled after 200 " +
    "other plans, and Graft.session() carries the configured bound") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // JVM-wide counter: specs run one at a time in the forked test JVM,
    // and it is read only around this spec's own actions
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
      df.write.mode("overwrite").format("noop").save()
    val a = () => noop(spark.range(0, 1000, 1, 2)
      .selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s")))
    a()
    // 200 whole-stage classes that differ only in an inlined literal:
    // more than Spark's default bound of 100, so at that bound they
    // evict every class of `a`
    (1 to 200).foreach(k =>
      noop(spark.range(0, 64, 1, 1).filter(s"id % $k = 1")))
    val before = compiles
    a()
    assert(compiles == before, "the second run of a recompiled " +
      s"${compiles - before} classes")
    assert(Graft.session().conf.get("spark.sql.codegen.cache.maxEntries") ==
      Tables.CodegenCacheEntries.toString)
  }

  /** A fresh scratch dir for one schema-cache spec, removed afterwards. */
  private def withTableDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("schema_cache").toString
    try f(dir) finally graft.io.IndexLifecycle.rmDir(dir)
  }

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so no earlier job leaks in and no later event is missed). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftx.listener.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graftx.listener.drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }

  test("Tables.table: a second read of a table launches no Spark job") {
    withTableDir { dir =>
      spark.range(0L, 20L).selectExpr("id AS a", "CAST(id AS STRING) AS b")
        .write.parquet(s"$dir/t.parquet")
      val first = jobsDuring { Tables.table(spark, dir, "t").schema; () }
      assert(first > 0, "the listener saw no schema-inference job")
      val second = jobsDuring {
        assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a", "b"))
        ()
      }
      assert(second == 0, s"cached read launched $second job(s)")
      assert(Tables.table(spark, dir, "t").count() == 20L)
    }
  }

  test("Tables.table: overwriting a table with a new column invalidates " +
    "its cached schema") {
    withTableDir { dir =>
      val path = s"$dir/t.parquet"
      spark.range(0L, 5L).selectExpr("id AS a").write.parquet(path)
      assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
      spark.range(0L, 5L).selectExpr("id AS a", "id * 2 AS b")
        .write.mode("overwrite").parquet(path)
      val df = Tables.table(spark, dir, "t")
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.agg(sum(col("b"))).head.getLong(0) == 20L)
    }
  }

  test("Tables.table: the parquet type-mapping confs are part of the " +
    "schema-cache key") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    withTableDir { dir =>
      // A TIMESTAMP(isAdjustedToUTC=false) column written outside Spark,
      // like the corpus files. Spark-written files carry Spark's own
      // schema in the footer, which inference prefers over this conf.
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      val pq = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message t { required int64 ts (TIMESTAMP(MICROS,false)); }")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
        .withType(pq).withConf(spark.sparkContext.hadoopConfiguration)
        .build()
      try w.write(new SimpleGroupFactory(pq).newGroup()
        .append("ts", 1704164645000000L))
      finally w.close()
      val off = spark.newSession()
      off.conf.set(key, "false")
      val on = spark.newSession()
      on.conf.set(key, "true")
      def tsType(s: SparkSession) =
        Tables.table(s, dir, "t").schema("ts").dataType
      assert(tsType(off) == TimestampType)
      assert(tsType(on) == TimestampNTZType)
      // one entry per path: the switch back re-infers, never serves the
      // other session's schema
      assert(tsType(off) == TimestampType)
    }
  }

  test("dataFingerprint lists file:// URIs like plain paths") {
    withTableDir { dir =>
      spark.range(0L, 5L).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
      val plain = Tables.dataFingerprint(spark, dir, "t")
      assert(Tables.dataFingerprint(spark, s"file://$dir", "t") == plain)
      assert(plain != Tables.dataFingerprint(spark, dir, "absent"))
      // the URI form sees a rewrite, not a constant "absent" listing
      spark.range(0L, 7L).selectExpr("id AS a")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables.dataFingerprint(spark, s"file://$dir", "t") != plain)
    }
  }
}
