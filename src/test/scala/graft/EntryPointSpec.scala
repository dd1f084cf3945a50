package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.Round
import org.apache.spark.sql.functions._

import graft.config.SinkConfig
import graft.plans.AsOfJoinStrategy
import graft.sources.SyntheticKafkaSource
import graft.streaming.S3SinkPipeline

/** The session every entry point builds ([[GraftSession.builder]]) and
  * what a new streaming query on it compiles, the timing rule [[Bench]]
  * applies to each query, the registry's row invariants
  * ([[SparkEntry.rows]]) and [[Verify]]'s per-row leak check. */
class EntryPointSpec extends SparkSuite {

  override lazy val spark = GraftSession.builder("local[2]", 2)
    .appName(getClass.getSimpleName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("GraftSession installs vec_dot, CollapseRedundantRound and " +
    "AsOfJoinStrategy") {
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    // a range, not a local relation, so the projection stays in the plan
    val rounded = spark.range(10).select((col("id") / 7).as("x"))
      .select(round(round(col("x"), 2), 4).as("y"))
    val rounds = rounded.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case r: Round => r })
    assert(rounds.size == 1, s"plan:\n${rounded.queryExecution.optimizedPlan}")
    assert(spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
  }

  test("Bench.timeQuery reports the middle of 3 reps") {
    val sleeps = Iterator(300L, 20L, 120L)
    val q = Bench.timeQuery(spark,
      () => { Thread.sleep(sleeps.next()); spark.range(1).toDF() })
    assert(q.err.isEmpty && q.reps.size == 3)
    assert(q.median == q.reps.sorted.apply(1))
    // the two slower reps slept >= 120 ms, so their minimum bounds the middle
    assert(q.median >= 0.12, s"reps: ${q.reps}")
  }

  test("Bench.timeQuery records a throwing query's error, runs it once, " +
    "and leaves it out of the total") {
    var builds = 0
    val failed = Bench.timeQuery(spark, () => {
      builds += 1
      spark.range(1).select(raise_error(lit("boom")).as("x")).toDF()
    })
    assert(builds == 1)
    assert(failed.err.isDefined)
    assert(failed.reps.isEmpty && failed.median == -1.0)
    val ok = Bench.timeQuery(spark, () => spark.range(1).toDF())
    assert(Bench.total(Seq(ok, failed)) == ok.median)
  }

  test("registry row names are distinct") {
    val names = SparkEntry.rows.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"duplicate row names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("registry queries and oracles have the same keys") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("no registry oracle is blank") {
    val blank = SparkEntry.rows
      .filter(r => r.oracleSql == null || r.oracleSql.trim.isEmpty)
      .map(_.name)
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }

  test("every DumpPlans headliner is a registry row") {
    val missing = DumpPlans.Headliners.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty,
      s"headliners not in SparkEntry.queries: ${missing.mkString(", ")}")
  }

  test("Verify.writeRow fails a row that leaves a table cached and " +
    "deletes its output") {
    val out = tmpDir("verify-leak")
    val failure = Verify.writeRow(spark, "leaky",
      (s, _) => s.range(3).toDF().cache(), "", out)
    assert(failure.contains("left 1 cached tables"))
    assert(!new java.io.File(s"$out/leaky").exists())
    assert(GraftBridge.numCachedEntries(spark) == 0)
  }

  test("registry rows that reach a caching operator leave nothing cached " +
    "after Verify.writeRow") {
    val rows = Seq("dedup_simhash", "dedup_cluster_keep", "dedup_substring",
      "dedup_semantic", "text_token_count_unigram", "sample_importance",
      "text_lm_score", "mm_dedup_recall", "mm_dedup_media_incremental")
    val out = tmpDir("verify-rows")
    spark.conf.set("graft.sigstore.dir", tmpDir("verify-store"))
    try {
      spark.catalog.clearCache()
      val failures = rows.flatMap(name => Verify.writeRow(spark, name,
        SparkEntry.queries(name), "/root/testdata/sf0.001", out)
        .map(name -> _))
      assert(failures.isEmpty)
      rows.foreach(name => assert(new java.io.File(s"$out/$name").isDirectory))
    } finally spark.conf.unset("graft.sigstore.dir")
  }

  test("DumpPlans.formattedPlan normalizes two builds of one row in one " +
    "session to the same string") {
    // mm_decode's plan carries expression ids and a typed-lambda class
    // name, the tokens that differ between builds
    def build = SparkEntry.queries("mm_decode")(spark, "/root/testdata/sf0.001")
    val (a, b) = (build, build)
    def raw(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(raw(a) != raw(b), "two builds should differ before normalizing")
    val plan = DumpPlans.formattedPlan(a)
    assert(plan == DumpPlans.formattedPlan(b))
    assert(plan.contains("$$Lambda@<hash>") && plan.contains("#1"), plan)
  }

  test("DumpPlans.formattedPlan does not depend on lambdas built before it") {
    // the shingle lambda's variable name (`x_N`) comes from a JVM-wide
    // counter, which any other lambda-using query advances
    def plan = DumpPlans.formattedPlan(SparkEntry.queries(
      "dedup_ngram_jaccard")(spark, "/root/testdata/sf0.001"))
    val before = plan
    spark.range(3).select(transform(array(col("id")), x => x + 1),
      filter(array(col("id")), (x, i) => x > i)).collect()
    val after = plan
    assert(after == before)
    assert(before.contains("lambda x_1#"), before)
  }

  test("DumpPlans.formattedPlan masks a store directory's source " +
    "fingerprint") {
    // the fingerprint hashes the source files' mtimes, so a copy of the
    // same input names its store differently
    val root = tmpDir("fp-mask")
    def store(fp: String) = {
      val dir = s"$root/graft_sigstore_tag_v1-x_$fp"
      spark.range(3).write.parquet(dir)
      spark.read.parquet(dir)
    }
    val plan = DumpPlans.formattedPlan(store("0123456789abcdef"))
    assert(plan == DumpPlans.formattedPlan(store("fedcba9876543210")))
    assert(plan.contains("graft_sigstore_tag_v1-x_<fp>]"), plan)
  }

  test("a second sink query on a GraftSession session compiles no code: " +
    "the plan's classes are compiled once per JVM") {
    val cfg = SinkConfig.parse(Map(
      "aws.s3.bucket.name" -> "b",
      "topics" -> "ta,tb",
      "file.compression.type" -> "none",
      "format.output.fields" -> "value",
      "format.output.fields.value.encoding" -> "none")).toOption.get
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // one drain: a fresh query with its own output and checkpoint, the
    // way a restarted task or a catch-up drain starts
    def drain(tag: String): (String, Long) = {
      val out = tmpDir(s"$tag-out")
      val records = S3SinkPipeline.sourceReader(spark, cfg, "broker:9092",
        sourceFormat = classOf[SyntheticKafkaSource].getName,
        extraOptions = Map("topics" -> "ta,tb", "partitions" -> "2",
          "rowsPerPartition" -> "6", "rowsPerBatch" -> "4"))
      val before = compiled
      val q = S3SinkPipeline.start(records, cfg, out, tmpDir(s"$tag-ckpt"),
        flushIntervalMs = 50L)
      try q.processAllAvailable() finally q.stop()
      (out, compiled - before)
    }
    def ls(dir: String) = new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet
    val (out1, first) = drain("codegen-1")
    val (out2, second) = drain("codegen-2")
    assert(second == 0, s"the second query compiled $second classes " +
      s"(the first compiled $first)")
    // 2 micro-batches x 2 topics x 2 partitions
    assert(ls(out1).size == 8 && ls(out2) == ls(out1))
  }
}
