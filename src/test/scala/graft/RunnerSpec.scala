package graft

import graft.engine.{DQEngine, DQRunner}
import graft.io._
import graft.metrics.{Metrics, MetricsRunInfo}
import graft.profiler.{Generator, Profiler}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** E2E runner, storage, metrics, profiler. */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("batch e2e: read -> checks -> output + quarantine + metrics table") {
    val in = tmp("dq_in")
    Seq((1, "a", 10), (2, null, 20), (3, "c", -5)).toDF("id", "name", "amount")
      .write.mode("overwrite").parquet(in)
    val out = tmp("dq_out")
    val quar = tmp("dq_quar")
    val checks = Seq(
      Map("criticality" -> "error",
        "check" -> Map("function" -> "is_not_null", "arguments" -> Map("column" -> "name"))))
    dropTableFully("dq_metrics_test")
    DQRunner.applyChecksAndSaveInTable(spark, DQRunner.RunConfig(
      input = InputConfig(in),
      output = Some(OutputConfig(out, mode = "overwrite")),
      quarantine = Some(OutputConfig(quar, mode = "overwrite")),
      checks = checks,
      metricsTable = Some("dq_metrics_test")))
    assert(spark.read.parquet(out).count() == 2)
    val bad = spark.read.parquet(quar)
    assert(bad.count() == 1)
    assert(bad.columns.contains("_errors"))
    val metrics = spark.read.table("dq_metrics_test")
    val m = metrics.select("metric_name", "metric_value").as[(String, String)].collect().toMap
    assert(m("input_row_count") == "3" && m("error_row_count") == "1")
  }

  test("quarantine-only and metrics-only runs (reference 0.15.0 #1183/#1236)") {
    val in = tmp("dq_in_q")
    Seq((1, "a", 10), (2, null, 20), (3, "c", -5)).toDF("id", "name", "amount")
      .write.mode("overwrite").parquet(in)
    val checks = Seq(
      Map("criticality" -> "error",
        "check" -> Map("function" -> "is_not_null", "arguments" -> Map("column" -> "name"))))
    // quarantine-only: no output config, just the invalid records written
    val quar = tmp("dq_quar_only")
    DQRunner.applyChecksAndSaveInTable(spark, DQRunner.RunConfig(
      input = InputConfig(in),
      quarantine = Some(OutputConfig(quar, mode = "overwrite")),
      checks = checks))
    val bad = spark.read.parquet(quar)
    assert(bad.count() == 1 && bad.columns.contains("_errors"))
    // metrics-only: no data writes, metrics table populated
    dropTableFully("dq_metrics_only_test")
    DQRunner.applyChecksAndSaveInTable(spark, DQRunner.RunConfig(
      input = InputConfig(in),
      checks = checks,
      metricsTable = Some("dq_metrics_only_test")))
    val m = spark.read.table("dq_metrics_only_test")
      .select("metric_name", "metric_value").as[(String, String)].collect().toMap
    assert(m("input_row_count") == "3" && m("error_row_count") == "1")
    // no sink at all -> explicit error
    intercept[IllegalArgumentException] {
      DQRunner.applyChecksAndSaveInTable(spark, DQRunner.RunConfig(
        input = InputConfig(in), checks = checks))
    }
  }

  test("file checks storage round-trips yaml") {
    val f = tmp("dq_checks") + "/checks.yml"
    val checks = Seq(
      Map("name" -> "r1", "criticality" -> "warn",
        "check" -> Map("function" -> "is_not_null", "arguments" -> Map("column" -> "id"))))
    FileChecksStorage.save(checks, f)
    val loaded = FileChecksStorage.load(f)
    assert(loaded.head("name") == "r1")
    assert(loaded.head("check").asInstanceOf[Map[String, Any]]("function") == "is_not_null")
  }

  test("table checks storage: row-per-check, versioning, latest-set load") {
    dropTableFully("dq_checks_tbl")
    val st = new TableChecksStorage(spark)
    val v1 = Seq(
      Map("name" -> "a_nn", "criticality" -> "error",
        "check" -> Map("function" -> "is_not_null", "arguments" -> Map("column" -> "a"))),
      Map("name" -> "b_range", "criticality" -> "warn", "filter" -> "a > 0",
        "check" -> Map("function" -> "is_in_range",
          "arguments" -> Map("column" -> "b", "min_limit" -> 1, "max_limit" -> 10)),
        "user_metadata" -> Map("owner" -> "team-x")))
    st.saveChecks(v1, "dq_checks_tbl", mode = "append")
    Thread.sleep(5)
    val v2 = v1 :+ Map("criticality" -> "error",
      "check" -> Map("function" -> "is_not_empty", "arguments" -> Map("column" -> "c"),
        "for_each_column" -> Seq("c", "d")))
    st.saveChecks(v2, "dq_checks_tbl", mode = "append")
    // one row per check, both versions present
    assert(spark.read.table("dq_checks_tbl").count() == 2 + 3)
    // latest set load, arguments round-trip typed (ints stay ints)
    val loaded = st.loadChecks("dq_checks_tbl")
    assert(loaded.size == 3)
    val range = loaded.find(_.get("name").contains("b_range")).get
    val args = range("check").asInstanceOf[Map[String, Any]]("arguments").asInstanceOf[Map[String, Any]]
    assert(args("min_limit") == 1 && args("column") == "b")
    assert(range("filter") == "a > 0")
    assert(range("user_metadata") == Map("owner" -> "team-x"))
    // specific older fingerprint still loadable
    val fp1 = st.ruleSetFingerprint(v1)
    assert(st.loadChecks("dq_checks_tbl", fingerprint = Some(fp1)).size == 2)
    // idempotency: re-saving the same set writes nothing
    st.saveChecks(v2, "dq_checks_tbl", mode = "append")
    assert(spark.read.table("dq_checks_tbl").count() == 5)
    // the loaded dicts run through the engine
    import spark.implicits._
    val df2 = Seq((1, 5, "x", "y")).toDF("a", "b", "c", "d")
    assert(DQEngine.applyChecksByMetadata(df2, loaded).count() == 1)
  }

  test("unnamed checks: stored name + fingerprint byte-equal the apply-time values (ref #1193)") {
    dropTableFully("dq_checks_tbl_unnamed")
    val st = new TableChecksStorage(spark)
    // no explicit name anywhere
    val checks = Seq(
      Map("criticality" -> "error",
        "check" -> Map("function" -> "is_not_null", "arguments" -> Map("column" -> "a"))),
      Map("criticality" -> "warn", "filter" -> "b > 0",
        "check" -> Map("function" -> "is_in_range",
          "arguments" -> Map("column" -> "b", "min_limit" -> 1, "max_limit" -> 10))))
    st.saveChecks(checks, "dq_checks_tbl_unnamed")
    val stored = spark.read.table("dq_checks_tbl_unnamed")
      .select("name", "rule_fingerprint").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // storage writes the AUTOGENERATED names, not nulls
    assert(stored.keySet == Set("a_is_not_null", "b_is_in_range"), stored.keySet)

    // load -> apply: the result-column fingerprints must byte-equal storage's
    val loaded = st.loadChecks("dq_checks_tbl_unnamed")
    import spark.implicits._
    val df = Seq((Option.empty[Int], 99)).toDF("a", "b") // both rules fire
    val out = DQEngine.applyChecksByMetadata(df, loaded)
    val fromErrors = out.selectExpr("explode(_errors) AS e")
      .selectExpr("e.name", "e.rule_fingerprint").as[(String, String)].collect().toMap
    val fromWarnings = out.selectExpr("explode(_warnings) AS e")
      .selectExpr("e.name", "e.rule_fingerprint").as[(String, String)].collect().toMap
    assert(fromErrors.keySet == Set("a_is_not_null"))
    assert(fromWarnings.keySet == Set("b_is_in_range"))
    assert(fromErrors("a_is_not_null") == stored("a_is_not_null"))
    assert(fromWarnings("b_is_in_range") == stored("b_is_in_range"))
    // and applying the ORIGINAL (never-stored) unnamed dicts yields the same
    // fingerprints — storage round-trip is not required for the join to work
    val outDirect = DQEngine.applyChecksByMetadata(df, checks)
    val directFps = outDirect.selectExpr("explode(_errors) AS e")
      .selectExpr("e.rule_fingerprint").as[String].collect().toSet ++
      outDirect.selectExpr("explode(_warnings) AS e")
        .selectExpr("e.rule_fingerprint").as[String].collect().toSet
    assert(directFps == stored.values.toSet)
  }

  test("table checks storage: overwrite replaces only its run config") {
    dropTableFully("dq_checks_tbl2")
    val st = new TableChecksStorage(spark)
    val mk = (f: String, c: String) => Seq(Map("criticality" -> "error",
      "check" -> Map("function" -> f, "arguments" -> Map("column" -> c))))
    st.saveChecks(mk("is_not_null", "a"), "dq_checks_tbl2", runConfigName = "cfg1")
    st.saveChecks(mk("is_not_null", "b"), "dq_checks_tbl2", runConfigName = "cfg2")
    Thread.sleep(5)
    st.saveChecks(mk("is_null", "a2"), "dq_checks_tbl2", runConfigName = "cfg1", mode = "overwrite")
    val cfg1 = st.loadChecks("dq_checks_tbl2", runConfigName = "cfg1")
    val cfg2 = st.loadChecks("dq_checks_tbl2", runConfigName = "cfg2")
    assert(cfg1.size == 1 &&
      cfg1.head("check").asInstanceOf[Map[String, Any]]("function") == "is_null")
    assert(cfg2.size == 1 &&
      cfg2.head("check").asInstanceOf[Map[String, Any]]("function") == "is_not_null")
    // overwrite removed cfg1's old version entirely
    assert(spark.read.table("dq_checks_tbl2").count() == 2)
  }

  test("summary metrics over a checked table unpivots to metric rows") {
    val df = Seq((1, Some("a")), (2, None)).toDF("id", "name")
    val checked = DQEngine.applyChecks(df, Seq(
      graft.rules.DQRowRule(graft.checks.RowChecks.isNotNull(col("name")), "is_not_null", Seq("name"))))
    val rows = Metrics.computeSummaryMetrics(checked, MetricsRunInfo(runId = "r1"))
    val m = rows.select("metric_name", "metric_value").as[(String, String)].collect().toMap
    assert(m == Map("input_row_count" -> "2", "error_row_count" -> "1",
      "warning_row_count" -> "0", "valid_row_count" -> "1"))
    assert(rows.schema.fieldNames.contains("rule_set_fingerprint"))
  }

  test("stratified sampleBy: dict fractions keep only listed strata; uniform covers all") {
    val df = (1 to 3000).map(i => (i, Seq("a", "b", "c")(i % 3))).toDF("id", "g")
    val dict = Profiler.stratifiedSample(df, "g", Map[Any, Double]("a" -> 1.0, "b" -> 0.5))
    val byG = dict.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byG("a") == 1000) // fraction 1.0 keeps every row
    assert(byG.getOrElse("c", 0L) == 0) // absent stratum excluded
    assert(byG("b") > 200 && byG("b") < 800)
    val uniform = Profiler.stratifiedSampleUniform(df, "g", 1.0, valuesLimit = Some(2))
    // ordered distinct + limit 2 -> strata a, b kept deterministically
    assert(uniform.select("g").distinct().as[String].collect().toSet == Set("a", "b"))
    assert(uniform.count() == 2000)

    // option-shape parity (reference #1240, profiler.py:335-358): the same
    // dispatch is reachable through profile()/summarize() options, not just
    // the direct APIs
    val viaOptsDict = Profiler.sampleInput(df, graft.profiler.ProfilerOptions(
      sampleByColumn = Some("g"),
      sampleByFractions = Some(Map[Any, Double]("a" -> 1.0))))
    assert(viaOptsDict.select("g").distinct().as[String].collect().toSeq == Seq("a"))
    val viaOptsUniform = Profiler.sampleInput(df, graft.profiler.ProfilerOptions(
      sampleByColumn = Some("g"), sampleFraction = 1.0, sampleByValuesLimit = Some(2)))
    assert(viaOptsUniform.select("g").distinct().as[String].collect().toSet == Set("a", "b"))
    // a fractions dict without sample_by_column is rejected (InvalidConfigError parity)
    intercept[IllegalArgumentException](Profiler.sampleInput(df,
      graft.profiler.ProfilerOptions(sampleByFractions = Some(Map[Any, Double]("a" -> 1.0)))))
    // and the full profile runs on the stratified sample
    val (stats, _) = Profiler.profile(df, Seq("id", "g"), graft.profiler.ProfilerOptions(
      sampleByColumn = Some("g"),
      sampleByFractions = Some(Map[Any, Double]("a" -> 1.0, "b" -> 1.0))))
    assert(stats("id")("count").asInstanceOf[Long] == 2000L)
  }

  test("has_no_outliers profile: column names are never spliced into SQL text") {
    val values = (1 to 1000).map(i => 100.0 + (i % 21)) ++ Seq.fill(5)(10000.0)
    val spaced = values.zipWithIndex.map(_.swap).toDF("id", "my col")
    val p = Profiler.hasNoOutliersProfile(spaced, "my col")
    assert(p.map(_.column).contains("my col"))
    // plain names keep the band the SQL-text approx_percentile formulation gave
    def sqlBand(df: org.apache.spark.sql.DataFrame, c: String): String = {
      val med = df.select(expr(s"approx_percentile($c, 0.5)")).first().get(0)
        .asInstanceOf[Number].doubleValue()
      val mad = df.select(expr(s"approx_percentile(abs($c - $med), 0.5)")).first().get(0)
        .asInstanceOf[Number].doubleValue()
      val f = graft.profiler.ProfilerOptions().madFactor
      s"Lower boundary - ${med - f * mad}, upper boundary - ${med + f * mad}"
    }
    val dbl = values.zipWithIndex.map(_.swap).toDF("id", "v")
    val ints = values.map(_.toInt).zipWithIndex.map(_.swap).toDF("id", "v")
    for (df <- Seq(dbl, ints)) {
      val got = Profiler.hasNoOutliersProfile(df, "v").map(_.description)
      assert(got.exists(_.endsWith(sqlBand(df, "v"))), s"$got vs ${sqlBand(df, "v")}")
    }
    assert(Profiler.hasNoOutliersProfile(spaced, "my col").map(_.description)
      .map(_.replace("my col", "v")) == Profiler.hasNoOutliersProfile(dbl, "v").map(_.description))
  }

  test("has_no_outliers profile: emitted for clean columns, withheld when too many outliers") {
    // 1000 tight values + 5 extreme outliers (0.5% outliers, within 5% threshold)
    val clean = ((1 to 1000).map(i => 100.0 + (i % 21)) ++ Seq.fill(5)(10000.0))
      .zipWithIndex.map(_.swap).toDF("id", "v")
    val p = Profiler.hasNoOutliersProfile(clean, "v")
    assert(p.nonEmpty && p.get.name == "has_no_outliers")
    // 30% outliers -> withheld
    val dirty = ((1 to 700).map(_ => 100.0) ++ (1 to 300).map(_ => 10000.0))
      .zipWithIndex.map(_.swap).toDF("id", "v")
    assert(Profiler.hasNoOutliersProfile(dirty, "v").isEmpty)
    // constant column -> degenerate band -> withheld
    val const = (1 to 100).map(i => (i, 5.0)).toDF("id", "v")
    assert(Profiler.hasNoOutliersProfile(const, "v").isEmpty)
    // profile() includes the candidate and the generated rule applies
    val (_, profiles) = Profiler.profile(clean,
      opts = graft.profiler.ProfilerOptions(sampleFraction = 1.0))
    assert(profiles.exists(pp => pp.name == "has_no_outliers" && pp.column == "v"))
    val rules = Generator.generateDqRules(profiles.filter(_.name == "has_no_outliers"))
    val out = DQEngine.applyChecksByMetadata(clean, rules)
    assert(out.where(col("_errors").isNotNull).count() == 5) // flags exactly the planted outliers
  }

  test("DLT expectation generator emits SQL constraints, dict and python forms") {
    val profiles = Seq(
      graft.profiler.DQProfile("is_not_null", "a", ""),
      graft.profiler.DQProfile("is_in_list", "b", "", Map("allowed" -> Seq("x", "y"))),
      graft.profiler.DQProfile("min_max", "c", "", Map("min" -> 1, "max" -> 9)),
      graft.profiler.DQProfile("is_not_null_and_not_empty", "d", ""),
      graft.profiler.DQProfile("has_no_outliers", "e", "")) // unsupported -> skipped
    val sql = graft.profiler.DltGenerator.generateSql(profiles, Some("drop"))
    assert(sql.contains("CONSTRAINT a_is_not_null EXPECT (a is not null) ON VIOLATION DROP ROW"))
    assert(sql.exists(_.contains("b in ('x', 'y')")))
    assert(sql.exists(_.contains("c >= 1 and c <= 9")))
    assert(sql.size == 4)
    val d = graft.profiler.DltGenerator.generateDict(profiles)
    assert(d("d_is_not_null_and_not_empty") == "d is not null and trim(d) <> ''")
    val py = graft.profiler.DltGenerator.generatePython(profiles, Some("fail"))
    assert(py.startsWith("@dlt.expect_all_or_fail(") && py.contains("\"a_is_not_null\""))
  }

  test("profile() costs two aggregation passes regardless of column count") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = (1 to 500).map(i => (i, if (i % 2 == 0) "A" else "B", i * 1.0, i * 2.0, i % 7))
      .toDF("id", "cat", "v1", "v2", "bucket")
    val counter = new SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val (_, profiles) = Profiler.profile(df,
        opts = graft.profiler.ProfilerOptions(sampleFraction = 1.0, distinctRatioMax = 0.5))
      Thread.sleep(500) // let the listener bus drain
      val jobs = counter.jobs.get()
      // pass 1 (summarize) + pass 2 (grids + value sets); the former pass 3
      // is folded into pass 2 (r7). Each sample+limit+agg action can cost 2
      // scheduler jobs (limit escalation) plus, since r14, one more for the
      // repartition that spreads a BINDING row cap over the cluster instead
      // of running the whole aggregation as the GlobalLimit's single task —
      // so 2 actions bound at 6 (still FIXED in the column count; the 3-pass
      // per-column shape measured 6 for three columns and grows with them).
      assert(jobs <= 6, s"expected <=6 jobs for a 2-pass profile, got $jobs")
      assert(profiles.exists(p => p.name == "has_no_outliers" && p.column == "v1"))
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("profile() grid ratio withholds has_no_outliers past the threshold") {
    // 10% of values sit far outside the MAD band: the grid-read ratio
    // (resolution 1%) must withhold the rule exactly like the former exact
    // count did, while the clean column still emits
    val df = (0 until 1000).map(i =>
      (i, if (i < 900) i.toDouble else 1e9, i.toDouble)).toDF("id", "dirty", "clean")
    val (_, profiles) = Profiler.profile(df, columns = Seq("dirty", "clean"),
      opts = graft.profiler.ProfilerOptions(sampleFraction = 1.0))
    assert(!profiles.exists(p => p.name == "has_no_outliers" && p.column == "dirty"),
      profiles.filter(_.name == "has_no_outliers").toString)
    assert(profiles.exists(p => p.name == "has_no_outliers" && p.column == "clean"))
  }

  test("profiler infers null/in-list/range rules in one agg pass") {
    val df = (1 to 200).map(i => (i, if (i % 2 == 0) "A" else "B", i * 1.0))
      .toDF("id", "cat", "v")
    val (stats, profiles) = Profiler.profile(df,
      opts = graft.profiler.ProfilerOptions(sampleFraction = 1.0, distinctRatioMax = 0.5))
    assert(stats("cat")("count_null") == 0L)
    // df.summary()-style quartiles come from the same single pass
    assert(math.abs(stats("v")("p50").asInstanceOf[Double] - 100.0) <= 5.0)
    assert(stats("v")("p25").asInstanceOf[Double] < stats("v")("p75").asInstanceOf[Double])
    val names = profiles.map(p => (p.name, p.column)).toSet
    assert(names.contains(("is_not_null", "cat")))
    assert(names.contains(("is_in_list", "cat")))
    assert(names.contains(("min_max", "v")))
    // generated rules deserialize and apply cleanly
    val ruleDicts = Generator.generateDqRules(profiles)
    val out = DQEngine.applyChecksByMetadata(df, ruleDicts)
    assert(out.where(col("_errors").isNotNull).count() == 0)
  }
}
