package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import graft.core.ExtraParams
import graft.engine.DQEngine
import graft.io.{IO, InputConfig}
import graft.metrics.{Metrics, MetricsRunInfo}
import graft.pipeline.CurationPipeline
import graft.rules.{ChecksSerializer, DQRule, ResolveCtx}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

final case class Ctx(spark: SparkSession, seed: Long, cores: Int, dir: File, fallbacks: AtomicLong) {
  /** Base-frame fallbacks are counted through the public engine callback. */
  def extra: ExtraParams = ExtraParams(onBaseFallback = Some((_, _) => fallbacks.incrementAndGet()))
}

/** A workload's inputs, generated and cached; `run` is one closed-loop
  * operation and returns its output-check failures (empty when correct).
  */
trait Prepared {
  def rowsPerOp: Long
  def run(op: Int, t: Tracer): Seq[String]
  /** End-of-run output checks. */
  def finish(): Seq[String] = Nil
}

trait Workload {
  def name: String
  def sizes: String
  def prepare(c: Ctx): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(WideRowRules, DatasetRules, SmallBatches, CurationDocs)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private val E = true
  private val W = false
  import RuleDef.{dataset, row}

  private def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  private def nonNegSize(c: Column): Column = when(c.isNull, 0).otherwise(size(c))

  /** Apply + observe + one aggregate over the result columns; the shared
    * operation of the two rule-set workloads.
    */
  private final class CheckedAggregate(c: Ctx, input: DataFrame, yaml: String,
                                       refs: Map[String, DataFrame], rules: Seq[RuleDef],
                                       exp: Expected) extends Prepared {
    private val parsed: Seq[DQRule] =
      ChecksSerializer.deserialize(ChecksSerializer.parseYaml(yaml), ResolveCtx(c.spark, refs))
    private val names = parsed.map(_.resolvedName)
    private val errorEntries = rules.filter(_.error).map(r => exp.perCheck(r.name)._1).sum
    private val warningEntries = rules.filterNot(_.error).map(r => exp.perCheck(r.name)._2).sum
    override def rowsPerOp: Long = exp.inputRows

    override def run(op: Int, t: Tracer): Seq[String] = {
      val extra = c.extra
      val checked = t.span("engine.compile")(DQEngine.applyChecks(input, parsed, extra))
      val obs = new Observation(s"dq_$op")
      val observed = DQEngine.observeMetrics(checked, obs, extra, checkNames = names)
      val totals = t.span("exec.action")(observed.agg(
        sum(nonNegSize(col("_errors"))), sum(nonNegSize(col("_warnings")))).collect().head)
      val metrics = t.span("metrics.observe_wait")(obs.get)
      exp.diff(metrics) ++ Seq(
        ("error entries", totals.getLong(0), errorEntries),
        ("warning entries", totals.getLong(1), warningEntries)).collect {
        case (what, got, want) if got != want => s"$what: observed $got, expected $want"
      }
    }
  }

  // ---------------------------------------------------------------- wide

  private val wideRules: Seq[RuleDef] = Seq(
    row("col1_is_not_null", E, "is_not_null", "column" -> "col1")(col("col1").isNull),
    row("col2_is_in_range", E, "is_in_range", "column" -> "col2", "min_limit" -> "0",
      "max_limit" -> "1000000")(col("col2") < 0 || col("col2") > 1000000),
    row("col2_is_not_less_than", W, "is_not_less_than", "column" -> "col2", "limit" -> "0")(
      col("col2") < 0),
    row("col2_is_not_greater_than", W, "is_not_greater_than", "column" -> "col2",
      "limit" -> "1000000")(col("col2") > 1000000),
    row("col3_is_in_list", E, "is_in_list", "column" -> "col3",
      "allowed" -> (0 until 97).mkString("[", ", ", "]"))(!col("col3").between(0, 96)),
    row("col3_is_not_in_list", W, "is_not_in_list", "column" -> "col3", "forbidden" -> "[500]")(
      col("col3") === 500),
    row("col4_is_not_null_and_not_empty_array", E, "is_not_null_and_not_empty_array",
      "column" -> "col4")(size(col("col4")) === 0),
    row("col5_is_not_older_than_n_days", W, "is_older_than_n_days", "column" -> "col5",
      "days" -> "1", "negate" -> "true")(col("col5") > lit("2100-01-01").cast("date")),
    row("col5_is_valid_date", W, "is_valid_date", "column" -> "col5")(lit(false)),
    row("col6_is_not_in_future", E, "is_not_in_future", "column" -> "col6", "offset" -> "0")(
      col("col6") > lit("2100-01-01 00:00:00").cast("timestamp")),
    row("col6_is_valid_timestamp", W, "is_valid_timestamp", "column" -> "col6")(lit(false)),
    row("col_ipv4_is_valid_ipv4_address", E, "is_valid_ipv4_address", "column" -> "col_ipv4")(
      col("col_ipv4").startsWith("999.")),
    row("col_ipv4_is_ipv4_address_in_cidr", W, "is_ipv4_address_in_cidr", "column" -> "col_ipv4",
      "cidr_block" -> "'10.0.0.0/8'")(!col("col_ipv4").startsWith("10.")),
    row("col_ipv6_is_valid_ipv6_address", E, "is_valid_ipv6_address", "column" -> "col_ipv6")(
      col("col_ipv6").contains("zz")),
    row("col_ipv6_is_not_null_and_not_empty", E, "is_not_null_and_not_empty",
      "column" -> "col_ipv6")(lit(false)),
    row("col_json_str_is_valid_json", E, "is_valid_json", "column" -> "col_json_str")(
      !col("col_json_str").endsWith("}")),
    row("col_json_str_has_json_keys", W, "has_json_keys", "column" -> "col_json_str",
      "keys" -> "[key1, key2]")(!col("col_json_str").contains("\"key2\": \"")),
    row("col_json_str_regex_match", W, "regex_match", "column" -> "col_json_str",
      "regex" -> "'^\\{.*\\}$'")(!col("col_json_str").endsWith("}")),
    row("col_json_str_is_not_empty", W, "is_not_empty", "column" -> "col_json_str")(lit(false)),
    row("col_geo_point_is_point", E, "is_point", "column" -> "col_geo_point")(
      col("col_geo_point").startsWith("LINESTRING")),
    row("col_geo_point_is_not_null_island", W, "is_not_null_island", "column" -> "col_geo_point")(
      col("col_geo_point") === "POINT(0 0)"),
    row("col10_is_not_in_range", W, "is_not_in_range", "column" -> "col10", "min_limit" -> "-10",
      "max_limit" -> "-1")(col("col10").between(-10, -1)),
    row("col7_key_is_non_negative", E, "sql_expression", "expression" -> "\"col7['key'] >= 0\"")(
      col("col2") < 0),
    row("col8_field1_is_present", W, "sql_expression",
      "expression" -> "'col8.field1 IS NOT NULL'")(col("col1").isNull))

  object WideRowRules extends Workload {
    val rows = 60000L
    override val name = "wide_row_rules"
    override def sizes = s"${wideRules.size} row rules, $rows cached rows"
    override def prepare(c: Ctx): Prepared = {
      val l = Gen.perfLayout(rows, c.seed, rows / 50)
      val df = cached(Gen.perfFrame(c.spark, l, c.seed, 2 * c.cores))
      new CheckedAggregate(c, df, RuleDef.yamlOf(wideRules), Map.empty, wideRules,
        Expected.compute(df, wideRules))
    }
  }

  // ------------------------------------------------------------- dataset

  object DatasetRules extends Workload {
    val rows = 100000L
    override val name = "dataset_rules"
    override def sizes = s"8 dataset rules, $rows cached rows against a cached reference"

    override def prepare(c: Ctx): Prepared = {
      val l = Gen.datasetLayout(rows, c.seed, rows / 25)
      val df = cached(Gen.datasetFrame(c.spark, l, c.seed, 2 * c.cores))
      val ref = cached(Gen.referenceFrame(c.spark, l, 2 * c.cores))
      val k = Gen.fkDomain(rows)
      val heavy = l.planted("heavy_group")
      val groupLimit = rows / 97 + heavy / 2
      val rules = Seq(
        dataset("col3_col2_is_unique", E, "is_unique", "columns" -> "[col3, col2]") { d =>
          val counts = d.groupBy("col3", "col2").agg(count(lit(1)).as("__n"))
          d.join(counts, Seq("col3", "col2"), "left")
            .withColumn("__exp_col3_col2_is_unique", col("__n") > 1).drop("__n")
        },
        dataset("col1_foreign_key", E, "foreign_key", "columns" -> "[col1]",
          "ref_columns" -> "[ref_col1]", "ref_df_name" -> "ref") { d =>
          val keys = ref.select(col("ref_col1").as("col1")).distinct().withColumn("__fk", lit(true))
          d.join(keys, Seq("col1"), "left")
            .withColumn("__exp_col1_foreign_key", col("col1").isNotNull && col("__fk").isNull)
            .drop("__fk")
        },
        dataset("col10_compare_datasets", W, "compare_datasets", "columns" -> "[col10]",
          "ref_columns" -> "[col10]", "ref_df_name" -> "ref") { d =>
          d.join(ref.select(col("col10"), col("col3").as("__rc3")), Seq("col10"), "left")
            .withColumn("__exp_col10_compare_datasets",
              col("__rc3").isNull || col("__rc3") =!= col("col3")).drop("__rc3")
        },
        row("col1_has_no_outliers", W, "has_no_outliers", "column" -> "col1")(
          col("col1") >= lit(100L * k)),
        row("col2_has_no_outliers", W, "has_no_outliers", "column" -> "col2")(
          col("col2") >= 3000000),
        dataset("col3_group_count_is_not_greater_than", E, "is_aggr_not_greater_than",
          "column" -> "col10", "aggr_type" -> "count", "group_by" -> "[col3]",
          "limit" -> groupLimit.toString) { d =>
          val counts = d.groupBy("col3").agg(count(col("col10")).as("__g"))
          d.join(counts, Seq("col3"), "left")
            .withColumn("__exp_col3_group_count_is_not_greater_than", col("__g") > groupLimit)
            .drop("__g")
        },
        dataset("col3_distinct_matches_reference", E, "aggr_matches_dataset", "column" -> "col3",
          "aggr_type" -> "count_distinct", "ref_df_name" -> "ref", "ref_column" -> "ref_col3") { d =>
          val same = d.select(countDistinct("col3")).head().getLong(0) ==
            ref.select(countDistinct("ref_col3")).head().getLong(0)
          d.withColumn("__exp_col3_distinct_matches_reference", lit(!same))
        },
        dataset("col2_high_sql_query", W, "sql_query",
          "query" -> "'SELECT col10, col2 > 900000 AS flagged FROM {{input_view}}'",
          "merge_columns" -> "[col10]", "condition_column" -> "flagged") { d =>
          d.withColumn("__exp_col2_high_sql_query", col("col2") > 900000)
        })
      new CheckedAggregate(c, df, RuleDef.yamlOf(rules), Map("ref" -> ref), rules,
        Expected.compute(df, rules))
    }
  }

  // ------------------------------------------------------- small batches

  private val batchRowRules: Seq[RuleDef] = wideRules.filter(r => Set(
    "col1_is_not_null", "col2_is_in_range", "col3_is_in_list", "col4_is_not_null_and_not_empty_array",
    "col6_is_not_in_future", "col_ipv4_is_valid_ipv4_address", "col_ipv4_is_ipv4_address_in_cidr",
    "col_ipv6_is_valid_ipv6_address", "col_json_str_is_valid_json", "col_json_str_has_json_keys",
    "col_geo_point_is_point")(r.name))

  object SmallBatches extends Workload {
    val rows = 2000L
    val files = 2
    override val name = "small_batches"
    override def sizes = s"${batchRowRules.size + 3} YAML rules, $files parquet batches of $rows rows"

    private final case class Batch(path: String, exp: Expected)

    override def prepare(c: Ctx): Prepared = {
      val defects = rows * 3 / 10
      val perClass = defects / Gen.PerfClasses.size
      val groupLimit = (rows / 97 + perClass) / 2
      val rules = batchRowRules ++ Seq(
        dataset("col10_is_unique", E, "is_unique", "columns" -> "[col10]") { d =>
          val counts = d.groupBy("col10").agg(count(lit(1)).as("__n"))
          d.join(counts, Seq("col10"), "left")
            .withColumn("__exp_col10_is_unique", col("__n") > 1).drop("__n")
        },
        row("col2_has_no_outliers", W, "has_no_outliers", "column" -> "col2")(
          col("col2") === 2000000),
        dataset("col3_group_count_is_not_greater_than", W, "is_aggr_not_greater_than",
          "column" -> "col10", "aggr_type" -> "count", "group_by" -> "[col3]",
          "limit" -> groupLimit.toString) { d =>
          val counts = d.groupBy("col3").agg(count(col("col10")).as("__g"))
          d.join(counts, Seq("col3"), "left")
            .withColumn("__exp_col3_group_count_is_not_greater_than", col("__g") > groupLimit)
            .drop("__g")
        })
      val yaml = RuleDef.yamlOf(rules)
      val batches = (0 until files).map { i =>
        val seed = c.seed * 1000 + i
        val df = Gen.perfFrame(c.spark, Gen.perfLayout(rows, seed, defects), seed, 1)
        val path = new File(c.dir, s"batches/b$i.parquet").getAbsolutePath
        df.write.mode("overwrite").parquet(path)
        Batch(path, Expected.compute(c.spark.read.parquet(path), rules))
      }
      val table = "dq_metrics"
      new Prepared {
        private var metricRows = 0L
        override def rowsPerOp: Long = rows

        override def run(op: Int, t: Tracer): Seq[String] = {
          val b = batches(math.floorMod(op, files))
          val spark = c.spark
          val dicts = t.span("rules.parse")(ChecksSerializer.parseYaml(yaml))
          val parsed = t.span("rules.deserialize")(
            ChecksSerializer.deserialize(dicts, ResolveCtx(spark)))
          val input = t.span("io.read")(IO.readInputData(spark, InputConfig(b.path)))
          val runId = java.util.UUID.randomUUID().toString
          val extra = c.extra.copy(runIdOverwrite = Some(runId))
          val checked = t.span("engine.compile")(DQEngine.applyChecks(input, parsed, extra))
          val obs = new Observation(s"dq_$op")
          val observed = DQEngine.observeMetrics(checked, obs, extra,
            checkNames = parsed.map(_.resolvedName))
          val validObs = new Observation(s"valid_$op")
          val invalidObs = new Observation(s"invalid_$op")
          t.span("exec.action") {
            val split = observed.cache()
            try {
              DQEngine.getValid(split, extra).observe(validObs, count(lit(1)).as("rows"))
                .write.format("noop").mode("overwrite").save()
              DQEngine.getInvalid(split, extra).observe(invalidObs, count(lit(1)).as("rows"))
                .write.format("noop").mode("overwrite").save()
            } finally split.unpersist()
          }
          val metrics = t.span("metrics.observe_wait")(obs.get)
          t.span("metrics.rows") {
            Metrics.buildMetricsRows(spark, metrics, MetricsRunInfo(runId,
              inputLocation = Some(b.path)), extra).write.mode("append").saveAsTable(table)
          }
          metricRows += metrics.size
          b.exp.diff(metrics) ++ Seq(
            ("valid split", validObs.get("rows"), b.exp.validSplit),
            ("invalid split", invalidObs.get("rows"), b.exp.invalidSplit)).collect {
            case (what, got, want) if got != want => s"$what rows: observed $got, expected $want"
          }
        }

        override def finish(): Seq[String] = {
          val n = c.spark.table(table).count()
          if (n == metricRows) Nil else Seq(s"metrics table holds $n rows, expected $metricRows")
        }
      }
    }
  }

  // ------------------------------------------------------------ curation

  object CurationDocs extends Workload {
    val docs = 1000
    override val name = "curation_docs"
    override def sizes = s"7-step curation pipeline over $docs generated documents"

    private val steps: String =
      """- step: normalize
        |- step: filter_length
        |  min_chars: 200
        |- step: filter_quality
        |- step: filter_repetition
        |- step: filter_c4
        |- step: dedup_exact
        |- step: dedup_minhash
        |""".stripMargin

    override def prepare(c: Ctx): Prepared = {
      val g = Gen.docs(docs, c.seed, 0.03)
      val spark = c.spark
      import spark.implicits._
      val df = cached(g.rows.toDF("doc_id", "text").repartition(2 * c.cores))
      val parsed = ChecksSerializer.parseYaml(steps)
      // survivors after each deterministic step, from the generator's plants
      val removed = Seq("normalize" -> 0, "filter_length" -> g.planted("short"),
        "filter_quality" -> g.planted("punct"), "filter_repetition" -> g.planted("repetitive"),
        "filter_c4" -> g.planted("no_sentences"), "dedup_exact" -> g.planted("exact_dup"))
      val expectedSteps = removed.zipWithIndex.map { case ((s, _), i) =>
        s"cur_${i}_$s" -> (docs.toLong - removed.take(i + 1).map(_._2).sum)
      }
      new Prepared {
        private var survivors: Option[(Long, Long)] = None
        override def rowsPerOp: Long = docs.toLong

        override def run(op: Int, t: Tracer): Seq[String] = {
          val out = t.span("pipeline.build")(
            CurationPipeline(df, parsed, "doc_id", "text", observePrefix = Some("cur_")))
          val fingerprint = out.agg(count(lit(1)), sum(pmod(xxhash64(col("doc_id")), lit(1L << 31))))
          val r = t.span("exec.action")(fingerprint.collect().head)
          val observed = t.span("metrics.observe_wait")(fingerprint.queryExecution.observedMetrics)
          val got = (r.getLong(0), r.getLong(1))
          val stepDiffs = expectedSteps.collect {
            case (k, want) if !observed.get(k).map(_.getLong(0)).contains(want) =>
              s"step $k: observed ${observed.get(k).map(_.getLong(0))}, expected $want"
          }
          val minhashRows = observed.get("cur_6_dedup_minhash").map(_.getLong(0))
          val afterExact = expectedSteps.last._2
          val survivorDiffs = survivors match {
            case None => survivors = Some(got); Nil
            case Some(first) if first == got => Nil
            case Some(first) => Seq(s"MinHash survivors changed: $got, first repetition $first")
          }
          val boundDiffs =
            if (minhashRows.contains(got._1) && got._1 <= afterExact) Nil
            else Seq(s"MinHash survivors ${got._1} (observed $minhashRows) exceed $afterExact")
          stepDiffs ++ survivorDiffs ++ boundDiffs
        }
      }
    }
  }
}
