package graft.profiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profiling → rule inference (reference dqx/profiler/). Improvement over the
  * reference's per-column job pattern (profiler.py:442-469): ALL per-column
  * statistics are computed in ONE aggregation pass over the (sampled) data.
  */
final case class DQProfile(
    name: String,
    column: String,
    description: String,
    parameters: Map[String, Any] = Map.empty)

final case class ProfilerOptions(
    sampleFraction: Double = 0.3,
    sampleSeed: Long = 42L,
    limit: Int = 1000000,
    // stratified sampling (reference #1240, profiler.py:335-414): when
    // sampleByColumn is set the profile is drawn per-stratum — uniformly at
    // sampleFraction over the ordered distinct values (bounded by
    // sampleByValuesLimit), or with explicit per-stratum fractions via
    // sampleByFractions (strata absent from the map are excluded)
    sampleByColumn: Option[String] = None,
    sampleByFractions: Option[Map[Any, Double]] = None,
    sampleByValuesLimit: Option[Int] = None,
    distinctRatioMax: Double = 0.05, // low-cardinality threshold for is_in rules
    maxInListSize: Int = 32,
    sigmas: Double = 3.0, // outlier band for min/max rules
    maxNullRatio: Double = 0.0, // above this, emit is_not_null candidate
    enableOutlierProfiles: Boolean = true, // MAD-based has_no_outliers candidates
    outliersRatioMax: Double = 0.05, // emit only when outlier fraction <= this
    madFactor: Double = 3.5)

object Profiler {

  /** Deterministic primary-key candidate detection — the non-LLM half of the
    * reference's PK detector (llm/llm_pk_detector.py): a column (or the name
    * hints the LLM would use) is a PK candidate when it is null-free and its
    * distinct count reaches `distinctRatio` of the row count. ONE aggregation
    * action over all candidate columns (approx_count_distinct at 1% relative
    * error; ratios are compared against `distinctRatio` minus that error
    * margin). Returns candidates ranked by distinct ratio, best first.
    */
  def primaryKeyCandidates(df: DataFrame, columns: Seq[String] = Seq.empty,
                           distinctRatio: Double = 0.99): Seq[(String, Double)] = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    require(cols.nonEmpty, "no columns to profile")
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        approx_count_distinct(col(c), 0.01).as(s"__d_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val n = row.getLong(0)
    if (n == 0) return Seq.empty
    cols.flatMap { c =>
      val nonNull = row.getLong(row.fieldIndex(s"__nn_$c"))
      val distinct = row.getLong(row.fieldIndex(s"__d_$c"))
      val ratio = distinct.toDouble / n
      // null-free and distinct-enough (allow the sketch's 1% error band)
      if (nonNull == n && ratio >= distinctRatio - 0.01) Some(c -> math.min(ratio, 1.0))
      else None
    }.sortBy(-_._2)
  }

  /** The reference's `_sample` option dispatch (profiler.py:335-358):
    * sample_by_column set -> stratified (per-stratum dict or uniform over
    * the bounded, ordered distinct values); else plain Bernoulli sample.
    * A fractions DICT without sample_by_column is rejected, like the
    * reference's InvalidConfigError.
    */
  def sampleInput(df: DataFrame, opts: ProfilerOptions): DataFrame =
    opts.sampleByColumn match {
      case Some(c) => opts.sampleByFractions match {
        case Some(fr) => stratifiedSample(df, c, fr, opts.sampleSeed)
        case None => stratifiedSampleUniform(df, c, opts.sampleFraction,
          opts.sampleSeed, opts.sampleByValuesLimit)
      }
      case None =>
        require(opts.sampleByFractions.isEmpty,
          "sample_fraction must be of type float when sample_by_column is not set.")
        df.sample(withReplacement = false, opts.sampleFraction, opts.sampleSeed)
    }

  /** Stratified sample with explicit per-stratum fractions
    * (profiler.py:361-414; strata absent from the map are excluded).
    */
  def stratifiedSample(df: DataFrame, sampleByColumn: String,
                       fractions: Map[Any, Double], seed: Long = 42L): DataFrame = {
    require(df.columns.contains(sampleByColumn),
      s"sample_by_column '$sampleByColumn' is not a column of the input DataFrame")
    df.stat.sampleBy(col(sampleByColumn), fractions, seed)
  }

  /** Uniform stratified sample across the distinct values of the column.
    * Distinct values are ordered before limiting so WHICH strata are kept is
    * deterministic (profiler.py:404-410).
    */
  def stratifiedSampleUniform(df: DataFrame, sampleByColumn: String, fraction: Double,
                              seed: Long = 42L, valuesLimit: Option[Int] = None): DataFrame = {
    require(df.columns.contains(sampleByColumn),
      s"sample_by_column '$sampleByColumn' is not a column of the input DataFrame")
    val distinct = df.select(sampleByColumn).distinct().orderBy(col(sampleByColumn))
    val limited = valuesLimit.map(distinct.limit).getOrElse(distinct)
    val fractions = limited.collect().map(r => (r.get(0): Any) -> fraction).toMap
    df.stat.sampleBy(col(sampleByColumn), fractions, seed)
  }

  /** MAD-based has_no_outliers profile candidate (profile_builder.py:780-860):
    * same median +- factor*MAD band as the check itself; emitted only when the
    * band is non-degenerate and the observed outlier fraction is at or below
    * `outliersRatioMax` (inclusive, matching the sibling ratio gates).
    * Single-column convenience API; [[profile]] computes the same bands for
    * ALL numeric columns in batched passes instead of calling this per column.
    */
  def hasNoOutliersProfile(df: DataFrame, column: String,
                           opts: ProfilerOptions = ProfilerOptions()): Option[DQProfile] = {
    val base = df.where(col(column).isNotNull)
    val medianRow = base.select(percentile_approx(col(column), lit(0.5), lit(10000)).as("m")).first()
    if (medianRow.isNullAt(0)) return None
    val med = medianRow.get(0).asInstanceOf[Number].doubleValue()
    val madRow = base.select(
      percentile_approx(abs(col(column) - lit(med)), lit(0.5), lit(10000)).as("mad")).first()
    val mad = if (madRow.isNullAt(0)) 0.0 else madRow.get(0).asInstanceOf[Number].doubleValue()
    val lo = med - opts.madFactor * mad
    val hi = med + opts.madFactor * mad
    val bandWidth = hi - lo
    val scale = math.max(math.abs(lo), math.abs(hi))
    if (bandWidth <= 0 || (scale > 0 && bandWidth <= 1e-12 * scale)) return None
    val counts = base.select(
      count(lit(1)).as("n"),
      count(when(col(column) < lo || col(column) > hi, lit(1))).as("out")).first()
    val total = counts.getLong(0)
    if (total == 0) return None
    val ratio = counts.getLong(1).toDouble / total
    if (ratio <= opts.outliersRatioMax)
      Some(DQProfile("has_no_outliers", column,
        f"Column $column has ${ratio * 100}%.1f%% of outliers (allowed: ${opts.outliersRatioMax * 100}%.1f%%). " +
          s"Lower boundary - $lo, upper boundary - $hi"))
    else None
  }

  /** The frame the profiler's aggregation passes read: the reference's
    * sample-then-cap shape (profiler.py:335-358 + the `limit` option), minus
    * plan stages that cannot change the result:
    *  - `sampleFraction >= 1.0` with no stratification keeps every row
    *    (Bernoulli accept at p=1.0 is unconditional), so the Sample operator
    *    is dropped instead of evaluating an RNG per row;
    *  - `limit == Int.MaxValue` means "no cap", so the GlobalLimit is
    *    dropped — a `.limit(n)` feeding an aggregation otherwise plans an
    *    Exchange SinglePartition and runs the whole partial aggregation as
    *    ONE task (measured 2.4 s on a 600k-row 4-column summary; unbounded
    *    at 100 TB);
    *  - a BINDING cap keeps the reference's limit semantics but
    *    re-parallelizes the capped rows (<= limit of them) across the
    *    default parallelism so the aggregation above it is not single-task.
    */
  private[graft] def profileInput(df: DataFrame, opts: ProfilerOptions): DataFrame = {
    val sampled =
      if (opts.sampleByColumn.isEmpty && opts.sampleFraction >= 1.0) {
        require(opts.sampleByFractions.isEmpty,
          "sample_fraction must be of type float when sample_by_column is not set.")
        df
      } else sampleInput(df, opts)
    if (opts.limit == Int.MaxValue) sampled
    else {
      val limited = sampled.limit(opts.limit)
      // re-parallelize only when the capped frame is big enough that a
      // single-task aggregation would actually hurt (ADVICE r14 #4): below
      // the bound, the repartition's full shuffle of the capped rows costs
      // more than the one-task aggregation it avoids. 512k rows ~ the same
      // order as the engine's proven small-frame window bound (<= 640k).
      if (opts.limit <= SmallCapRows) limited
      else limited.repartition(df.sparkSession.sparkContext.defaultParallelism)
    }
  }

  /** Binding-cap size under which the single-task aggregation above a
    * GlobalLimit is cheaper than re-parallelizing the capped rows.
    */
  private[graft] val SmallCapRows: Int = 512 * 1024

  /** Per-column stats from one aggregation pass. */
  def summarize(df: DataFrame, columns: Seq[String] = Seq.empty,
                opts: ProfilerOptions = ProfilerOptions()): Map[String, Map[String, Any]] = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val sampled = profileInput(df, opts)
    val fields = df.schema.fields.filter(f => cols.contains(f.name))
    val aggs: Seq[Column] = fields.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        count(lit(1)).as(s"${f.name}__count"),
        count(when(c.isNull, lit(1))).as(s"${f.name}__count_null"),
        approx_count_distinct(c).as(s"${f.name}__count_distinct"))
      val numeric = f.dataType match {
        case _: NumericType => Seq(
          min(c).cast("double").as(s"${f.name}__min"),
          max(c).cast("double").as(s"${f.name}__max"),
          avg(c).as(s"${f.name}__mean"),
          stddev(c).as(s"${f.name}__stddev"),
          // df.summary() quartiles (profiler.py:562-578), same single pass.
          // ONE array-quantile sketch per column, not three scalar
          // percentile_approx aggregates: three ApproximatePercentile
          // aggregates each build their own QuantileSummaries over every row
          // (3x the sketch updates for identical results — the same sketch
          // state answers all three quantiles); measured 2.4 -> 1.4 s on the
          // 600k-row 4-column summary
          percentile_approx(c.cast("double"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as(s"${f.name}__pq"))
        case _: StringType => Seq(
          count(when(trim(c.cast("string")) === "", lit(1))).as(s"${f.name}__count_empty"))
        case _ => Seq.empty
      }
      base ++ numeric
    }
    val row = sampled.agg(aggs.head, aggs.tail: _*).collect().head
    fields.map { f =>
      val stats = row.schema.fieldNames.zipWithIndex.flatMap {
        case (n, i) if n == s"${f.name}__pq" =>
          // unpack the fused quantile array into the p25/p50/p75 keys the
          // map API has always exposed
          val q = if (row.isNullAt(i)) null else row.getSeq[Any](i)
          Seq("p25" -> (if (q == null) null else q(0)),
            "p50" -> (if (q == null) null else q(1)),
            "p75" -> (if (q == null) null else q(2)))
        case (n, i) if n.startsWith(s"${f.name}__") =>
          Seq(n.stripPrefix(s"${f.name}__") ->
            (if (row.isNullAt(i)) null else row.get(i)))
        case _ => Seq.empty
      }.toMap
      f.name -> stats
    }.toMap
  }

  /** [[summarize]]'s one-pass stats as a tidy long-format DataFrame (one row
    * per column) — joinable, saveable, and oracle-checkable. Exact stats only
    * land here (`count_distinct` stays in the map API because it is an
    * HLL sketch). String columns carry `n_empty` and null min/max; numeric
    * columns the reverse.
    */
  def summaryDf(df: DataFrame, columns: Seq[String] = Seq.empty,
                opts: ProfilerOptions = ProfilerOptions()): DataFrame = {
    import org.apache.spark.sql.Row
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val stats = summarize(df, cols, opts)
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    cols.foreach { c =>
      val m = stats(c)
      def l(k: String): java.lang.Long = m.get(k) match {
        case Some(v: java.lang.Number) => java.lang.Long.valueOf(v.longValue())
        case _ => null
      }
      def d(k: String): java.lang.Double = m.get(k) match {
        case Some(v: java.lang.Number) => java.lang.Double.valueOf(v.doubleValue())
        case _ => null
      }
      rows.add(Row(c, l("count"), l("count_null"), l("count_empty"),
        d("min"), d("max"), d("mean"), d("stddev")))
    }
    val schema = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("n", LongType), StructField("n_null", LongType),
      StructField("n_empty", LongType), StructField("min", DoubleType),
      StructField("max", DoubleType), StructField("mean", DoubleType),
      StructField("stddev", DoubleType)))
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** Profile: stats + inferred rule candidates (profiler.py:84, builder chain
    * profile_builder.py:48-55; order: null_or_empty -> is_in -> min_max).
    *
    * Job count is FIXED regardless of column count (the reference runs
    * per-column jobs, profiler.py:442-469, and [[hasNoOutliersProfile]] runs
    * three more per column) — TWO aggregation passes total: pass 1 =
    * [[summarize]] (all base stats including the medians, one agg); pass 2 =
    * every numeric column's |x - median| quantile sketch plus every
    * low-cardinality column's value set (one agg — collect_set is bounded
    * because only columns the pass-1 sketch flagged at <= maxInListSize
    * distinct get one). The former pass 3 (per-band outlier counts) is folded
    * into pass 2: the SAME percentile sketch that yields the MAD is asked for
    * a 1%-step quantile grid of |x - median|, and the outlier ratio is read
    * off the grid as 1 - max{p : q(p) <= factor*MAD} — one sketch per column
    * either way, one fewer corpus pass, ratio resolution 1% (the emission
    * gate compares it to `outliersRatioMax`, default 5%). Columns that need
    * no pass-2 work cost nothing extra.
    */
  def profile(df: DataFrame, columns: Seq[String] = Seq.empty,
              opts: ProfilerOptions = ProfilerOptions()): (Map[String, Map[String, Any]], Seq[DQProfile]) = {
    val stats = summarize(df, columns, opts)
    val sampled = profileInput(df, opts)
    val fieldsByName = df.schema.fields.map(f => f.name -> f).toMap

    def stat(name: String, key: String): Option[Any] =
      stats.get(name).flatMap(_.get(key)).filter(_ != null)
    def isAtomic(name: String): Boolean = fieldsByName.get(name).exists(_.dataType match {
      case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
      case _ => false
    })
    val names = stats.keys.toSeq.sorted

    // pass-2 membership, decided from pass-1 stats alone
    val madCols = if (opts.enableOutlierProfiles) names.filter { n =>
      val total = stat(n, "count").fold(0L)(_.asInstanceOf[Long])
      val nulls = stat(n, "count_null").fold(0L)(_.asInstanceOf[Long])
      stats(n).contains("min") && total > nulls && stat(n, "p50").isDefined
    } else Seq.empty
    val medians: Map[String, Double] =
      madCols.map(n => n -> stat(n, "p50").get.asInstanceOf[Number].doubleValue()).toMap
    val inListCols = names.filter { n =>
      val total = stat(n, "count").fold(0L)(_.asInstanceOf[Long])
      val distinct = stat(n, "count_distinct").fold(0L)(_.asInstanceOf[Long])
      isAtomic(n) && total > 0 && distinct > 0 && distinct <= opts.maxInListSize &&
        distinct.toDouble / total <= opts.distinctRatioMax
    }

    // pass 2: all |x-med| quantile grids (MAD = grid(0)) + all bounded value
    // sets in one aggregation. grid = 0.5 followed by 0.00..1.00 at 1% steps:
    // one percentile sketch per column serves both the MAD and the outlier
    // ratio, so the former pass 3 disappears at no extra sketch cost.
    val gridProbs: Seq[Double] = 0.5 +: (0 to 100).map(_ / 100.0)
    val madAggs = madCols.map(n => percentile_approx(
      abs(col(n).cast("double") - lit(medians(n))),
      array(gridProbs.map(lit): _*), lit(10000)).as(s"__madq_$n"))
    val valAggs = inListCols.map(n =>
      slice(sort_array(collect_set(col(n))), 1, opts.maxInListSize + 1).as(s"__vals_$n"))
    val pass2 = madAggs ++ valAggs
    val row2 = if (pass2.nonEmpty) Some(sampled.agg(pass2.head, pass2.tail: _*).collect().head) else None
    def fromRow2[T](key: String): Option[T] = row2.flatMap { r =>
      val i = r.fieldIndex(key)
      if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[T])
    }
    val valueLists: Map[String, Seq[Any]] =
      // Row arrays come back as mutable.ArraySeq — go through collection.Seq
      inListCols.flatMap(n =>
        fromRow2[scala.collection.Seq[Any]](s"__vals_$n").map(v => n -> v.toSeq)).toMap

    val grids: Map[String, IndexedSeq[Double]] = madCols.flatMap(n =>
      fromRow2[scala.collection.Seq[Any]](s"__madq_$n").map(v =>
        n -> v.map(_.asInstanceOf[Number].doubleValue()).toIndexedSeq)).toMap

    // MAD bands, degenerate ones dropped (same predicate as hasNoOutliersProfile)
    val bands: Map[String, (Double, Double)] = grids.flatMap { case (n, g) =>
      val mad = g(0)
      val med = medians(n)
      val lo = med - opts.madFactor * mad
      val hi = med + opts.madFactor * mad
      val scale = math.max(math.abs(lo), math.abs(hi))
      if (hi - lo <= 0 || (scale > 0 && hi - lo <= 1e-12 * scale)) None
      else Some(n -> (lo, hi))
    }

    /** Outlier ratio off the pass-2 grid: 1 - max{p : q(p) <= factor*MAD}.
      * Values EQUAL to the band edge are inliers, matching the former exact
      * count's strict `< lo || > hi` predicate.
      */
    def outlierRatio(n: String): Option[Double] = grids.get(n).map { g =>
      val cut = opts.madFactor * g(0)
      var best = 0.0
      var i = 1
      while (i < g.length) {
        if (g(i) <= cut) best = (i - 1) / 100.0
        i += 1
      }
      1.0 - best
    }

    val profiles = names.flatMap { name =>
      val s = stats(name)
      val total = s.getOrElse("count", 0L).asInstanceOf[Long]
      val nulls = s.getOrElse("count_null", 0L).asInstanceOf[Long]
      val nullRule =
        if (total > 0 && nulls.toDouble / total <= opts.maxNullRatio)
          Seq(DQProfile("is_not_null", name, s"Column $name has no (or few) nulls"))
        else Seq.empty
      val emptyRule = s.get("count_empty") match {
        case Some(e: Long) if e == 0 && nulls == 0 && total > 0 =>
          Seq(DQProfile("is_not_null_and_not_empty", name, s"Column $name has no nulls or empty strings"))
        case _ => Seq.empty
      }
      val inListRule = valueLists.get(name) match {
        case Some(vals) if vals.size <= opts.maxInListSize =>
          Seq(DQProfile("is_in_list", name, s"Column $name has low cardinality",
            Map("allowed" -> vals)))
        case _ => Seq.empty
      }
      val rangeRule = (s.get("min"), s.get("max"), s.get("mean"), s.get("stddev")) match {
        case (Some(mn: Double), Some(mx: Double), Some(mean: Double), Some(sd: Double)) if sd > 0 =>
          // outlier-trimmed band: mean +- sigmas*stddev clamped to observed min/max
          val lo = math.max(mn, mean - opts.sigmas * sd)
          val hi = math.min(mx, mean + opts.sigmas * sd)
          Seq(DQProfile("min_max", name, s"Column $name numeric range",
            Map("min" -> lo, "max" -> hi, "observed_min" -> mn, "observed_max" -> mx)))
        case _ => Seq.empty
      }
      // builder-chain order: null_or_empty -> is_in -> min_max -> has_no_outliers
      // (profiler.py:482-505)
      val outlierRule = (bands.get(name), bands.get(name).flatMap(_ => outlierRatio(name))) match {
        case (Some((lo, hi)), Some(ratio)) if total > nulls =>
          if (ratio <= opts.outliersRatioMax)
            Seq(DQProfile("has_no_outliers", name,
              f"Column $name has ${ratio * 100}%.1f%% of outliers (allowed: ${opts.outliersRatioMax * 100}%.1f%%). " +
                s"Lower boundary - $lo, upper boundary - $hi"))
          else Seq.empty
        case _ => Seq.empty
      }
      nullRule ++ emptyRule ++ inListRule ++ rangeRule ++ outlierRule
    }
    (stats, profiles)
  }
}

/** DQProfile -> check metadata dicts (reference profiler/generator.py:71-447). */
object Generator {
  def generateDqRules(profiles: Seq[DQProfile], criticality: String = "error"): Seq[Map[String, Any]] =
    profiles.flatMap { p =>
      val check: Option[Map[String, Any]] = p.name match {
        case "is_not_null" =>
          Some(Map("function" -> "is_not_null", "arguments" -> Map("column" -> p.column)))
        case "is_not_null_and_not_empty" =>
          Some(Map("function" -> "is_not_null_and_not_empty", "arguments" -> Map("column" -> p.column)))
        case "is_in_list" =>
          Some(Map("function" -> "is_in_list",
            "arguments" -> Map("column" -> p.column, "allowed" -> p.parameters("allowed"))))
        case "min_max" =>
          Some(Map("function" -> "is_in_range",
            "arguments" -> Map("column" -> p.column,
              "min_limit" -> p.parameters("min"), "max_limit" -> p.parameters("max"))))
        case "has_no_outliers" =>
          // the check recomputes the MAD band at apply time (like the reference)
          Some(Map("function" -> "has_no_outliers", "arguments" -> Map("column" -> p.column)))
        case _ => None
      }
      check.map(c => Map("criticality" -> criticality, "check" -> c))
    }
}
