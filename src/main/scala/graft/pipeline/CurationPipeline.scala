package graft.pipeline

import graft.rules.ChecksSerializer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative corpus-curation pipeline: the pipeline-side analog of the
  * engine's metadata-driven check surface (reference pattern:
  * /root/reference/src/databricks/labs/dqx/engine.py:236 applyChecksByMetadata
  * — config in, one plan out). A curation run is declared as an ordered list
  * of step dicts (YAML or programmatic), each dispatching to the library's
  * existing kernels (TextAnalysis / Dedup / Curation / PiiChecks); the runner
  * validates the config up front (unknown step or parameter fails fast with
  * the catalog, mirroring the reference's validate_checks contract) and folds
  * the steps into ONE DataFrame.
  *
  * Scale shape: every transform/filter step is row-local, so consecutive
  * row-local steps fuse into a single whole-stage-codegen'd pass over the
  * scan — a ten-step cleaning recipe costs one corpus read. Shuffles appear
  * only where the STEP semantics need them (dedup_exact: one hash shuffle;
  * dedup_lines: the line-hash aggregation plus an id-partitioned regroup;
  * sample_quota: one group-key shuffle) and are exactly the shuffles the
  * underlying kernel documents. Step order is the user's cost lever: putting
  * row-local filters before corpus-global dedup shrinks the shuffled volume,
  * and the runner preserves declaration order so that choice is explicit.
  *
  * With `observePrefix` set, each step appends a `CollectMetrics` node
  * (`<prefix><i>_<step>` / `rows_out`) — per-step survivor counts arrive with
  * the action through the standard observation listener, costing no extra
  * pass, same mechanism as the engine's check metrics (Metrics.scala).
  */
object CurationPipeline {

  /** step name -> allowed parameter keys (beyond "step" itself). */
  val StepCatalog: Map[String, Set[String]] = Map(
    "normalize" -> Set.empty,
    "strip_markup" -> Set.empty,
    "c4_clean" -> Set.empty,
    "redact_pii" -> Set.empty,
    "filter_length" -> Set("min_chars", "max_chars"),
    "filter_quality" -> Set("min_tokens", "max_tokens", "max_punct_ratio", "min_stopword_ratio"),
    "filter_repetition" -> Set("max_dup_word_frac", "max_top_word_frac",
      "max_dup_2gram_frac", "max_dup_3gram_frac"),
    "filter_c4" -> Set("min_sentences"),
    "filter_gopher" -> Set("min_words", "max_words", "min_mean_word_len",
      "max_mean_word_len", "max_symbol_word_ratio", "max_bullet_line_frac",
      "max_ellipsis_line_frac", "min_alpha_word_frac", "min_required_words"),
    "filter_blocklist" -> Set("words", "max_ratio"),
    "dedup_url" -> Set("url_col"),
    "filter_language" -> Set("langs", "column"),
    "filter_language_model" -> Set("langs", "model_json"),
    "filter_regex" -> Set("pattern", "mode"),
    "dedup_exact" -> Set("key"),
    "dedup_lines" -> Set("max_occurrences"),
    "filter_perplexity" -> Set("model_json", "max_perplexity"),
    "filter_quality_score" -> Set("model_json", "min_score"),
    "dsir_resample" -> Set("model_json", "threshold", "temperature"),
    "dedup_against_reference" -> Set("ref_path", "ref_key", "key", "fpp", "expected_ref_items"),
    "dedup_minhash" -> Set("shingle_size", "num_hashes", "bands", "threshold", "quality_col"),
    "dedup_semantic" -> Set("vec_col", "threshold", "num_centroids", "train_rows",
      "seed", "max_cluster_size"),
    "dedup_semantic_against_reference" -> Set("vec_col", "ref_path", "ref_id_col",
      "ref_vec_col", "threshold", "num_centroids", "train_rows", "seed",
      "max_cell_size"),
    "decontaminate_semantic" -> Set("vec_col", "eval_path", "eval_vec_col", "threshold"),
    "near_dedup_against_reference" -> Set("ref_path", "ref_id_col", "ref_text_col",
      "shingle_size", "num_hashes", "bands", "threshold"),
    "sample_hash" -> Set("fraction"),
    "sample_quota" -> Set("group_cols", "quota"),
    "sample_weights" -> Set("group_col", "weights", "default_weight"),
    "sample_token_budget" -> Set("budget_tokens", "group_cols", "tokenizer", "model_json"),
    "sample_cluster_quota" -> Set("vec_col", "quota", "num_centroids",
      "train_rows", "seed"),
    "epoch_mix" -> Set("group_col", "weights", "default_weight"),
    "shard_assign" -> Set("num_shards"),
    "drift_check" -> Set("baseline", "model_location", "columns", "threshold",
      "min_sample_size"),
    "dedup_semantic_pq" -> Set("vec_col", "threshold", "margin", "num_centroids",
      "num_blocks", "codebook_size", "train_rows", "seed", "max_cluster_size"),
    "pq_encode" -> Set("vec_col", "codes_col", "num_blocks", "codebook_size",
      "train_rows", "iterations", "seed", "model_json", "model_location"),
    "knn_pq" -> Set("vec_col", "queries_path", "query_id_col", "query_vec_col",
      "k", "shortlist", "num_blocks", "codebook_size", "train_rows",
      "iterations", "seed", "max_queries", "model_json", "model_location"),
    "knn_ivfpq" -> Set("vec_col", "queries_path", "query_id_col", "query_vec_col",
      "k", "shortlist", "num_cells", "nprobe", "num_blocks", "codebook_size",
      "train_rows", "iterations", "seed", "max_queries", "residual"),
    "tokenize_wordpiece" -> Set("model_json", "mode", "output_col"))

  /** Parse a YAML (or JSON) step list and run it. */
  def fromYaml(df: DataFrame, yaml: String, idCol: String = "doc_id",
               textCol: String = "text", observePrefix: Option[String] = None): DataFrame =
    apply(df, ChecksSerializer.parseYaml(yaml), idCol, textCol, observePrefix)

  /** Validate then fold the steps, in declaration order, into one plan. */
  def apply(df: DataFrame, steps: Seq[Map[String, Any]], idCol: String = "doc_id",
            textCol: String = "text", observePrefix: Option[String] = None): DataFrame = {
    steps.zipWithIndex.foreach { case (m, i) => validate(m, i) }
    steps.zipWithIndex.foldLeft(df) { case (cur, (m, i)) =>
      val name = m("step").toString
      val out = applyStep(cur, name, m, idCol, textCol)
      observePrefix match {
        case Some(p) => out.observe(s"$p${i}_$name", count(lit(1)).as("rows_out"))
        case None => out
      }
    }
  }

  private def validate(m: Map[String, Any], i: Int): Unit = {
    val name = m.getOrElse("step",
      throw new IllegalArgumentException(s"curation step $i: missing 'step' key")).toString
    val allowed = StepCatalog.getOrElse(name, throw new IllegalArgumentException(
      s"curation step $i: unknown step '$name'; known steps: ${StepCatalog.keys.toSeq.sorted.mkString(", ")}"))
    val extra = m.keySet - "step" -- allowed
    if (extra.nonEmpty) throw new IllegalArgumentException(
      s"curation step $i ('$name'): unknown parameter(s) ${extra.toSeq.sorted.mkString(", ")}; " +
        (if (allowed.isEmpty) "this step takes no parameters"
         else s"allowed: ${allowed.toSeq.sorted.mkString(", ")}"))
  }

  private def applyStep(df: DataFrame, name: String, m: Map[String, Any],
                        idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    name match {
      case "normalize" => df.withColumn(textCol, TextAnalysis.normalizeText(text))
      case "strip_markup" => df.withColumn(textCol, TextAnalysis.stripMarkup(text))
      case "c4_clean" => df.withColumn(textCol, TextAnalysis.c4CleanedText(text))
      case "redact_pii" => df.withColumn(textCol, graft.checks.PiiChecks.redactPii(text))
      case "filter_length" =>
        df.where(length(coalesce(text, lit(""))).between(
          num(m, "min_chars").getOrElse(0.0).toLong,
          num(m, "max_chars").getOrElse(Long.MaxValue.toDouble).toLong))
      case "filter_quality" =>
        df.where(TextAnalysis.qualityFilter(text,
          minTokens = num(m, "min_tokens").getOrElse(5.0).toInt,
          maxTokens = num(m, "max_tokens").getOrElse(100000.0).toInt,
          maxPunctRatio = num(m, "max_punct_ratio").getOrElse(0.3),
          minStopwordRatio = num(m, "min_stopword_ratio").getOrElse(0.0)))
      case "filter_repetition" =>
        df.where(TextAnalysis.repetitionFilter(text,
          maxDupWordFrac = num(m, "max_dup_word_frac").getOrElse(0.63),
          maxTopWordFrac = num(m, "max_top_word_frac").getOrElse(0.3),
          maxDup2GramFrac = num(m, "max_dup_2gram_frac").getOrElse(0.2),
          maxDup3GramFrac = num(m, "max_dup_3gram_frac").getOrElse(0.18)))
      case "filter_c4" =>
        df.where(TextAnalysis.c4Keep(text, num(m, "min_sentences").getOrElse(5.0).toInt))
      case "filter_gopher" =>
        df.where(TextAnalysis.gopherFilter(text,
          minWords = num(m, "min_words").getOrElse(50.0).toInt,
          maxWords = num(m, "max_words").getOrElse(100000.0).toInt,
          minMeanWordLen = num(m, "min_mean_word_len").getOrElse(3.0),
          maxMeanWordLen = num(m, "max_mean_word_len").getOrElse(10.0),
          maxSymbolWordRatio = num(m, "max_symbol_word_ratio").getOrElse(0.1),
          maxBulletLineFrac = num(m, "max_bullet_line_frac").getOrElse(0.9),
          maxEllipsisLineFrac = num(m, "max_ellipsis_line_frac").getOrElse(0.3),
          minAlphaWordFrac = num(m, "min_alpha_word_frac").getOrElse(0.8),
          minRequiredWords = num(m, "min_required_words").getOrElse(2.0).toInt))
      case "filter_blocklist" =>
        val words = strList(m, "words").getOrElse(throw new IllegalArgumentException(
          "filter_blocklist: 'words' is required"))
        df.where(TextAnalysis.blocklistFilter(text, words,
          num(m, "max_ratio").getOrElse(0.0)))
      case "dedup_url" =>
        val urlCol = str(m, "url_col").getOrElse(throw new IllegalArgumentException(
          "dedup_url: 'url_col' is required"))
        UrlAnalysis.dedupByCanonicalUrl(df, urlCol, col(idCol))
      case "filter_language" =>
        val langs = strList(m, "langs").getOrElse(throw new IllegalArgumentException(
          "filter_language: 'langs' is required"))
        val langCol = str(m, "column").map(col).getOrElse(TextAnalysis.languageId(text))
        df.where(langCol.isin(langs: _*))
      case "filter_language_model" =>
        val langs = strList(m, "langs").getOrElse(throw new IllegalArgumentException(
          "filter_language_model: 'langs' is required"))
        val model = LangIdModelJson.parse(str(m, "model_json").getOrElse(
          throw new IllegalArgumentException("filter_language_model: 'model_json' is required")))
        LangId.filterByLanguage(df, text, model, langs)
      case "filter_regex" =>
        val pattern = str(m, "pattern").getOrElse(throw new IllegalArgumentException(
          "filter_regex: 'pattern' is required"))
        str(m, "mode").getOrElse("keep") match {
          case "keep" => df.where(coalesce(text, lit("")).rlike(pattern))
          case "drop" => df.where(!coalesce(text, lit("")).rlike(pattern))
          case other => throw new IllegalArgumentException(
            s"filter_regex: mode must be keep|drop, got '$other'")
        }
      case "dedup_exact" =>
        val key = str(m, "key").getOrElse(textCol)
        Dedup.dedupExact(df, Seq(col(key)), col(idCol))
      case "dedup_lines" =>
        // dedupLines projects to (id, cleaned text); regroup is partitioned by
        // id, so the join-back to the carried columns reuses that partitioning
        val cleaned = Dedup.dedupLines(df, idCol, textCol,
          num(m, "max_occurrences").getOrElse(1.0).toLong)
        df.drop(textCol).join(cleaned, Seq(idCol))
      case "filter_perplexity" =>
        val model = LmModelJson.parse(str(m, "model_json").getOrElse(
          throw new IllegalArgumentException("filter_perplexity: 'model_json' is required")))
        NgramLm.filterByPerplexity(df, text, model,
          num(m, "max_perplexity").getOrElse(throw new IllegalArgumentException(
            "filter_perplexity: 'max_perplexity' is required")))
      case "filter_quality_score" =>
        val model = QualityModelJson.parse(str(m, "model_json").getOrElse(
          throw new IllegalArgumentException("filter_quality_score: 'model_json' is required")))
        QualityClassifier.filterByQuality(df, text, model,
          num(m, "min_score").getOrElse(throw new IllegalArgumentException(
            "filter_quality_score: 'min_score' is required")))
      case "dedup_against_reference" =>
        // declarative incremental dedup: the reference snapshot is a parquet
        // path (the natural YAML form of "yesterday's corpus"). NOTE: unlike
        // every other step this one runs Spark jobs at PIPELINE-CONSTRUCTION
        // time (the bloom must exist before the plan can be built); pass
        // expected_ref_items to skip the sizing ref.count() scan at scale.
        // The one-shot dedup path persists nothing (leak-free per apply()).
        val refPath = str(m, "ref_path").getOrElse(throw new IllegalArgumentException(
          "dedup_against_reference: 'ref_path' is required"))
        val refKey = str(m, "ref_key").orElse(str(m, "key")).getOrElse(textCol)
        val key = str(m, "key").getOrElse(textCol)
        Dedup.dedupAgainstReference(df, col(key),
          df.sparkSession.read.parquet(refPath), col(refKey),
          num(m, "fpp").getOrElse(0.01),
          num(m, "expected_ref_items").map(_.toLong))
      case "dedup_minhash" =>
        // MinHash LSH near-dup with the transitive-closure keep policy
        // (lowest id, or quality argmax when quality_col is given). NOTE:
        // like dedup_against_reference, this step runs Spark jobs at
        // PIPELINE-CONSTRUCTION time: ONE pass over the step input
        // materializes the (id, shingle-hash) sketch, then small jobs over
        // that sketch build the verified pairs and iterate connected
        // components. The returned plan reads the input again only in the
        // keep joins, next to the one cluster checkpoint left cached.
        val clusters = Dedup.minHashClusters(df, idCol, textCol,
          shingleSize = num(m, "shingle_size").getOrElse(3.0).toInt,
          numHashes = num(m, "num_hashes").getOrElse(64.0).toInt,
          bands = num(m, "bands").getOrElse(16.0).toInt,
          threshold = num(m, "threshold").getOrElse(0.8))
        str(m, "quality_col") match {
          case Some(q) => Dedup.dedupByClustersKeepBest(df, idCol, col(q), clusters)
          case None => Dedup.dedupByClusters(df, idCol, clusters)
        }
      case "dedup_semantic" =>
        // SemDeDup: spherical k-means cells as blocking keys (trained on a
        // capped driver sample at construction time), in-cell cosine pairs,
        // conservative min-id keep rule
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "dedup_semantic: 'vec_col' is required"))
        val trainRows = num(m, "train_rows").getOrElse(10000.0).toInt
        val sample = df.select(col(vecCol).cast("array<double>"))
          .where(col(vecCol).isNotNull).limit(trainRows)
          .collect().map(_.getSeq[Double](0).toArray)
        val centroids = Similarity.trainKMeans(sample,
          num(m, "num_centroids").getOrElse(64.0).toInt,
          seed = num(m, "seed").getOrElse(42.0).toLong)
        Dedup.dedupSemantic(df, idCol, vecCol, centroids,
          threshold = num(m, "threshold").getOrElse(0.95),
          maxClusterSize = num(m, "max_cluster_size").getOrElse(100000.0).toInt)
      case "dedup_semantic_against_reference" =>
        // incremental SemDeDup: drop rows semantically present in a prior
        // corpus snapshot (parquet with id + vec columns); cells trained on
        // a capped CORPUS sample, candidates cross-side only
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "dedup_semantic_against_reference: 'vec_col' is required"))
        val refPath = str(m, "ref_path").getOrElse(throw new IllegalArgumentException(
          "dedup_semantic_against_reference: 'ref_path' is required"))
        val refIdCol = str(m, "ref_id_col").getOrElse(idCol)
        val refVecCol = str(m, "ref_vec_col").getOrElse(vecCol)
        val trainRows = num(m, "train_rows").getOrElse(10000.0).toInt
        val sample = df.select(col(vecCol).cast("array<double>"))
          .where(col(vecCol).isNotNull).limit(trainRows)
          .collect().map(_.getSeq[Double](0).toArray)
        val centroids = Similarity.trainKMeans(sample,
          num(m, "num_centroids").getOrElse(64.0).toInt,
          seed = num(m, "seed").getOrElse(42.0).toLong)
        Dedup.dropSemanticDupsAgainstReference(df, idCol, vecCol,
          df.sparkSession.read.parquet(refPath), refIdCol, refVecCol, centroids,
          threshold = num(m, "threshold").getOrElse(0.95),
          maxCellSize = num(m, "max_cell_size").getOrElse(100000.0).toInt)
      case "dedup_semantic_pq" =>
        // SemDeDup with PQ-compressed candidate joins: in-cell pairs carry
        // codes (~32x smaller than vectors), SDC-prefilter, exact verify
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "dedup_semantic_pq: 'vec_col' is required"))
        val trainRows = num(m, "train_rows").getOrElse(10000.0).toInt
        val seed = num(m, "seed").getOrElse(42.0).toLong
        val sample = df.select(col(vecCol).cast("array<double>"))
          .where(col(vecCol).isNotNull).limit(trainRows)
          .collect().map(_.getSeq[Double](0).toArray)
        val centroids = Similarity.trainKMeans(sample,
          num(m, "num_centroids").getOrElse(64.0).toInt, seed = seed)
        val model = Pq.trainFromSample(sample,
          num(m, "num_blocks").getOrElse(16.0).toInt,
          num(m, "codebook_size").getOrElse(256.0).toInt, 10, seed)
        Dedup.dedupSemanticPq(df, idCol, vecCol, centroids, model,
          threshold = num(m, "threshold").getOrElse(0.95),
          margin = num(m, "margin").getOrElse(0.05),
          maxClusterSize = num(m, "max_cluster_size").getOrElse(100000.0).toInt)
      case "decontaminate_semantic" =>
        // drop rows whose embedding is near any eval-set embedding; the eval
        // side broadcasts, the corpus never shuffles
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "decontaminate_semantic: 'vec_col' is required"))
        val evalPath = str(m, "eval_path").getOrElse(throw new IllegalArgumentException(
          "decontaminate_semantic: 'eval_path' is required"))
        val evalVecCol = str(m, "eval_vec_col").getOrElse(vecCol)
        Curation.decontaminateSemantic(df, col(idCol), col(vecCol),
          df.sparkSession.read.parquet(evalPath), col(evalVecCol),
          num(m, "threshold").getOrElse(throw new IllegalArgumentException(
            "decontaminate_semantic: 'threshold' is required")))
          .where(!col("is_contaminated")).drop("is_contaminated")
      case "near_dedup_against_reference" =>
        // incremental crawl filter: drop rows near-duplicating a prior
        // corpus snapshot (cross-side-only LSH — neither side's internal
        // pair space enters the plan)
        val refPath = str(m, "ref_path").getOrElse(throw new IllegalArgumentException(
          "near_dedup_against_reference: 'ref_path' is required"))
        val ref = df.sparkSession.read.parquet(refPath)
        Dedup.dropNearDupsAgainstReference(df, idCol, textCol, ref,
          str(m, "ref_id_col").getOrElse(idCol),
          str(m, "ref_text_col").getOrElse(textCol),
          shingleSize = num(m, "shingle_size").getOrElse(3.0).toInt,
          numHashes = num(m, "num_hashes").getOrElse(64.0).toInt,
          bands = num(m, "bands").getOrElse(16.0).toInt,
          threshold = num(m, "threshold").getOrElse(0.8))
      case "dsir_resample" =>
        val model = DsirModelJson.parse(str(m, "model_json").getOrElse(
          throw new IllegalArgumentException("dsir_resample: 'model_json' is required")))
        Dsir.resample(df, col(idCol), Dsir.logImportanceColumn(text, model),
          num(m, "threshold").getOrElse(throw new IllegalArgumentException(
            "dsir_resample: 'threshold' is required")),
          num(m, "temperature").getOrElse(1.0))
      case "sample_hash" =>
        Curation.hashSample(df, col(idCol), num(m, "fraction").getOrElse(
          throw new IllegalArgumentException("sample_hash: 'fraction' is required")))
      case "sample_cluster_quota" =>
        // topic balancing: construction-time k-means on a capped driver
        // sample (the dedup_semantic convention), then the deterministic
        // per-cluster quota — adds a `cluster` column for downstream mixing
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "sample_cluster_quota: 'vec_col' is required"))
        val sample = df.select(col(vecCol).cast("array<double>"))
          .where(col(vecCol).isNotNull)
          .limit(num(m, "train_rows").getOrElse(10000.0).toInt)
          .collect().map(_.getSeq[Double](0).toArray)
        val centroids = Similarity.trainKMeans(sample,
          num(m, "num_centroids").getOrElse(64.0).toInt,
          seed = num(m, "seed").getOrElse(42.0).toLong)
        Curation.clusterBalancedSample(df, vecCol, col(idCol), centroids,
          num(m, "quota").getOrElse(throw new IllegalArgumentException(
            "sample_cluster_quota: 'quota' is required")).toInt)
      case "sample_quota" =>
        Curation.quotaSample(df,
          strList(m, "group_cols").getOrElse(throw new IllegalArgumentException(
            "sample_quota: 'group_cols' is required")),
          col(idCol),
          num(m, "quota").getOrElse(throw new IllegalArgumentException(
            "sample_quota: 'quota' is required")).toInt)
      case "sample_weights" =>
        Curation.sampleByWeights(df,
          col(str(m, "group_col").getOrElse(throw new IllegalArgumentException(
            "sample_weights: 'group_col' is required"))),
          numMap(m, "weights"), col(idCol),
          num(m, "default_weight").getOrElse(1.0))
      case "sample_token_budget" =>
        // the budget speaks whichever tokenizer the training run uses:
        // whitespace (default), or a trained bpe/wordpiece/unigram model
        val tokens = str(m, "tokenizer").getOrElse("ws") match {
          case "ws" => TextAnalysis.tokenCount(text)
          case tok =>
            val json = str(m, "model_json").getOrElse(throw new IllegalArgumentException(
              s"sample_token_budget: 'model_json' is required for tokenizer '$tok'"))
            tok match {
              case "bpe" => Bpe.countColumn(coalesce(text, lit("")), BpeModelJson.parse(json))
              case "wordpiece" =>
                WordPiece.countColumn(coalesce(text, lit("")), WordPieceModelJson.parse(json))
              case "unigram" =>
                Unigram.countColumn(coalesce(text, lit("")), UnigramModelJson.parse(json))
              case other => throw new IllegalArgumentException(
                s"sample_token_budget: tokenizer must be ws|bpe|wordpiece|unigram, got '$other'")
            }
        }
        Curation.sampleToTokenBudget(df, tokens, col(idCol),
          num(m, "budget_tokens").getOrElse(throw new IllegalArgumentException(
            "sample_token_budget: 'budget_tokens' is required")).toLong,
          strList(m, "group_cols").getOrElse(Nil))
      case "epoch_mix" =>
        Curation.epochMix(df,
          col(str(m, "group_col").getOrElse(throw new IllegalArgumentException(
            "epoch_mix: 'group_col' is required"))),
          numMap(m, "weights"), col(idCol),
          num(m, "default_weight").getOrElse(1.0))
      case "shard_assign" =>
        Curation.shardAssign(df, col(idCol),
          num(m, "num_shards").getOrElse(throw new IllegalArgumentException(
            "shard_assign: 'num_shards' is required")).toInt)
      case "drift_check" =>
        // monitoring step: annotate every row with the batch's overall drift
        // score vs a baseline (inline {col: {mean, std}} map, or a stored
        // anomaly model record), so downstream steps/writers can route or
        // quarantine drifted batches. ONE extra aggregation over the frame,
        // joined back as a broadcast 1-row scalar (the aggr-check convention).
        import graft.anomaly.{Drift, ModelRegistry}
        val baseline: Map[String, Drift.ColumnStats] = str(m, "model_location") match {
          case Some(loc) => ModelRegistry.load(df.sparkSession, loc).baselineStats
          case None => m.get("baseline") match {
            case Some(bm: Map[_, _]) => bm.asInstanceOf[Map[String, Any]].map {
              case (c, stats: Map[_, _]) =>
                val sm = stats.asInstanceOf[Map[String, Any]]
                c.toString -> Drift.ColumnStats(
                  String.valueOf(sm("mean")).toDouble, String.valueOf(sm("std")).toDouble)
              case (c, other) => throw new IllegalArgumentException(
                s"drift_check baseline for '$c' must be a {mean, std} map, got $other")
            }
            case _ => throw new IllegalArgumentException(
              "drift_check: 'baseline' map or 'model_location' is required")
          }
        }
        val cols = strList(m, "columns").getOrElse(baseline.keys.toSeq.sorted)
          .filter(df.columns.contains)
        require(cols.nonEmpty, "drift_check: no baseline column exists in the frame")
        val threshold = num(m, "threshold").getOrElse(3.0)
        val minN = num(m, "min_sample_size")
          .getOrElse(Drift.MinSampleSizeForDrift.toDouble).toLong
        val scores = Drift.driftScores(df.select(cols.map(col): _*), baseline)
          .agg(max(col("score")).as("_drift_score"),
            first(col("sample_size")).as("__n"))
          .select(col("_drift_score"),
            (col("__n") >= minN && col("_drift_score") >= threshold)
              .as("_drift_detected"))
        // last drift_check wins: drop prior annotations so chaining two
        // checks (or re-running) never yields ambiguous duplicate columns
        df.drop("_drift_score", "_drift_detected").crossJoin(broadcast(scores))
      case "pq_encode" =>
        // product-quantization codes next to (or in place of) the float
        // vectors: codebooks come from model_json / model_location
        // (model-as-data, PqModelJson) or train on a capped driver sample
        // at pipeline-construction time (the dedup_semantic convention);
        // encoding is a row-local codegen'd column either way
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "pq_encode: 'vec_col' is required"))
        val model = pqModelFor(df, m, vecCol)
        df.withColumn(str(m, "codes_col").getOrElse("pq_codes"),
          Pq.encodeColumn(col(vecCol), model))
      case "knn_pq" =>
        // terminal search step: the frame is the corpus, queries come from a
        // parquet path (capped driver-side — the broadcast-dimension
        // convention); output is (query_id, rank, neighbor_id, cosine)
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "knn_pq: 'vec_col' is required"))
        val queriesPath = str(m, "queries_path").getOrElse(throw new IllegalArgumentException(
          "knn_pq: 'queries_path' is required"))
        val qidCol = str(m, "query_id_col").getOrElse("query_id")
        val qvecCol = str(m, "query_vec_col").getOrElse(vecCol)
        val queries = df.sparkSession.read.parquet(queriesPath)
          .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
          .where(col(qvecCol).isNotNull)
          .limit(num(m, "max_queries").getOrElse(1000.0).toInt)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        val model = pqModelFor(df, m, vecCol)
        val k = num(m, "k").getOrElse(10.0).toInt
        val codes = df.select(col(idCol),
          Pq.encodeColumn(col(vecCol), model).as("__pq_codes"))
        Pq.topKByAdcRerank(codes, df, idCol, "__pq_codes", vecCol, queries, model,
          k, shortlist = num(m, "shortlist").getOrElse(math.max(100, 10 * k).toDouble).toInt)
      case "knn_ivfpq" =>
        // terminal search step, the cell-pruned scale path of knn_pq:
        // coarse cells + PQ codes + ADC + exact rerank (residual: true is
        // full IVFADC — codes quantize v - anchor(cell))
        val vecCol = str(m, "vec_col").getOrElse(throw new IllegalArgumentException(
          "knn_ivfpq: 'vec_col' is required"))
        val queriesPath = str(m, "queries_path").getOrElse(throw new IllegalArgumentException(
          "knn_ivfpq: 'queries_path' is required"))
        val qidCol = str(m, "query_id_col").getOrElse("query_id")
        val qvecCol = str(m, "query_vec_col").getOrElse(vecCol)
        val queries = df.sparkSession.read.parquet(queriesPath)
          .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
          .where(col(qvecCol).isNotNull)
          .limit(num(m, "max_queries").getOrElse(1000.0).toInt)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        val k = num(m, "k").getOrElse(10.0).toInt
        Pq.ivfPqTopK(df, idCol, vecCol, queries, k,
          numCells = num(m, "num_cells").getOrElse(64.0).toInt,
          nprobe = num(m, "nprobe").getOrElse(8.0).toInt,
          numBlocks = num(m, "num_blocks").getOrElse(16.0).toInt,
          codebookSize = num(m, "codebook_size").getOrElse(256.0).toInt,
          shortlist = num(m, "shortlist").getOrElse(math.max(100, 10 * k).toDouble).toInt,
          trainRows = num(m, "train_rows").getOrElse(10000.0).toInt,
          iterations = num(m, "iterations").getOrElse(10.0).toInt,
          seed = num(m, "seed").getOrElse(42.0).toLong,
          residual = m.get("residual").exists(v => String.valueOf(v).toBoolean))
      case "tokenize_wordpiece" =>
        // count (default) or encode with a serialized WordPiece model —
        // row-local, codegen'd, no shuffle
        val model = WordPieceModelJson.parse(str(m, "model_json")
          .getOrElse(throw new IllegalArgumentException(
            "tokenize_wordpiece: 'model_json' is required")))
        str(m, "mode").getOrElse("count") match {
          case "count" => df.withColumn(str(m, "output_col").getOrElse("token_count"),
            WordPiece.countColumn(coalesce(text, lit("")), model))
          case "encode" => df.withColumn(str(m, "output_col").getOrElse("tokens"),
            WordPiece.encodeColumn(coalesce(text, lit("")), model))
          case other => throw new IllegalArgumentException(
            s"tokenize_wordpiece: 'mode' must be count or encode, got '$other'")
        }
    }
  }

  /** PQ codebooks for a step: serialized model (inline JSON or URI) wins;
    * otherwise train on a capped sample at construction time.
    */
  private def pqModelFor(df: DataFrame, m: Map[String, Any], vecCol: String): Pq.PqModel =
    str(m, "model_json").map(PqModelJson.parse)
      .orElse(str(m, "model_location").map(PqModelJson.load(df.sparkSession, _)))
      .getOrElse(Pq.train(df, vecCol,
        numBlocks = num(m, "num_blocks").getOrElse(16.0).toInt,
        codebookSize = num(m, "codebook_size").getOrElse(256.0).toInt,
        trainRows = num(m, "train_rows").getOrElse(10000.0).toInt,
        iterations = num(m, "iterations").getOrElse(10.0).toInt,
        seed = num(m, "seed").getOrElse(42.0).toLong))

  // ------------------------------------------------------------ param access

  private def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map(_.toString)

  private def num(m: Map[String, Any], k: String): Option[Double] = m.get(k).map {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(
      s"parameter '$k': expected a number, got $other")
  }

  private def strList(m: Map[String, Any], k: String): Option[Seq[String]] = m.get(k).map {
    case l: Seq[_] => l.map(_.toString)
    case l: java.util.List[_] => { import scala.jdk.CollectionConverters._
      l.asScala.map(_.toString).toSeq }
    case s: String => Seq(s)
    case other => throw new IllegalArgumentException(
      s"parameter '$k': expected a list, got $other")
  }

  private def numMap(m: Map[String, Any], k: String): Map[String, Double] = m.get(k) match {
    case Some(mm: Map[_, _]) =>
      mm.map { case (kk, v) => String.valueOf(kk) -> (v match {
        case n: Number => n.doubleValue()
        case s: String => s.toDouble
        case other => throw new IllegalArgumentException(
          s"parameter '$k': expected numeric values, got $other")
      })}
    case Some(jm: java.util.Map[_, _]) => { import scala.jdk.CollectionConverters._
      numMap(m.updated(k, jm.asScala.map { case (kk, v) => String.valueOf(kk) -> (v: Any) }.toMap), k) }
    case Some(other) => throw new IllegalArgumentException(
      s"parameter '$k': expected a map, got $other")
    case None => throw new IllegalArgumentException(s"'$k' is required")
  }
}
