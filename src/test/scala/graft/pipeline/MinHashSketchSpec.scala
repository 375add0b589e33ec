package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The eager `dedup_minhash` step sketches its input once: evaluation-count
  * pins, checkpoint release, and parity with the lazy public pair path.
  */
class MinHashSketchSpec extends SparkSpec {
  import spark.implicits._

  private def words(from: Int, n: Int = 20): String = (from until from + n).map(i => s"w$i").mkString(" ")

  /** Near-dup fixture: a 3-doc chain (1~2, 2~3, but 1 and 3 below the
    * threshold), a pair with a one-word edit, an exact copy, and docs that
    * pair with nothing (unique, empty, NULL). `q` scores the keep rule.
    */
  private lazy val docs: DataFrame = Seq(
    (1L, words(0), 3.0),
    (2L, words(2), 7.0),
    (3L, words(4), 5.0),
    (10L, words(100), 1.0),
    (11L, words(100, 19) + " changed", 2.0),
    (20L, words(200), 4.0),
    (21L, words(200), 4.0),
    (30L, words(300), 9.0),
    (31L, "", 0.0),
    (32L, null.asInstanceOf[String], 0.0)
  ).toDF("doc_id", "text", "q")

  private val threshold = 0.8

  private def lazyClusters(df: DataFrame): DataFrame =
    Dedup.duplicateClusters(Dedup.minHashDuplicatePairs(df, "doc_id", "text", threshold = threshold))

  private def sorted[T: Ordering](xs: Array[T]): Seq[T] = xs.toSeq.sorted

  test("eager sketch path matches lazy minHashDuplicatePairs + duplicateClusters") {
    val lazyC = sorted(lazyClusters(docs).as[(Long, Long)].collect())
    val eagerC = sorted(Dedup.minHashClusters(docs, "doc_id", "text", 3, 64, 16, threshold)
      .as[(Long, Long)].collect())
    assert(eagerC == lazyC)
    assert(lazyC.toMap.get(3L).contains(1L), s"chain 1~2~3 must close transitively: $lazyC")
    assert(lazyC.toMap.get(21L).contains(20L))
    val step = Map[String, Any]("step" -> "dedup_minhash", "threshold" -> threshold)
    val lazyIds = Dedup.dedupByClusters(docs, "doc_id", lazyClusters(docs)).select("doc_id").as[Long].collect()
    val pipeIds = CurationPipeline(docs, Seq(step)).select("doc_id").as[Long].collect()
    assert(sorted(pipeIds) == sorted(lazyIds))
    val lazyBest = Dedup.dedupByClustersKeepBest(docs, "doc_id", col("q"), lazyClusters(docs))
      .select("doc_id").as[Long].collect()
    val pipeBest = CurationPipeline(docs, Seq(step + ("quality_col" -> "q")))
      .select("doc_id").as[Long].collect()
    assert(sorted(pipeBest) == sorted(lazyBest))
    assert(sorted(pipeBest) != sorted(pipeIds), "the quality keep rule must change the survivors")
  }

  test("dedup_minhash after a row-local step evaluates its input once at construction") {
    val (counted, evaluated) = evaluationCounted(docs)
    val out = CurationPipeline(counted, Seq(Map("step" -> "normalize"),
      Map("step" -> "dedup_minhash", "threshold" -> threshold)))
    assert(evaluated.value == docs.count(),
      s"construction evaluated ${evaluated.value} input rows for ${docs.count()} docs")
    assert(out.count() < docs.count())
  }

  test("duplicateClusters evaluates a lazy pair frame once") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val (counted, evaluated) = evaluationCounted(pairs)
    val clusters = Dedup.duplicateClusters(counted)
    assert(evaluated.value == 4L, s"pairs evaluated ${evaluated.value} times over 4 rows")
    assert(sorted(clusters.as[(Long, Long)].collect()) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("dedup_minhash and duplicateClusters leave at most one checkpoint cached") {
    def cached = spark.sparkContext.getPersistentRDDs.size
    val before = cached
    val out = CurationPipeline(docs, Seq(Map("step" -> "dedup_minhash", "threshold" -> threshold)))
    assert(cached - before <= 1, s"dedup_minhash left ${cached - before} cached RDDs")
    assert(out.count() == 6L) // the kept checkpoint still serves the returned plan
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val mid = cached
    val clusters = Dedup.duplicateClusters(pairs)
    assert(cached - mid <= 1, s"duplicateClusters left ${cached - mid} cached RDDs")
    assert(clusters.count() == 6L)
  }
}
