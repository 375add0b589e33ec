package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every planted defect class holds exactly its declared row count, for any
  * seed, and plain Spark predicates on the planted columns find them.
  */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory("perfbench-test").toFile
  private lazy val spark: SparkSession = Main.session(2, tmp)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  private def count(df: DataFrame, pred: Column): Long = df.where(pred).count()

  test("the rank is a bijection for any seed, so class ranges never overlap") {
    for (seed <- Seq(1L, 7L, 123456L)) {
      val l = Gen.perfLayout(10007, seed, 1500)
      val ranks = spark.range(0, l.n).select(l.rank.as("r"))
      assert(ranks.distinct().count() == l.n)
      assert(ranks.agg(min("r"), max("r")).head().toSeq == Seq(0L, l.n - 1))
    }
  }

  test("perf frame: each defect class is planted exactly, predicates find it") {
    for (seed <- Seq(3L, 99L)) {
      val l = Gen.perfLayout(3000, seed, 600)
      val df = Gen.perfFrame(spark, l, seed, 3).cache()
      val each = l.planted("col1_null")
      assert(each == 40 && Gen.PerfClasses.forall(l.planted(_) == each))
      val found = Map(
        "col1_null" -> col("col1").isNull,
        "col2_negative" -> (col("col2") === -5),
        "col2_big" -> (col("col2") === 2000000),
        "col3_off_list" -> (col("col3") === 500),
        "col4_empty" -> (size(col("col4")) === 0),
        "col5_future" -> (col("col5") > lit("2100-01-01").cast("date")),
        "col6_future" -> (col("col6") > lit("2100-01-01").cast("timestamp")),
        "ipv4_bad" -> col("col_ipv4").startsWith("999."),
        "ipv4_outside" -> col("col_ipv4").startsWith("192.168."),
        "ipv6_bad" -> col("col_ipv6").contains("zz"),
        "json_broken" -> !col("col_json_str").endsWith("}"),
        "json_no_key2" -> !col("col_json_str").contains("key2"),
        "geo_line" -> col("col_geo_point").startsWith("LINESTRING"),
        "geo_null_island" -> (col("col_geo_point") === "POINT(0 0)"),
        "col10_negative" -> (col("col10") === -5))
      assert(found.keySet == Gen.PerfClasses.toSet)
      found.foreach { case (c, p) => assert(count(df, p) == each, s"seed $seed class $c") }
      df.unpersist()
    }
  }

  test("perf frame: same seed, same rows; another seed moves the defects") {
    val l = Gen.perfLayout(2000, 5, 300)
    def nullIds(seed: Long, layout: Gen.Layout): Set[Int] =
      Gen.perfFrame(spark, layout, seed, 2).where(col("col1").isNull)
        .select("col10").collect().map(_.getInt(0)).toSet
    assert(nullIds(5, l) == nullIds(5, l))
    assert(nullIds(5, l) != nullIds(6, Gen.perfLayout(2000, 6, 300)))
  }

  test("dataset frames: duplicates, orphans, compare diffs and the heavy group") {
    val n = 4000L
    val l = Gen.datasetLayout(n, 11, n / 10)
    val each = l.planted("dup_pair")
    val k = Gen.fkDomain(n)
    val df = Gen.datasetFrame(spark, l, 11, 2).cache()
    val ref = Gen.referenceFrame(spark, l, 2).cache()
    assert(each % 2 == 0 && df.count() == n)
    assert(count(df, col("col2") >= 3000000 && col("col2") < 500000000) == each)
    assert(df.where(col("col2") >= 3000000 && col("col2") < 500000000)
      .groupBy("col3", "col2").count().where(col("count") === 2).count() == each / 2)
    assert(count(df, col("col1") >= k && col("col1") < lit(100L * k)) == each)
    assert(count(df, col("col1") >= lit(100L * k)) == each)
    assert(count(df, col("col1").isNull) == each)
    assert(count(df, col("col2") >= 500000000) == each)
    assert(ref.count() == n - each)
    assert(df.join(ref, Seq("col10"), "left_anti").count() == each)
    assert(df.join(ref.select(col("col10"), col("col3").as("rc3")), "col10")
      .where(col("rc3") =!= col("col3")).count() == each)
    val groups = df.groupBy("col3").count()
    val normal = groups.where(col("col3") =!= 7).agg(max("count")).head().getLong(0)
    val heavy = groups.where(col("col3") === 7).head().getLong(1)
    assert(heavy - each <= normal + 2 && heavy > normal + each / 2)
    assert(df.select(countDistinct("col3")).head().getLong(0) == 97)
    assert(ref.select(countDistinct("ref_col1")).head().getLong(0) == k)
  }

  test("documents: planted classes, seeded permutation of ids") {
    val d = Gen.docs(600, 42, 0.03)
    assert(d.rows.length == 600 && d.rows.map(_._1) == (0L until 600L))
    assert(d.planted.values.forall(_ == 18) && d.planted.keySet == Gen.DocClasses.toSet)
    val texts = d.rows.map(_._2)
    assert(texts.count(_.length < 200) == 18)
    // the short documents are identical too; the length filter drops them first
    val normalized = texts.filter(_.length >= 200).map(_.toLowerCase.split("\\s+").mkString(" "))
    assert(normalized.length - normalized.distinct.length == 18)
    assert(texts.count(_.exists(_.isDigit)) == 18) // near duplicates: one word gets a digit
    assert(Gen.docs(600, 42, 0.03) == d)
    assert(Gen.docs(600, 43, 0.03).rows != d.rows)
  }
}
