package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // session shared across suites

  /** Drop a managed table AND its warehouse location — the in-memory metastore
    * forgets tables across JVMs but orphaned locations fail the next CTAS.
    */
  def dropTableFully(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = java.nio.file.Paths.get(s"spark-warehouse/$name")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** `df` behind a deterministic always-true UDF filter that adds 1 to the
    * returned accumulator for every row it evaluates — each action that scans
    * the frame adds its row count, so the accumulator counts how many times
    * the frame's rows were computed. The frame is re-rooted on an RDD so the
    * optimizer cannot fold the filter into a local relation at plan time.
    */
  def evaluationCounted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.util.LongAccumulator) = {
    import org.apache.spark.sql.functions.{col, udf, xxhash64}
    val acc = spark.sparkContext.longAccumulator("rows evaluated")
    val tick = udf { (_: Long) => acc.add(1L); true }
    val rooted = spark.createDataFrame(df.rdd, df.schema)
    (rooted.where(tick(xxhash64(df.columns.map(col).toIndexedSeq: _*))), acc)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
