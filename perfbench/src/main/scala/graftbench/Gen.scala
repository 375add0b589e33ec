package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every defect is planted at known positions:
  * row `id` gets the rank `(id * a + b) mod n`, a bijection on [0, n) whose
  * `a` and `b` come from the seed, and each defect class owns one contiguous
  * rank range. So a class's row count is exact for every seed while its
  * positions move with the seed. Clean values come from seeded hashes.
  */
object Gen {

  final case class Layout(n: Long, a: Long, b: Long, classes: Seq[(String, Long)]) {
    private val starts: Map[String, Long] =
      classes.map(_._1).zip(classes.map(_._2).scanLeft(0L)(_ + _)).toMap
    val planted: Map[String, Long] = classes.toMap
    require(classes.map(_._2).sum <= n, "planted classes exceed the row count")

    def rank: Column = pmod(col("id") * lit(a) + lit(b), lit(n))
    /** Rows of defect class `c`: ranks [start, start + count). */
    def in(c: String): Column = {
      val s = starts(c)
      rank >= s && rank < s + planted(c)
    }
  }

  def layout(n: Long, seed: Long, classes: Seq[(String, Long)]): Layout = {
    val rnd = new java.util.SplittableRandom(seed)
    @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1000003L + rnd.nextLong(1000000L)
    while (gcd(a, n) != 1) a += 1
    Layout(n, a, rnd.nextLong(n), classes)
  }

  /** Seeded non-negative hash in [0, m). */
  private def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  // ---- reference perf schema (col1..col10 plus the templated strings) ----

  val PerfClasses: Seq[String] = Seq(
    "col1_null", "col2_negative", "col2_big", "col3_off_list", "col4_empty", "col5_future",
    "col6_future", "ipv4_bad", "ipv4_outside", "ipv6_bad", "json_broken", "json_no_key2",
    "geo_line", "geo_null_island", "col10_negative")

  /** Even split of `defects` rows over the perf defect classes. */
  def perfLayout(n: Long, seed: Long, defects: Long): Layout = {
    val each = defects / PerfClasses.size
    layout(n, seed, PerfClasses.map(_ -> each))
  }

  /** The reference perf schema with every defect class planted. `col1`
    * draws from [0, fkDomain) so a reference frame can hold every key.
    */
  def perfFrame(spark: SparkSession, l: Layout, seed: Long, partitions: Int,
                fkDomain: Long = 1000000L): DataFrame = {
    def when2(c: String, bad: Column, good: Column): Column = when(l.in(c), bad).otherwise(good)
    val cleanDate = date_add(lit("2000-01-01").cast("date"), h(seed, 5, 7000).cast("int"))
    spark.range(0, l.n, 1, partitions)
      .select(
        when2("col1_null", lit(null).cast("int"), h(seed, 1, fkDomain).cast("int")).as("col1"),
        when2("col2_negative", lit(-5),
          when2("col2_big", lit(2000000), h(seed, 2, 1000000).cast("int"))).as("col2"),
        when2("col3_off_list", lit(500), pmod(l.rank, lit(97)).cast("int")).as("col3"),
        col("id"),
        when2("col5_future", lit("2999-01-01").cast("date"), cleanDate).as("col5"),
        when2("col6_future", lit("2999-01-01 00:00:00").cast("timestamp"),
          (cleanDate.cast("timestamp") + make_interval(lit(0), lit(0), lit(0), lit(0),
            lit(0), lit(0), h(seed, 6, 86400).cast("int")))).as("col6"),
        when2("ipv4_bad", concat_ws(".", lit("999"), h(seed, 7, 256), h(seed, 8, 256), h(seed, 9, 256)),
          when2("ipv4_outside", concat_ws(".", lit("192"), lit("168"), h(seed, 8, 256), h(seed, 9, 256)),
            concat_ws(".", lit("10"), h(seed, 7, 256), h(seed, 8, 256), h(seed, 9, 256)))).as("col_ipv4"),
        when2("ipv6_bad", format_string("2001:db8::zz%x::1", h(seed, 10, 65536)),
          format_string("2001:db8:%x:%x::%x", h(seed, 10, 65536), h(seed, 11, 65536),
            h(seed, 12, 65536))).as("col_ipv6"),
        when2("geo_line", lit("LINESTRING(1 1, 2 2)"),
          when2("geo_null_island", lit("POINT(0 0)"),
            format_string("POINT(%d.%d %d.%d)", h(seed, 13, 170) + 1, h(seed, 14, 1000),
              h(seed, 15, 80) + 1, h(seed, 16, 1000)))).as("col_geo_point"),
        when2("col10_negative", lit(-5), col("id").cast("int")).as("col10"))
      .select(
        col("col1"), col("col2"), col("col3"),
        when(l.in("col4_empty"), array().cast("array<int>"))
          .otherwise(array(col("col1"), col("col2"))).as("col4"),
        col("col5"), col("col6"),
        map(lit("key"), col("col2")).as("col7"),
        struct(col("col1").as("field1")).as("col8"),
        col("col10"), col("col_ipv4"), col("col_ipv6"),
        when(l.in("json_broken"), format_string("{\"key1\": %d, \"key2\": ", col("col2")))
          .when(l.in("json_no_key2"), format_string("{\"key1\": %d}", col("col2")))
          .otherwise(format_string("{\"key1\": %d, \"key2\": \"v%d\"}", col("col2"), col("col3")))
          .as("col_json_str"),
        col("col_geo_point"))
  }

  // ---- dataset-rule input: perf shape with the dataset defects ----

  val DatasetClasses: Seq[String] = Seq(
    "dup_pair", "fk_orphan", "col1_null", "col1_outlier", "col2_outlier", "cmp_changed",
    "cmp_extra", "heavy_group")

  def datasetLayout(n: Long, seed: Long, defects: Long): Layout = {
    val each = (defects / DatasetClasses.size) / 2 * 2 // dup pairs need an even count
    layout(n, seed, DatasetClasses.map(_ -> each))
  }

  /** `fkDomain` keys: col1 of clean rows, and every key the reference holds. */
  def fkDomain(n: Long): Long = math.max(97L, n / 4)

  /** Input frame of the dataset workload. `col10` is the row key. */
  def datasetFrame(spark: SparkSession, l: Layout, seed: Long, partitions: Int): DataFrame = {
    val k = fkDomain(l.n)
    spark.range(0, l.n, 1, partitions).select(
      when(l.in("col1_null"), lit(null).cast("int"))
        .when(l.in("fk_orphan"), (lit(k) + h(seed, 1, k / 4)).cast("int"))
        .when(l.in("col1_outlier"), (lit(100L * k) + h(seed, 1, k)).cast("int"))
        .otherwise(h(seed, 1, k).cast("int")).as("col1"),
      when(l.in("dup_pair"), (lit(3000000L) + floor(l.rank / 2)).cast("int"))
        .when(l.in("col2_outlier"), (lit(500000000L) + h(seed, 2, 1000000)).cast("int"))
        .otherwise(h(seed, 2, 1000000).cast("int")).as("col2"),
      datasetCol3(l).as("col3"),
      col("id").cast("int").as("col10"))
  }

  private def datasetCol3(l: Layout): Column =
    when(l.in("heavy_group"), lit(7)).when(l.in("dup_pair"), pmod(floor(l.rank / 2), lit(97)))
      .otherwise(pmod(l.rank, lit(97))).cast("int")

  /** Reference frame: every FK key, and the compare target keyed by col10.
    * Planted: `cmp_changed` rows carry another col3, `cmp_extra` keys are absent.
    */
  def referenceFrame(spark: SparkSession, l: Layout, partitions: Int): DataFrame = {
    val k = fkDomain(l.n)
    spark.range(0, l.n, 1, partitions)
      .where(!l.in("cmp_extra"))
      .select(
        pmod(col("id"), lit(k)).cast("int").as("ref_col1"),
        col("id").cast("int").as("ref_col2"),
        pmod(col("id"), lit(97)).cast("int").as("ref_col3"),
        col("id").cast("int").as("col10"),
        when(l.in("cmp_changed"), datasetCol3(l) + 1000).otherwise(datasetCol3(l)).as("col3"))
  }

  // ---- curation documents ----

  final case class Docs(rows: Seq[(Long, String)], planted: Map[String, Int])

  val DocClasses: Seq[String] = Seq("short", "punct", "repetitive", "no_sentences",
    "exact_dup", "near_dup")

  /** `n` documents: clean prose plus each planted class at `rate` of `n`.
    * Exact duplicates differ from their source only in case and spacing, so
    * they collide after `normalize`; near duplicates append a digit to one word.
    */
  def docs(n: Int, seed: Long, rate: Double): Docs = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.tabulate(600) { i =>
      val r = new java.util.SplittableRandom(seed * 31 + i)
      val len = 3 + r.nextInt(7)
      Array.fill(len)(('a' + r.nextInt(26)).toChar).mkString
    }
    def sentence(words: Int): String = {
      val ws = Array.fill(words)(vocab(rnd.nextInt(vocab.length)))
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }
    def prose(): String = Seq.fill(6 + rnd.nextInt(4))(sentence(8 + rnd.nextInt(8))).mkString(" ")
    val perClass = math.max(1, (n * rate).toInt)
    val cleanCount = n - perClass * DocClasses.size
    require(cleanCount > perClass, "too few clean documents for the planted classes")
    val clean = Seq.fill(cleanCount)(prose())
    def pick(): String = clean(rnd.nextInt(clean.length))
    val planted: Seq[String] = DocClasses.flatMap { c => Seq.fill(perClass)(c match {
      case "short" => "A short note."
      case "punct" => Seq.fill(40)("?!?!?! " + vocab(rnd.nextInt(vocab.length)) + " ......").mkString(" ")
      case "repetitive" =>
        val w = vocab(rnd.nextInt(vocab.length))
        Seq.fill(40)(s"${w.capitalize} $w again.").mkString(" ")
      case "no_sentences" => Seq.fill(90)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      case "exact_dup" => pick().toUpperCase.replace(" ", "   ")
      case "near_dup" =>
        val ws = pick().split(" ")
        val i = rnd.nextInt(ws.length - 1)
        ws(i) = ws(i) + "0"
        ws.mkString(" ")
    })}
    // ids are a seeded permutation, so planted documents sit anywhere
    val texts = clean ++ planted
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0 until texts.length).map(_.toLong))
    Docs(ids.zip(texts).sortBy(_._1), DocClasses.map(_ -> perClass).toMap)
  }
}
