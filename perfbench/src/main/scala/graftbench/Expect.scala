package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** One check of a workload's rule set: its YAML entry, and how to flag the
  * rows it must fail with plain Spark on the planted columns — no graft call.
  */
final case class RuleDef(name: String, error: Boolean, yaml: String,
                         expect: DataFrame => DataFrame) {
  def flagCol: String = s"__exp_$name"
}

object RuleDef {
  /** A check whose failing rows a row-local predicate picks out. */
  def row(name: String, error: Boolean, function: String, args: (String, String)*)(
      pred: Column): RuleDef =
    RuleDef(name, error, yaml(name, error, function, args), _.withColumn(s"__exp_$name", pred))

  /** A check whose failing rows need a join or an aggregate to find. */
  def dataset(name: String, error: Boolean, function: String, args: (String, String)*)(
      flag: DataFrame => DataFrame): RuleDef =
    RuleDef(name, error, yaml(name, error, function, args), flag)

  private def yaml(name: String, error: Boolean, function: String,
                   args: Seq[(String, String)]): String = {
    val a = args.map { case (k, v) => s"\n      $k: $v" }.mkString
    s"""- name: $name
       |  criticality: ${if (error) "error" else "warn"}
       |  check:
       |    function: $function
       |    arguments:$a
       |""".stripMargin
  }

  def yamlOf(rules: Seq[RuleDef]): String = rules.map(_.yaml).mkString
}

/** The figures a run's observed metrics and split totals must reproduce. */
final case class Expected(perCheck: Map[String, (Long, Long)], inputRows: Long, errorRows: Long,
                          warningRows: Long, validRows: Long) {

  /** Mismatches between an `observeMetrics` result and these figures. */
  def diff(observed: Map[String, Any]): Seq[String] = {
    def num(k: String): Long = observed.get(k).map(v => String.valueOf(v).toLong).getOrElse(-1L)
    val rowDiffs = Seq("input_row_count" -> inputRows, "error_row_count" -> errorRows,
      "warning_row_count" -> warningRows, "valid_row_count" -> validRows).collect {
      case (k, want) if num(k) != want => s"$k: observed ${num(k)}, expected $want"
    }
    val got = Expected.parseCheckMetrics(String.valueOf(observed.getOrElse("check_metrics", "[]")))
    val checkDiffs = perCheck.toSeq.sortBy(_._1).collect {
      case (name, want) if !got.get(name).contains(want) =>
        s"check $name: observed ${got.get(name).map(_.toString).getOrElse("none")}, expected $want"
    }
    rowDiffs ++ checkDiffs
  }

  /** Rows the valid split keeps (no errors) and the invalid split keeps. */
  def validSplit: Long = inputRows - errorRows
  def invalidSplit: Long = inputRows - validRows
}

object Expected {
  /** Count each check's flagged rows, and the error / warning / valid rows. */
  def compute(df: DataFrame, rules: Seq[RuleDef]): Expected = {
    val flagged = rules.foldLeft(df)((d, r) => r.expect(d))
    def flag(r: RuleDef): Column = coalesce(col(r.flagCol), lit(false))
    def any(rs: Seq[RuleDef]): Column = rs.map(flag).reduceOption(_ || _).getOrElse(lit(false))
    val errs = any(rules.filter(_.error))
    val warns = any(rules.filterNot(_.error))
    val aggs = rules.map(r => count(when(flag(r), lit(1)))) ++ Seq(
      count(lit(1)), count(when(errs, lit(1))), count(when(warns, lit(1))),
      count(when(!errs && !warns, lit(1))))
    val row: Row = flagged.agg(aggs.head, aggs.tail: _*).head()
    val perCheck = rules.zipWithIndex.map { case (r, i) =>
      val c = row.getLong(i)
      r.name -> (if (r.error) (c, 0L) else (0L, c))
    }.toMap
    val k = rules.length
    Expected(perCheck, row.getLong(k), row.getLong(k + 1), row.getLong(k + 2), row.getLong(k + 3))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `[{"check_name":..,"error_count":..,"warning_count":..},..]` by name. */
  def parseCheckMetrics(json: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(json).elements().asScala.map { n =>
      n.get("check_name").asText() -> (n.get("error_count").asLong(), n.get("warning_count").asLong())
    }.toMap
  }
}
