package graft.logs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks — the reference's dbt tests re-expressed as
  * zero-row queries (reference: dbt_project/models/tests/generic.yml:1-27,
  * tests/test_status_range.sql:1-4, etl/ingest_logs.py:55-57).
  * A check "passes" when its violation query returns zero rows; at scale
  * `isEmpty` short-circuits (limit-1 under the hood) instead of counting
  * everything.
  */
object LogQuality {

  /** A row violates the non-null contract on `columns`; false for none. */
  private def anyNull(columns: Seq[String]): Column =
    columns.map(c => col(c).isNull).reduceOption(_ || _).getOrElse(lit(false))

  /** A status outside [100, 599]. */
  private val statusOutOfRange: Column = !col("status").between(100, 599)

  private val StatusRangeMessage = "status out of [100,599]"

  /** The failure of an ingest that parsed no rows. */
  val NoRowsMessage = "no rows parsed from log file"

  /** dbt `not_null` generic test: violations of non-null contract.
    * Zero columns means zero violations.
    */
  def notNullViolations(df: DataFrame, columns: Seq[String]): DataFrame =
    df.filter(anyNull(columns))

  /** Singular test: statuses outside [100, 599]. */
  def statusRangeViolations(stg: DataFrame): DataFrame =
    stg.filter(statusOutOfRange)

  /** The reference's full test suite over stg + fct; returns
    * (check name → violation count). Each input is scanned once and all
    * checks run as ONE Spark job: the rows violating any of an input's
    * checks (a filter the Parquet scan can push down) become one row per
    * check they violate, labelled with the check's name; the two inputs'
    * label rows are unioned and one grouped count tallies them. A clean
    * warehouse yields no label rows, so the count's result stage is
    * skipped as empty.
    */
  def runAll(stg: DataFrame, fct: DataFrame): Map[String, Long] = {
    val stgChecks = Seq(
      "stg_not_null" -> anyNull(Seq("ts", "status", "bytes_sent", "endpoint")),
      "status_range" -> statusOutOfRange)
    val fctChecks = Seq(
      "fct_not_null" -> anyNull(Seq("date", "hour", "endpoint", "requests", "errors")))
    def labels(df: DataFrame, checks: Seq[(String, Column)]): DataFrame =
      df.filter(checks.map(_._2).reduce(_ || _))
        .select(explode(array(
          checks.map { case (name, violated) => when(violated, lit(name)) }: _*))
          .as("check"))
        .filter(col("check").isNotNull)
    val counts = labels(stg, stgChecks).union(labels(fct, fctChecks))
      .groupBy("check").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (stgChecks ++ fctChecks).map { case (name, _) =>
      name -> counts.getOrElse(name, 0L) }.toMap
  }

  /** The ingest status contract inside the query that consumes `df`:
    * `status` passes through unchanged, and a row outside [100, 599]
    * raises an error naming the contract, which fails the job that
    * reads it. The pipeline puts this beneath its lake write, so one
    * violating row aborts the write and dynamic partition overwrite
    * publishes nothing.
    */
  def guardStatus(df: DataFrame): DataFrame =
    df.withColumn("status",
      when(statusOutOfRange, raise_error(lit(StatusRangeMessage)))
        .otherwise(col("status")))

  /** ETL inline asserts (reference: ingest_logs.py:55-57), eagerly, for
    * a caller that holds a parsed frame: two jobs over it. The pipeline
    * enforces the same two contracts inside its one lake write instead
    * ([[guardStatus]] and the row count `LogLake.writePartitioned`
    * returns), so the parse is read once.
    */
  def assertIngest(parsed: DataFrame): Unit = {
    require(!parsed.isEmpty, NoRowsMessage)
    require(statusRangeViolations(parsed).isEmpty, StatusRangeMessage)
  }
}
