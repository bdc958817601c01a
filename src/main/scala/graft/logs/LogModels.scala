package graft.logs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** The reference warehouse models, re-expressed as DataFrame transforms.
  * DAG (dbt `ref()` lineage): stgLogs → {dimClient, dimEndpoint,
  * fctRequestsHourly}. Catalyst tracks the lineage in the logical plan,
  * so "materialization" is a persistence choice (see LogLake), not a
  * semantic one.
  */
object LogModels {

  /** Staging model (reference: dbt_project/models/staging/stg_logs.sql:7-16).
    * Derived columns:
    *   endpoint = path before '?'   — substring_index returns the whole
    *     string when '?' is absent, matching DuckDB split_part;
    *   date     = to_date(ts); hour = zero-padded "00".."23" STRING (the
    *     reference keeps hour a string, stg_logs.sql:15 — do not "fix" to int);
    *   is_error = int 0/1 (not boolean) so sum(is_error) matches.
    */
  def stgLogs(parsed: DataFrame): DataFrame =
    parsed.select(
      col("ts"),
      col("status"),
      col("bytes_sent"),
      substring_index(col("request_path"), "?", 1).as("endpoint"),
      col("client_ip"),
      col("user_agent"),
      to_date(col("ts")).as("date"),
      date_format(col("ts"), "HH").as("hour"),
      when(col("status") >= 400, 1).otherwise(0).cast(IntegerType).as("is_error")
    )

  /** [[stgLogs]] over a parse of no lines: its plan is analyzed, never run. */
  private def emptyStg(spark: SparkSession): DataFrame =
    stgLogs(LogParser.parse(spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("value", StringType))))))

  /** The schema of [[stgLogs]]'s output, taken from its analyzed plan, so
    * a reader of the staging lake needs no footer-inference job.
    */
  def stgSchema(spark: SparkSession): StructType = emptyStg(spark).schema

  /** The schema of [[fctRequestsHourly]]'s output, taken from its
    * analyzed plan, so a reader of the persisted fact needs no
    * footer-inference job.
    */
  def fctSchema(spark: SparkSession): StructType =
    fctRequestsHourly(emptyStg(spark)).schema

  /** Distinct client dimension (reference: models/marts/dim_client.sql:1). */
  def dimClient(stg: DataFrame): DataFrame =
    stg.select(col("client_ip").as("client_id"), col("user_agent")).distinct()

  /** Distinct endpoint dimension (reference: models/marts/dim_endpoint.sql:1). */
  def dimEndpoint(stg: DataFrame): DataFrame =
    stg.select("endpoint").distinct()

  /** Hourly fact at grain (date, hour, endpoint)
    * (reference: models/marts/fct_requests_hourly.sql:1-11).
    * `percentile` is Spark's EXACT interpolating percentile — semantics
    * identical to DuckDB `percentile_cont(0.95)`. `percentile_approx`
    * would not match an oracle. Exact percentile buffers per-group values;
    * at this grain (date×hour×endpoint) groups stay small even at 100 TB —
    * cardinality grows with distinct endpoints, values-per-group with
    * traffic, so monitor group sizes; approxPercentile is the documented
    * escape hatch for pathological groups.
    */
  def fctRequestsHourly(stg: DataFrame): DataFrame =
    stg
      .groupBy("date", "hour", "endpoint")
      .agg(
        count(lit(1)).as("requests"),
        sum("is_error").as("errors"),
        percentile(col("bytes_sent"), lit(0.95)).as("p95_bytes")
      )

  /** The 100 TB escape hatch for [[fctRequestsHourly]]'s exact
    * percentile (which buffers every group value — SURVEY §7.3's known
    * scale cliff): the same fact with `percentile_approx`, whose
    * KLL-style sketch is constant-memory per group and mergeable
    * map-side, so a pathological group (one endpoint taking a traffic
    * spike) costs O(accuracy) instead of O(rows).
    *
    * Because the sketch's answer is engine-specific, the fact carries
    * an explicit error-bound VERDICT instead of exposing the raw
    * approx value to the oracle: `p95_approx_ok` = 1 iff the approx
    * p95 lands in [exact p90, group max] — implied by the sketch's
    * rank-error guarantee (≤ n/accuracy ranks off 0.95·n, far inside
    * the 0.90 band whenever n < 0.05·accuracy·20) — while `p95_bytes`
    * stays the exact value the oracle recomputes. An approx drift out
    * of band flips the verdict to 0 and fails the hash compare, so the
    * tolerance IS oracle-checked.
    */
  def fctRequestsHourlyApprox(stg: DataFrame, accuracy: Int = 10000): DataFrame =
    stg
      .groupBy("date", "hour", "endpoint")
      .agg(
        count(lit(1)).as("requests"),
        sum("is_error").as("errors"),
        percentile(col("bytes_sent"), lit(0.95)).as("p95_bytes"),
        percentile_approx(col("bytes_sent"), lit(0.95), lit(accuracy)).as("p95_approx"),
        percentile(col("bytes_sent"), lit(0.90)).as("p90_exact"),
        max("bytes_sent").as("max_bytes"))
      .select(col("date"), col("hour"), col("endpoint"),
        col("requests"), col("errors"), col("p95_bytes"),
        (col("p95_approx") >= col("p90_exact") &&
          col("p95_approx") <= col("max_bytes")).cast("int").as("p95_approx_ok"))
}
