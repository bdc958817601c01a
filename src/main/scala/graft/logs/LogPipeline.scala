package graft.logs

import org.apache.spark.sql.SparkSession

/** End-to-end pipeline main, mirroring the reference's orchestrated flow
  * (reference: orchestration/flow.py:29-35 — etl → dbt run → dbt test):
  *
  *   raw log file → parse (drop malformed) → date-partitioned lake, one
  *   ts-sorted file per date (its write enforces the ingest asserts) →
  *   stg → dims + hourly fact persisted as parquet tables (closes the S6
  *   materialization gap) → quality gate. Every table is written by
  *   LogLake's one writer (gzip, Parquet v2 pages).
  *
  * One command produces the queryable warehouse; serving queries
  * (LogQueries) then read the small persisted fact, not the raw lake —
  * at 100 TB the fact is orders of magnitude smaller than staging, and
  * partition pruning on `date` keeps serve-time scans to one day.
  */
object LogPipeline {

  /** The flow: named tasks with per-task retry + checkpointed resume
    * (reference: `orchestration/flow.py:13-35`, where Prefect's @task
    * gives each step retries/observability). Task bodies are
    * idempotent (overwrite writes), so a retry or a resumed re-run
    * can never double-apply. Returns the flow's task report.
    */
  def run(spark: SparkSession, rawPath: String, warehouseDir: String,
          resume: Boolean = false): Seq[(String, String, Int)] = {
    val flow = new graft.Flow("log-warehouse", stateDir = Some(warehouseDir))
    if (!resume) flow.clearState()

    // 1. ETL (reference: ingest_logs.py main) — one query reads the drop,
    // so the parse needs no pin: the status contract is a guard beneath
    // the lake write (a violating row aborts the write job, and dynamic
    // partition overwrite publishes nothing from it), and the write
    // counts the rows it wrote for the non-empty contract
    flow.task("etl") {
      val stg = LogModels.stgLogs(LogParser.readLogs(spark, rawPath))
      val rows = LogLake.writePartitioned(LogQuality.guardStatus(stg),
        s"$warehouseDir/lake")
      require(rows > 0, LogQuality.NoRowsMessage)
    }

    // 2. Model build from the lake (reference: dbt run) — read back so
    // downstream models consume the persisted, partition-pruned lake.
    // dim_client is sorted by client_id within each file: sorted IPs
    // share their prefixes, which the v2 string encoding stores once
    flow.task("models") {
      val lakeStg = LogLake.readLake(spark, s"$warehouseDir/lake")
      def persist(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        LogLake.writeTable(df, s"$warehouseDir/$name")
      persist("dim_client",
        LogModels.dimClient(lakeStg).sortWithinPartitions("client_id"))
      persist("dim_endpoint", LogModels.dimEndpoint(lakeStg))
      persist("fct_requests_hourly", LogModels.fctRequestsHourly(lakeStg))
    }

    // 3. Quality gate (reference: dbt test) — fail the run on
    // violations. NOT resume-skippable by design: a resumed flow must
    // still prove the warehouse it leaves behind passes the contract,
    // so the gate re-runs even when steps 1-2 were skipped.
    val lakeStg = LogLake.readLake(spark, s"$warehouseDir/lake")
    val fct = spark.read.schema(LogModels.fctSchema(spark))
      .parquet(s"$warehouseDir/fct_requests_hourly")
    val violations = LogQuality.runAll(lakeStg, fct).filter(_._2 > 0)
    require(violations.isEmpty, s"quality checks failed: $violations")

    flow.report.map(r => (r.task, r.status, r.attempts))
  }

  /** CLI: LogPipeline <raw log path> <warehouse dir> */
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: LogPipeline <raw log path> <warehouse dir>")
      sys.exit(2)
    }
    val Array(raw, wh) = args
    val spark = graft.GraftSession.local(
      graft.GraftConf.envInt("SPARK_GRAFT_CPUS", 4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, raw, wh)
    spark.stop()
  }
}
