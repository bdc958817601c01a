package graft.logs

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lake storage layer: Hive-style date-partitioned Parquet, mirroring the
  * reference's `date=YYYY-MM-DD/` layout (reference: etl/ingest_logs.py:63-70,
  * README.md:49-51) but written/read by Spark's native partitioned source.
  *
  * Scale notes:
  *   - `partitionBy("date")` gives partition pruning on every
  *     `WHERE date = …` query — at 100 TB this is the difference between
  *     scanning one day and scanning three years.
  *   - Writers should `repartition($"date")` first so each date writes
  *     from the executors that own it (avoids thousands of small files
  *     per partition from every task).
  *   - Dynamic partition overwrite replaces only the dates present in the
  *     incoming batch — the reference's "re-run rewrites whole date
  *     partitions" semantics without touching other dates.
  */
object LogLake {

  /** Salt buckets per date partition: enough parallelism inside a single
    * day's write without exploding the file count. On a real cluster
    * size this to (day volume / target file size).
    */
  val WriteBucketsPerDate = 8

  /** ETL sink (reference: ingest_logs.py:63-70). `date` is written as a
    * `date=YYYY-MM-DD/` directory name, like the reference's layout;
    * readLake reads it back as the staging model's DateType. Returns the
    * number of rows written, counted by an observation inside the write
    * job, so no second job reads `stg` to count it. The observation sits
    * above the repartition's exchange: when the exchange comes out
    * empty, AQE replaces the plan beneath it with an empty relation, and
    * an observation there would report nothing at all.
    */
  def writePartitioned(stg: DataFrame, root: String): Long = {
    val written = Observation()
    stg
      .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
      // SALTED repartition: (date, hash(ts) % buckets). Repartitioning by
      // date alone maps one whole day to one task — the skewed-write
      // scale-killer at 100 TB (one executor writes an entire date).
      .repartition(col("date"), pmod(hash(col("ts"), col("client_ip")),
        lit(WriteBucketsPerDate)))
      .observe(written, count(lit(1)).as("rows"))
      .write
      .partitionBy("date")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(root)
    written.get("rows").asInstanceOf[Long]
  }

  /** Catalog materialization (reference: dbt `materialized='table'`,
    * dbt_project.yml:8-13 — every model persisted as a warehouse table).
    * saveAsTable registers the data in the session catalog so
    * `spark.sql("SELECT ... FROM <name>")` serves it by name, the CTAS
    * equivalent of the reference's DuckDB tables.
    */
  def materializeTable(df: DataFrame, name: String): Unit = {
    // full refresh (the reference's dbt table materialization semantics);
    // also clears an orphaned location left by a previous session whose
    // in-memory catalog no longer knows the table
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
    df.write.mode(SaveMode.Overwrite).saveAsTable(name)
  }

  /** Staging re-read (reference: stg_logs.sql:4-6 glob scan). Spark
    * partition discovery turns `date=…` dirs back into a column; kept
    * LAZY (no eager full materialization) so date filters prune partitions
    * — the reference materializes all partitions into DuckDB and loses
    * pruning, which we deliberately do not reproduce. The schema is the
    * staging model's ([[LogModels.stgSchema]]), so the read starts no
    * footer-inference job; the frame has the columns and types partition
    * inference would give, `date` (DateType) last.
    */
  def readLake(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(LogModels.stgSchema(spark))
      .option("basePath", root).parquet(root)
}
