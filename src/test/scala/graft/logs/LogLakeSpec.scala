package graft.logs

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Lake round-trip: partitioned write → partition-discovered read →
  * pruning visible in the physical plan; salted write produces multiple
  * files per date partition.
  */
class LogLakeSpec extends SparkSpec {

  test("write/read round-trip preserves rows; date filter prunes partitions") {
    val dir = Files.createTempDirectory("lake").toString
    val stg = LogFixture.stg(spark)
    LogLake.writePartitioned(stg, dir)

    val back = LogLake.readLake(spark, dir)
    assert(back.count() === 7)
    // the known schema is the one partition inference reads from the footers
    val inferred = spark.read.option("basePath", dir).parquet(dir).schema
    assert(back.schema === inferred)
    assert(back.schema("date").dataType === org.apache.spark.sql.types.DateType)

    val oneDay = back.filter(col("date") === "2025-11-10")
    assert(oneDay.count() === 5)
    // partition pruning: the scan must select only 1 of 2 partitions
    val scan = oneDay.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)

    // salted write: full pipeline produced files under date= dirs
    val d0 = new java.io.File(s"$dir/date=2025-11-10")
    assert(d0.exists, "hive-style date= dir missing")
  }

  test("pipeline rejects a log file with zero parseable lines") {
    val raw = Files.createTempFile("garbage", ".log")
    Files.write(raw, "not a log line\nanother garbage line\n".getBytes)
    val wh = Files.createTempDirectory("whbad").toString
    val e = intercept[IllegalArgumentException] {
      LogPipeline.run(spark, raw.toString, wh)
    }
    assert(e.getMessage.contains("no rows parsed"))
  }

  test("end-to-end pipeline main: raw → lake → models → quality gate") {
    val raw = Files.createTempFile("nginx", ".log")
    Files.write(raw, LogFixture.lines.mkString("\n").getBytes)
    val warehouse = Files.createTempDirectory("wh").toString
    LogPipeline.run(spark, raw.toString, warehouse)
    // fact persisted and queryable
    val fct = spark.read.parquet(s"$warehouse/fct_requests_hourly")
    assert(fct.count() === 6)
    assert(spark.read.parquet(s"$warehouse/dim_client").count() === 3)
    assert(spark.read.parquet(s"$warehouse/dim_endpoint").count() === 3)
  }
}
