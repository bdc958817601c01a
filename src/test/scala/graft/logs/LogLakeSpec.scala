package graft.logs

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Lake round-trip: partitioned write → partition-discovered read →
  * pruning visible in the physical plan; salted write produces multiple
  * files per date partition. The pipeline enforces the ingest contracts
  * inside its one read of the raw drop.
  */
class LogLakeSpec extends SparkSpec {

  test("write/read round-trip preserves rows; date filter prunes partitions") {
    val dir = Files.createTempDirectory("lake").toString
    val stg = LogFixture.stg(spark)
    assert(LogLake.writePartitioned(stg, dir) === 7)

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

  /** How many queries — succeeded or failed — scan the file `raw`
    * while `body` runs. A QueryExecutionListener looks through AQE
    * stages and cached plans for a file scan rooted at `raw`.
    */
  private def rawScans(raw: java.nio.file.Path)(body: => Unit): Int = {
    val marker = "scan-count-marker"
    val seenMarker = new java.util.concurrent.CountDownLatch(1)
    val textScans = new java.util.concurrent.atomic.AtomicInteger()
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case m: InMemoryTableScanExec => leaves(m.relation.cachedPlan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    def count(qe: QueryExecution): Unit =
      if (qe.analyzed.toString.contains(marker)) seenMarker.countDown()
      else if (leaves(qe.executedPlan).exists {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.getName == raw.getFileName.toString)
        case _ => false
      }) textScans.incrementAndGet()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = count(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = count(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker query is seen,
      // every query run by `body` has been counted
      spark.range(1).select(lit(marker)).collect()
      assert(seenMarker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    textScans.get
  }

  test("pipeline rejects a log file with zero parseable lines") {
    val raw = Files.createTempFile("garbage", ".log")
    Files.write(raw, "not a log line\nanother garbage line\n".getBytes)
    val wh = Files.createTempDirectory("whbad").toString
    // a broken contract fails the run on its first attempt: one scan
    val scans = rawScans(raw) {
      val e = intercept[IllegalArgumentException] {
        LogPipeline.run(spark, raw.toString, wh)
      }
      assert(e.getMessage.contains("no rows parsed"))
    }
    assert(scans === 1)
  }

  /** Every file under `root`, by relative path, with its bytes. */
  private def filesUnder(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  test("pipeline refuses a status out of range and leaves the warehouse as it was") {
    val raw = Files.createTempFile("nginx", ".log")
    Files.write(raw, LogFixture.lines.mkString("\n").getBytes)
    val wh = Files.createTempDirectory("whstatus").toString
    LogPipeline.run(spark, raw.toString, wh)
    val lakeBefore = filesUnder(s"$wh/lake")

    val bad = Files.createTempFile("nginx-bad", ".log")
    Files.write(bad, (LogFixture.lines :+
      """127.0.0.1 - - [10/Nov/2025:13:00:00 +0530] "GET /health HTTP/1.1" 999 16 "-" "curl/8.1.2"""")
      .mkString("\n").getBytes)
    // a broken contract fails the run on its first attempt: one scan
    val scans = rawScans(bad) {
      val e = intercept[Exception](LogPipeline.run(spark, bad.toString, wh))
      assert(e.getMessage.contains("status out of [100,599]"), e.getMessage)
    }
    assert(scans === 1)
    assert(filesUnder(s"$wh/lake") == lakeBefore,
      "an aborted ingest must leave every lake file as it was")
    assert(spark.read.parquet(s"$wh/fct_requests_hourly").count() === 6)
  }

  test("pipeline scans the raw drop once") {
    val raw = Files.createTempFile("nginx-once", ".log")
    Files.write(raw, LogFixture.lines.mkString("\n").getBytes)
    val wh = Files.createTempDirectory("whonce").toString
    assert(rawScans(raw)(LogPipeline.run(spark, raw.toString, wh)) === 1)
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
