package graft.logs

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Lake round-trip: partitioned write → partition-discovered read →
  * pruning visible in the physical plan. The warehouse layout: one
  * ts-sorted lake file per date from a write plan with one sort, every
  * table gzip-compressed in Parquet v2 pages, and a storage ratio under
  * a committed ceiling. The pipeline enforces the ingest contracts
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

    val d0 = new java.io.File(s"$dir/date=2025-11-10")
    assert(d0.exists, "hive-style date= dir missing")
  }

  /** Every plan node, looking through AQE stages and cached plans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(nodes)
  })

  /** Every query — succeeded or failed — that runs while `body` runs,
    * seen by a QueryExecutionListener.
    */
  private def queriesDuring(body: => Unit): Seq[QueryExecution] = {
    val marker = "query-listener-marker"
    val seenMarker = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    def record(qe: QueryExecution): Unit =
      if (qe.analyzed.toString.contains(marker)) seenMarker.countDown()
      else seen.add(qe)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker query is seen,
      // every query run by `body` has been recorded
      spark.range(1).select(lit(marker)).collect()
      assert(seenMarker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** How many queries — succeeded or failed — scan the file `raw`
    * while `body` runs.
    */
  private def rawScans(raw: Path)(body: => Unit): Int =
    queriesDuring(body).count(qe => nodes(qe.executedPlan).exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == raw.getFileName.toString)
      case _ => false
    })

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

  /** The regular files under `dir`, hidden ones included. */
  private def regularFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  /** Every file under `root`, by relative path, with its bytes. */
  private def filesUnder(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    regularFiles(root).map(p =>
      base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
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

  /** A seeded drop of `n` combined-format lines spread over three days:
    * random client IPs, 40 endpoints (a quarter with a query string),
    * a mixed status set, `-` bytes on 304s and four user agents.
    */
  private def seededDrop(n: Int, seed: Long): Path = {
    val rnd = new scala.util.Random(seed)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("dd/MMM/yyyy:HH:mm:ss", java.util.Locale.ENGLISH)
    val start = java.time.LocalDateTime.of(2025, 11, 1, 0, 0)
    val agents = Seq("Mozilla/5.0 (X11; Linux x86_64)", "curl/8.5.0",
      "Googlebot/2.1 (+http://www.google.com/bot.html)",
      "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X)")
    val statuses = Seq(200, 200, 200, 200, 200, 200, 304, 301, 404, 500)
    val lines = Seq.fill(n) {
      val ts = start.plusSeconds(rnd.nextInt(3 * 86400)).format(fmt)
      val ip = s"${10 + rnd.nextInt(3)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}"
      val ep = rnd.nextInt(40)
      val path = s"/api/v1/items/$ep" + (if (ep % 4 == 0) s"?ref=${rnd.nextInt(100)}" else "")
      val status = statuses(rnd.nextInt(statuses.size))
      val sent = if (status == 304) "-" else (200 + rnd.nextInt(8000)).toString
      s"""$ip - - [$ts +0000] "GET $path HTTP/1.1" $status $sent "https://example.com/" "${agents(rnd.nextInt(agents.size))}""""
    }
    val raw = Files.createTempFile("nginx-seeded", ".log")
    Files.write(raw, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    raw
  }

  /** One pipeline run over a 5 000-line seeded drop: (raw drop, warehouse). */
  private lazy val seeded: (Path, String) = {
    val raw = seededDrop(5000, seed = 402L)
    val wh = Files.createTempDirectory("whseeded").toString
    LogPipeline.run(spark, raw.toString, wh)
    (raw, wh)
  }

  private def dataFiles(dir: String): Seq[Path] =
    regularFiles(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  /** The column chunks of a Parquet file, read from its footer. */
  private def columnChunks(f: Path): Seq[ColumnChunkMetaData] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(f.toUri), new Configuration()))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
    finally r.close()
  }

  test("the pipeline's lake holds exactly one data file per date") {
    def assertOneFilePerDate(lake: String): Unit = {
      val dates = new java.io.File(lake).listFiles().filter(_.getName.startsWith("date="))
      assert(dates.map(_.getName).sorted.toSeq ===
        Seq("date=2025-11-01", "date=2025-11-02", "date=2025-11-03"))
      dates.foreach(d => assert(dataFiles(d.toString).size === 1, d.toString))
    }
    assertOneFilePerDate(s"${seeded._2}/lake")
    // at scale AQE keeps every shuffle partition its own task; a date's
    // rows must still meet in one of them
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val dir = Files.createTempDirectory("lakeuncoalesced").toString
    spark.conf.set(key, "false")
    try LogLake.writePartitioned(
      LogModels.stgLogs(LogParser.readLogs(spark, seeded._1.toString)), dir)
    finally spark.conf.unset(key)
    assertOneFilePerDate(dir)
  }

  test("every lake and model file is gzip; dim_client.client_id is DELTA_BYTE_ARRAY") {
    val wh = seeded._2
    val tables = Seq("lake", "dim_client", "dim_endpoint", "fct_requests_hourly")
    tables.foreach { t =>
      val chunks = dataFiles(s"$wh/$t").flatMap(columnChunks)
      assert(chunks.nonEmpty, t)
      chunks.foreach(c =>
        assert(c.getCodec === CompressionCodecName.GZIP, s"$t ${c.getPath}"))
    }
    val clientIds = dataFiles(s"$wh/dim_client").flatMap(columnChunks)
      .filter(_.getPath.toDotString == "client_id")
    assert(clientIds.nonEmpty)
    clientIds.foreach(c =>
      assert(c.getEncodings.contains(Encoding.DELTA_BYTE_ARRAY), c.getEncodings))
  }

  test("ts ascends within each lake file") {
    val files = dataFiles(s"${seeded._2}/lake")
    assert(files.nonEmpty)
    files.foreach { f =>
      // one small file is one split, read in file order
      val ts = spark.read.parquet(f.toString).select("ts").collect()
        .map(_.getTimestamp(0).getTime).toSeq
      assert(ts.nonEmpty && ts === ts.sorted, f.toString)
    }
  }

  test("the lake write plan rebalances by date and sorts once, by [date, ts]") {
    val dir = Files.createTempDirectory("lakeplan").toString
    val writes = queriesDuring(LogLake.writePartitioned(LogFixture.stg(spark), dir))
      .map(qe => nodes(qe.executedPlan))
      .filter(_.exists(_.isInstanceOf[WriteFilesExec]))
    assert(writes.nonEmpty, "no write plan seen")
    writes.foreach { plan =>
      val sorts = plan.collect { case s: SortExec => s }
      assert(sorts.size === 1, sorts)
      assert(sorts.head.sortOrder.map(_.child).collect { case a: Attribute => a.name } ===
        Seq("date", "ts"))
      assert(plan.exists {
        case e: ShuffleExchangeExec => e.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL
        case _ => false
      }, plan.head.treeString)
    }
  }

  test("warehouse bytes per raw byte stay under the committed ceiling") {
    val (raw, wh) = seeded
    val ratio = regularFiles(wh).map(Files.size).sum.toDouble / Files.size(raw)
    // this drop reads 0.1643 with this layout and 0.2564 with the
    // hash-ordered, salted snappy layout before it. Undoing one part of
    // the layout reads: snappy 0.2179, v1 pages 0.1738, dim_client
    // unsorted 0.1770, lake rows unsorted by ts 0.1751 — each one over
    // the ceiling
    assert(ratio < 0.17, f"warehouse/raw = $ratio%.4f")
  }
}
