package lakebench

import java.io.File
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.logs.{LogLake, LogModels, LogParser, LogPipeline, LogQuality}

/** Batch ingest: every operation is one `LogPipeline.run` of a seeded
  * raw log drop into a fresh warehouse (parse, ingest asserts,
  * partitioned lake write, dims and hourly fact, quality gate). The drop
  * has `LinesPerDrop` lines, so that parsing, writing and the models,
  * not per-job constants, take most of a call.
  *
  * The traced part cannot see inside `LogPipeline.run`, so its traced
  * chunks make the same layer calls in the same order, each in a span;
  * its untraced chunks call `LogPipeline.run` as the timed runs do.
  *
  * Every output check runs after the timed region, on every warehouse
  * the run left: the fact against the generator's own counts, the lake's
  * row count against the lines the generator did not spoil, and the gate
  * once more.
  */
final class IngestWorkload(spark: SparkSession, seedValue: Long) extends Workload {
  val LinesPerDrop = 100000

  private var dir: String = _
  private var raw: String = _
  private var truth: LogTruth = _
  /** The warehouse of every pipeline run since the last seed. */
  private val runs = ArrayBuffer.empty[String]

  def seed(d: String): Unit = {
    new File(d).mkdirs()
    dir = d
    raw = s"$d/access.log"
    truth = LogGen.write(raw, seedValue, LinesPerDrop)
    runs.clear()
  }

  private def pipeline(): Op = {
    val wh = s"$dir/wh-${runs.size}"
    runs += wh
    val (t0, t1, ms, ok) = Op.time(scala.util.Try {
      if (Trace.enabled) tracedPipeline(wh)
      else LogPipeline.run(spark, raw, wh)
    }.fold(e => { System.err.println(s"[lakebench] pipeline failed: $e"); false }, _ => true))
    Op("pipeline", t0, t1, truth.lines, ok, ms)
  }

  /** `LogPipeline.run`'s layer calls in its order, each in a span. The
    * parse is counted inside its span so that its cost lands there and
    * not in the first action after it.
    */
  private def tracedPipeline(wh: String): Unit = Trace.op("ingest.pipeline") {
    val parsed = Trace.span("parser") {
      val p = LogParser.readLogs(spark, raw).persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    try {
      Trace.span("quality")(LogQuality.assertIngest(parsed))
      Trace.span("lake.write")(LogLake.writePartitioned(LogModels.stgLogs(parsed), s"$wh/lake"))
    } finally parsed.unpersist(false)
    Trace.span("models") {
      val stg = LogLake.readLake(spark, s"$wh/lake")
      def persist(name: String, df: DataFrame): Unit =
        df.write.mode(SaveMode.Overwrite).parquet(s"$wh/$name")
      persist("dim_client", LogModels.dimClient(stg))
      persist("dim_endpoint", LogModels.dimEndpoint(stg))
      persist("fct_requests_hourly", LogModels.fctRequestsHourly(stg))
    }
    val violations = Trace.span("quality")(gate(wh))
    require(violations.values.forall(_ == 0), s"quality checks failed: $violations")
  }

  private def gate(wh: String): Map[String, Long] =
    LogQuality.runAll(LogLake.readLake(spark, s"$wh/lake"),
      spark.read.parquet(s"$wh/fct_requests_hourly"))

  /** One pipeline run, so the timed part starts warm. */
  def warm(): Unit = pipeline()

  def measure(deadlineNs: Long): Seq[Op] = {
    val ops = ArrayBuffer(pipeline())
    while (System.nanoTime() < deadlineNs) ops += pipeline()
    ops.toSeq
  }

  /** Raw lines per second of pipeline time. */
  def throughput(ops: Seq[Op]): Double = ops.map(_.units).sum / (ops.map(_.ms).sum / 1000.0)

  /** The median pipeline run. */
  def latency(ops: Seq[Op]): Double = Stats.median(ops.map(_.ms))

  // ---- output checks -------------------------------------------------

  /** The fact's requests and errors per (date, hour, endpoint) equal `exp`. */
  private def factMatches(wh: String, exp: Map[(String, String, String), (Long, Long)]): Boolean = {
    val got = spark.read.parquet(s"$wh/fct_requests_hourly")
      .selectExpr("cast(date as string)", "hour", "endpoint", "requests", "errors")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    got == exp
  }

  /** The lake holds every line but the `dropped` ones. */
  private def droppedMatches(wh: String, dropped: Long): Boolean =
    LogLake.readLake(spark, s"$wh/lake").count() == truth.lines - dropped

  /** The gate finds exactly the violations in `exp`. */
  private def gateMatches(wh: String, exp: Map[String, Long]): Boolean = gate(wh) == exp

  private val noViolations =
    Map("stg_not_null" -> 0L, "fct_not_null" -> 0L, "status_range" -> 0L)

  /** Every warehouse of the run (the warm-up's too) is checked. */
  def check(): Seq[(String, Boolean)] = runs.toSeq.flatMap { wh =>
    val name = new File(wh).getName
    Seq(s"ingest.$name.fact_counts" -> factMatches(wh, truth.hourly),
      s"ingest.$name.dropped_lines" -> droppedMatches(wh, truth.badLines),
      s"ingest.$name.gate" -> gateMatches(wh, noViolations))
  }

  /** Warehouse bytes (lake, models, flow state) per raw byte, for the
    * last run.
    */
  def bytesPerInputByte: Double = Fs.usage(runs.last)._2.toDouble / truth.rawBytes

  override def counts: Map[String, Long] = Map(
    "ingest.lake_files" -> Fs.dataUsage(s"${runs.last}/lake")._1,
    "ingest.warehouse_files" -> Fs.usage(runs.last)._1,
    "ingest.bad_lines" -> truth.badLines)

  def layers(ops: Seq[Op], p: Probes): Map[String, Double] = {
    val self = Trace.selfNs(Trace.spans)
    val n = math.max(1, Trace.spans.count(_.name == "ingest.pipeline")).toDouble
    def perRun(name: String): Double = self.getOrElse(name, 0L) / 1e9 / n
    val parserS = perRun("parser")
    val (files, bytes) = Fs.dataUsage(s"${runs.last}/lake")
    Map(
      "parser.s" -> parserS,
      "parser.lines_per_s" -> (if (parserS > 0) LinesPerDrop / parserS else 0.0),
      "parser.drop_frac" -> truth.badLines.toDouble / truth.lines,
      "quality.s" -> perRun("quality"),
      "lake.write_s" -> perRun("lake.write"),
      "lake.files" -> files.toDouble,
      "lake.bytes" -> bytes.toDouble,
      "models.s" -> perRun("models"))
  }

  def selfTest(): Seq[(String, Boolean)] = {
    val wh = runs.last
    val (k, (r, e)) = truth.hourly.head
    Seq(
      "ingest.fact_counts" -> !factMatches(wh, truth.hourly.updated(k, (r + 1, e))),
      "ingest.fact_errors" -> !factMatches(wh, truth.hourly.updated(k, (r, e + 1))),
      "ingest.dropped_lines" -> !droppedMatches(wh, truth.badLines + 1),
      "ingest.gate" -> !gateMatches(wh, noViolations.updated("status_range", 1L)))
  }
}
