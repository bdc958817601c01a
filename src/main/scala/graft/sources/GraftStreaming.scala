package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** `spark.readStream.format("graft").load(tableDir)` — the streaming
  * half of the graft source, so a structured-streaming consumer tails
  * a versioned table through the SAME public source API the batch half
  * serves (no switch to the Scala helpers).
  *
  * Built on the V1 streaming `Source` contract deliberately: its
  * `getBatch` returns a DataFrame, which lets each micro-batch BE the
  * existing manifest-diff readers — `readChanges` (appends mode) or
  * `readChangeFeed` (CDC mode) — with all their pruning, DV masking
  * and liveness rules intact. A DSv2 MicroBatchStream would force a
  * row-level PartitionReader reimplementation of the parquet scan,
  * exactly what the batch relation avoids (GraftDataSource.scala's V1
  * rationale, applied to streaming).
  *
  * OFFSETS ARE TABLE VERSIONS: the checkpointed offset is the last
  * processed commit, so recovery replays a deterministic version
  * range (`(from, to]` manifest diff) — the replayed micro-batch is
  * IDENTICAL to the lost one, which is what makes downstream
  * exactly-once sinks (txn-watermark keyed by batch id) safe. A
  * micro-batch may fuse several commits; inserts deleted within a
  * fused CDC range net out, same as [[Snapshots.changeFeedBatches]].
  *
  * Modes (option `changeFeed`, default false):
  *   - appends: rows of files added per version range — append-only
  *     tables (DV deletes are invisible, same contract as
  *     [[Snapshots.streamAppends]]); an overwrite in a consumed range
  *     surfaces the rewrite's files (restart consumers at rewrites).
  *   - changeFeed=true: `_change_type`-tagged insert/delete rows
  *     ([[Snapshots.readChangeFeed]]) — delete-aware; fails loudly on
  *     a rewrite inside a consumed range, the formats' shared
  *     "change feed unavailable across non-append commits" rule.
  *
  * The first micro-batch of a fresh checkpoint is the full snapshot
  * (from = -1) — the standard initial-load-then-tail shape.
  */
private[sources] class GraftStreamSource(
    sqlCtx: SQLContext, tableDir: String, cdc: Boolean,
    override val schema: StructType,
    maxVersionsPerTrigger: Option[Long] = None) extends Source {

  private def spark = sqlCtx.sparkSession

  /** Highest version known processed (updated from getBatch's start
    * and commit) — the floor `maxVersionsPerTrigger` caps against.
    * -1 until the engine reveals it; the first trigger of a FRESH
    * checkpoint is then uncapped (it is the initial full-snapshot
    * load anyway). On a RESTART the engine replays the restored
    * offsets into the source (commit of the last committed offset /
    * getBatch of the last uncommitted batch) before asking for a new
    * one, so the floor is seeded and a backlog that accumulated while
    * the query was down still arrives in capped slices — pinned by
    * the "caps the first trigger after a restart" spec.
    */
  @volatile private var processedFloor: Long = -1L

  /** Last LIVE version: an in-flight multi-table txn head is not yet
    * an offset (its decision may abort it); versions are CAS-serial,
    * so the offset resumes past it only once it is decided. With
    * `maxVersionsPerTrigger`, the offered offset fuses at most that
    * many commits per micro-batch (backfill of a long history arrives
    * in bounded slices instead of one giant batch).
    */
  override def getOffset: Option[Offset] =
    Snapshots.latestLiveVersion(spark, tableDir).map { v =>
      val capped = maxVersionsPerTrigger match {
        case Some(max) if processedFloor >= 0L =>
          math.min(v, processedFloor + max)
        case _ => v
      }
      LongOffset(capped)
    }

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  override def commit(end: Offset): Unit = {
    processedFloor = math.max(processedFloor, versionOf(end))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(-1L)
    val to = versionOf(end)
    processedFloor = math.max(processedFloor, to)
    // metadata-only ranges (ALTER TABLE ADD COLUMNS / ALTER COLUMN
    // TYPE, CHECK add/drop, a no-op restore) advance the version with
    // the file and dv sets unchanged; both modes emit an EMPTY
    // micro-batch for them — the offset was durably logged before
    // this call, so a throw here would replay the same range on every
    // restart and wedge the stream on a routine metadata operation
    // (same guard changeFeedBatches applies to the foreachBatch
    // consumers). A range that REMOVED files (truncate/restore/
    // rewrite) is NOT metadata-only: it reaches the feed computation
    // and fails loudly per the feed's rewrite contract.
    val batch: DataFrame =
      if (cdc) Snapshots.changeFeedSlice(spark, tableDir, from, to)
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema))
      else if (Snapshots.addedFiles(spark, tableDir, from, to).isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else Snapshots.readChanges(spark, tableDir, from, to)
    // project AND CAST onto the schema PINNED at stream definition:
    // additive evolution mid-stream adds columns the engine's plan
    // does not carry (they appear on restart, like the file sources),
    // and a mid-stream type WIDENING makes the manifest serve wider
    // values — cast back to the pinned type, so in-range values keep
    // flowing and an overflowing widened value fails loudly (ANSI)
    // with a restart as the remedy, instead of tripping the engine's
    // schema assertion on every row-carrying batch
    val aligned = batch.select(schema.fields.toIndexedSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
    // the engine requires the returned frame to BE streaming-tagged
    Bridge.streamingFrom(aligned)
  }

  override def stop(): Unit = ()
}

/** `df.writeStream.format("graft").option("checkpointLocation", ...)
  * .start(tableDir)` — the exactly-once streaming SINK through the
  * public API: every micro-batch is one [[Snapshots.exactlyOnceSink]]
  * append (txn-watermark replay protection keyed by the engine's
  * batch id, CAS retry on concurrent writers), with the same index
  * options the batch writer takes (`bucketBy`, `bloomColumns`,
  * `partitionBy` — a streaming sink keeps the table's layout warm as
  * it lands). Append output mode only: a snapshot table's "update"
  * is [[Snapshots.cdcSink]]'s MERGE territory, not a sink mode.
  *
  * The incoming micro-batch frame is re-anchored on its computed RDD
  * ([[Bridge.batchFrom]]) before committing — the engine hands the
  * sink an incremental plan that cannot re-enter a batch write as-is.
  */
private[sources] class GraftStreamSink(
    tableDir: String, appId: String,
    bucketBy: Option[(String, Int)], bloomColumns: Seq[String],
    partitionBy: Seq[String],
    sortBuckets: Boolean = false, sortAlso: Seq[String] = Nil)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = Bridge.batchFrom(data)
    Snapshots.exactlyOnceSink(tableDir, appId, bucketBy, bloomColumns,
      partitionBy, sortBuckets, sortAlso)(batch, batchId)
  }

  override def name(): String = s"graft-sink[$tableDir]"
  override def schema(): org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.Collections.emptySet()
}

private[sources] object GraftStreamSource {
  /** Option parsing shared by sourceSchema/createSource (keys are
    * matched lowercase; Spark hands V1 stream sources the raw map).
    */
  def parse(parameters: Map[String, String]): (String, Boolean) = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft stream source requires a path: .load(tableDir)"))
    val cdc = p.get("changefeed").exists(_.trim.equalsIgnoreCase("true"))
    (path, cdc)
  }

  /** The stream's schema: the table's manifest schema, plus
    * `_change_type` in CDC mode (matching [[Snapshots.readChangeFeed]]
    * output). Resolved from the latest live version at stream
    * definition; additive evolution mid-stream keeps old columns
    * readable (new ones appear on restart, like the file sources).
    */
  def schemaOf(spark: org.apache.spark.sql.SparkSession, path: String,
               cdc: Boolean): StructType = {
    val v = Snapshots.latestLiveVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no committed version to stream from"))
    val base = Snapshots.readManifest(spark, path, v).schema
    if (cdc) StructType(base.fields :+ StructField("_change_type", StringType))
    else base
  }
}
