package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` — the snapshot layer as a first-class
  * Spark data source, so the versioned tables are reachable from the
  * DataFrame reader AND plain SQL (`CREATE TEMPORARY VIEW t USING
  * graft OPTIONS (path '...')`) without touching the Scala API — the
  * serving surface a SQL-only consumer of the lake needs (the
  * reference serves its warehouse to SQL-speaking clients the same
  * way, `serve/api.py:33-41`; here the "client protocol" is Spark
  * itself).
  *
  * Options: `path` (required), `versionAsOf` (long), `timestampAsOf`
  * (epoch millis, ISO-8601 instant, or `yyyy-MM-dd HH:mm:ss` UTC).
  * The version resolves ONCE at relation creation, so a query plans
  * and executes against one immutable snapshot — concurrent commits
  * never tear a running query (snapshot isolation end-to-end).
  *
  * Built on the stable V1 source API ([[PrunedFilteredScan]]) rather
  * than DSv2: V1 lets the scan BE a Spark parquet plan over the
  * manifest's (pruned) file list — vectorized reading, codegen, and
  * row-group pushdown all come from the parquet source underneath,
  * and the relation adds exactly what the manifest knows: schema in
  * O(1), deletion-vector masking, and file pruning from the pushed
  * filters (bucket ∧ min/max stats ∧ bloom via
  * [[Snapshots.readVersionFiltered]]). A bespoke DSv2
  * PartitionReader would re-implement parquet IO row-by-row and lose
  * the vectorized path. Scale shape: planning is O(manifest), the
  * scan is O(surviving files); a point lookup on a bucketed+bloomed
  * 100 TB table reads a handful of files.
  *
  * All filters are also declared unhandled, so Spark re-applies them
  * row-level above the scan AND they are pushed into the inner
  * parquet plan ([[GraftRelation.buildScan]]) — pruning can never
  * change results, only skip files.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister with StreamSourceProvider
    with StreamSinkProvider {
  override def shortName(): String = "graft"

  /** The exactly-once streaming sink half
    * (`df.writeStream.format("graft").start(tableDir)`) — see
    * [[GraftStreamSink]].
    */
  override def createSink(ctx: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sink supports Append output mode only, got $outputMode")
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft streaming sink requires a path: .start(tableDir)"))
    // the txn-watermark key must be QUERY-unique and checkpoint-stable:
    // a constant default would let a second query (or a restart on a
    // fresh checkpoint) silently no-op every batch at or below the
    // first query's watermark — replay protection becoming data loss.
    // The checkpoint location is exactly that identity (same
    // checkpoint = same query = same batchId sequence), so the default
    // derives from it; an explicit appId option still wins (e.g. to
    // resume a watermark across an intentional checkpoint reset).
    // MIGRATION: queries whose checkpoints predate the derived default
    // keyed their watermark under the old constant 'sink' — pass
    // option("appId", "sink") across the upgrade to keep that
    // watermark (a replayed batch under a fresh key would commit
    // twice, once).
    val appId = p.get("appid").getOrElse {
      val ckpt = p.get("checkpointlocation").orElse {
        // no per-query option: a session-level checkpoint root
        // resolves to <root>/<queryName> (the same path
        // StreamingQueryManager derives). Without a query name the
        // derived dir is a fresh UUID per start — no stable identity
        // exists, so the explicit-appId requirement stands.
        for {
          root <- Option(ctx.sparkSession.conf.get(
            "spark.sql.streaming.checkpointLocation", null))
          name <- p.get("queryname")
        } yield new org.apache.hadoop.fs.Path(root, name).toString
      }.getOrElse(throw new IllegalArgumentException(
        "graft streaming sink needs an explicit option(\"appId\", ...) " +
          "when no stable checkpointLocation is resolvable (per-query " +
          "option, or session checkpoint root + queryName): the " +
          "exactly-once watermark is keyed by it and must be unique " +
          "per query"))
      // hash the QUALIFIED checkpoint URI, not the raw option string:
      // the same checkpoint spelled differently across restarts
      // (relative vs absolute, scheme-less vs file:) must key the
      // SAME watermark, or a replayed batch would commit twice under
      // a fresh key. (A query migrating from an explicit appId keeps
      // passing it — the explicit option always wins.)
      val qualified = {
        val raw = new org.apache.hadoop.fs.Path(ckpt)
        raw.getFileSystem(ctx.sparkSession.sparkContext.hadoopConfiguration)
          .makeQualified(raw).toString
      }
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      "sink-" + digest.take(8).map(b => f"$b%02x").mkString
    }
    val bucket = p.get("bucketby").map { sp =>
      val parts = sp.split(":")
      require(parts.length == 2,
        s"bucketBy must be 'column:numBuckets', got '$sp'")
      (parts(0).trim, parts(1).trim.toInt)
    }
    val blooms = p.get("bloomcolumns")
      .map(GraftSource.parseColumnList).getOrElse(Nil)
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else p.get("partitionby").map(GraftSource.parseColumnList).getOrElse(Nil)
    // sorted-bucket layout options (VERDICT r15 task #6): a streaming
    // sink that declares them lands every micro-batch key-ordered
    // with per-file sorted markers, so the aligned skip-sort paths
    // serve the streamed table WITHOUT waiting for a
    // compactBucketed(sort) pass. Same contract as the batch writer:
    // sortBuckets requires bucketBy, sortAlso requires sortBuckets
    // (commit enforces both).
    val sortBuckets =
      p.get("sortbuckets").exists(_.trim.equalsIgnoreCase("true"))
    val sortAlso = p.get("sortalso")
      .map(GraftSource.parseColumnList).getOrElse(Nil)
    new GraftStreamSink(path, appId, bucket, blooms, partCols,
      sortBuckets, sortAlso)
  }

  /** The streaming half (`spark.readStream.format("graft")`) — see
    * [[GraftStreamSource]] for offsets, modes, and the V1-Source
    * rationale.
    */
  override def sourceSchema(ctx: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val (path, cdc) = GraftStreamSource.parse(parameters)
    ("graft", schema.getOrElse(
      GraftStreamSource.schemaOf(ctx.sparkSession, path, cdc)))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (path, cdc) = GraftStreamSource.parse(parameters)
    val maxV = parameters.map { case (k, v) => k.toLowerCase -> v }
      .get("maxversionspertrigger").map(_.trim.toLong)
    maxV.foreach(m => require(m >= 1, s"maxVersionsPerTrigger must be >= 1: $m"))
    new GraftStreamSource(ctx, path, cdc,
      schema.getOrElse(GraftStreamSource.schemaOf(ctx.sparkSession, path, cdc)),
      maxV)
  }

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path: .load(tableDir) or OPTIONS (path '...')"))
    val spark = ctx.sparkSession
    // "latest" means last LIVE version — an uncommitted/aborted
    // multi-table txn's pending head must never serve as the table;
    // an EXPLICIT versionAsOf of a dead version is refused by the
    // relation's liveManifest read
    val version = p.get("versionasof").map(_.trim.toLong)
      .orElse(p.get("timestampasof").map(ts =>
        Snapshots.versionAsOf(spark, path, GraftSource.parseMillis(ts))))
      .getOrElse(Snapshots.latestLiveVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"$path has no committed version")))
    GraftRelation(ctx, path, version)
  }

  /** The write half: `df.write.format("graft").mode(...).save(dir)` is
    * one atomic snapshot commit. Append/Overwrite map to the commit
    * modes (CHECK constraints, schema-evolution rules, and txn
    * carry-forward all apply — this IS [[Snapshots.commit]]);
    * ErrorIfExists refuses a non-empty table; Ignore no-ops on one.
    * Index options ride the write: `statsColumns` (csv),
    * `bucketBy` (`col:n`), `bloomColumns` (csv) — the same layout
    * controls the Scala API exposes, so a pure DataFrame-API user can
    * build fully indexed tables.
    */
  override def createRelation(ctx: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path: .save(tableDir) or option(\"path\", ...)"))
    // liveness, not raw head: a table whose only version is a
    // dead/aborted txn manifest must count as non-existent here,
    // matching the read path's latestLiveVersion resolution
    val exists = Snapshots.latestLiveVersion(ctx.sparkSession, path).nonEmpty
    val commitMode = mode match {
      case SaveMode.Append        => Some("append")
      case SaveMode.Overwrite     => Some("overwrite")
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"$path already has versions (SaveMode.ErrorIfExists)")
        else Some("overwrite")
      case SaveMode.Ignore        => if (exists) None else Some("overwrite")
    }
    val stats = p.get("statscolumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val blooms = p.get("bloomcolumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val bucket = p.get("bucketby").map { s =>
      val parts = s.split(":")
      require(parts.length == 2,
        s"bucketBy must be 'column:numBuckets', got '$s'")
      (parts(0).trim, parts(1).trim.toInt)
    }
    // Hive-style partition layout: both the writer's own .partitionBy()
    // (Spark passes it through as __partition_columns) and an explicit
    // option("partitionBy", "c1,c2") reach the commit's layout control
    val partCols = p.get("partitionby").orElse(p.get("__partition_columns"))
      .map(GraftSource.parseColumnList).getOrElse(Nil)
    commitMode.foreach(m => Snapshots.commit(data, path, m,
      statsColumns = stats, bucketBy = bucket, bloomColumns = blooms,
      partitionBy = partCols))
    // read-back relation pins the table's NEW latest — time-travel
    // options (already-lowercased keys) must not leak into it
    createRelation(ctx, p - "versionasof" - "timestampasof")
  }
}

object GraftSource {
  /** Demo + oracle entry (`u28_sql_datasource`): the full SQL serving
    * loop — a versioned table (initial load, late append, DV delete of
    * the 'F' rows) queried through `CREATE TEMPORARY VIEW ... USING
    * graft` at latest (mask applied) and through
    * `read.format("graft").option("versionAsOf", 0)` at the initial
    * snapshot — both must serve exactly what a direct relational
    * replay of that history shows. The reader never touches the Scala
    * snapshot API.
    */
  def u28SqlDatasource(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-ds-demo")
    val orders = graft.Tables.orders(s, d)
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    Snapshots.commit(late, tableDir, "append",
      statsColumns = Seq("o_orderkey"))
    Snapshots.deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_orders " +
      s"USING graft OPTIONS (path '$tableDir')")
    val latest = s.sql(
      """SELECT 'latest' AS scope, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_orders GROUP BY o_orderstatus""".stripMargin)
    val v0 = s.read.format("graft").option("versionAsOf", "0").load(tableDir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select(lit("v0").as("scope"), col("o_orderstatus"),
        col("n_orders"), col("total"))
    latest.unionByName(v0).orderBy("scope", "o_orderstatus")
  }

  /** Demo + oracle entry (`u29_metadata_count`): COUNT(*) served from
    * the manifest ledger by the [[graft.plans.MetadataOnlyCount]]
    * optimizer rule — `SELECT COUNT(*)` through the SQL view and
    * `df.count()` through a versionAsOf reader both answer with zero
    * file reads (the spec pins the LocalRelation plan shape), across
    * an append and a DV delete; a filtered COUNT takes the scan path
    * and must agree with the same relational replay. The oracle
    * recomputes all three from the raw table.
    */
  def u29MetadataCount(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-meta-count")
    val orders = graft.Tables.orders(s, d)
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    Snapshots.commit(late, tableDir, "append")
    Snapshots.deleteWhere(s, tableDir, col("o_orderkey") % 11 === 0)
    s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_mc " +
      s"USING graft OPTIONS (path '$tableDir')")
    val sqlCounts = s.sql(
      """SELECT 'filtered' AS scope, COUNT(*) AS n FROM graft_mc
        |WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT 'total', COUNT(*) FROM graft_mc""".stripMargin)
    val v0n = s.read.format("graft").option("versionAsOf", "0")
      .load(tableDir).count() // Dataset.count(): same ledger answer
    import s.implicits._
    sqlCounts.unionByName(
        Seq(("total_v0", v0n)).toDF("scope", "n"))
      .orderBy("scope")
  }

  /** Demo + oracle entry (`u30_sql_insert`): the pure-SQL write loop —
    * the table seeded through `df.write.format("graft")`, then grown
    * by `INSERT INTO <view> SELECT ... FROM <view>` (the insert reads
    * the view's own pinned snapshot — snapshot isolation makes
    * self-insert well-defined), and served back through a fresh view.
    * No Scala snapshot API anywhere in the loop. The oracle replays
    * the insert relationally.
    */
  def u30SqlInsert(s: org.apache.spark.sql.SparkSession,
                   d: String): org.apache.spark.sql.DataFrame = {
    val tableDir = graft.TempDirs.create("graft-sql-insert")
    graft.Tables.orders(s, d).write.format("graft")
      .option("statsColumns", "o_orderkey").save(tableDir)
    s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ins " +
      s"USING graft OPTIONS (path '$tableDir')")
    s.sql(
      """INSERT INTO graft_ins
        |SELECT o_orderkey + 4000000000, o_custkey, o_orderstatus,
        |  o_totalprice + 5, o_orderdate, o_orderpriority
        |FROM graft_ins WHERE o_orderkey % 10 = 3""".stripMargin)
    // a fresh view resolves the post-insert latest
    s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ins2 " +
      s"USING graft OPTIONS (path '$tableDir')")
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_ins2 GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  /** Column list from either a plain csv option value or the JSON
    * array Spark's writer encodes `partitionBy` as when
    * `spark.sql.legacy.sources.write.passPartitionByAsOptions` is on
    * (`["c1","c2"]`). Names with commas/quotes are not supported —
    * the commit-side column-existence check catches any mis-parse.
    */
  private[sources] def parseColumnList(s: String): Seq[String] =
    s.replace("[", "").replace("]", "").replace("\"", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** `timestampAsOf` accepted as epoch millis, ISO-8601 instant, or
    * `yyyy-MM-dd HH:mm:ss[.f]` interpreted as UTC (the engine's
    * pinned session zone).
    */
  private[sources] def parseMillis(ts: String): Long = {
    val t = ts.trim
    if (t.matches("-?\\d+")) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDate.parse(t).atStartOfDay()
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }
    }
  }
}

/** One immutable snapshot of one table, served through the V1 scan
  * contract. `needConversion = false`: the scan returns the inner
  * parquet plan's InternalRows directly (the JDBC-relation pattern),
  * no external-row round trip.
  */
final case class GraftRelation(ctx: SQLContext, tableDir: String,
                               version: Long)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def spark = ctx.sparkSession

  @transient private lazy val manifest =
    Snapshots.liveManifest(spark, tableDir, version)

  override def sqlContext: SQLContext = ctx

  override val needConversion: Boolean = false

  /** Exact plan-time size from the manifest's per-file byte ledger
    * (zero filesystem calls): what lets Catalyst auto-broadcast a
    * small graft dimension against a huge fact instead of shuffling
    * both sides — without it a V1 relation reports the session
    * default (effectively infinite) and NO graft-graft join could
    * ever plan a broadcast. Mirrors parquet file relations:
    * compressed on-disk bytes × `spark.sql.sources.fileCompressionFactor`,
    * so the same `autoBroadcastJoinThreshold` calculus applies.
    */
  override def sizeInBytes: Long = {
    val m = manifest
    val factor = spark.conf
      .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
    math.max((m.files.iterator.map(m.fileBytes).sum * factor).toLong, 1L)
  }

  /** The pinned manifest, for metadata-only planning rules
    * ([[graft.plans.MetadataOnlyCount]]'s grouped/filtered rewrites
    * read per-file rows and partition stats from it).
    */
  private[graft] def manifestSnapshot: Snapshots.Manifest = manifest

  /** The snapshot's visible row count from the manifest ledger
    * (dataRows − dvRows) — what the [[graft.plans.MetadataOnlyCount]]
    * optimizer rule serves `SELECT COUNT(*)` from with zero file reads.
    */
  private[graft] def ledgerCount: Long = manifest.dataRows - manifest.dvRows

  /** Table-level NDV per column from the manifest's per-file HLL
    * sketches — only columns EVERY live file carries a sketch for (a
    * partial union silently under-counts). What
    * [[graft.plans.RelationLedgerStats]] feeds CBO join reordering as
    * per-column distinctCount. Served from the metadata checkpoint's
    * pre-reduced per-segment unions when one covers this version
    * ([[Snapshots.mergedNdvCheckpointed]] — O(segments + tail files)
    * driver work, the 10⁷-file path), falling back to the per-file
    * driver merge ([[Snapshots.mergedNdv]]) otherwise; HLL unions are
    * associative/idempotent, so the two paths estimate identically.
    */
  private[graft] lazy val columnNdvs: Map[String, Long] =
    Snapshots.mergedNdvCheckpointed(spark, tableDir, version).getOrElse {
      val m = manifest
      m.ndvs.keysIterator.map(_._2).toSet.iterator
        .flatMap((c: String) => Snapshots.mergedNdv(m, c).map(c -> _))
        .toMap
    }

  /** Equi-height histograms per column from the per-file KLL sketches
    * — only columns EVERY live file carries a sketch for. The
    * selectivity feed for skewed range predicates
    * (`spark.sql.statistics.histogram.numBins` bins, the ANALYZE
    * shape), served from metadata with no scan. Served from the
    * metadata checkpoint's pre-reduced per-segment KLL unions when one
    * covers this version ([[Snapshots.mergedHistogramCheckpointed]] —
    * O(segments + tail files) driver work, the 10⁷-file path), falling
    * back to the per-file driver fold ([[Snapshots.mergedHistogram]])
    * otherwise. No fallback on a served-but-empty map: the sidecar's
    * poisoning verdict is the manifest path's (a clean segment's files
    * can't have gained sketches without dirtying it), so empty means
    * empty on both paths.
    */
  private[graft] lazy val columnHistograms
      : Map[String, org.apache.spark.sql.catalyst.plans.logical.Histogram] = {
    val numBins = spark.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt
    // thread the already-resolved NDV map in: the histogram twin then
    // skips its second checkpoint fold walk (columnNdvs is the same
    // served-or-fallback map mergedHistogram's own NDV lookup yields)
    Snapshots.mergedHistogramCheckpointed(spark, tableDir, version, numBins,
        Some(columnNdvs))
      .getOrElse {
        val m = manifest
        m.klls.keysIterator.map(_._2).toSet.iterator
          .flatMap((c: String) =>
            Snapshots.mergedHistogram(m, c, numBins).map(c -> _))
          .toMap
      }
  }

  /** Table-level (min, max, nullCount) per column — the companions
    * CBO's estimators expect next to a histogram. Served from the
    * metadata checkpoint's per-(segment, column) range folds when one
    * covers this version ([[Snapshots.mergedRangesCheckpointed]] —
    * O(segments + tail files) driver work), falling back to the
    * per-file fold over the assembled manifest
    * ([[Snapshots.mergedRanges]]); eligibility, kind rules and
    * poisoning are shared between the paths (same helpers), so the
    * two serve identical ranges.
    */
  private[graft] lazy val columnRanges
      : Map[String, (String, String, Option[Long])] =
    Snapshots.mergedRangesCheckpointed(spark, tableDir, version)
      .getOrElse(Snapshots.mergedRanges(manifest, schema))

  /** The manifest's recorded schema: planning never reads a footer. */
  override lazy val schema: StructType = manifest.schema

  /** Everything is unhandled: pruning only skips files, Spark keeps
    * the exact row-level semantics (and the same filters also reach
    * the inner parquet scan as PushedFilters, see [[buildScan]]).
    */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  /** `INSERT INTO t SELECT ...` / `INSERT OVERWRITE t ...` against a
    * `USING graft` view: one atomic snapshot commit (CHECKs, schema
    * evolution, txn carry all apply). The SQL write half of the
    * serving surface — with [[buildScan]] a SQL-only user has the full
    * read/write loop. Readers pinned to this relation's `version`
    * keep serving it (snapshot isolation); re-create the view (or a
    * new reader) to see the insert.
    */
  override def insert(data: org.apache.spark.sql.DataFrame,
                      overwrite: Boolean): Unit = {
    Snapshots.commit(data, tableDir, if (overwrite) "overwrite" else "append")
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val base = Snapshots.readVersionFiltered(
      spark, tableDir, manifest, filters.toIndexedSeq)
    // push the row-level filters into the inner plan too: they reach
    // the parquet scan (PushedFilters / row-group pruning) instead of
    // only running above the relation
    val cond = filters.flatMap(GraftRelation.toColumn).reduceOption(_ && _)
    val filtered = cond.fold(base)(base.where)
    val projected =
      filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {
  /** V1 filter → Column, for pushing into the inner parquet plan.
    * Unconvertible filters are simply not pushed (Spark re-applies
    * everything above the relation anyway).
    */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c)                   => toColumn(c).map(!_)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case _                        => None
  }
}
