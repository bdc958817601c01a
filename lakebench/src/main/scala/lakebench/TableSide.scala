package lakebench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Snapshots

/** The table side of `LiveWorkload`: the table format under a closed
  * loop of one client, writes beside reads:
  * appends, range deletes and updates, merge-on-read upserts, point and
  * range reads through `spark.read.format("graft")`, and a metadata
  * checkpoint every lap; small-file compaction and vacuum follow the timed
  * region. An in-memory model applies every
  * write too; each read is checked against it, and at the end so are the
  * table's row hash and `fastCount`.
  */
final class TableSide(spark: SparkSession, seedValue: Long) {
  val Rows = 40000
  val Batch = 300
  val Range = 200
  val ScanRange = 4000

  /** One lap of the mix, in a fixed order; the seed draws the keys. */
  private val cycle = Seq("append", "point", "delete", "range", "update",
    "point", "merge", "range")

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("grp", IntegerType),
    StructField("qty", IntegerType), StructField("cents", LongType),
    StructField("ship", DateType)))
  private val RowBytes = 8 + 4 + 4 + 8 + 4

  private var dir: String = _
  private var rnd: scala.util.Random = _
  private var nextKey = 0L
  private var liveBytes = 0L
  private var tableBytes = 0L
  private val model = mutable.LongMap.empty[(Int, Int, Long, Int)]
  private val wrote = ArrayBuffer.empty[(Long, Long)] // (files, bytes) per write

  private def row(k: Long, r: scala.util.Random): (Int, Int, Long, Int) =
    ((k % 97).toInt, 1 + r.nextInt(50), 100L + r.nextInt(1000000), 19000 + r.nextInt(730))

  private def frame(rows: Seq[(Long, (Int, Int, Long, Int))], op: Option[String] = None): DataFrame = {
    val rs = rows.map { case (k, (g, q, c, d)) =>
      val base = Seq[Any](k, g, q, c, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
      Row.fromSeq(base ++ op.toSeq)
    }
    val sch = op.fold(schema)(_ => schema.add(StructField("op", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), sch)
  }

  def seed(d: String): Unit = {
    new File(d).mkdirs()
    dir = s"$d/table"
    rnd = new scala.util.Random(seedValue)
    model.clear(); wrote.clear()
    val rows = (0L until Rows).map(k => k -> row(k, rnd))
    rows.foreach { case (k, v) => model(k) = v }
    nextKey = Rows
    Snapshots.commit(frame(rows).repartition(4), dir, "overwrite",
      statsColumns = Seq("k", "ship"))
    Snapshots.writeMetadataCheckpoint(spark, dir)
  }

  private def keysFrom(a: Long, n: Int): Seq[Long] = (a until a + n).filter(model.contains)

  private def timed(kind: String)(body: => Boolean): Op = {
    val before = if (Trace.enabled && isWrite(kind)) Fs.usage(dir) else (0L, 0L)
    val (t0, t1, ms, ok) = Op.time(scala.util.Try(Trace.op(s"table.$kind")(body))
      .recover { case e => System.err.println(s"[lakebench] $kind failed: $e"); false }.get)
    if (Trace.enabled && isWrite(kind)) {
      val after = Fs.usage(dir)
      wrote += ((after._1 - before._1, after._2 - before._2))
    }
    Op(kind, t0, t1, 1, ok, ms)
  }

  private def isWrite(kind: String) = Set("append", "delete", "update", "merge")(kind)

  private def read(): DataFrame = Trace.span("snapshots.resolve") {
    spark.read.format("graft").load(dir)
  }

  private def op(kind: String): Op = kind match {
    case "append" =>
      val rows = (nextKey until nextKey + Batch).map(k => k -> row(k, rnd))
      nextKey += Batch
      timed(kind) {
        Trace.span("commit.append")(Snapshots.commit(frame(rows), dir, "append",
          statsColumns = Seq("k", "ship")))
        rows.foreach { case (k, v) => model(k) = v }; true
      }
    case "delete" =>
      val a = rnd.nextInt(nextKey.toInt - Range).toLong
      timed(kind) {
        Trace.span("commit.delete")(Snapshots.deleteWhere(spark, dir,
          col("k") >= a && col("k") < a + Range))
        (a until a + Range).foreach(model.remove); true
      }
    case "update" =>
      val a = rnd.nextInt(nextKey.toInt - Range).toLong
      timed(kind) {
        Trace.span("commit.update")(Snapshots.updateWhere(spark, dir,
          col("k") >= a && col("k") < a + Range, Map("qty" -> (col("qty") + 1))))
        keysFrom(a, Range).foreach(k => model(k) = model(k).copy(_2 = model(k)._2 + 1)); true
      }
    case "merge" =>
      // upserts of existing keys and inserts of new ones, one change per key
      val a = rnd.nextInt(nextKey.toInt - Range).toLong
      val upd = keysFrom(a, Range).map(k => k -> row(k, rnd))
      val ins = (nextKey until nextKey + Batch / 3).map(k => k -> row(k, rnd))
      nextKey += Batch / 3
      timed(kind) {
        Trace.span("commit.merge")(Snapshots.mergeOnRead(spark, dir,
          frame(upd, Some("U")).union(frame(ins, Some("I"))), "k",
          statsColumns = Seq("k", "ship")))
        (upd ++ ins).foreach { case (k, v) => model(k) = v }; true
      }
    case "point" =>
      val k = rnd.nextInt(nextKey.toInt).toLong
      timed(kind)(pointMatches(k, model))
    case "range" =>
      val a = rnd.nextInt(nextKey.toInt - ScanRange).toLong
      timed(kind)(rangeMatches(a, model))
    case "checkpoint" =>
      timed(kind)(Trace.span("commit.checkpoint") {
        Snapshots.writeMetadataCheckpoint(spark, dir); true })
    case "compact" =>
      timed(kind)(Trace.span("commit.compact") {
        Snapshots.compactSmall(spark, dir, minBytes = 256L * 1024,
          statsColumns = Seq("k", "ship")); true })
  }

  /** Laps of `cycle`, each closed by a metadata checkpoint; it continues
    * across calls to `measure`. Compaction (seconds, against a lap of
    * about ten) runs once after the timed region, with the vacuum, so a
    * short run's throughput does not hinge on whether one fell inside.
    */
  private lazy val schedule: Iterator[String] =
    Iterator.continually(cycle :+ "checkpoint").flatten

  /** Every timed operation kind once. */
  def warm(): Unit = (cycle.distinct :+ "checkpoint").foreach(op)

  /** Whole laps, so every run carries the mix in the same shares. */
  def measure(deadlineNs: Long): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    while (ops.size % (cycle.size + 1) != 0 || System.nanoTime() < deadlineNs)
      ops += op(schedule.next())
    ops.toSeq
  }


  // ---- output checks -------------------------------------------------

  /** A point read of key `k` returns the row `m` holds for it, or none. */
  private def pointMatches(k: Long, m: collection.Map[Long, (Int, Int, Long, Int)]): Boolean = {
    val got = Trace.span("snapshots.lookup")(read().filter(col("k") === k).collect())
    got.map(r => (r.getInt(1), r.getInt(2), r.getLong(3),
      r.getDate(4).toLocalDate.toEpochDay.toInt)).toSeq == m.get(k).toSeq
  }

  /** A range aggregate over `ScanRange` keys from `a` equals `m`'s. */
  private def rangeMatches(a: Long, m: collection.Map[Long, (Int, Int, Long, Int)]): Boolean = {
    val r = Trace.span("snapshots.lookup")(read()
      .filter(col("k") >= a && col("k") < a + ScanRange)
      .agg(count(lit(1)), coalesce(sum("qty"), lit(0L)), coalesce(sum("cents"), lit(0L)))
      .collect().head)
    val in = (a until a + ScanRange).flatMap(m.get)
    (r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((in.size.toLong, in.map(_._2.toLong).sum, in.map(_._3).sum))
  }

  private var vacuumMs = 0.0
  private var compactMs = 0.0

  private def tableHash(df: DataFrame): (Long, Long) = {
    val rows = df.select("k", "grp", "qty", "cents", "ship").collect()
    (rows.length.toLong, rows.map(r => modelHash(r.getLong(0), (r.getInt(1), r.getInt(2),
      r.getLong(3), r.getDate(4).toLocalDate.toEpochDay.toInt))).sum)
  }

  private def modelHash(k: Long, v: (Int, Int, Long, Int)): Long =
    scala.util.hashing.MurmurHash3.productHash((k, v)).toLong * 0x9E3779B97F4A7C15L

  private def expectedHash(m: collection.Map[Long, (Int, Int, Long, Int)]): (Long, Long) =
    (m.size.toLong, m.iterator.map { case (k, v) => modelHash(k, v) }.sum)

  /** The table's order-free row hash equals `m`'s. */
  private def rowsMatch(df: DataFrame, m: collection.Map[Long, (Int, Int, Long, Int)]): Boolean =
    tableHash(df) == expectedHash(m)

  /** `fastCount` answers `scanned`. */
  private def fastCountMatches(scanned: Long): Boolean = Snapshots.fastCount(spark, dir) == scanned

  def check(): Seq[(String, Boolean)] = {
    compactMs = op("compact").ms
    val t0 = System.nanoTime()
    val latest = Snapshots.latestVersion(spark, dir).get
    Snapshots.vacuum(spark, dir, keepFromVersion = latest, orphanRetainMs = 0L)
    vacuumMs = (System.nanoTime() - t0) / 1e6
    val df = spark.read.format("graft").load(dir)
    liveBytes = Snapshots.readVersion(spark, dir).inputFiles
      .map(f => new File(new java.net.URI(f)).length).sum
    tableBytes = Fs.usage(dir)._2
    Seq(
      "table.row_hash" -> rowsMatch(df, model),
      "table.fast_count" -> fastCountMatches(df.count()))
  }

  /** Bytes under the table directory, and bytes of its live data files. */
  def storedBytes: Long = tableBytes
  def inputBytes: Long = math.max(1L, liveBytes)

  /** Operation kinds this workload reports. */
  val kinds: Set[String] = cycle.toSet ++ Set("checkpoint", "compact")

  def counts: Map[String, Long] = Map("table.versions" ->
    Snapshots.latestVersion(spark, dir).getOrElse(-1L))

  def layers(ops: Seq[Op], p: Probes): Map[String, Double] = {
    val spans = Trace.spans
    def ms(n: String) = Layers.spanMs(spans, n)
    val writes = ops.filter(o => isWrite(o.kind))
    val userBytes = writes.map {
      case o if o.kind == "append" => Batch * RowBytes
      case o if o.kind == "merge" => (Range + Batch / 3) * RowBytes
      case _ => Range * RowBytes
    }.sum
    Map(
      "snapshots.resolve_ms" -> ms("snapshots.resolve"),
      "snapshots.lookup_ms" -> ms("snapshots.lookup"),
      "commit.append_ms" -> ms("commit.append"),
      "commit.delete_ms" -> ms("commit.delete"),
      "commit.update_ms" -> ms("commit.update"),
      "commit.merge_ms" -> ms("commit.merge"),
      "commit.checkpoint_ms" -> ms("commit.checkpoint"),
      "commit.compact_ms" -> compactMs,
      "commit.vacuum_ms" -> vacuumMs,
      "commit.files_written" -> Stats.mean(wrote.map(_._1.toDouble).toSeq),
      "commit.bytes_per_user_byte" -> wrote.map(_._2).sum.toDouble / math.max(1, userBytes))
  }

  def selfTest(): Seq[(String, Boolean)] = {
    val df = spark.read.format("graft").load(dir)
    val k = model.keys.min
    val corrupted = model.clone()
    corrupted(k) = corrupted(k).copy(_2 = corrupted(k)._2 + 1)
    Seq(
      "table.row_hash" -> !rowsMatch(df, corrupted),
      "table.fast_count" -> !fastCountMatches(df.count() + 1),
      "table.point_read" -> !pointMatches(k, corrupted),
      "table.range_read" -> !rangeMatches(k, corrupted))
  }
}
