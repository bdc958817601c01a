package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.collection.mutable.ArrayBuffer

/** Manifest-versioned Parquet — snapshot isolation and time travel
  * over a plain Parquet directory, without a table-format dependency.
  * This is the table-format layer's core contract re-expressed with
  * two primitives every Hadoop-compatible filesystem has: immutable
  * data files and an atomic create-if-absent (rename) for the commit
  * point.
  *
  * Layout under `tableDir`:
  * {{{
  *   data/v<N>-<uuid>/part-*.parquet   immutable per-commit data files
  *   _manifests/v<N>.manifest          the commit point: file list of version N
  * }}}
  *
  * A reader at version N opens `v<N>.manifest` and reads EXACTLY the
  * files it lists — concurrent commits never disturb it (new commits
  * only add new data dirs and a new manifest; nothing is mutated or
  * deleted), which is snapshot isolation. The manifest is created by
  * writing to a temp name and `rename`ing to `v<N>.manifest`: on
  * HDFS/local/object-store committers the rename FAILS if the target
  * exists, so two writers racing to commit version N resolve to one
  * winner and one `ConcurrentModificationException` — optimistic
  * concurrency, the same protocol the format engines use on their log.
  *
  * Scale shape: a commit's driver-side cost is one directory listing
  * of the files it just wrote plus one small manifest write —
  * O(files in the commit), independent of table size; `append` carries
  * the previous manifest's (relative) file paths forward by reference,
  * no data is rewritten. Reads hand Spark an explicit file list, so
  * partition pruning and row-group pushdown work unchanged.
  */
object Snapshots {

  /** The one table format version this engine reads and writes; a
    * manifest with any other header is refused ([[parseManifest]]).
    */
  private val Header = "graft-manifest-v2"

  /** Per-file column statistics (merged over the file's row groups),
    * read from the parquet FOOTER at commit time — no data scan. The
    * `kind` is inferred from the footer's typed min/max ("long" covers
    * int32/int64 physical types, so dates ride as epoch days and
    * timestamps as epoch micros; "double" covers float/double;
    * "string" is UTF-8 binary). Files whose footer carries no usable
    * statistics simply have no entry — readers treat them as
    * un-prunable, never as empty.
    */
  final case class FileStat(kind: String, min: String, max: String) {
    // a bound the stat's kind cannot coerce (a string literal against
    // a timestamp-stat column, a malformed value) must KEEP the file,
    // never throw: pruning is a scan reducer — unknown ≠ empty. The
    // Option wrappers below encode that: None ⇒ unprunable.
    def overlaps(lo: Any, hi: Any): Boolean = kind match {
      case "long"   => asLongOpt(hi).forall(min.toLong <= _) &&
        asLongOpt(lo).forall(max.toLong >= _)
      case "double" => asDoubleOpt(hi).forall(min.toDouble <= _) &&
        asDoubleOpt(lo).forall(max.toDouble >= _)
      case _ =>
        // string stats compare in Java UTF-16 code-unit order, but
        // Spark compares strings as UTF-8 bytes — the orders agree
        // only inside ASCII; anything beyond is kept (unprunable),
        // never compared: pruning is a scan reducer, not a row filter
        !FileStat.asciiOnly(min, max, lo.toString, hi.toString) ||
          (min <= hi.toString && max >= lo.toString)
    }
    /** One-sided bounds for `col >= v` / `col <= v` pruning (the one
      * pruning verdict's one-sided `Range` conjuncts). Conservative: a
      * file whose max equals a strict bound is kept — pruning is a scan
      * reducer, never a row filter.
      */
    def mayGe(v: Any): Boolean = kind match {
      case "long"   => asLongOpt(v).forall(max.toLong >= _)
      case "double" => asDoubleOpt(v).forall(max.toDouble >= _)
      case _ => !FileStat.asciiOnly(max, v.toString) || max >= v.toString
    }
    def mayLe(v: Any): Boolean = kind match {
      case "long"   => asLongOpt(v).forall(min.toLong <= _)
      case "double" => asDoubleOpt(v).forall(min.toDouble <= _)
      case _ => !FileStat.asciiOnly(min, v.toString) || min <= v.toString
    }
    private def asLongOpt(a: Any): Option[Long] =
      try Some(asLong(a))
      catch { case scala.util.control.NonFatal(_) => None }
    private def asDoubleOpt(a: Any): Option[Double] =
      try Some(asDouble(a))
      catch { case scala.util.control.NonFatal(_) => None }
    private def asLong(a: Any): Long = a match {
      case n: Number => n.longValue()
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      // TimestampType parquet stats are epoch MICROS (TIMESTAMP_MICROS).
      // getTime is floor-millis; the nanos field carries the full
      // fraction — getTime*1000 would truncate to millis and shift a
      // .999999 bound by up to 999us, wrongly pruning boundary files
      case t: java.sql.Timestamp =>
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case other => other.toString.toLong
    }
    private def asDouble(a: Any): Double = a match {
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble
    }
  }

  /** `txns` is the per-producer ingest watermark (appId → highest
    * committed batch id), the Delta-log `txn` action re-expressed: it
    * rides in the manifest and is carried forward by EVERY commit
    * (appends and overwrites alike — compaction and MERGE rewrites
    * must not amnesia a sink's progress), so replay detection survives
    * arbitrary interleaved table maintenance.
    */
  /** `dataRows`/`dvRows` are the version's row accounting, recorded at
    * commit time from parquet FOOTERS (no data scan): total rows in the
    * version's data files (pre-mask) and total masked keys in its
    * deletion vectors; every manifest records both. They exist so `history()` can surface `mask_ratio` and the read path
    * can raise the purge signal ACTIVELY — without them the only
    * operational signal that a mask outgrew merge-on-read was a
    * shuffle quietly appearing in read plans.
    */
  /** `bucketSpec`/`buckets` are the HASH-CLUSTERED layout (the table
    * formats' bucketing): `bucketSpec = (key, n)` declares the table
    * clustered by `pmod(xxhash64(key), n)` and `buckets` maps each
    * data file to the single bucket id it holds. Min/max footer stats
    * cannot prune a hash-distributed key (every file spans the full
    * range) — bucket pruning is what makes point lookups and CDC
    * merges on such keys O(wanted buckets) instead of O(table). Files
    * WITHOUT a bucket entry (plain appends, merge payloads) are
    * always scanned — the mapping is a scan reducer, never a filter;
    * [[compactBucketed]] re-clusters them in.
    */
  /** Per-file BLOOM index over a column (the formats' bloom filter
    * index): `words` is the bit set (mBits bits as mBits/64 longs),
    * bit positions from `pmod(xxhash64(j, key), mBits)` for j in
    * [0, k) — the same salted double-hash
    * [[graft.operators.BloomPrune]] uses, so build (Spark agg) and
    * probe (driver literal eval through one tiny Spark job) always
    * agree. The third pruning primitive: min/max stats prune RANGES,
    * buckets prune hash-CLUSTERED keys, blooms prune point lookups on
    * any high-cardinality column the table is NOT clustered by.
    * False positives only ever admit extra files to the exact row
    * filter — a scan reducer, never a semantic change.
    */
  object FileStat {
    /** UTF-16 and UTF-8 orderings agree exactly on ASCII. */
    private[Snapshots] def asciiOnly(ss: String*): Boolean =
      ss.forall(_.forall(_ < 0x80))
  }

  final case class Bloom(mBits: Int, k: Int, words: Array[Long])

  /** `segments` is the SHARDED per-file-metadata layout (the Iceberg
    * manifest-list shape): each entry is the table-relative path of an
    * IMMUTABLE segment file under `_manifests/segments/` holding
    * file/stat/bucket/frow/bloom entries for the files one commit
    * added. The manifest file itself then carries only table-level
    * state (schema, txns, checks, layout, dvs) plus the segment list
    * and per-segment tombstones — so a commit WRITES O(batch) metadata
    * (one new segment + a small manifest) instead of rewriting the
    * full O(table) file list with its ~KB/file bloom payloads, and a
    * cold read parses each immutable segment once (process-wide
    * cache). The in-memory `Manifest` stays the assembled whole-table
    * view: `files`/`stats`/`blooms`/... are always fully populated;
    * `segments` records where the per-file rows CAME from (the
    * [[ManifestShell]] of the same parse adds their live counts and
    * tombstones for the next publish).
    */
  /** `colMap`/`retiredCols` are COLUMN MAPPING (the table formats'
    * rename/drop-without-rewrite): `colMap` maps a column's LOGICAL
    * (schema) name to its PHYSICAL (on-file) name — identity entries
    * omitted — and `retiredCols` lists physical names whose column was
    * dropped (their bytes still sit in old files and must never serve
    * a later column that reuses the name). The whole in-memory
    * manifest speaks LOGICAL names (schema, stats, blooms, partition
    * and bucket specs); physical names appear only on the parquet
    * files themselves and inside stored segments — the read/write
    * boundaries translate. A RENAME is thereby one O(1) metadata
    * commit: segments store physical stat keys, so no per-file
    * metadata moves.
    */
  /** `sortedFiles` is the SORTED-BUCKET layout (the formats' sort
    * order / `SORTED BY`): file → the comma-joined LOGICAL column
    * list its rows are lexicographically sorted by (each ascending,
    * NULLS FIRST — [[sortWithinPartitions]]'s own order), recorded
    * ONLY by writers that actually sorted (`sortBuckets` commits,
    * sorted compactions; `sortAlso` appends secondary columns after
    * the bucket key — the Iceberg multi-column sort-order shape).
    * Safe by construction: a file absent from the map is merely
    * unsorted (the aligned operators fall back to their in-task
    * spillable sort), so no carry rule can ever claim an unsorted
    * file sorted — new files simply aren't in the map until a
    * sorting writer puts them there. A marker is PREFIX-true: rows
    * sorted by (k, ts) are sorted by (k), so a read needing a
    * shorter prefix still skips its sort; conversely a dropped
    * suffix column truncates the marker at that component (the
    * prefix order survives the drop) rather than killing it.
    * Entries of removed files die with their segment rows (per-file
    * metadata persists only through live segment entries). What it
    * buys at 100 TB: the aligned join/agg/latest family streams
    * sorted buckets directly — zero Exchange AND zero in-task Sort
    * ([[alignedSortFree]]) — and the secondary columns let the
    * order-sensitive operators (as-of join, running windows) stream
    * with O(1) memory instead of buffering a key group.
    */
  final case class Manifest(version: Long, files: Seq[String],
                            schema: org.apache.spark.sql.types.StructType,
                            stats: Map[(String, String), FileStat] = Map.empty,
                            txns: Map[String, Long] = Map.empty,
                            dvs: Seq[String] = Seq.empty,
                            checks: Map[String, String] = Map.empty,
                            dataRows: Long = 0L,
                            dvRows: Long = 0L,
                            bucketSpec: Option[(String, Int)] = None,
                            buckets: Map[String, Int] = Map.empty,
                            pendingMarker: Option[String] = None,
                            blooms: Map[(String, String), Bloom] = Map.empty,
                            partitionCols: Seq[String] = Nil,
                            fileRows: Map[String, Long] = Map.empty,
                            fileBytes: Map[String, Long] = Map.empty,
                            segments: Seq[String] = Nil,
                            colMap: Map[String, String] = Map.empty,
                            retiredCols: Seq[String] = Nil,
                            nullCounts: Map[(String, String), Long] = Map.empty,
                            ndvs: Map[(String, String), Array[Byte]] = Map.empty,
                            klls: Map[(String, String), Array[Byte]] = Map.empty,
                            sortedFiles: Map[String, String] = Map.empty) {
    /** logical → physical (identity when unmapped). */
    def physOf(c: String): String = colMap.getOrElse(c, c)
    /** physical → logical (identity when unmapped). */
    lazy val logicalOf: Map[String, String] = colMap.map(_.swap)
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Internal partition column carrying the bucket id during a
    * bucketed write; stripped from the files by `partitionBy` and
    * never part of the table schema.
    */
  private val BucketCol = "__graft_bucket"

  /** Flatten the `__graft_bucket=<b>` dirs a bucketed write produced
    * into plain files in their parent dir (bucket id in the file NAME
    * — the same task writes the same part-stem into every bucket dir
    * it holds, so the prefix also disambiguates) and return the
    * file→bucket mapping. Recursive: on a partitionBy × bucketBy
    * commit the bucket dirs are the INNERMOST level under the `k=v/`
    * partition dirs, so the mapping's rel paths carry the partition
    * segments too. Driver-side metadata ops, O(partitions × buckets).
    */
  private def flattenBucketDirs(f: FileSystem, dataDir: Path,
                                dataRel: String): Map[String, Int] = {
    val out = scala.collection.mutable.Map.empty[String, Int]
    def walk(dir: Path, rel: String): Unit =
      f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name.startsWith(s"$BucketCol=")) {
            val b = name.stripPrefix(s"$BucketCol=").toInt
            f.listStatus(st.getPath).iterator
              .filter(_.getPath.getName.endsWith(".parquet"))
              .foreach { fileSt =>
                val flat = f"b$b%05d-${fileSt.getPath.getName}"
                if (!f.rename(fileSt.getPath, new Path(dir, flat)))
                  throw new java.io.IOException(
                    s"could not flatten bucket file ${fileSt.getPath} -> $flat")
                out(s"$rel/$flat") = b
              }
            f.delete(st.getPath, true) // now-empty bucket dir
          } else walk(st.getPath, s"$rel/$name")
        }
      }
    walk(dataDir, dataRel)
    out.toMap
  }

  /** Default bloom geometry: 8192 bits (1 KB/file/column in the
    * manifest) × 3 hashes ≈ 1% false positives at ~1000 distinct
    * keys/file, ~10% at 10k — and a false positive only admits one
    * extra file to the exact row filter.
    */
  private val BloomMBits = 8192
  private val BloomK = 3

  /** Build the per-file blooms for a commit's files: ONE aggregation
    * job per indexed column over ONLY the files just written (the same
    * O(commit) cost the write itself paid), grouped by source file via
    * `_metadata.file_path`. Bit positions are
    * `pmod(xxhash64(j, key), mBits)` — [[graft.operators.BloomPrune]]'s
    * salted double-hash, evaluated by Spark on BOTH build and probe so
    * they can never drift. Collect is bounded: ≤ files × mBits/64 rows.
    */
  private def buildBlooms(spark: SparkSession, tableDir: String,
                          rels: Seq[String], columns: Seq[String],
                          tableSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Map[(String, String), Bloom] = {
    import org.apache.spark.sql.functions._
    if (columns.isEmpty || rels.isEmpty) return Map.empty
    // keyed by scheme-stripped ABSOLUTE path, never by basename: a
    // dynamic-partition write reuses one task's part-file name across
    // every k=v/ dir it lands in, so names repeat within one commit.
    // makeQualified resolves a relative tableDir so the key matches
    // _metadata.file_path, which is always fully qualified
    val fq = fs(spark, tableDir)
    val byPath = rels
      .map(rel => fq.makeQualified(new Path(tableDir, rel)).toUri.getPath -> rel)
      .toMap
    require(byPath.size == rels.size,
      "bloom build requires distinct file paths within the commit")
    val abs = rels.map(rel => new Path(tableDir, rel).toString)
    // read at the TABLE's recorded types (not the files' native ones):
    // xxhash64 is type-sensitive, and the probe side casts its
    // literals to the table type — a narrow batch landing in a
    // widened column must hash identically on both sides
    val df = tableSchema.fold(spark.read)(s => spark.read.schema(
      org.apache.spark.sql.types.StructType(
        s.fields.filter(f => columns.contains(f.name))))).parquet(abs: _*)
    columns.flatMap { c =>
      val bitIdx = explode(array((0 until BloomK).map(j =>
        pmod(xxhash64(lit(j), col(c)), lit(BloomMBits.toLong))): _*)).as("bit_idx")
      df.select(col("_metadata.file_path").as("__fp"), col(c))
        .select(col("__fp"), bitIdx)
        .select(col("__fp"), (col("bit_idx") / 64).cast("int").as("word_idx"),
          call_function("shiftleft", lit(1L),
            (col("bit_idx") % 64).cast("int")).as("bit"))
        .groupBy("__fp", "word_idx")
        .agg(expr("bit_or(bit)").as("word"))
        .collect() // ≤ files × mBits/64 rows
        .groupBy(r => new Path(r.getString(0)).toUri.getPath)
        .map { case (p, rows) =>
          val words = new Array[Long](BloomMBits / 64)
          rows.foreach(r => words(r.getInt(1)) = r.getLong(2))
          (byPath(p), c) -> Bloom(BloomMBits, BloomK, words)
        }
    }.toMap
  }

  /** Per-file HLL NDV sketches (Apache DataSketches binary, Spark's
    * own `hll_sketch_agg`) for `columns` of the just-written `rels` —
    * one job, one pass, same cost shape as [[buildBlooms]]. The
    * sketches are MERGEABLE: table-level NDV is the union of the
    * per-file sketches ([[mergedNdv]]), so appends never rescan old
    * files and the estimate composes across any file subset — the
    * property a plain per-file distinct count lacks. Columns are read
    * at the table's recorded type (a widened column's carried
    * sketches hash the old physical width and are dropped by the
    * caller, like blooms).
    */
  private def buildNdvs(spark: SparkSession, tableDir: String,
                        rels: Seq[String], columns: Seq[String],
                        tableSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Map[(String, String), Array[Byte]] = {
    if (columns.isEmpty || rels.isEmpty) return Map.empty
    hllPerFile(spark,
      rels.map(rel => rel -> new Path(tableDir, rel)), columns, tableSchema)
  }

  /** The one per-file HLL aggregation both the commit path
    * ([[buildNdvs]]) and the repair path ([[analyzeNdv]]) run: one
    * job, one pass over `relToPath`'s files, a sketch per (file,
    * column). Keys map back through the scheme-stripped ABSOLUTE path,
    * never the basename — a dynamic-partition write reuses one task's
    * part-file name across every `k=v/` dir it lands in, so basenames
    * repeat within one commit. `columns` are the on-file (physical)
    * names; callers translate keys to logical as needed.
    */
  private def hllPerFile(spark: SparkSession,
                         relToPath: Seq[(String, Path)],
                         columns: Seq[String],
                         readSchema: Option[org.apache.spark.sql.types.StructType])
      : Map[(String, String), Array[Byte]] = {
    import org.apache.spark.sql.functions._
    // qualified per path (borrowed clone refs may live on another
    // filesystem; a relative tableDir resolves to the absolute form
    // _metadata.file_path always reports)
    val conf = spark.sparkContext.hadoopConfiguration
    val byPath = relToPath
      .map { case (rel, p) =>
        p.getFileSystem(conf).makeQualified(p).toUri.getPath -> rel }.toMap
    require(byPath.size == relToPath.size,
      "ndv build requires distinct file paths")
    // hll_sketch_agg accepts int/bigint/string/binary only — derive an
    // INJECTIVE representative for the rest (distinct counts survive
    // any injection): timestamps as epoch micros, dates as epoch days
    // (both TZ-free), fractional/decimal as their canonical string
    def sketchable(c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{datediff, lit, to_date, unix_micros}
      import org.apache.spark.sql.types._
      readSchema.flatMap(_.fields.find(_.name == c)).map(_.dataType) match {
        case Some(TimestampType) => unix_micros(col(c))
        case Some(DateType) => datediff(col(c), to_date(lit("1970-01-01")))
        case Some(FloatType | DoubleType | _: DecimalType) =>
          col(c).cast("string")
        case _ => col(c)
      }
    }
    val df = readSchema.fold(spark.read)(s => spark.read.schema(
        org.apache.spark.sql.types.StructType(
          s.fields.filter(f => columns.contains(f.name)))))
      .parquet(relToPath.map(_._2.toString): _*)
    df.groupBy(col("_metadata.file_path").as("__fp"))
      .agg(hll_sketch_agg(sketchable(columns.head)).as(columns.head),
        columns.tail.map(c => hll_sketch_agg(sketchable(c)).as(c)): _*)
      .collect() // one row per file
      .flatMap { r =>
        val rel = byPath(new Path(r.getString(0)).toUri.getPath)
        columns.zipWithIndex.collect {
          case (c, i) if !r.isNullAt(i + 1) =>
            (rel, c) -> r.getAs[Array[Byte]](i + 1)
        }
      }.toMap
  }

  /** Per-file KLL doubles sketches for `columns` of the just-written
    * `rels` — the quantile twin of [[buildNdvs]]: one job, one pass,
    * partial sketches built per input split and MERGED per file (KLL
    * merge is lossless w.r.t. its rank guarantees), so no full-data
    * shuffle. Columns must be numeric (validated by [[commit]]) and
    * are sketched at DOUBLE — value-based, so the sketches survive
    * lossless type widening. Mergeable across any file subset:
    * table-level histograms compose from per-file sketches with no
    * rescan, exactly the NDV property.
    */
  private def buildKlls(spark: SparkSession, tableDir: String,
                        rels: Seq[String], columns: Seq[String],
                        tableSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Map[(String, String), Array[Byte]] = {
    if (columns.isEmpty || rels.isEmpty) return Map.empty
    kllPerFile(spark,
      rels.map(rel => rel -> new Path(tableDir, rel)), columns, tableSchema)
  }

  /** The shared per-file KLL aggregation ([[hllPerFile]]'s shape):
    * `mapPartitions` accumulates one sketch per (file, column) per
    * split, `reduceByKey` merges split sketches per file — the
    * classic partial-aggregate pattern, shuffling only sketch bytes
    * (KB), never rows. Keys map back through the scheme-stripped
    * ABSOLUTE path (dynamic-partition writes reuse basenames).
    */
  private def kllPerFile(spark: SparkSession,
                         relToPath: Seq[(String, Path)],
                         columns: Seq[String],
                         readSchema: Option[org.apache.spark.sql.types.StructType])
      : Map[(String, String), Array[Byte]] = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val byPath = relToPath
      .map { case (rel, p) =>
        p.getFileSystem(conf).makeQualified(p).toUri.getPath -> rel }.toMap
    require(byPath.size == relToPath.size,
      "kll build requires distinct file paths")
    // sketch in CATALYST-INTERNAL units, so histogram bin bounds line
    // up with what FilterEstimation compares predicates against:
    // dates as epoch DAYS (datediff — calendar arithmetic, TZ-free),
    // timestamps as epoch MICROS (unix_micros — TZ-free), numerics as
    // plain doubles
    def asDouble(c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{datediff, lit, to_date, unix_micros}
      readSchema.flatMap(_.fields.find(_.name == c)).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DateType) =>
          datediff(col(c), to_date(lit("1970-01-01"))).cast("double")
        case Some(org.apache.spark.sql.types.TimestampType) =>
          unix_micros(col(c)).cast("double")
        case _ => col(c).cast("double")
      }
    }
    val df = readSchema.fold(spark.read)(s => spark.read.schema(
        org.apache.spark.sql.types.StructType(
          s.fields.filter(f => columns.contains(f.name)))))
      .parquet(relToPath.map(_._2.toString): _*)
      .select((col("_metadata.file_path") +: columns.map(asDouble)): _*)
    val n = columns.size
    val partial = df.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, Int), org.apache.datasketches.kll.KllDoublesSketch]
      it.foreach { r =>
        val fp = r.getString(0)
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i + 1))
            acc.getOrElseUpdate((fp, i),
              org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance())
              .update(r.getDouble(i + 1))
          i += 1
        }
      }
      acc.iterator.map { case (k, sk) => (k, sk.toByteArray) }
    }
    val built = partial.reduceByKey { (a, b) =>
      val sa = org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(a))
      sa.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(b)))
      sa.toByteArray
    }.collect() // one row per (file, column): O(metadata)
      .map { case ((fp, i), sk) =>
        (byPath(new Path(fp).toUri.getPath), columns(i)) -> sk
      }.toMap
    // a (file, column) whose values read back all-NULL (an all-null
    // batch, or a file predating an added column — the explicit read
    // schema fills it with NULL) gets an EXPLICIT EMPTY sketch: merge
    // identity, so table quantiles are unchanged, but 'sketched, no
    // values' is now distinct from 'never sketched' — one all-null
    // file can no longer poison [[mergedHistogram]] forever with
    // [[analyzeHistograms]] unable to repair it (ADVICE r13)
    val empty = org.apache.datasketches.kll.KllDoublesSketch
      .newHeapInstance().toByteArray
    built ++ (for {
      (rel, _) <- relToPath; c <- columns if !built.contains((rel, c))
    } yield (rel, c) -> empty)
  }

  /** Merge per-file KLL sketches to one table-level EQUI-HEIGHT
    * histogram ([[org.apache.spark.sql.catalyst.plans.logical.Histogram]],
    * the shape `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` with
    * `spark.sql.statistics.histogram.enabled` produces) — served from
    * metadata, no scan. Bin bounds are the merged sketch's quantiles
    * at i/numBins; per-bin NDV is the equi-height approximation
    * totalNdv/numBins (1 for a collapsed bin — a heavy hitter spanning
    * it), with the merged NDV estimate when the column has HLL
    * sketches and the bin height as the bound otherwise. None when any
    * live file lacks the sketch (partial histograms misestimate
    * silently — same poisoning rule as [[mergedNdv]]).
    *
    * This is the per-file DRIVER fold (fine to ~10⁶ files, and only
    * consulted lazily for tables that opted into `histColumns`) — the
    * fallback behind [[mergedHistogramCheckpointed]], which serves the
    * same histograms from the checkpoint's per-(segment, column) KLL
    * unions in O(segments + tail files) driver work on tables with a
    * KLL-sidecar checkpoint.
    */
  private[graft] def mergedHistogram(m: Manifest, column: String,
                                     numBins: Int)
      : Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] = {
    val sketches = m.files.map(fl => m.klls.get((fl, column)))
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) return None
    val merged = sketches.flatten.map(sk =>
      org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(sk)))
      .reduceLeft { (a, b) => a.merge(b); a }
    histogramFromMerged(merged, mergedNdv(m, column), numBins)
  }

  /** Table-level (min, max, nullCount) per column folded from the
    * manifest's per-file footer stats — the companions CBO's
    * estimators expect next to a histogram (moved here from the
    * relation so the checkpoint twin and the per-file fold share one
    * body). Only long/double-kind stats on numeric/date/timestamp
    * columns (their external-string form round-trips through
    * `CatalogColumnStat.fromExternalString`), never decimals (footer
    * decimals are UNSCALED ints — wildly wrong as decimal bounds),
    * and only when every live file carries the stat (a partial fold
    * mis-bounds). The nullCount component is independently gated:
    * served only when every live file carries the column's null
    * count.
    */
  private[graft] def mergedRanges(m: Manifest,
      schema: org.apache.spark.sql.types.StructType)
      : Map[String, (String, String, Option[Long])] = {
    val eligible = rangeEligible(schema)
    m.stats.keysIterator.map(_._2).toSet.iterator
      .filter(eligible.contains)
      .flatMap { (c: String) =>
        // Try: a stats feed must never crash planning — any unparsable
        // stat (format drift, unexpected kind) drops the column's range
        scala.util.Try[Option[(String, (String, String, Option[Long]))]] {
          val sts = m.files.map(fl => m.stats.get((fl, c)))
          if (sts.isEmpty || sts.exists(_.isEmpty)) None
          else {
            val known = sts.flatten
            val other = known.exists(st =>
              st.kind != "long" && st.kind != "double")
            val longs = known.filter(_.kind == "long")
            val doubles = known.filter(_.kind == "double")
            val nulls =
              if (m.files.forall(fl => m.nullCounts.contains((fl, c))))
                Some(m.files.map(fl => m.nullCounts((fl, c))).sum)
              else None
            foldRange(eligible(c), other,
              if (longs.isEmpty) None
              else Some((longs.map(_.min.toLong).min,
                longs.map(_.max.toLong).max)),
              if (doubles.isEmpty) None
              else Some((doubles.map(_.min.toDouble).min,
                doubles.map(_.max.toDouble).max)))
              .map(mnmx => c -> ((mnmx._1, mnmx._2, nulls)))
          }
        }.toOption.flatten
      }.toMap
  }

  /** The columns [[mergedRanges]] may serve: numeric (never decimal),
    * date, timestamp — the types whose external form the catalog-stat
    * parser round-trips.
    */
  private def rangeEligible(schema: org.apache.spark.sql.types.StructType)
      : Map[String, org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    schema.fields.collect {
      case f if (f.dataType.isInstanceOf[NumericType] &&
          !f.dataType.isInstanceOf[DecimalType]) ||
        f.dataType == DateType || f.dataType == TimestampType =>
        f.name -> f.dataType
    }.toMap
  }

  /** The one kind-vs-column-type range fold both paths share (so they
    * can never drift): a fractional column legitimately carries MIXED
    * kinds (int→double widening keeps old files' long stats) — fold
    * everything as double there; anything else must be all-long
    * (dates = epoch days, timestamps = epoch micros, integrals as
    * themselves; a double kind there would mean a lossy past: drop,
    * never mis-bound). `other` = any non-long/double kind present ⇒
    * drop.
    */
  private def foldRange(dt: org.apache.spark.sql.types.DataType,
      other: Boolean, longs: Option[(Long, Long)],
      doubles: Option[(Double, Double)]): Option[(String, String)] = {
    import org.apache.spark.sql.types._
    if (other) return None
    val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    def external(v: Long): String = dt match {
      case DateType => java.time.LocalDate.ofEpochDay(v).toString
      case TimestampType => tsFmt.format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(v, 1000000L), Math.floorMod(v, 1000000L) * 1000L))
      case _ => v.toString
    }
    if (dt == DoubleType || dt == FloatType) {
      val all = longs.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq ++
        doubles.toSeq
      if (all.isEmpty) None
      else Some((all.map(_._1).min.toString, all.map(_._2).max.toString))
    } else if (doubles.isEmpty)
      longs.map { case (a, b) => (external(a), external(b)) }
    else None
  }

  /** The one equi-height bin construction both histogram paths share
    * (per-file driver fold and checkpoint-served twin — shared so the
    * two can never drift): bounds are the merged sketch's quantiles at
    * i/numBins; per-bin NDV is the equi-height approximation
    * totalNdv/numBins (1 for a collapsed bin — a heavy hitter spanning
    * it), with the bin height as the bound when no NDV estimate
    * exists. None for an empty merge (no values to bin).
    */
  private def histogramFromMerged(
      merged: org.apache.datasketches.kll.KllDoublesSketch,
      ndv: Option[Long], numBins: Int)
      : Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
    if (merged.isEmpty) return None
    val bins = math.max(1, numBins)
    val height = merged.getN.toDouble / bins
    val ndvPerBin = ndv
      .map(n => math.max(1L, math.round(n.toDouble / bins)))
      .getOrElse(math.max(1L, math.ceil(height).toLong))
    val bounds = (0 to bins).map(i =>
      merged.getQuantile(i.toDouble / bins))
    Some(Histogram(height, bounds.sliding(2).map { pair =>
      val (lo, hi) = (pair(0), pair(1))
      HistogramBin(lo, hi, if (lo == hi) 1L else ndvPerBin)
    }.toArray))
  }

  /** Merge per-file HLL sketches to one table-level NDV estimate —
    * DRIVER-side DataSketches union over ~files sketch buffers (no
    * job). None when `files` has a member without a sketch for the
    * column: a partial union is a silent UNDER-estimate, and a wrong
    * NDV misguides CBO worse than no NDV.
    */
  private[graft] def mergedNdv(m: Manifest, column: String): Option[Long] = {
    val sketches = m.files.map(f => m.ndvs.get((f, column)))
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) None
    else {
      val u = new org.apache.datasketches.hll.Union(12)
      sketches.flatten.foreach(sk =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(sk)))
      Some(math.round(u.getEstimate))
    }
  }

  /** Spark's own `pmod(xxhash64(salt, key), n)` — the hash every
    * bucketed write (no salt) and bloom build (salt = hash index `j`)
    * evaluates over the stored column — of each literal CAST to the
    * column type, once per salt, so a probe can never disagree with
    * the build. Literals go in typed (`lit`), never through their
    * string form: a `java.sql.Timestamp` prints JVM-zone wall time
    * that a cast would parse in the session zone, another instant. A
    * projection over a one-row local relation, which the optimizer
    * evaluates on the driver: no Spark job. Per literal, one hash per
    * salt.
    */
  private def probeHashes(spark: SparkSession, literals: Seq[Any],
                          keyType: org.apache.spark.sql.types.DataType,
                          salts: Seq[Option[Int]], n: Long): Seq[Seq[Long]] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val keys = array(literals.map(lit(_).cast(keyType)): _*)
    val row = Seq(0).toDF("_").select(salts.map(s => transform(keys, key =>
      pmod(xxhash64(s.map(lit(_)).toSeq :+ key: _*), lit(n)))): _*)
      .collect().head
    literals.indices.map(i => salts.indices.map(j => row.getSeq[Long](j)(i)))
  }

  private def bloomMightContain(b: Bloom, bits: Seq[Long]): Boolean =
    bits.forall(i => (b.words((i / 64).toInt) & (1L << (i % 64).toInt)) != 0L)

  private def manifestPath(tableDir: String, v: Long): Path =
    new Path(tableDir, f"_manifests/v$v%06d.manifest")

  private def commitMarkerDir(tableDir: String): Path =
    new Path(tableDir, "_commits")

  /** One 1-byte marker per published manifest, under `_commits/` —
    * what [[streamChangeFeed]] tails instead of the manifests
    * themselves: manifests carry stats, bucket maps, and base64 bloom
    * payloads (KBs per file per column — multi-MB on wide tables),
    * and a wholetext file source reads every discovered file in full,
    * so discovery cost would scale with manifest size; a marker read
    * costs one byte. Markers are created AFTER the manifest's atomic
    * publish (a marker therefore always has its manifest) and this
    * helper is idempotent + self-healing: each call creates every
    * missing marker (covering a crash between publish and marker
    * write — the next commit or stream start closes the hole).
    */
  private def ensureCommitMarkers(f: FileSystem, tableDir: String): Unit = {
    val md = new Path(tableDir, "_manifests")
    if (!f.exists(md)) return
    val cd = commitMarkerDir(tableDir)
    if (!f.exists(cd)) f.mkdirs(cd)
    val have: Set[String] = f.listStatus(cd).iterator
      .map(_.getPath.getName).filter(_.endsWith(".marker"))
      .map(_.stripSuffix(".marker")).toSet
    f.listStatus(md).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest"))
      .filterNot(have)
      .foreach(stem =>
        try writeCommitMarker(f, tableDir, stem)
        catch { case _: java.io.IOException => () }) // racer wrote it
  }

  /** One 1-byte marker for one version stem (`vN`) — the O(1) unit
    * both the per-commit publish path and the backfill sweep use.
    */
  private def writeCommitMarker(f: FileSystem, tableDir: String,
                                stem: String): Unit = {
    val cd = commitMarkerDir(tableDir)
    if (!f.exists(cd)) f.mkdirs(cd)
    val o = f.create(new Path(cd, s"$stem.marker"), false)
    try o.write('c'.toInt) finally o.close()
  }

  /** Shadow prefix for Hive-style partition writes: the batch is
    * written `partitionBy("__p_<c>")` on a COPY of each partition
    * column, so the data files KEEP the original columns (a per-file
    * constant, RLE-dictionary ≈ free) while the directory layout gets
    * the reference's `k=v/` idiom (`etl/ingest_logs.py:63-70`); the
    * shadow dirs are renamed to plain `<c>=v` right after the write.
    * Keeping the values in the files means every existing read path
    * (explicit-file scans, DV provenance joins, change feeds, merge
    * payloads landing unpartitioned) works untouched — no partition
    * discovery, no NULL-filling, no mixed-layout conflicts; pruning
    * comes from the manifest's per-file min=max partition stats
    * through the same stats machinery as everything else.
    */
  private val PartShadowPrefix = "__p_"

  /** Strip the shadow prefix from the `__p_<c>=v` dirs a partitioned
    * write produced (recursively for multi-level specs) and refuse
    * NULL partition values (`__HIVE_DEFAULT_PARTITION__` dirs): a
    * null never equality-matches, so a null partition could never be
    * addressed by a partition predicate — refusing at write keeps the
    * layout total. Driver-side metadata ops, O(partition dirs).
    */
  private def unshadowPartitionDirs(f: FileSystem, dir: Path): Unit = {
    f.listStatus(dir).foreach { st =>
      if (st.isDirectory) {
        val name = st.getPath.getName
        val target =
          if (name.startsWith(PartShadowPrefix)) {
            val plain = name.stripPrefix(PartShadowPrefix)
            if (plain.endsWith("=__HIVE_DEFAULT_PARTITION__"))
              throw new IllegalArgumentException(
                s"partition column '${plain.takeWhile(_ != '=')}' has NULL " +
                  "values; partition columns must be non-null")
            val t = new Path(st.getPath.getParent, plain)
            if (!f.rename(st.getPath, t))
              throw new java.io.IOException(
                s"could not rename partition dir ${st.getPath} -> $t")
            t
          } else st.getPath
        unshadowPartitionDirs(f, target)
      }
    }
  }

  /** All parquet files under `dataDir`, recursively (partitioned
    * writes nest them in `k=v/` dirs), as table-relative paths.
    */
  private def listDataFiles(f: FileSystem, dataDir: Path,
                            dataRel: String): Seq[String] = {
    def walk(dir: Path, rel: String): Iterator[String] =
      f.listStatus(dir).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, s"$rel/$name")
        else if (name.endsWith(".parquet")) Iterator(s"$rel/$name")
        else Iterator.empty
      }
    walk(dataDir, dataRel).toSeq.sorted
  }

  /** Per-file (row count, on-disk bytes) under `dataDir` from parquet
    * FOOTERS (driver-side metadata reads, no Spark job), recursive.
    * Rows feed the accounting [[graft.plans.MetadataOnlyCount]]'s
    * grouped/filtered rewrites serve partition counts from; bytes feed
    * [[GraftRelation.sizeInBytes]] so plan-time stats are exact and a
    * small table auto-broadcasts.
    */
  private def footerFileMeta(spark: SparkSession, f: FileSystem,
                             dataDir: Path, dataRel: String)
      : Map[String, (Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    listDataFiles(f, dataDir, dataRel).map { rel =>
      val p = new Path(dataDir, rel.stripPrefix(dataRel).stripPrefix("/"))
      val in = HadoopInputFile.fromPath(
        p, spark.sparkContext.hadoopConfiguration)
      val r = ParquetFileReader.open(in)
      try rel -> ((r.getRecordCount, in.getLength)) finally r.close()
    }.toMap
  }

  /** The min=max [[FileStat]] entries a partitioned file's `k=v` path
    * segments pin: each partition column of the file is a per-file
    * CONSTANT, so its stat is exact — the stats machinery
    * ([[pruneFiles]], [[readVersionFiltered]], z-order composition)
    * then prunes partition predicates with zero new code paths.
    * Values are unescaped from the dir names; stat kinds follow
    * [[footerStats]]'s (dates as epoch days). A string value the
    * manifest line format cannot carry ([[fitsMetadataLine]]) just
    * records no stat — the file stays unprunable, never wrong.
    */
  private def partitionStatsOf(rels: Seq[String],
                               specs: Seq[PartitionTransforms.Spec],
                               schema: org.apache.spark.sql.types.StructType)
      : Map[(String, String), FileStat] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val byName = specs.map(sp => sp.derivedName -> sp).toMap
    rels.flatMap { rel =>
      rel.split('/').iterator.filter(_.contains('=')).flatMap { seg =>
        val (c, raw) = seg.splitAt(seg.indexOf('='))
        val v = ExternalCatalogUtils.unescapePathName(raw.drop(1))
        byName.get(c).flatMap { sp =>
          PartitionTransforms
            .dirValueStat(sp, schema(sp.source).dataType, v)
            .map { case (kind, s) => (rel, c) -> FileStat(kind, s, s) }
        }
      }
    }.toMap
  }

  /** Split a comma-joined partition-spec list at depth-0 commas only
    * (`a,months(b),truncate(4, c)` → 3 entries — the truncate comma is
    * inside parens and stays).
    */
  private def splitSpecList(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty || out.nonEmpty) out += cur.result()
    out.toSeq.filter(_.nonEmpty)
  }

  private def floorPath(tableDir: String): Path =
    new Path(tableDir, "_manifests/_floor")

  /** Lowest version still readable (0 if never vacuumed). Versions
    * below the floor were expired by [[vacuum]]; [[commit]] refuses to
    * (re-)create them, so a replayed producer pinned to an expired
    * version sees the same `ConcurrentModificationException` as a CAS
    * loss instead of corrupting history. ([[exactlyOnceSink]] never
    * hits the floor itself — its replay check is the manifest txn
    * watermark, resolved before any commit is attempted.)
    */
  def vacuumFloor(spark: SparkSession, tableDir: String): Long = {
    val f = fs(spark, tableDir)
    val p = floorPath(tableDir)
    if (!f.exists(p)) 0L
    else {
      val r = new BufferedReader(
        new InputStreamReader(f.open(p), StandardCharsets.UTF_8))
      try r.readLine().trim.toLong finally r.close()
    }
  }

  /** Latest committed version, or None for an uninitialized table.
    * One listing of the (small) manifest dir.
    */
  def latestVersion(spark: SparkSession, tableDir: String): Option[Long] = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir, "_manifests")
    if (!f.exists(dir)) None
    else {
      val vs = f.listStatus(dir).iterator.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong }
        .toSeq
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Commit `df` as the next version. `mode`:
    *   - "overwrite": version N = exactly the files this commit writes
    *     (full-snapshot semantics — the copy-on-write shape for
    *     updates/deletes, e.g. a [[graft.operators.Merge]] result);
    *   - "append": version N = version N-1's files PLUS this commit's
    *     (late-arriving data; nothing rewritten).
    *
    * Returns the committed version. Throws
    * `ConcurrentModificationException` when another writer committed
    * the same version first; the loser's orphaned data dir is removed
    * before throwing (retry by re-running the commit — the reader-side
    * view is unaffected either way). `expectedVersion` pins the
    * version this writer intends to create (compare-and-swap: a writer
    * that read version N-1 commits N, and fails rather than silently
    * landing on top of someone else's N); default is latest+1 at
    * commit time.
    */
  def commit(df: DataFrame, tableDir: String, mode: String = "overwrite",
             expectedVersion: Option[Long] = None,
             statsColumns: Seq[String] = Nil,
             txn: Option[(String, Long)] = None,
             bucketBy: Option[(String, Int)] = None,
             pending: Option[String] = None,
             bloomColumns: Seq[String] = Nil,
             partitionBy: Seq[String] = Nil,
             ndvColumns: Seq[String] = Nil,
             histColumns: Seq[String] = Nil,
             sortBuckets: Boolean = false,
             sortAlso: Seq[String] = Nil): Long = {
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    // SORTED-BUCKET layout (see [[Manifest.sortedFiles]]): the write
    // additionally orders each bucket's rows by the bucket key (then
    // `sortAlso`'s secondary columns — the multi-column sort-order
    // shape the as-of/running operators stream on) and records
    // per-file sorted markers, which the aligned operators trade for
    // their in-task sort. Only meaningful WITH a bucket layout —
    // order inside an unbucketed file buys nothing the aligned
    // family can use, so a sort request without a bucket spec is a
    // misuse, not a no-op.
    require(!sortBuckets || bucketBy.isDefined,
      "sortBuckets requires bucketBy: the sorted-bucket layout orders " +
        "each bucket's rows by the bucket key")
    require(sortAlso.isEmpty || sortBuckets,
      "sortAlso requires sortBuckets: secondary sort columns extend " +
        "the bucket-key order, they cannot replace it")
    if (sortBuckets) {
      val sortCols = bucketBy.get._1 +: sortAlso
      require(sortCols.distinct.size == sortCols.size,
        s"duplicate sort columns: $sortCols")
      sortCols.foreach { c =>
        require(!c.contains(","),
          s"sort column '$c' contains ',' (the marker separator)")
      }
      sortAlso.foreach { c =>
        require(df.columns.contains(c),
          s"sortAlso column '$c' is not a column of the batch")
        require(org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(df.schema(c).dataType),
          s"sortAlso column '$c' of type " +
            s"${df.schema(c).dataType.simpleString} is not orderable")
      }
    }
    // Hive-style partition layout (see [[PartShadowPrefix]]): `k=v/`
    // data dirs, values kept in the files, per-file min=max partition
    // stats in the manifest. Partition columns must be non-null
    // (enforced at write) and of an exactly-representable stat type.
    // COMPOSES with bucketBy: `k=v/` dirs for range/equality pruning
    // on the partition columns × hash buckets WITHIN each dir for
    // point-lookup/merge pruning on the cluster key — the canonical
    // 100 TB layout (date dirs × key buckets).
    require(partitionBy.distinct.size == partitionBy.size,
      s"duplicate partition columns: $partitionBy")
    // hidden-partitioning transforms (`months(c)`, `truncate(n, c)`)
    // parse out of the same spec strings identity columns ride in —
    // see [[PartitionTransforms]]; the derived layout column must not
    // shadow a data column (its per-file stats would be consulted for
    // the wrong values)
    val partSpecs = partitionBy.map(PartitionTransforms.parse)
    require(partSpecs.map(_.derivedName).distinct.size == partSpecs.size,
      s"duplicate derived partition names: $partitionBy")
    partSpecs.foreach(sp =>
      PartitionTransforms.validate(sp, df.schema, "partition column"))
    histColumns.foreach { c =>
      require(df.columns.contains(c), s"hist column '$c' is not a column")
      requireKllSketchable(c, df.schema(c).dataType)
    }
    bucketBy.foreach { case (k, n) =>
      require(df.columns.contains(k), s"bucket key '$k' is not a column")
      require(n >= 1 && n <= 65536, s"numBuckets must be in [1, 65536]: $n")
      import org.apache.spark.sql.types._
      val t = df.schema(k).dataType
      require(t == ByteType || t == ShortType || t == IntegerType ||
          t == LongType || t == StringType,
        s"bucket key '$k' must be integral or string, not $t " +
          "(lookup-side literals must hash identically to the stored column)")
    }
    val spark = df.sparkSession
    val f = fs(spark, tableDir)
    val version = expectedVersion.getOrElse(
      latestVersion(spark, tableDir).map(_ + 1).getOrElse(0L))
    // a version below the vacuum floor was expired — recreating it
    // would corrupt history; surface as the CAS-style conflict so
    // replayed producers no-op (see [[vacuumFloor]])
    if (version < vacuumFloor(spark, tableDir))
      throw new java.util.ConcurrentModificationException(
        s"version $version of $tableDir is below the vacuum floor")
    // an append MUST have its predecessor to carry (silently carrying
    // nothing would shrink the table); checked BEFORE the data write
    // so a misuse (explicit expectedVersion past a gap) leaves no
    // orphaned data dir. Overwrites tolerate the gap — the previous
    // manifest is only a txn-watermark source for them.
    require(mode != "append" || version == 0 ||
        f.exists(manifestPath(tableDir, version - 1)),
      s"append at version $version of $tableDir has no v${version - 1} manifest to carry")
    // txn watermarks and CHECK constraints carry through BOTH modes
    // (the previous manifest is read for overwrites too, when one
    // exists); files/stats/schema carry only through appends — an
    // overwrite replaces the snapshot but must not forget any
    // producer's ingest progress or the table's quality contract
    // the predecessor to build on is the last LIVE one — a dead or
    // in-flight txn manifest at the head is skipped (forcing the
    // decision, see manifestLive), never silently adopted. Its
    // manifest file is parsed once and never assembled (r16): every
    // pre-write check below needs only version-level facts (schema,
    // checks, txns, specs, column mapping, ledgers), so the per-file
    // metadata — ~KB/file bloom payloads at the extreme — stays on disk.
    val prevBase =
      if (version > 0 && f.exists(manifestPath(tableDir, version - 1)))
        lastLive(spark, tableDir, version - 1, forWrite = true)
      else None
    val prevAny = prevBase.map(_.header)
    // an append builds on its predecessor's segment refs (the delta
    // publish at the commit point)
    val base = prevBase.filter(_ => mode == "append")
    val prev = base.map(_.header)
    // table-level CHECK constraints are enforced on EVERY data commit
    // — append (the new batch), overwrite (the full new snapshot),
    // and therefore also MERGE results, compaction and purge rewrites,
    // which all land through this path: a constraint cannot be
    // bypassed by a non-append commit. Validated BEFORE any data is
    // written, so a refused commit leaves the table untouched. The
    // validation is a second evaluation of `df`, so when checks exist
    // the batch is PINNED (persist) first — the rows validated must be
    // the rows written even for a non-deterministic input (rand/uuid
    // columns, re-read of mutable upstream).
    val checks = prevAny.map(_.checks).getOrElse(Map.empty)
    // everything refusable from METADATA is refused BEFORE the data
    // write — a refused commit must not pay the O(batch) write or
    // strand an orphaned data dir awaiting the vacuum sweep:
    // Schema evolution (manifest-recorded, Delta-log style: readers
    // plan from the manifest schema in O(1), never from file footers).
    // An append may ADD nullable columns, OMIT existing ones (old
    // files lack new columns, new files lack omitted ones — the
    // explicit read schema fills both with NULL), WIDEN a column
    // losslessly, or send a narrower type into a widened column; any
    // other type change is refused — that is a rewrite, not an append.
    val (schema, widenedCols) = prev match {
      case None => (df.schema, Set.empty[String])
      case Some(p) => evolveSchema(p.schema, df.schema, "append")
    }
    // an appended data column must not collide with the CARRIED
    // spec's derived partition names either — old files' derived
    // min=max stats would answer for the new column's values
    (partSpecs ++ prev.map(_.partitionCols).getOrElse(Nil)
        .map(PartitionTransforms.parse))
      .filterNot(_.isIdentity).foreach(sp =>
        require(!schema.fieldNames.contains(sp.derivedName),
          s"data column '${sp.derivedName}' collides with the derived " +
            s"partition name of ${sp.encoded}"))
    // column mapping carries through appends (an overwrite's fresh
    // files write logical names — mapping and ghosts rewrite away);
    // a NEW column whose physical slot is taken gets a fresh one
    val colMap = extendColMap(
      prev.map(_.colMap).getOrElse(Map.empty),
      prev.map(_.retiredCols).getOrElse(Nil),
      prev.map(_.schema.fieldNames.toSet).getOrElse(Set.empty),
      schema.fieldNames.toIndexedSeq, version)
    val carriedRetired = prev.map(_.retiredCols).getOrElse(Nil)
    val physRev = colMap.map(_.swap)
    // bucket layout: an append carries the table's mapping forward
    // (its own files join it only when bucketed with the SAME spec —
    // a conflicting spec is refused, it would poison every lookup).
    // The bucket KEY's type may never widen: the mapping hashes the
    // stored type, and a probe cast to the widened type would prune
    // the WRONG files — rows would go missing, not just pruning.
    for (p <- prev; ps <- p.bucketSpec; bs <- bucketBy)
      require(ps == bs,
        s"bucketed append spec $bs conflicts with table bucket spec $ps at $tableDir")
    prev.foreach(p => refuseBucketKeyWiden(p.bucketSpec, widenedCols, tableDir))
    // partition layout: an UNpartitioned append keeps the table's
    // spec and lands as a flat tail (its files carry no partition
    // stats — always scanned, never wrong); a partitioned append
    // declaring a DIFFERENT spec EVOLVES the table to it (Iceberg-
    // style partition evolution): old files keep their own recorded
    // per-file partition stats and keep pruning by them — pruning is
    // stats-driven, not spec-driven, so the boundary is exact from
    // day one; files of the old layout simply don't prune on the new
    // columns until a rewrite folds them in (conservative, never
    // wrong). Unlike the bucket spec (a type-sensitive hash mapping
    // that trusted probes would mis-prune), no partition-spec change
    // can lose rows — hence evolution here, refusal there.
    txn.foreach { case (app, _) =>
      require(app.nonEmpty && fitsMetadataLine(app),
        s"txn appId must be non-empty with no tab/newline: '$app'")
    }
    bloomColumns.foreach(c => require(df.columns.contains(c),
      s"bloom column '$c' is not a column of the batch"))
    ndvColumns.foreach(c => require(df.columns.contains(c),
      s"ndv column '$c' is not a column of the batch"))
    val pinned = checks.nonEmpty
    val batch =
      if (pinned) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val dataRel = f"data/v$version%06d-${UUID.randomUUID().toString.take(8)}"
    val dataDir = new Path(tableDir, dataRel)
    try {
      val violated = checkViolations(batch, checks)
      if (violated.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint(s) violated: ${violated.mkString(", ")}; " +
            s"$mode commit to $tableDir refused")
      writeLayout(spark, f, batch, dataDir, partSpecs, schema, bucketBy,
        colMap, sortBuckets, sortAlso)
    } finally if (pinned) batch.unpersist(false)
    val newBuckets: Map[String, Int] =
      if (bucketBy.isEmpty) Map.empty
      else flattenBucketDirs(f, dataDir, dataRel)
    val written = listDataFiles(f, dataDir, dataRel)
    // deletion vectors ride appends (an append must not resurrect
    // masked rows) and drop on overwrites (a rewritten snapshot has
    // no masked rows left to hide)
    val carriedDvs = prev.map(_.dvs).getOrElse(Seq.empty)
    // a SCALE-growing decimal widening DROPS the column's carried
    // stats: int-backed decimal footer stats are UNSCALED integers at
    // the file's WRITE scale, and the probe's unscaled form
    // ([[statMayContain]]) is taken at the column's CURRENT scale — a
    // stale stat would wrongly prune files (losing rows), whereas no
    // stat only loses pruning. Precision-only growth and integral /
    // float widenings keep stats (same scale ⇒ same unscaled basis;
    // non-decimals record VALUES, which widening preserves). The
    // bloom/NDV drop-on-widening rule, applied to the one stat kind
    // whose representation is scale-relative. The delta publish
    // applies both drops to the carried segments.
    val scaleWidened = prev.fold(Set.empty[String])(p =>
      scaleWidenedCols(p.schema, schema, widenedCols))
    val carriedTxns = prevAny.map(_.txns).getOrElse(Map.empty)
    val txns = txn.fold(carriedTxns) { case (app, b) =>
      carriedTxns + (app -> math.max(b, carriedTxns.getOrElse(app, Long.MinValue)))
    }
    // transform partitioning auto-records footer stats on the SOURCE
    // columns: a months(c)-partitioned file spans one month of c, so
    // its footer min/max on c is tight and the ordinary stats pruning
    // path serves source-column predicates — that's what makes the
    // partitioning "hidden" (no derived column to filter on)
    // a batch column written at a DIFFERENT decimal scale than the
    // table's (the allowed narrower-batch shape after a scale-growing
    // widening — files land at the BATCH's physical scale and read
    // back widened) records NO footer stats for its files: the
    // footer's unscaled ints are at the write scale while every
    // consumer decodes at the table's ([[statMayContain]]) — a
    // recorded stat would wrongly prune (lose rows); no stat only
    // loses pruning until a rewrite re-records at the table scale.
    val effStatsCols = (statsColumns ++
      partSpecs.collect { case sp if !sp.isIdentity => sp.source }).distinct
      .filterNot(batchScaleMismatchCols(df.schema, schema))
    val fileMetas =
      if (effStatsCols.isEmpty) Nil
      else written.map { rel =>
        rel -> footerColumnMeta(spark, new Path(tableDir, rel),
          effStatsCols.map(c => colMap.getOrElse(c, c)))
      }
    val newNulls = fileMetas.flatMap { case (rel, (_, nn)) =>
      nn.map { case (c, n) => (rel, physRev.getOrElse(c, c)) -> n } }.toMap
    val newStats =
      (fileMetas.flatMap { case (rel, (st, _)) =>
        st.map { case (c, x) => (rel, physRev.getOrElse(c, c)) -> x }
      }.toMap: Map[(String, String), FileStat]) ++
        // partition values pin exact min=max stats per file — the
        // stats machinery prunes partition predicates from here on
        partitionStatsOf(written, partSpecs, schema)
    val newBlooms = {
      val physSchema =
        if (colMap.isEmpty) schema
        else org.apache.spark.sql.types.StructType(
          schema.fields.map(f => f.copy(name = colMap.getOrElse(f.name, f.name))))
      buildBlooms(spark, tableDir, written,
        bloomColumns.map(c => colMap.getOrElse(c, c)), Some(physSchema))
        .map { case ((fl, c), b) => (fl, physRev.getOrElse(c, c)) -> b }
    }
    // per-file NDV sketches (same physical-name/widening dance as
    // blooms; a widened column's carried sketches hashed the old
    // width — mixing would double-count, so they drop)
    val newNdvs = {
      val physSchema =
        if (colMap.isEmpty) schema
        else org.apache.spark.sql.types.StructType(
          schema.fields.map(f => f.copy(name = colMap.getOrElse(f.name, f.name))))
      buildNdvs(spark, tableDir, written,
        ndvColumns.map(c => colMap.getOrElse(c, c)), Some(physSchema))
        .map { case ((fl, c), sk) => (fl, physRev.getOrElse(c, c)) -> sk }
    }
    // per-file KLL quantile sketches (histogram column stats): the
    // selectivity feed CBO lacks with rowCount+NDV alone — a skewed
    // column's range predicate estimates uniform without them.
    // Mergeable like NDV sketches: appends never rescan old files.
    // They sketch VALUES (as doubles), so unlike blooms/NDVs they
    // SURVIVE widening (a lossless widening preserves every value).
    val newKlls = {
      val physSchema =
        if (colMap.isEmpty) schema
        else org.apache.spark.sql.types.StructType(
          schema.fields.map(f => f.copy(name = colMap.getOrElse(f.name, f.name))))
      buildKlls(spark, tableDir, written,
        histColumns.map(c => colMap.getOrElse(c, c)), Some(physSchema))
        .map { case ((fl, c), sk) => (fl, physRev.getOrElse(c, c)) -> sk }
    }
    // row + byte accounting (footer metadata, no scan): appends extend
    // the predecessor's totals, overwrites restart;
    // per-file counts feed the grouped/filtered metadata-count rewrites,
    // per-file bytes feed exact plan-time relation stats
    val newFileMeta = footerFileMeta(spark, f, dataDir, dataRel)
    val newFileRows = newFileMeta.view.mapValues(_._1).toMap
    val writtenRows = newFileRows.values.sum
    val dataRows = prev.map(_.dataRows).getOrElse(0L) + writtenRows
    val dvRows = prev match {
      case Some(p) => if (p.dvs.isEmpty) 0L else p.dvRows
      case None => 0L
    }
    // bucket layout carry (the conflicting-spec refusal ran pre-write):
    // an overwrite defines the layout fresh (or drops it when plain)
    val bucketSpec =
      if (mode == "append") prev.flatMap(_.bucketSpec).orElse(bucketBy) else bucketBy
    // partition spec carry: an explicit spec (same or evolved) is the
    // table's CURRENT layout; an unpartitioned append keeps the
    // predecessor's
    val partitionCols =
      if (mode == "append" && partitionBy.isEmpty)
        prev.map(_.partitionCols).getOrElse(Nil)
      else partitionBy
    // sorted-bucket markers: the files THIS write sorted gain one;
    // an append carries the predecessor's (their bytes are untouched
    // — still sorted); an unsorted write simply marks nothing, so the
    // layout degrades per file, never lies (see [[Manifest.sortedFiles]])
    val newSorted: Map[String, String] =
      if (sortBuckets) {
        val marker = (bucketBy.get._1 +: sortAlso).mkString(",")
        written.iterator.map(_ -> marker).toMap
      } else Map.empty[String, String]
    // THE commit point: atomic publish-if-absent. A concurrent winner
    // already holds v<N>.manifest and the publish returns false.
    //
    // O(batch) APPENDS (r16): an append publishes a manifest DELTA on
    // its predecessor ([[publishManifestDelta]] with ZERO removals) —
    // carried segment refs ride verbatim (never parsed, never
    // re-diffed), only the batch's own entries are written, and the
    // predecessor's per-file metadata never materializes in the
    // driver. At 10⁷ files this turns every streaming micro-batch /
    // CDC append from an O(table) parse + re-diff into O(batch)
    // metadata. A widening append drops the widened columns' carried
    // blooms/NDVs (and scale-widened stats) in the same publish; an
    // overwrite carries no predecessor refs at all.
    val mPub = Manifest(version, Nil, schema, txns = txns,
      dvs = carriedDvs, checks = checks, dataRows = dataRows,
      dvRows = dvRows, bucketSpec = bucketSpec, pendingMarker = pending,
      partitionCols = partitionCols, colMap = colMap,
      retiredCols = carriedRetired)
    val published = publishManifestDelta(f, tableDir, mPub,
      base.getOrElse(EmptyBase), Map.empty,
      freshSegEntries(mPub, written, newStats, newNulls, newFileMeta,
        newBuckets, newSorted, newBlooms, newNdvs, newKlls),
      widenedCols, scaleWidened)
    if (!published) {
      f.delete(dataDir, true)
      throw new java.util.ConcurrentModificationException(
        s"version $version of $tableDir was committed concurrently")
    }
    version
  }

  /** Logical→physical projection for the write side of column mapping
    * (identity when the table has no mapping); internal layout columns
    * (partition shadows, the bucket id) keep their names.
    */
  private def toPhysical(df: DataFrame,
                         colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.map { c =>
        if (c.startsWith(PartShadowPrefix) || c == BucketCol) col(s"`$c`")
        else col(s"`$c`").as(colMap.getOrElse(c, c))
      }.toIndexedSeq: _*)
    }

  /** ONE write job covering every layout combination (the write half
    * of [[commit]], shared with the subset rewrites like
    * [[purgeDeletes]]):
    *  - partition specs: shadow copies of the partition columns give
    *    the dirs `k=v/` while the files KEEP the columns (see
    *    [[PartShadowPrefix]]); shadow dirs renamed plain after;
    *  - bucketBy: repartition on the bucket id (each bucket =
    *    exactly one task) + the bucket id as the INNERMOST
    *    partition dir, so each (partition-dir, bucket) pair
    *    yields exactly one file; the caller flattens the bucket dirs
    *    after ([[flattenBucketDirs]] — bucket id in the NAME, mapping
    *    in the manifest);
    *  - both: `k=v/` dirs × one bucket file per dir — time/range
    *    pruning and point-lookup pruning compose per file.
    * `schema` is the table's LOGICAL schema (bucket keys hash at the
    * RECORDED type — a narrower batch landing in a widened column
    * must map to the buckets the typed probe computes); `colMap`
    * projects to physical on-file names. A NULL partition value is
    * refused AFTER the write (it is only visible as a
    * `__HIVE_DEFAULT_PARTITION__` dir) — the orphaned data dir is
    * dropped so the refusal leaves no residue.
    */
  private def writeLayout(spark: SparkSession, f: FileSystem,
                          batch: DataFrame, dataDir: Path,
                          partSpecs: Seq[PartitionTransforms.Spec],
                          schema: org.apache.spark.sql.types.StructType,
                          bucketBy: Option[(String, Int)],
                          colMap: Map[String, String],
                          sortBuckets: Boolean = false,
                          sortAlso: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val shadowCols = partSpecs.map(sp => PartShadowPrefix + sp.derivedName)
    val shadowed = partSpecs.foldLeft(batch)((b, sp) =>
      b.withColumn(PartShadowPrefix + sp.derivedName,
        PartitionTransforms.derive(sp, schema(sp.source).dataType)))
    val (toWrite, layoutCols) = bucketBy match {
      case Some((k, n)) =>
        val bucketed = shadowed.withColumn(BucketCol,
            pmod(xxhash64(col(k).cast(schema(k).dataType)),
              lit(n.toLong)).cast("int"))
          .repartition(n, col(BucketCol))
        // sorted-bucket layout: order by (layout dirs, bucket, key)
        // WITHIN each write task — the prefix is exactly the ordering
        // FileFormatWriter itself requires for the partition dirs, so
        // the writer adds no sort of its own and each output file (one
        // contiguous (dir, bucket) run, or several under
        // maxRecordsPerFile — each still a contiguous ordered chunk)
        // lands key-sorted. BucketedLayoutSpec re-reads written files
        // individually and pins the physical order; the read side
        // additionally guards monotonicity at run time, so a writer
        // regression fails loudly, never wrongly.
        (if (sortBuckets)
           bucketed.sortWithinPartitions(
             ((shadowCols :+ BucketCol :+ k) ++ sortAlso)
               .map(c => col(s"`$c`")): _*)
         else bucketed,
         shadowCols :+ BucketCol)
      case None => (shadowed, shadowCols)
    }
    val physWrite = toPhysical(toWrite, colMap)
    withMicrosTimestamps(spark) {
      if (layoutCols.isEmpty) physWrite.write.parquet(dataDir.toString)
      else physWrite.write.partitionBy(layoutCols: _*).parquet(dataDir.toString)
    }
    if (partSpecs.nonEmpty)
      try unshadowPartitionDirs(f, dataDir)
      catch { case e: IllegalArgumentException =>
        f.delete(dataDir, true); throw e }
  }

  /** Run `body` (a blocking parquet write of TABLE DATA files) with
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`, restoring
    * the session's setting after. Spark's INT96 default writes raw
    * 12-byte binary footer min/max that are NOT in value order — a
    * timestamp stats column written as INT96 could never prune (and
    * [[footerColumnMeta]] refuses non-string Binary stats outright).
    * Scoped per-write rather than session-wide so the engine does not
    * change how USER code's own parquet output reads back (pyarrow
    * surfaces annotated MICROS as tz-aware, INT96 as naive). DV masks
    * (string path + long index) are unaffected either way.
    */
  private def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.get(k)
    spark.conf.set(k, "TIMESTAMP_MICROS")
    try body finally spark.conf.set(k, old)
  }

  /** Fresh physical names for columns NEW to this commit whose natural
    * physical slot (their own name) is taken — by another column
    * mapped to it, or by a dropped column's ghost bytes in old files.
    * Re-adding a dropped name must read NULL from old files, never the
    * ghost's values.
    */
  private def extendColMap(colMap: Map[String, String], retired: Seq[String],
                           prevLogical: Set[String], fields: Seq[String],
                           version: Long): Map[String, String] =
    if (colMap.isEmpty && retired.isEmpty) colMap
    else {
      val taken = colMap.values.toSet ++ retired
      colMap ++ fields.iterator.filterNot(prevLogical.contains)
        .filterNot(colMap.contains).filter(taken.contains)
        .map(c => c -> s"${c}__r$version")
    }

  /** The shared widening guard for every write path: the bucket KEY's
    * type may never widen — the mapping hashes the stored type, and a
    * probe cast to the widened type would prune the WRONG files (rows
    * would go missing, not just pruning).
    */
  private def refuseBucketKeyWiden(bucketSpec: Option[(String, Int)],
                                   widened: Set[String],
                                   tableDir: String): Unit =
    for ((bk, _) <- bucketSpec)
      require(!widened.contains(bk),
        s"cannot widen bucket key '$bk' of $tableDir: the bucket mapping " +
          "hashes the stored type — re-cluster with compactBucketed instead")

  /** Lossless type WIDENINGS the parquet reader serves in place —
    * Spark 4's vectorized reader reads an int32 column as long, a
    * float as double, a narrow decimal at a wider precision/scale —
    * so a manifest-recorded widening needs NO rewrite: old files are
    * read through the widened schema directly. The accepted set is
    * exactly the always-lossless lattice (integral up-casts, float →
    * double, integral → double, decimal growth on BOTH the integer
    * and fractional digits).
    */
  private[sources] def widens(from: org.apache.spark.sql.types.DataType,
                              to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** Schema evolution shared by the append path, [[mergeOnRead]] and
    * [[updateWhere]]: the incoming batch may ADD columns (recorded
    * nullable — old files read NULL for them), OMIT existing ones
    * (new files read NULL there), WIDEN a column's type along the
    * lossless lattice ([[widens]] — the manifest records the wider
    * type, old files read through it in place), or carry a NARROWER
    * type than the table's (the batch's files read back widened —
    * the common shape after a widening, when not-yet-migrated
    * producers still send the old type). Any other type change is
    * refused — that is a rewrite, not an evolution. Returns the
    * evolved schema plus the set of columns this batch WIDENED —
    * callers must drop those columns' bloom indexes (blooms hash the
    * stored native type; a probe cast to the widened type would no
    * longer match — dropping the index only loses pruning, never
    * rows) and refuse widening the table's bucket key (the bucket
    * mapping hashes the stored type the same way).
    */
  private def evolveSchema(old: org.apache.spark.sql.types.StructType,
                           incoming: org.apache.spark.sql.types.StructType,
                           what: String)
      : (org.apache.spark.sql.types.StructType, Set[String]) = {
    val byName = old.fields.map(f => f.name -> f).toMap
    val widened = scala.collection.mutable.Set.empty[String]
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { o =>
        if (o.dataType == f.dataType) ()
        else if (widens(o.dataType, f.dataType)) widened += f.name
        else if (widens(f.dataType, o.dataType)) () // narrower batch:
          // its files read back widened to the table type, no change
        else throw new IllegalArgumentException(
          s"$what changes type of '${f.name}': ${o.dataType} -> ${f.dataType} " +
            "(not a lossless widening)")
      }
    }
    val incomingByName = incoming.fields.map(f => f.name -> f).toMap
    val evolved = old.fields.map { o =>
      if (widened.contains(o.name)) incomingByName(o.name).copy(nullable = true)
      else o.copy(nullable = true)
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    (org.apache.spark.sql.types.StructType(evolved ++ added), widened.toSet)
  }

  /** Violation summary ("name (N rows)") per table-level CHECK whose
    * predicate fails (or is NULL — an unevaluable predicate is a dirty
    * row, not a free pass) for at least one row of `df`. One aggregate
    * job over the batch regardless of constraint count; empty checks
    * cost nothing.
    */
  private def checkViolations(df: DataFrame,
                              checks: Map[String, String]): Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    if (checks.isEmpty) Nil
    else {
      val named = checks.toSeq.sortBy(_._1)
      val aggs = named.map { case (n, e) =>
        sum(when(not(coalesce(expr(e), lit(false))), 1L).otherwise(0L)).as(n) }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      named.zipWithIndex.collect {
        case ((n, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
          s"$n (${row.getLong(i)} rows)"
      }
    }
  }

  // ------------------------------------------------------------------
  // Sharded per-file metadata: immutable segment files.
  //
  // A segment holds the per-file entries (path, min/max stats, bucket
  // id, row/byte counts, bloom bitsets) of the files ONE commit added,
  // written once under `_manifests/segments/` and never modified — the
  // manifest references segments by path and masks individual dead
  // files with per-segment tombstones, so a commit writes O(batch)
  // metadata instead of rewriting the O(table) file list with its
  // ~KB/file bloom payloads. Every commit publishes a DELTA on its
  // base manifest ([[publishManifestDelta]]): untouched refs carry
  // verbatim; a segment some of whose files the commit removed keeps
  // its ref with fresh tombstones while more than half alive, else its
  // survivors fold forward into the commit's fresh segment and its ref
  // drops (bounding tombstone accumulation); the commit's new or
  // edited entries go to the fresh segment. Invariant: every live
  // file has exactly one un-tombstoned segment ref.
  // ------------------------------------------------------------------

  private val SegHeader = "graft-segment-v1"

  /** Cap on a manifest's segment-ref count: hitting it folds every
    * live entry into the commit's fresh segment (amortized
    * O(files/cap) metadata per commit — see [[publishManifestDelta]]).
    */
  private val MaxManifestSegments = 32

  /** Per-file metadata of one segment entry. */
  private final case class SegEntry(file: String,
                                    stats: Seq[(String, FileStat)],
                                    bucket: Option[Int],
                                    rows: Long,
                                    bytes: Long,
                                    blooms: Seq[(String, Bloom)],
                                    nulls: Seq[(String, Long)] = Nil,
                                    ndvs: Seq[(String, Array[Byte])] = Nil,
                                    klls: Seq[(String, Array[Byte])] = Nil,
                                    sortedBy: Option[String] = None)

  private final case class SegmentData(entries: IndexedSeq[SegEntry])

  /** Process-wide parsed-segment cache — sound because segment files
    * are immutable (UUID-named, create-if-absent, never rewritten).
    * Bounded LRU (bloom payloads dominate, ~1 KB/file/column); repeat
    * manifest reads of an evolving table re-parse only NEW segments.
    */
  private val segmentCache =
    new java.util.LinkedHashMap[String, SegmentData](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, SegmentData]): Boolean = size > 256
    }

  /** Test observation point (MaintenanceSpec's counting-FileSystem
    * precedent, driver-side twin): when set, invoked with the segment
    * rel on EVERY [[cachedSegment]] call — cache hits included, because
    * the thin-maintenance contract is that untouched segments are never
    * even CONSULTED, not merely that their parse was amortized away.
    */
  private[sources] val segmentTouchHook =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](null)

  private def cachedSegment(f: FileSystem, tableDir: String,
                            rel: String): SegmentData = {
    val h = segmentTouchHook.get()
    if (h != null) h(rel)
    val key = f.makeQualified(new Path(tableDir, rel)).toString
    segmentCache.synchronized(Option(segmentCache.get(key))).getOrElse {
      val sd = parseSegment(f, new Path(tableDir, rel))
      segmentCache.synchronized(segmentCache.put(key, sd))
      sd
    }
  }

  /** One parsed manifest file ([[parseManifest]]): the version-level
    * `header` (schema, txns, checks, dvs, ledgers, specs, column
    * mapping, pending marker; its per-file maps are empty) plus what
    * the segments' contents are NOT needed to know — the segment refs
    * WITH their recorded live counts and the tombstone set.
    * [[assemble]] turns it into the whole-table view; the delta
    * publish carries its refs and tombstones verbatim; the planning
    * walk ([[liveEntriesCheckpointed]]) filters by them. O(manifest
    * file) driver work — no segment is parsed.
    */
  private[sources] final case class ManifestShell(header: Manifest,
      segRefs: Seq[(String, Int)], tombs: Set[(String, String)])

  /** The state before a table's first version (the change feed's
    * pre-history endpoint): no file and an empty schema.
    */
  private val PreHistory =
    Manifest(-1L, Nil, org.apache.spark.sql.types.StructType(Nil))

  /** The base of a table's first commit (or of an overwrite, which
    * carries no predecessor ref): no segment, no tombstone.
    */
  private val EmptyBase = ManifestShell(PreHistory, Nil, Set.empty)

  /** One live file's THIN planning row for the delta publishes:
    * identity, owning segment (the position its tombstone goes to if
    * this operation removes it), ledger rows/bytes, bucket id, sort
    * marker, and — when `withStats` — the PHYSICAL names of its
    * stat'd columns (purge inherits stat coverage from
    * the files it rewrites). No stat VALUES, no blooms: this is a
    * planning row, ~100 bytes however wide the table's metadata is.
    */
  private[sources] final case class LiveEntry(file: String, seg: String,
                                              bucket: Option[Int],
                                              rows: Long,
                                              bytes: Long,
                                              sortedBy: Option[String],
                                              statCols: Seq[String])

  /** The live-file walk every table DML and maintenance operation
    * plans with: evaluate `pred` over the newest covering metadata
    * checkpoint AS A SPARK JOB plus the cached metadata tail, and
    * collect ONLY the matching entries — O(matches + tail) driver
    * work, never O(table). With no covering checkpoint every segment
    * is tail: the same driver walk over cached segments that
    * [[readManifest]] runs. `pred` must be a serializable pure
    * function of the row (capture plain values, not enclosing state).
    * The caller's parse of the manifest (`base`) supplies the refs and
    * tombstones — the manifest file is not read again, and `cover` is
    * the checkpoint the caller resolved for it ([[coverOf]]).
    * `bloomCols` (physical names) hands `pred` the rows' bloom bitsets
    * of those columns, checkpoint and tail alike; with none the bloom
    * column is never decoded.
    */
  private[sources] def liveEntriesCheckpointed(
      spark: SparkSession, tableDir: String, base: ManifestShell,
      cover: CkptCover, pred: CkptFile => Boolean,
      withStats: Boolean = false, bloomCols: Set[String] = Set.empty)
      : Seq[LiveEntry] = {
    val f = fs(spark, tableDir)
    val segV = base.segRefs.map(_._1)
    val tombsV = base.tombs
    val CkptCover(ck, covered) = cover
    val segSet = segV.toSet
    val ws = withStats
    // sortedBy rides verbatim (PHYSICAL vocabulary, like the tail's
    // segment entries — consumers translate at their read version)
    def liveOf(r: CkptFile): LiveEntry = LiveEntry(r.file, r.seg,
      r.bucket, r.rows, r.bytes, r.sortedBy,
      if (ws) r.stats.keys.toSeq.sorted else Nil)
    // the serving version's rules over verbatim checkpoint rows: its
    // segment refs and its tombstones, then the caller's verdict
    def keep(segs: Set[String], tombs: Set[(String, String)])(r: CkptFile)
        : Boolean =
      segs.contains(r.seg) && !tombs.contains((r.seg, r.file)) && pred(r)
    val fromCkpt = ck.fold(Seq.empty[LiveEntry]) { ck =>
      cachedCkptRows(spark, ck) match {
        case Some(rows) =>
          // small checkpoint, rows already driver-resident — the SAME
          // verdict and projection, no Spark job
          rows.iterator.filter(keep(segSet, tombsV)).map(liveOf).toSeq
        case None =>
          // broadcast the membership sets — after a big purge the
          // tombstone set is O(removed files), too big to ship in every
          // task closure
          val segSetB = spark.sparkContext.broadcast(segSet)
          val tombsB = spark.sparkContext.broadcast(tombsV)
          ckptDataset(spark, ck, bloomCols)
            .filter { r: CkptFile => keep(segSetB.value, tombsB.value)(r) }
            .map(liveOf)(org.apache.spark.sql.Encoders.product[LiveEntry])
            .collect().toSeq
      }
    }
    // the tail: segments committed (or folded in) after the checkpoint,
    // parsed through the shared driver cache — the Delta json-tail role
    val fromTail = segV.filterNot(covered).iterator.flatMap { rel =>
      cachedSegment(f, tableDir, rel).entries.iterator
        .filter(e => !tombsV.contains((rel, e.file)))
        .map(ckptRowOf(rel, _, bloomCols.nonEmpty)).filter(pred).map(liveOf)
    }.toSeq
    // no dedup needed: a live file has exactly ONE live (segment,
    // file) position ([[publishManifestDelta]]'s invariant), and ckpt
    // rows and tail rows draw from disjoint segment sets
    fromCkpt ++ fromTail
  }

  /** Strict line reader shared by [[parseManifest]] and
    * [[parseSegment]]: the first line must be `header`, and every other
    * line is `kind=value`, handed to `onLine`. Anything else — another
    * format version, a line without `=`, a kind `onLine` does not know
    * or a field it cannot parse — is refused with an
    * IllegalArgumentException naming the file and the field, never
    * skipped: a skipped `removed=` line would bring a deleted file back.
    */
  private def parseLines(f: FileSystem, p: Path, header: String)
                        (onLine: (String, String) => Unit): Unit = {
    val r = new BufferedReader(
      new InputStreamReader(f.open(p), StandardCharsets.UTF_8))
    try {
      val h = r.readLine()
      require(h == header, s"$p: unsupported format version '$h' " +
        s"(this engine reads only '$header')")
      var line = r.readLine()
      while (line != null) {
        val eq = line.indexOf('=')
        val kind = if (eq > 0) line.substring(0, eq) else line
        try {
          require(eq > 0, "no '='")
          onLine(kind, line.substring(eq + 1))
        } catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"$p: malformed field '$kind' (${e.getMessage}) in line " +
              s"'${line.take(200)}'", e)
        }
        line = r.readLine()
      }
    } finally r.close()
  }

  /** Whether `s` can sit in one tab-separated metadata line: no tab and
    * none of the characters `readLine` ends a line at (`\n`, `\r`).
    * Writers record no stat for a value that fails this (the file just
    * does not prune) and refuse a name that fails it, so the strict
    * parse never meets a line a user value split.
    */
  private[sources] def fitsMetadataLine(s: String): Boolean =
    !s.exists(c => c == '\t' || c == '\n' || c == '\r')

  /** The `n` tab-separated fields of a metadata line's value. */
  private def fields(value: String, n: Int): Array[String] = {
    val a = value.split("\t", -1)
    require(a.length == n, s"expected $n tab-separated fields, found ${a.length}")
    a
  }

  private def unknownField(kind: String): Nothing =
    throw new IllegalArgumentException(s"unknown line kind '$kind'")

  /** Segment line format mirrors the manifest's per-file lines minus
    * the repeated file path: `file=` opens an entry, subsequent
    * `stat=`/`bucket=`/`sorted=`/`frow=`/`nulls=`/`ndv=`/`kll=`/`bloom=`
    * lines attach to it; every entry carries `frow=<rows>\t<bytes>`.
    */
  private def parseSegment(f: FileSystem, p: Path): SegmentData = {
    require(f.exists(p), s"missing metadata segment $p")
    val entries = ArrayBuffer.empty[SegEntry]
    var file: String = null
    val stats = ArrayBuffer.empty[(String, FileStat)]
    val blooms = ArrayBuffer.empty[(String, Bloom)]
    val nulls = ArrayBuffer.empty[(String, Long)]
    val ndvs = ArrayBuffer.empty[(String, Array[Byte])]
    val klls = ArrayBuffer.empty[(String, Array[Byte])]
    var bucket: Option[Int] = None
    var frow: Option[(Long, Long)] = None
    var sortedBy: Option[String] = None
    def flush(): Unit = if (file != null) {
      val (rows, bytes) = frow.getOrElse(throw new IllegalArgumentException(
        s"$p: entry '$file' has no field 'frow' (row and byte counts)"))
      entries += SegEntry(file, stats.toSeq, bucket, rows, bytes,
        blooms.toSeq, nulls.toSeq, ndvs.toSeq, klls.toSeq, sortedBy)
      stats.clear(); blooms.clear(); nulls.clear(); ndvs.clear()
      klls.clear()
      bucket = None; frow = None; sortedBy = None
    }
    parseLines(f, p, SegHeader) { (kind, v) =>
      if (kind == "file") { flush(); file = v }
      else {
        require(file != null, "no 'file' line opens the entry")
        kind match {
          case "stat" =>
            val Array(c, k, min, max) = fields(v, 4)
            stats += (c -> FileStat(k, min, max))
          case "bucket" => bucket = Some(v.toInt)
          case "sorted" => sortedBy = Some(v)
          case "frow" =>
            val Array(n, b) = fields(v, 2)
            frow = Some((n.toLong, b.toLong))
          case "nulls" =>
            val Array(c, n) = fields(v, 2)
            nulls += (c -> n.toLong)
          case "ndv" =>
            val Array(c, b64) = fields(v, 2)
            ndvs += (c -> java.util.Base64.getDecoder.decode(b64))
          case "kll" =>
            val Array(c, b64) = fields(v, 2)
            klls += (c -> java.util.Base64.getDecoder.decode(b64))
          case "bloom" =>
            val Array(c, mBits, k, b64) = fields(v, 4)
            val bs = java.util.Base64.getDecoder.decode(b64)
            val bb = java.nio.ByteBuffer.wrap(bs)
            blooms += (c -> Bloom(mBits.toInt, k.toInt,
              Array.fill(bs.length / 8)(bb.getLong)))
          case other => unknownField(other)
        }
      }
    }
    flush()
    SegmentData(entries.toIndexedSeq)
  }

  private def writeSegment(f: FileSystem, tableDir: String, version: Long,
                           entries: Seq[SegEntry]): String = {
    val rel = f"_manifests/segments/seg-v$version%06d-" +
      UUID.randomUUID().toString.take(8)
    val p = new Path(tableDir, rel)
    val w = new OutputStreamWriter(f.create(p, false), StandardCharsets.UTF_8)
    try {
      w.write(s"$SegHeader\n")
      entries.foreach { e =>
        w.write(s"file=${e.file}\n")
        e.stats.sortBy(_._1).foreach { case (c, st) =>
          w.write(s"stat=$c\t${st.kind}\t${st.min}\t${st.max}\n") }
        e.bucket.foreach(b => w.write(s"bucket=$b\n"))
        e.sortedBy.foreach(c => w.write(s"sorted=$c\n"))
        w.write(s"frow=${e.rows}\t${e.bytes}\n")
        e.nulls.sortBy(_._1).foreach { case (c, n) =>
          w.write(s"nulls=$c\t$n\n") }
        e.ndvs.sortBy(_._1).foreach { case (c, sk) =>
          w.write(s"ndv=$c\t" +
            java.util.Base64.getEncoder.encodeToString(sk) + "\n") }
        e.klls.sortBy(_._1).foreach { case (c, sk) =>
          w.write(s"kll=$c\t" +
            java.util.Base64.getEncoder.encodeToString(sk) + "\n") }
        e.blooms.sortBy(_._1).foreach { case (c, b) =>
          val bb = java.nio.ByteBuffer.allocate(b.words.length * 8)
          b.words.foreach(bb.putLong)
          w.write(s"bloom=$c\t${b.mBits}\t${b.k}\t" +
            java.util.Base64.getEncoder.encodeToString(bb.array()) + "\n")
        }
      }
    } finally w.close()
    // seed the cache: the entries just written ARE the parse result
    segmentCache.synchronized(segmentCache.put(
      f.makeQualified(p).toString, SegmentData(entries.toIndexedSeq)))
    rel
  }

  // ------------------------------------------------------------------
  // Distributed metadata checkpoint — the Delta-checkpoint-parquet
  // role. Driver-side segment assembly is fine to ~10^6 files (the
  // parse is parallel and LRU-cached), but a 10^7-file table's cold
  // read should not funnel every per-file row through one process,
  // and planning should not need the whole file list in driver
  // memory. A checkpoint materializes one version's per-file metadata
  // (path, stats, bucket id, row/byte/null counts, AND bloom bitsets —
  // blooms are ~KB/file/column so they dominate checkpoint bytes, but
  // parquet column pruning means only a walk with key probes ever
  // reads the bloom column; range scans never pay for it) as PARQUET
  // under `_manifests/checkpoints/`, built BY A SPARK JOB that parses
  // each segment in an executor — the driver never materializes the
  // union. Pruning then runs as a Spark filter over the checkpoint
  // reusing FileStat.overlaps (and the bloom/bucket probes) VERBATIM,
  // so checkpointed decisions are the manifest path's by construction,
  // and only the SURVIVING file names are collected: O(result), not
  // O(table).
  // ------------------------------------------------------------------

  /** One checkpointed file entry. `stats`/`nulls`/`blooms` keys are
    * PHYSICAL column names (a segment's vocabulary — readers translate
    * through the column mapping current at THEIR version, so one
    * checkpoint keeps serving across later renames/drops); `seg` is the
    * segment the entry came from.
    */
  final case class CkptFile(file: String, bucket: Option[Int],
                            rows: Long, bytes: Long,
                            stats: Map[String, FileStat],
                            nulls: Map[String, Long],
                            seg: String,
                            blooms: Map[String, Bloom] = Map.empty,
                            sortedBy: Option[String] = None)

  /** A segment entry as its checkpoint row — the one transcription the
    * checkpoint build and the planning walk's tail share;
    * `withBlooms = false` leaves the (dominant) bloom payloads out.
    */
  private def ckptRowOf(rel: String, e: SegEntry, withBlooms: Boolean)
      : CkptFile =
    CkptFile(e.file, e.bucket, e.rows, e.bytes, e.stats.toMap, e.nulls.toMap,
      rel, if (withBlooms) e.blooms.toMap else Map.empty, e.sortedBy)

  private def checkpointDir(tableDir: String, version: Long): Path =
    new Path(tableDir, f"_manifests/checkpoints/ckpt-v$version%06d")

  /** Segment count up to which [[writeMetadataCheckpoint]] folds the
    * segments on the driver instead of in a distributed job.
    */
  private val CkptDriverFoldMaxSegs = 16

  /** Materialize `version`'s (default: latest live) per-file metadata
    * as a parquet checkpoint: a verbatim transcription of the version's
    * segments, built distributed — one Spark task per segment, the
    * union never assembled in the driver — or on the driver for at
    * most [[CkptDriverFoldMaxSegs]] segments. Idempotent per version:
    * an existing checkpoint is reused, and an existing dir without its
    * `_covered_segs.txt` sidecar is refused, naming the dir. Concurrent
    * builders race on an atomic rename and the loser adopts the
    * winner's. Returns the checkpoint path.
    */
  def writeMetadataCheckpoint(spark: SparkSession, tableDir: String,
                              version: Option[Long] = None): String = {
    val f = fs(spark, tableDir)
    val v = version.orElse(latestLiveVersion(spark, tableDir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    val out = checkpointDir(tableDir, v)
    // every dir this writer installs holds its sidecar (written into the
    // tmp dir before the one rename), so an existing dir without one is
    // a torn install or a half-vacuumed dir — readers already skip it
    // ([[newestCheckpointAtOrBefore]]); refuse it rather than guess
    if (f.exists(out)) {
      require(f.exists(new Path(out, CoveredSegsFile)),
        s"checkpoint dir $out exists without its $CoveredSegsFile, so it " +
          "is not a complete checkpoint — delete the dir to rebuild it")
      return out.toString
    }
    val segRefs = parseManifest(spark, tableDir, v).segRefs.map(_._1)
    // hadoop conf rides to executors as plain pairs (Configuration is
    // Writable, not Java-serializable)
    val confPairs: Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq
    }
    val tdir = tableDir
    import spark.implicits._
    // entries VERBATIM — no tombstone filter, no cross-segment dedup:
    // a checkpoint is a transcription of the segments, and the rules
    // that depend on the serving version (its tombstones, its column
    // mapping, its retired set) belong to the READER. Baking the
    // build version's tombstones in would lose a file that a later
    // RESTORE re-covers through the same segment, and collapsing
    // duplicate refs would lose one that a later version serves
    // through its OTHER (un-tombstoned) reference.
    // one transcription ([[ckptRowOf]]) for BOTH the distributed build
    // and the small-table driver-side build below, so the two paths
    // cannot drift
    def ckptRowsOf(rel: String,
                   entries: IndexedSeq[SegEntry]): Iterator[CkptFile] =
      entries.iterator.map(ckptRowOf(rel, _, withBlooms = true))
    // Driver-side build for small segment counts (r18): dispatching a
    // distributed job to parse a handful of segment files costs more
    // (job scheduling + a full Hadoop-conf rebuild per task) than
    // parsing them on the driver through the immutable-segment cache —
    // which the table's next read warms from anyway. Large tables keep
    // the distributed build: the cutover is segment COUNT, the unit
    // the distributed job parallelizes over.
    val localSegs: Option[Seq[(String, IndexedSeq[SegEntry])]] =
      if (segRefs.size <= CkptDriverFoldMaxSegs)
        Some(segRefs.map(rel =>
          rel -> cachedSegment(f, tableDir, rel).entries))
      else None
    val ds = localSegs match {
      case Some(segs) =>
        spark.createDataset(segs.flatMap {
          case (rel, es) => ckptRowsOf(rel, es) })
      case None =>
        spark.sparkContext
          .parallelize(segRefs, math.min(segRefs.size, 64))
          .flatMap { rel =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confPairs.foreach { case (k, x) => conf.set(k, x) }
            val fsE = new Path(tdir).getFileSystem(conf)
            ckptRowsOf(rel, parseSegment(fsE, new Path(tdir, rel)).entries)
          }.toDS()
    }
    val tmp = new Path(tableDir,
      s"_manifests/checkpoints/.tmp-${UUID.randomUUID().toString.take(8)}")
    ds.write.parquet(tmp.toString)
    // covered-segment sidecar (underscore-prefixed: invisible to the
    // parquet reader) — readers learn the tail without a Spark job
    val segsOut = new OutputStreamWriter(
      f.create(new Path(tmp, CoveredSegsFile), true), StandardCharsets.UTF_8)
    try segRefs.foreach(rel => segsOut.write(s"$rel\n"))
    finally segsOut.close()
    // per-(segment, column) sketch-union sidecars, built in ONE job —
    // the second distributed reduction this checkpoint performs:
    // [[mergedNdv]]/[[mergedHistogram]] heapify one sketch PER FILE in
    // the driver, the same O(files) driver ceiling the checkpoint
    // removes for pruning, so the checkpoint job also folds each
    // segment's per-file sketches into ONE mergeable sketch per
    // (segment, column). For NDV the regrouping is free: HLL
    // max-register unions are associative, commutative and IDEMPOTENT
    // — unioning a twice-referenced file's identical sketch twice
    // leaves the registers bit-identical, so
    // [[mergedNdvCheckpointed]] estimates are [[mergedNdv]]'s exactly.
    // KLL quantile merges are WEIGHT-ACCUMULATING (a file folded twice
    // doubles its rows and skews every quantile), so the KLL fold is
    // only SERVED for segments no tombstone of the read version
    // touches — see [[mergedHistogramCheckpointed]] for why the
    // publish invariant makes that exactly-once. `all` records whether
    // EVERY entry in the segment carried the sketch — the poisoning
    // bit readers need without parsing the segment.
    def sketchRowsOf(rel: String, entries: IndexedSeq[SegEntry])
        : Iterator[(String, String, String, Boolean, Array[Byte])] = {
          val ndvCols = entries.iterator.flatMap(_.ndvs.iterator.map(_._1)).toSet
          val ndvRows = ndvCols.iterator.map { c =>
            val sks = entries.flatMap(_.ndvs.collectFirst {
              case (`c`, sk) => sk })
            val u = new org.apache.datasketches.hll.Union(12)
            sks.foreach(sk => u.update(
              org.apache.datasketches.hll.HllSketch.heapify(sk)))
            (rel, c, "ndv", sks.size == entries.size,
              u.getResult(org.apache.datasketches.hll.TgtHllType.HLL_8)
                .toCompactByteArray)
          }
          val kllCols = entries.iterator.flatMap(_.klls.iterator.map(_._1)).toSet
          val kllRows = kllCols.iterator.map { c =>
            val sks = entries.flatMap(_.klls.collectFirst {
              case (`c`, sk) => sk })
            val u = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance()
            sks.foreach(sk => u.merge(
              org.apache.datasketches.kll.KllDoublesSketch.heapify(
                org.apache.datasketches.memory.Memory.wrap(sk))))
            (rel, c, "kll", sks.size == entries.size, u.toByteArray)
          }
          // min/max/nullCount folds per (segment, column) — the
          // [[mergedRanges]] feed's pre-reduction. Kinds fold
          // separately (long vs double — the read side picks per the
          // column's CURRENT type); nullCount is a SUM, so like KLL
          // (and unlike idempotent HLL/min/max) the fold serves only
          // for tombstone-free covered segments. Payload rides the
          // shared sidecar line format as a UTF-8 TSV in the bytes
          // slot; an unparsable stat poisons via the `other` bit —
          // drop, never mis-bound.
          val statCols = entries.iterator.flatMap(_.stats.iterator.map(_._1)).toSet
          val rngRows = statCols.iterator.map { c =>
            val sts = entries.flatMap(_.stats.collectFirst {
              case (`c`, st) => st })
            val nullsHere = entries.flatMap(_.nulls.collectFirst {
              case (`c`, n) => n })
            val payload = scala.util.Try {
              val other = sts.exists(st =>
                st.kind != "long" && st.kind != "double")
              val longs = sts.filter(_.kind == "long")
              val doubles = sts.filter(_.kind == "double")
              Seq(
                if (other) "1" else "0",
                if (longs.isEmpty) "" else longs.map(_.min.toLong).min.toString,
                if (longs.isEmpty) "" else longs.map(_.max.toLong).max.toString,
                if (doubles.isEmpty) "" else doubles.map(_.min.toDouble).min.toString,
                if (doubles.isEmpty) "" else doubles.map(_.max.toDouble).max.toString,
                if (nullsHere.size == entries.size) "1" else "0",
                nullsHere.sum.toString).mkString("\t")
            }.getOrElse("1\t\t\t\t\t0\t0") // unparsable ⇒ other-poisoned
            (rel, c, "rng", sts.size == entries.size,
              payload.getBytes(StandardCharsets.UTF_8))
          }
          ndvRows ++ kllRows ++ rngRows
    }
    val sketchRows: Seq[(String, String, String, Boolean, Array[Byte])] =
      localSegs match {
        case Some(segs) =>
          segs.flatMap { case (rel, es) => sketchRowsOf(rel, es) }
        case None =>
          spark.sparkContext
            .parallelize(segRefs, math.min(segRefs.size, 64))
            .flatMap { rel =>
              val conf = new org.apache.hadoop.conf.Configuration(false)
              confPairs.foreach { case (k, x) => conf.set(k, x) }
              val fsE = new Path(tdir).getFileSystem(conf)
              sketchRowsOf(rel, parseSegment(fsE, new Path(tdir, rel)).entries)
            }.collect().toSeq // one row per (segment, column, kind), not per file
      }
    def writeSketchSidecar(name: String, kind: String): Unit = {
      val rows = sketchRows.filter(_._3 == kind)
      if (rows.isEmpty) return
      val sOut = new OutputStreamWriter(
        f.create(new Path(tmp, name), true), StandardCharsets.UTF_8)
      try rows.sortBy(r => (r._1, r._2)).foreach { case (rel, c, _, all, sk) =>
        sOut.write(s"$rel\t$c\t${if (all) 1 else 0}\t" +
          java.util.Base64.getEncoder.encodeToString(sk) + "\n")
      } finally sOut.close()
    }
    writeSketchSidecar(NdvSegsFile, "ndv")
    writeSketchSidecar(KllSegsFile, "kll")
    writeSketchSidecar(RngSegsFile, "rng")
    f.mkdirs(out.getParent)
    if (!f.rename(tmp, out)) {
      f.delete(tmp, true) // lost the race: the winner's checkpoint serves
      require(f.exists(out), s"checkpoint rename to $out failed")
    } else {
      // HDFS rename(src, dst) with dst an existing dir NESTS src inside
      // it instead of failing — if a concurrent builder won the slot
      // after our existence check, un-nest our tmp and adopt the winner
      val nested = new Path(out, tmp.getName)
      if (f.exists(nested)) f.delete(nested, true)
      else localSegs.foreach { segs =>
        // OUR build installed `out` from the driver-side rows — cache
        // them verbatim (the exact content the parquet write encoded)
        // for the checkpoint-planned walks; keyed on the installed
        // dir's mtime so a later rebuild at the same path re-reads
        ckptRowsCache.put((out.toString, f.getFileStatus(out).getModificationTime),
          segs.flatMap { case (rel, es) => ckptRowsOf(rel, es) }.toIndexedSeq)
      }
    }
    // backstop (ADVICE r13): whichever builder installed `out`, the dir
    // returned as "the checkpoint" must actually be sidecar-bearing
    require(f.exists(new Path(out, CoveredSegsFile)),
      s"checkpoint install at $out did not produce a sidecar-bearing dir")
    out.toString
  }

  /** Driver-side cache of a SMALL checkpoint's decoded rows, keyed by
    * (checkpoint dir, dir mtime) (ADVICE r18): a sidecar-bearing dir is
    * immutable, but a vacuum-and-rebuild at the SAME path (by another
    * process or a newer writer) is an anticipated scenario and gets a
    * new mtime, so this cache can never serve the pre-rebuild rows.
    * Populated ONLY by [[writeMetadataCheckpoint]] when (a) the
    * driver-side small-table build ran (so the rows were already
    * driver-resident — the cache never widens the driver's memory
    * envelope) and (b) OUR rename installed the dir (the cached rows
    * are byte-for-byte what the parquet file holds). The
    * checkpoint-planned walks serve from it without a Spark job; large
    * tables and checkpoints from other processes keep the distributed
    * read. Bounded access-ordered LRU.
    */
  private val CkptRowsCacheMax = 8
  private val ckptRowsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long), IndexedSeq[CkptFile]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), IndexedSeq[CkptFile]]): Boolean =
        size() > CkptRowsCacheMax
    })

  private def cachedCkptRows(spark: SparkSession, ck: Path): Option[IndexedSeq[CkptFile]] = {
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mt =
      try fs.getFileStatus(ck).getModificationTime
      catch { case _: java.io.FileNotFoundException => return None }
    Option(ckptRowsCache.get((ck.toString, mt)))
  }

  private val CoveredSegsFile = "_covered_segs.txt"
  private val NdvSegsFile = "_ndv_segs.txt"
  private val KllSegsFile = "_kll_segs.txt"
  private val RngSegsFile = "_rng_segs.txt"

  /** A per-(segment, column) sketch sidecar of a checkpoint
    * (`sidecar` ∈ [[NdvSegsFile]], [[KllSegsFile]], [[RngSegsFile]] —
    * same line format), if the checkpoint recorded one: (segRel, physCol) →
    * (allEntriesSketched, union sketch bytes). None for checkpoints
    * predating that sidecar — the caller falls back to the per-file
    * driver merge.
    */
  private def checkpointSketchSegs(f: FileSystem, ck: Path, sidecar: String)
      : Option[Map[(String, String), (Boolean, Array[Byte])]] = {
    val p = new Path(ck, sidecar)
    if (!f.exists(p)) return None
    val r = new BufferedReader(
      new InputStreamReader(f.open(p), StandardCharsets.UTF_8))
    // strict, as the manifest and segment parses are: a line this engine
    // did not write is refused naming the sidecar and the line — skipping
    // it would silently drop that column's served statistics
    try Some(Iterator.continually(r.readLine()).takeWhile(_ != null)
      .map { line =>
        try {
          val Array(rel, c, all, b64) = fields(line, 4)
          require(all == "0" || all == "1", s"flag '$all' is not 0 or 1")
          (rel, c) -> ((all == "1", java.util.Base64.getDecoder.decode(b64)))
        } catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"$p: malformed sketch line (${e.getMessage}) '${line.take(200)}'", e)
        }
      }.toMap)
    finally r.close()
  }

  /** The ONE clean/parsed fold walk all three checkpoint stat twins
    * (NDV, histogram, ranges) run — extracted so the part whose drift
    * would silently mis-serve statistics, the POISONING rule, exists
    * exactly once. Resolves the newest covering checkpoint and its
    * `sidecar`, splits the read version's segments into fold-served
    * (covered ∧ no tombstone of the read version touches them — their
    * entries are all live, and by the one-live-ref publish invariant
    * live nowhere else, so a weight-accumulating fold covers each file
    * exactly once) and parsed (dirty + tail, live entries through the
    * shared driver cache), and produces per PHYSICAL column the
    * fold-served segments' sidecar payloads plus the live parsed
    * entries' per-file values. Poisoning per column: a fold-served
    * segment's `all=false` bit, a fold-served segment MISSING the
    * column's line while any other segment carries it, or a live
    * parsed entry whose `entryValue` is None — any live file not
    * covered drops the column. Retired columns drop. Returns None
    * when no such sidecar serves this version — callers fall back to
    * the per-file fold.
    */
  private def checkpointColumnFold[P](spark: SparkSession, tableDir: String,
      version: Long, sidecar: String)
      (entryCols: SegEntry => Iterator[String])
      (entryValue: (SegEntry, String) => Option[P])
      : Option[(Map[String, (Seq[Array[Byte]], Seq[P])],
                Map[String, String])] = {
    val f = fs(spark, tableDir)
    val cv = newestCheckpointAtOrBefore(f, tableDir, version)
      .getOrElse(return None)
    val ck = checkpointDir(tableDir, cv)
    val segs = checkpointSketchSegs(f, ck, sidecar).getOrElse(return None)
    val covered = checkpointCoveredSegs(f, ck)
    val base = parseManifest(spark, tableDir, version)
    val segV = base.segRefs.map(_._1)
    val tombsV = base.tombs
    val retiredV = base.header.retiredCols.toSet
    val dirtySegs = tombsV.iterator.map(_._1).toSet
    val (clean, parsed) = segV.partition(rel =>
      covered.contains(rel) && !dirtySegs.contains(rel))
    val sidecarBySeg = segs.groupBy { case ((r0, _), _) => r0 }
    val payloads = scala.collection.mutable.Map
      .empty[String, ArrayBuffer[Array[Byte]]]
    val values = scala.collection.mutable.Map
      .empty[String, ArrayBuffer[P]]
    val poisoned = scala.collection.mutable.HashSet.empty[String]
    val cols = scala.collection.mutable.HashSet.empty[String]
    clean.foreach { rel =>
      sidecarBySeg.getOrElse(rel, Map.empty).foreach {
        case ((_, c), (all, payload)) =>
          cols += c
          if (!all) poisoned += c
          else payloads.getOrElseUpdate(c, ArrayBuffer.empty) += payload
      }
      // a clean segment with NO line for a column some other segment
      // carries: its entries all lack the stat → poisoned below
      // (the per-segment coverage check over cleanCols)
    }
    val cleanCols = clean.map(rel =>
      rel -> sidecarBySeg.getOrElse(rel, Map.empty).keysIterator
        .map(_._2).toSet).toMap
    val parsedEntries = parsed.map(rel =>
      rel -> cachedSegment(f, tableDir, rel).entries
        .filter(e => !tombsV.contains((rel, e.file))))
    parsedEntries.foreach { case (_, entries) =>
      cols ++= entries.iterator.flatMap(entryCols)
    }
    cols.foreach { c =>
      // every fold-served segment must carry c with all=true …
      clean.foreach { rel =>
        if (!cleanCols(rel).contains(c)) poisoned += c }
      // … and every live parsed entry must carry a value for c
      parsedEntries.foreach { case (_, entries) =>
        entries.foreach { e =>
          entryValue(e, c) match {
            case Some(p) =>
              values.getOrElseUpdate(c, ArrayBuffer.empty) += p
            case None => poisoned += c
          }
        }
      }
    }
    Some((cols.iterator
      .filter(c => !poisoned.contains(c) && !retiredV.contains(c))
      .map(c => c -> ((payloads.getOrElse(c, ArrayBuffer.empty).toSeq,
        values.getOrElse(c, ArrayBuffer.empty).toSeq)))
      .toMap,
      base.header.logicalOf))
  }

  /** [[mergedNdv]]'s checkpoint-served twin — table-level NDV per
    * LOGICAL column at `version` in O(segments + tail files) driver
    * work instead of O(files): fold-served segments contribute their
    * pre-reduced per-segment union (one heapify per segment), dirty
    * and tail segments contribute per-file ([[checkpointColumnFold]]
    * owns the split and the poisoning rule). HLL unions are
    * associative/idempotent so the regrouped union's registers — and
    * estimate — are [[mergedNdv]]'s bit-for-bit. None when no
    * NDV-sidecar checkpoint serves this version — callers fall back to
    * [[mergedNdv]].
    */
  private[graft] def mergedNdvCheckpointed(spark: SparkSession,
                                           tableDir: String,
                                           version: Long)
      : Option[Map[String, Long]] =
    checkpointColumnFold[Array[Byte]](spark, tableDir, version, NdvSegsFile)(
      e => e.ndvs.iterator.map(_._1))(
      (e, c) => e.ndvs.collectFirst { case (`c`, sk) => sk })
      .map { case (byCol, revV) =>
        byCol.iterator.flatMap { case (c, (folds, perFile)) =>
          // a sketch that decodes from base64 but is NOT a valid HLL
          // image (sidecar corruption, a future format) must POISON
          // the column, never crash planning — Try covers the union
          scala.util.Try {
            val u = new org.apache.datasketches.hll.Union(12)
            (folds ++ perFile).foreach(sk =>
              u.update(org.apache.datasketches.hll.HllSketch.heapify(sk)))
            revV.getOrElse(c, c) -> math.round(u.getEstimate)
          }.toOption
        }.toMap
      }

  /** [[mergedHistogram]]'s checkpoint-served twin — table-level
    * equi-height histograms per LOGICAL column at `version` in
    * O(segments + tail files) driver work instead of O(files): the
    * lift [[mergedNdvCheckpointed]] gives NDV, for the LAST remaining
    * O(files) driver fold. The extra care KLL needs beyond the HLL
    * twin: KLL merges are WEIGHT-ACCUMULATING — a file folded twice
    * doubles its rows and silently skews every quantile — so unlike
    * the idempotent HLL union, the per-segment folds may only serve
    * when each live file reaches the merge EXACTLY ONCE. That
    * exactness is structural, not assumed:
    *   - [[publishManifestDelta]] gives every live file exactly one
    *     un-tombstoned segment ref in every manifest it writes, and
    *     every commit path — append, overwrite, MERGE, maintenance,
    *     metadata-only commits, restore — funnels through it;
    *   - a sidecar fold is served only for segments the checkpoint
    *     covered that NO tombstone of the read version touches: such
    *     a segment's entries are ALL live through it, and by the
    *     invariant none of those files is live through any other
    *     segment — the fold contributes each exactly once;
    *   - every other live file reaches the merge through the per-file
    *     parse of its (dirty or tail) segment with tombstones
    *     applied, contributing its recorded sketch exactly once.
    * Poisoning is preserved per column: ANY live file without a
    * sketch drops the column (a clean segment's `all=false` bit, a
    * clean segment missing the column's line, or a parsed live entry
    * with no sketch) — a partial merge mis-bins silently. An invalid
    * sketch image poisons its column, never crashes planning. Both
    * paths merge the SAME immutable per-file sketch bytes, so bin
    * bounds can differ from [[mergedHistogram]]'s only within KLL's
    * rank-error guarantee (merge regrouping randomness) — and are
    * bit-identical while the sketches are in exact mode. None when no
    * KLL-sidecar checkpoint serves this version — callers fall back to
    * [[mergedHistogram]].
    */
  private[graft] def mergedHistogramCheckpointed(spark: SparkSession,
                                                 tableDir: String,
                                                 version: Long,
                                                 numBins: Int,
                                                 ndvs0: Option[Map[String, Long]] = None)
      : Option[Map[String, org.apache.spark.sql.catalyst.plans.logical.Histogram]] =
    checkpointColumnFold[Array[Byte]](spark, tableDir, version, KllSegsFile)(
      e => e.klls.iterator.map(_._1))(
      (e, c) => e.klls.collectFirst { case (`c`, sk) => sk })
      .map { case (byCol, revV) =>
        // the per-bin NDV companion rides the NDV sidecar when it
        // exists (estimates bit-identical to the fallback path's —
        // the HLL idempotence argument); absent, the bin-height bound
        // applies, exactly as [[mergedHistogram]] falls back. Callers
        // that already hold the table's NDV map (the relation's
        // columnNdvs) pass it in — the second fold walk is skipped.
        val ndvs = ndvs0.getOrElse(
          mergedNdvCheckpointed(spark, tableDir, version)
            .getOrElse(Map.empty[String, Long]))
        byCol.iterator.flatMap { case (c, (folds, perFile)) =>
          // a sketch that is not a valid KLL image (sidecar
          // corruption, a future format) must POISON the column,
          // never crash planning — Try covers the heapify+merge
          scala.util.Try {
            val merged = (folds ++ perFile)
              .foldLeft(org.apache.datasketches.kll.KllDoublesSketch
                .newHeapInstance()) { (a, sk) =>
                a.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
                  org.apache.datasketches.memory.Memory.wrap(sk)))
                a
              }
            val logical = revV.getOrElse(c, c)
            histogramFromMerged(merged, ndvs.get(logical), numBins)
              .map(logical -> _)
          }.toOption.flatten
        }.toMap
      }

  /** [[mergedRanges]]' checkpoint-served twin — table-level
    * (min, max, nullCount) per LOGICAL column at `version` in
    * O(segments + tail files) driver work: with this, EVERY CBO feed
    * (rowCount ledger, NDV, histogram, range/nulls) serves from
    * checkpoint-pre-reduced metadata. Min/max folds are idempotent
    * (a duplicate ref cannot widen a correct bound), but the
    * nullCount component is a SUM — so like the KLL twin, folds serve
    * only for covered segments no tombstone of the read version
    * touches, and exactly-once coverage follows from the
    * one-live-ref publish invariant (see
    * [[mergedHistogramCheckpointed]]). Poisoning mirrors
    * [[mergedRanges]] per column: any live file without the stat
    * drops the column; a non-long/double kind anywhere drops it; the
    * nullCount gates independently (any file without a null count ⇒
    * nulls = None, range still serves). None when no range-sidecar
    * checkpoint serves this version — callers fall back to the
    * per-file fold.
    */
  private[graft] def mergedRangesCheckpointed(spark: SparkSession,
                                              tableDir: String,
                                              version: Long)
      : Option[Map[String, (String, String, Option[Long])]] = {
    val eligible = rangeEligible(
      parseManifest(spark, tableDir, version).header.schema)
    // per-physical-column accumulator of the partial folds
    final class Acc {
      var other = false
      var lmin: Option[Long] = None; var lmax: Option[Long] = None
      var dmin: Option[Double] = None; var dmax: Option[Double] = None
      var nallOk = true; var nsum = 0L
      def addLong(a: Long, b: Long): Unit = {
        lmin = Some(lmin.fold(a)(math.min(_, a)))
        lmax = Some(lmax.fold(b)(math.max(_, b)))
      }
      def addDouble(a: Double, b: Double): Unit = {
        dmin = Some(dmin.fold(a)(math.min(_, a)))
        dmax = Some(dmax.fold(b)(math.max(_, b)))
      }
    }
    checkpointColumnFold[(FileStat, Option[Long])](
      spark, tableDir, version, RngSegsFile)(
      e => e.stats.iterator.map(_._1))(
      (e, c) => e.stats.collectFirst { case (`c`, st) =>
        st -> e.nulls.collectFirst { case (`c`, n) => n } })
      .map { case (byCol, revV) =>
        byCol.iterator.flatMap { case (c, (folds, perFile)) =>
          // an undecodable payload or stat drops the column (Try),
          // never guesses a bound
          scala.util.Try {
            val a = new Acc
            folds.foreach { payload =>
              // TSV payload: other, lmin, lmax, dmin, dmax, nall, nsum
              // (split with -1: trailing empty fields must survive)
              val p = new String(payload, StandardCharsets.UTF_8)
                .split("\t", -1)
              if (p(0) == "1") a.other = true
              if (p(1).nonEmpty) a.addLong(p(1).toLong, p(2).toLong)
              if (p(3).nonEmpty) a.addDouble(p(3).toDouble, p(4).toDouble)
              if (p(5) != "1") a.nallOk = false
              a.nsum += p(6).toLong
            }
            perFile.foreach { case (st, nulls) =>
              st.kind match {
                case "long" => a.addLong(st.min.toLong, st.max.toLong)
                case "double" => a.addDouble(st.min.toDouble, st.max.toDouble)
                case _ => a.other = true
              }
              nulls match {
                case Some(n) => a.nsum += n
                case None => a.nallOk = false
              }
            }
            val logical = revV.getOrElse(c, c)
            for {
              dt <- eligible.get(logical)
              mnmx <- foldRange(dt, a.other,
                for (x <- a.lmin; y <- a.lmax) yield (x, y),
                for (x <- a.dmin; y <- a.dmax) yield (x, y))
            } yield logical -> ((mnmx._1, mnmx._2,
              if (a.nallOk) Some(a.nsum) else None))
          }.toOption.flatten
        }.toMap
      }
  }

  /** The segment refs a checkpoint transcribed, from its sidecar.
    * Callers reach only dirs [[newestCheckpointAtOrBefore]] selected for
    * holding it, so a missing sidecar means the dir lost it since (a
    * vacuum deleting it) and is refused, naming the dir.
    */
  private def checkpointCoveredSegs(f: FileSystem, ck: Path): Set[String] = {
    val sidecar = new Path(ck, CoveredSegsFile)
    require(f.exists(sidecar),
      s"checkpoint dir $ck lost its $CoveredSegsFile while being read")
    val r = new BufferedReader(
      new InputStreamReader(f.open(sidecar), StandardCharsets.UTF_8))
    try Iterator.continually(r.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).toSet
    finally r.close()
  }

  /** Newest SERVABLE checkpointed version at or below `v`, from the
    * checkpoint dir listing — O(checkpoints), no manifest reads. Only
    * sidecar-bearing dirs count: a sidecar-less dir is a crashed
    * builder's torn rename or a dir a crashed vacuum left half deleted.
    */
  private def newestCheckpointAtOrBefore(f: FileSystem, tableDir: String,
                                         v: Long): Option[Long] = {
    val root = new Path(tableDir, "_manifests/checkpoints")
    if (!f.exists(root)) None
    else f.listStatus(root).iterator
      .filter(s => s.getPath.getName.startsWith("ckpt-v") &&
        f.exists(new Path(s.getPath, CoveredSegsFile)))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("ckpt-v").toLong).toOption)
      .filter(_ <= v).maxOption
  }

  /** The newest servable checkpoint at or below a version, resolved
    * once per planning call: its dir and the segment refs it
    * transcribed (no checkpoint: every segment is tail).
    */
  private[sources] final case class CkptCover(dir: Option[Path],
                                              covered: Set[String])

  private[sources] def coverOf(spark: SparkSession, tableDir: String, v: Long)
      : CkptCover = {
    val f = fs(spark, tableDir)
    val ck = newestCheckpointAtOrBefore(f, tableDir, v)
      .map(checkpointDir(tableDir, _))
    CkptCover(ck, ck.fold(Set.empty[String])(checkpointCoveredSegs(f, _)))
  }

  /** The live entries `conjuncts` cannot rule out: the one pruning
    * verdict compiled in physical column names (the segments'
    * vocabulary) and evaluated inside the planning walk, which decodes
    * the bloom bitsets of the key-checked columns only. Whether a
    * column may hold blooms is read off the driver-cached checkpoint
    * rows and the tail; checkpoint rows not on the driver may, so
    * their walk job reads them — no discovery job runs first.
    * `keepUnbucketed` keeps every file without a bucket id, whatever
    * the verdict (the aligned family's refusal must see them).
    */
  private[sources] def liveEntriesUnder(spark: SparkSession,
      tableDir: String, base: ManifestShell, cover: CkptCover,
      conjuncts: Seq[Prune.Conjunct], withStats: Boolean = false,
      keepUnbucketed: Boolean = false): Seq[LiveEntry] = {
    val f = fs(spark, tableDir)
    def hasBlooms(p: String): Boolean =
      cover.dir.exists(cachedCkptRows(spark, _)
        .forall(_.exists(_.blooms.contains(p)))) ||
        base.segRefs.map(_._1).filterNot(cover.covered).exists(rel =>
          cachedSegment(f, tableDir, rel).entries.exists(_.blooms.exists(_._1 == p)))
    val v = compileVerdict(Some(spark), base.header, conjuncts, physical = true,
      hasBlooms)
    liveEntriesCheckpointed(spark, tableDir, base, cover,
      r => (keepUnbucketed && r.bucket.isEmpty) || v.keeps(r), withStats,
      v.bloomCols)
  }

  /** The checkpoint parquet as a typed Dataset, read with
    * [[CkptFile]]'s own encoder schema — every checkpoint is a
    * `Dataset[CkptFile]` write, so no footer inference runs.
    *
    * The blooms column keeps only the `bloomCols` entries, and with
    * none it is REPLACED by an empty-map literal, so the scan never
    * reads the stored bloom bytes — bloom payloads dominate checkpoint
    * bytes, and a walk whose verdict never consults a bloom must not
    * deserialize per-file KBs (only key probes opt in, for their own
    * columns).
    */
  private def ckptDataset(spark: SparkSession, ck: Path,
                          bloomCols: Set[String])
      : org.apache.spark.sql.Dataset[CkptFile] = {
    import org.apache.spark.sql.functions.{col, map_filter, typedlit}
    import spark.implicits._
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[CkptFile].schema)
      .parquet(ck.toString)
      .withColumn("blooms",
        if (bloomCols.isEmpty) typedlit(Map.empty[String, Bloom])
        else map_filter(col("blooms"), (c, _) => c.isin(bloomCols.toSeq: _*)))
      .as[CkptFile]
  }

  /** The checkpoint planner: file pruning over the NEWEST checkpoint at
    * or below the read version PLUS the metadata tail written since —
    * the Delta checkpoint+json-tail model, so a checkpoint does not have
    * to exist per version — through the one planning walk
    * [[liveEntriesCheckpointed]] (a Spark job over the checkpoint rows,
    * none when they are driver-cached, and the cached driver parse for
    * the tail). Only surviving file names reach the driver: planning a
    * selective query over a 10^7-file table collects the matching
    * files, never the table's.
    *
    * The verdict is the one pruning verdict ([[compileVerdict]]) over
    * the conjunction of the key probes `(column, keys)` — OR within a
    * column, AND across columns, the superset semantics of
    * `c1 IN (…) AND c2 IN (…)` — and the inclusive RANGE conjuncts
    * `(column, lo, hi)`; the row filter owns exactness. The empty
    * conjunction keeps every live file. The covering checkpoint is
    * resolved once per call; the manifest-path twin is
    * [[pruneForProbes]] seeded with `pruneFiles(m, ranges)`.
    */
  def pruneFilesCheckpointedProbes(spark: SparkSession, tableDir: String,
                                   version: Option[Long],
                                   probes: Seq[(String, Seq[Any])],
                                   ranges: Seq[(String, Any, Any)] = Nil)
      : Seq[String] = {
    probes.foreach { case (c, ks) =>
      require(ks.nonEmpty, s"probe on '$c' needs at least one key") }
    require(probes.map(_._1).distinct.size == probes.size,
      s"duplicate probe columns: ${probes.map(_._1)}")
    val v = version.orElse(latestLiveVersion(spark, tableDir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    val cover = coverOf(spark, tableDir, v)
    require(cover.dir.isDefined, s"no metadata checkpoint for " +
      s"$tableDir at or below v$v — run writeMetadataCheckpoint")
    val base = parseManifest(spark, tableDir, v)
    liveEntriesUnder(spark, tableDir, base, cover,
      Prune.of(base.header.schema, probes, ranges)).map(_.file).distinct.sorted
  }

  /** The checkpoint-planned serving read, O(result) in the driver end
    * to end: version resolution and liveness read the manifest file's
    * header only, planning runs [[pruneFilesCheckpointedProbes]] (key
    * probes ∧ range conjuncts in one checkpoint job; no conjunct serves
    * every live file), and schema, column mapping and deletion vectors
    * apply through the ordinary [[readFiles]] path. The row filter
    * re-applies the conjunction exactly — `isin` per probe, inclusive
    * bounds per range; pruning is a scan reducer, never a semantic
    * change — and an all-pruned probe serves the schema'd empty frame
    * (the recorded schema types the zero-file case).
    */
  def readVersionCheckpointedProbes(spark: SparkSession, tableDir: String,
                                    probes: Seq[(String, Seq[Any])],
                                    version: Option[Long] = None,
                                    ranges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    probes.foreach { case (c, ks) =>
      require(ks.nonEmpty && ks.forall(_ != null),
        s"probe keys on '$c' must be non-empty and non-null (SQL NULL " +
          "never equals NULL — an isin probe cannot match it, and the " +
          "index probes cannot hash it)")
    }
    val head = resolveForRead(spark, tableDir, version).header
    val keep = pruneFilesCheckpointedProbes(
      spark, tableDir, Some(head.version), probes, ranges)
    val keyed = probes.foldLeft(readFiles(spark, tableDir, head, keep)) {
      case (df, (c, ks)) => df.filter(col(c).isin(ks: _*))
    }
    // the row filter re-applies the range conjuncts with the planner's
    // INCLUSIVE bounds — pruning is a scan reducer, never the filter
    ranges.foldLeft(keyed) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  /** STORAGE-PARTITIONED (shuffle-free) bucketed equi-join — the
    * biggest avoidable cost of a 100 TB fact⋈fact join (VERDICT r14
    * task #3): two graft tables hash-clustered on their join keys
    * with the SAME bucket count already agree on row placement
    * (bucket = pmod(xxhash64(key at its recorded type), n), the one
    * function every bucketed write uses), yet a planner-driven join
    * re-shuffles BOTH sides because the V1 relation cannot report its
    * partitioning. This operator exploits the layout directly — the
    * Iceberg/Spark storage-partitioned-join shape, composed
    * explicitly: per bucket id, each side's files read as ONE
    * partition (vectorized parquet scan + deletion-vector masking via
    * the ordinary [[readFiles]] path, coalesced — a narrow
    * dependency, no shuffle), the two single-partition-per-bucket
    * unions zipped partition-wise, and an in-task hash join emits the
    * matches. ZERO `Exchange` anywhere in the produced plan
    * (BucketedLayoutSpec pins it), network cost zero, wall-clock =
    * the largest bucket pair.
    *
    * Semantics: equi-join with `joinType` inner (default), left_outer,
    * full_outer (r18), left_semi or left_anti — all with SQL NULL
    * never matching (`key IS NOT NULL` pushed into every scan that
    * may drop the row: both sides for inner/semi, the right side only
    * for outer/anti, NEITHER side for full_outer — its NULL-key rows
    * on either side are output null-extended, exactly Spark's own
    * semantics for these types; leftouter/anti NULL-key left rows are
    * output with NULL right columns, resp. kept as never-matching
    * survivors). Output columns: left ++ right for
    * inner/left_outer/full_outer (right columns nullable for outer,
    * BOTH nullable for full_outer), left schema only for semi/anti;
    * semi emits a matched row ONCE regardless of match multiplicity.
    * Right-ish joins: swap the sides.
    * Refused: unbucketed sides, mismatched bucket counts, a key that
    * is not the side's bucket key, unclustered files (appends since
    * the last re-cluster — run [[compactBucketed]] first; placing
    * them would need exactly the shuffle this operator exists to
    * avoid), differing key types (the bucket hash is typed), and
    * float/double keys (±0.0/NaN equality would need the planner's
    * normalization; real bucket keys are int/long/string/date).
    *
    * Scale contract (the same one Spark documents for its own
    * storage-partitioned joins): with `strategy = "hash"` the RIGHT
    * side's bucket must fit an executor's memory (it is hash-built
    * per task — pass the smaller table right); `strategy = "merge"`
    * lifts that bound — both buckets in-task-sort (Spark's external,
    * SPILLABLE sorter; still zero Exchange) and a streaming merge
    * join holds only ONE equal-key group of the right side, so the
    * memory bound drops from O(right bucket) to O(max duplicates per
    * key). The default `strategy = "auto"` picks per join from the
    * manifest BYTE LEDGER (`fileBytes` — no file is touched): merge
    * when the largest right bucket exceeds `graft.spj.buildBytesMax`
    * (default 256 MiB), hash otherwise. Skew is bounded by the bucket
    * layout itself — numBuckets is the table-design-time knob; AQE
    * cannot split a storage-aligned task, which is the documented
    * trade-off of every SPJ. Each side still serves snapshot
    * isolation (version-pinned manifests) and dv masks apply exactly.
    */
  /** Inner per-bucket executed plans of the LAST aligned operator
    * ([[bucketAlignedJoin]] / [[bucketAlignedAggregate]]) built on
    * this thread — the frame those operators return is just an
    * ExistingRDD scan, so the REAL scans (vectorized parquet reads,
    * dv-mask joins, in-task sorts) are invisible to its plan; they
    * are recorded here at build time for [[alignedShuffleFree]].
    * The ThreadLocal binds the recording to the CALLER's build
    * window (overwritten by the next aligned build on this thread);
    * the queue inside it is concurrent because the operators build
    * their per-bucket plans on a pool ([[alignedBucketUnion]]) —
    * each worker appends into the caller's sink.
    */
  private val alignedInnerPlans =
    new ThreadLocal[java.util.concurrent.ConcurrentLinkedQueue[String]] {
      override def initialValue()
          : java.util.concurrent.ConcurrentLinkedQueue[String] =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
    }
  /** The witness sink every per-bucket/per-file plan of one aligned
    * build appends to — created per operator invocation, captured on
    * the caller thread, passed into the pool workers.
    */
  private type PlanSink = java.util.concurrent.ConcurrentLinkedQueue[String]
  private def resetAlignedPlans(): PlanSink = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    alignedInnerPlans.set(q)
    q
  }
  private def recordAlignedPlan(sink: PlanSink,
      qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    sink.add(qe.executedPlan.toString)
  private def recordedPlans(): List[String] = {
    val it = alignedInnerPlans.get.iterator()
    var out = List.empty[String]
    while (it.hasNext) out ::= it.next()
    out
  }

  /** The per-bucket RDD union every aligned operator sits on, with
    * the bucket RDDs CONSTRUCTED CONCURRENTLY on the shared pool:
    * plan construction (analyze + optimize + physical planning of
    * each bucket's scan — one plan per FILE on the skip-sort path)
    * is pure driver CPU, and a big sorted table pays it per file;
    * serializing it would make the driver the bottleneck long before
    * any executor works. Bucket order is preserved (partition i of
    * the union IS bucket i); empty buckets get an explicit
    * one-empty-partition RDD so alignment never slips. Safe because
    * plan construction touches only thread-safe session state (the
    * same concurrency Spark serves multi-threaded drivers) and the
    * witness sink is a concurrent queue.
    */
  /** Dedicated bounded pool for aligned plan construction (ADVICE
    * r15): the build mixes driver CPU with per-file parquet footer
    * I/O on the skip-sort path, and running that on
    * `ExecutionContext.global` could starve any other code sharing
    * the global pool. Daemon threads; bounded by the driver's cores
    * (plan construction is CPU-dominant, and the I/O latency it does
    * carry is already overlapped across the pool's width).
    */
  private lazy val alignedPlanPool: scala.concurrent.ExecutionContext = {
    val n = math.max(4, Runtime.getRuntime.availableProcessors())
    val tf = new java.util.concurrent.ThreadFactory {
      private val i = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-aligned-plan-${i.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(n, tf))
  }

  private def alignedBucketUnion(spark: SparkSession, n: Int)(
      build: Int => Option[org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow]])
      : org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow] =
    alignedUnion(spark, (0 until n).map(b => () => build(b)))

  /** The concurrent-build union under every aligned operator: each
    * thunk plans one task's scan on the bounded pool; `None` thunks
    * become explicit one-empty-partition RDDs so positional alignment
    * (the join's zip contract: partition i IS bucket i) never slips.
    */
  private def alignedUnion(spark: SparkSession,
      builds: Seq[() => Option[org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow]]])
      : org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = alignedPlanPool
    // a generous FINITE timeout (vs the Duration.Inf this replaces,
    // ADVICE r15): planning a bucket is seconds at worst, so an hour
    // only ever fires on a genuinely hung filesystem call — and then
    // a loud diagnostic beats a silently wedged driver thread
    val perTask = try Await.result(
      Future.sequence(builds.toVector.map(b => Future(b()))),
      1.hour)
    catch { case e: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException(
        s"aligned plan construction (${builds.size} tasks) did not " +
          "complete within 1 hour — a filesystem call is likely hung", e)
    }
    spark.sparkContext.union(perTask.map {
      case Some(rdd) => rdd
      case None => spark.sparkContext.parallelize(
        Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
    })
  }

  /** Sub-bucket parallelism for the FOLD operators (VERDICT r15 task
    * #4): with `graft.aligned.splitBucketBytes = B > 0`, a bucket
    * whose ledger bytes exceed B plans ⌈bytes/B⌉ (≤ 32) tasks instead
    * of one straggler. The split is KEY-DISJOINT, not file-wise: every
    * sub-task scans the bucket's files but keeps only the keys whose
    * `pmod(xxhash64(key), k)` equals its index, so each sub-task folds
    * COMPLETE groups — final results, nothing partial to merge, zero
    * Exchange, and NULL keys (xxhash64 of NULL is the seed) land whole
    * in one sub-task. The price is deliberate and bounded: the
    * oversized bucket's bytes are scanned k times — for the
    * sort/fold-dominated shapes this trades bounded re-read for
    * eliminating the one task AQE cannot split (storage-aligned tasks
    * are invisible to skew-join handling). Joins/as-of/running stay
    * single-task per bucket: their semantics need the whole key
    * stream in one ordered pass. Off by default — plans are unchanged
    * unless the operator is told the budget.
    */
  private def subBucketSplits(spark: SparkSession, m: Manifest,
                              files: Seq[String]): Int = {
    val budget = graft.GraftConf.long(spark, "graft.aligned.splitBucketBytes", 0L)
    if (budget <= 0) 1
    else {
      val bytes = files.iterator.map(m.fileBytes).sum
      math.min(32L, math.max(1L, (bytes + budget - 1) / budget)).toInt
    }
  }

  /** The complementary key filter of sub-task `i` of `k` (AND-ed onto
    * any range-window row filter) — [[subBucketSplits]]'s other half.
    */
  private def subBucketFilter(key: String, i: Int, k: Int,
      rowF: Option[org.apache.spark.sql.Column])
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    if (k == 1) rowF
    else {
      val pred =
        pmod(xxhash64(col(s"`$key`")), lit(k.toLong)).cast("int") === lit(i)
      Some(rowF.fold(pred)(_ && pred))
    }
  }

  /** The witness behind every "zero shuffle" claim the aligned
    * operators make: a check on the RETURNED frame's plan alone is
    * vacuous (it is only an ExistingRDD scan — the per-bucket scans
    * hide inside the RDD lineage), so this inspects the outer plan
    * AND every inner per-bucket plan recorded while `df` was built.
    * True iff none carries a SHUFFLE (`Exchange` as a standalone node
    * name; `BroadcastExchange`/`ReusedExchange` are allowed — a small
    * dv mask broadcasts by design, and the operators' promise is zero
    * shuffle of TABLE data). Call on the same thread, right after
    * building the frame — the next aligned build overwrites the
    * recording. A dv mask forced past the broadcast threshold turns
    * the inner mask join into a genuine shuffle, and this witness
    * reports it (BucketedLayoutSpec pins that true-negative).
    */
  def alignedShuffleFree(df: DataFrame): Boolean = {
    val shuffle = java.util.regex.Pattern.compile("\\bExchange\\b")
    (df.queryExecution.executedPlan.toString :: recordedPlans())
      .forall(p => !shuffle.matcher(p).find())
  }

  /** The sorted-layout twin of [[alignedShuffleFree]]: true iff no
    * per-bucket inner plan recorded while `df` was built carries a
    * local `Sort` node (the pattern matches the SortExec print
    * `Sort [key ASC ...]`, not `SortMergeJoin`/`SortAggregate`). The
    * aligned operators' merge/fold paths sort each bucket in-task
    * UNLESS the manifest's sorted markers let them stream the files
    * directly ([[bucketOrderedRdd]]) — this witness is how a caller
    * (and BucketedLayoutSpec) proves which path ran. Same thread /
    * same build-window contract as the shuffle witness.
    */
  def alignedSortFree(df: DataFrame): Boolean = {
    val sortNode = java.util.regex.Pattern.compile("\\bSort \\[")
    (df.queryExecution.executedPlan.toString :: recordedPlans())
      .forall(p => !sortNode.matcher(p).find())
  }

  /** Number of inner plans recorded while the last aligned frame was
    * built on this thread. On a fully SORTED layout the skip-sort
    * path plans one scan per FILE it actually reads, so this counts
    * scanned files — the execution-side pruning witness for the
    * range-windowed aligned reads (u63): strictly fewer plans than
    * the inputs' total file count proves the window's file pruning
    * engaged, measured on what ran rather than re-deriving it from
    * the same stats. Same thread / same build-window contract as
    * [[alignedShuffleFree]].
    */
  def alignedPlanCount(): Int = recordedPlans().size

  /** The shuffle witness over ONLY the recorded per-bucket inner
    * plans of the last aligned build on this thread — for callers
    * whose OUTER plan legitimately shuffles ABOVE the aligned
    * operator (a SQL aggregate over the rewritten join, u64): the
    * zero-shuffle claim is about the join's own execution, and the
    * grouped rows above it are result-sized. Same thread /
    * build-window contract as [[alignedShuffleFree]].
    */
  def alignedInnerShuffleFree(): Boolean = {
    val shuffle = java.util.regex.Pattern.compile("\\bExchange\\b")
    val plans = recordedPlans()
    plans.nonEmpty && plans.forall(p => !shuffle.matcher(p).find())
  }

  /** A sorted marker's column list ([[Manifest.sortedFiles]] values
    * are comma-joined; sort columns are refused commas at write
    * time, so the split is exact).
    */
  private[sources] def sortMarkerCols(v: String): Seq[String] =
    v.split(',').toIndexedSeq

  /** Map a marker's components (rename / logical↔physical
    * translation), preserving the comma-joined form.
    */
  private def mapSortMarker(v: String)(f: String => String): String =
    sortMarkerCols(v).map(f).mkString(",")

  /** Truncate a marker at its first `dead` component (a file sorted
    * by (k, dead, x) is still sorted by (k) — the prefix survives;
    * everything after the dead column meant order only WITHIN equal
    * dead-column values, which no longer exists as a concept), then
    * translate the survivors. None when nothing survives.
    */
  private def truncateSortMarker(v: String, dead: String => Boolean,
                                 xlate: String => String): Option[String] = {
    val cols = sortMarkerCols(v).takeWhile(c => !dead(c)).map(xlate)
    if (cols.isEmpty) None else Some(cols.mkString(","))
  }

  /** Can `files` (one bucket's) serve ordered by `orderCols` without
    * an in-task sort? Yes iff every file carries a sorted marker
    * whose column list STARTS WITH `orderCols` (prefix order is
    * order), its ledger size is within ONE scan split
    * (`spark.sql.files.maxPartitionBytes` — a multi-split
    * read's partition packing is an implementation detail no order
    * guarantee should lean on), and the table has no live deletion
    * vectors (a dv mask past the broadcast threshold would join —
    * and reorder — the scan; the sorter path handles that shape).
    * Conservative by design: ineligibility costs one spillable
    * in-task sort, never correctness.
    */
  private def skipSortEligible(spark: SparkSession, m: Manifest,
                               orderCols: Seq[String],
                               files: Seq[String]): Boolean = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    m.dvs.isEmpty && files.forall(fl =>
      m.sortedFiles.get(fl).exists(v =>
        sortMarkerCols(v).startsWith(orderCols)) &&
        m.fileBytes(fl) <= maxSplit)
  }

  /** Lexicographic comparator over `ords` (ordinal, type) components,
    * each ascending NULLS FIRST — the layout's write order. The one
    * row-vs-row compare every ordered-stream consumer (tree merge,
    * monotonic guard, group/as-of folds) shares.
    */
  private def lexRowCompare(ords: Seq[(Int, org.apache.spark.sql.types.DataType)])
      : (org.apache.spark.sql.catalyst.InternalRow,
         org.apache.spark.sql.catalyst.InternalRow) => Int = {
    // parallel arrays + indexed loop: this comparator runs
    // O(rows × log k) in the tree merge plus once per row in the
    // guard — no per-call iterator/tuple allocation in that loop
    val n = ords.length
    val idxs = ords.map(_._1).toArray
    val dts = ords.map(_._2).toArray
    val ordArr = ords.map { case (_, dt) =>
      org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(dt)
    }.toArray
    (x, y) => {
      var r = 0
      var c = 0
      while (r == 0 && c < n) {
        val i = idxs(c)
        val xn = x.isNullAt(i); val yn = y.isNullAt(i)
        r = if (xn && yn) 0
        else if (xn) -1
        else if (yn) 1
        else ordArr(c).compare(x.get(i, dts(c)), y.get(i, dts(c)))
        c += 1
      }
      r
    }
  }

  /** Detach a value that may be a VIEW into a scan's reused row
    * buffer (UTF8String, unsafe array/map/struct) before retaining
    * it across rows — the one rule every across-row holder
    * (monotonic guard, min/max accumulators, group keys) shares.
    */
  private def detachValue(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: org.apache.spark.sql.catalyst.InternalRow => r.copy()
    case other => other
  }

  /** Streaming 2-way merge of two `ords`-ORDERED row iterators
    * (ascending, NULLS FIRST — the layout's write order). Only the
    * HELD look-ahead row is copied (scan iterators reuse row
    * buffers); emitted rows follow the usual valid-until-next()
    * contract. O(1) memory.
    */
  private def mergeSortedIters(
      a: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      b: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      ords: Seq[(Int, org.apache.spark.sql.types.DataType)])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val cmp = lexRowCompare(ords)
    def leq(x: org.apache.spark.sql.catalyst.InternalRow,
            y: org.apache.spark.sql.catalyst.InternalRow): Boolean =
      cmp(x, y) <= 0
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var headA: org.apache.spark.sql.catalyst.InternalRow = _
      private var headB: org.apache.spark.sql.catalyst.InternalRow = _
      private def loadA(): Unit =
        if (headA == null && a.hasNext) headA = a.next().copy()
      private def loadB(): Unit =
        if (headB == null && b.hasNext) headB = b.next().copy()
      def hasNext: Boolean = { loadA(); loadB(); headA != null || headB != null }
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        loadA(); loadB()
        if (headA != null && (headB == null || leq(headA, headB))) {
          val r = headA; headA = null; r
        } else if (headB != null) {
          val r = headB; headB = null; r
        } else throw new NoSuchElementException("empty merge")
      }
    }
  }

  /** The RUN-TIME floor under every skip-sort promise: wraps a
    * supposedly key-ordered iterator and throws on the first
    * out-of-order row (one comparison per row — noise next to the
    * scan). The sorted markers are metadata; if a write-side
    * regression (or an order-breaking scan change) ever produced an
    * unsorted "sorted" file, the aligned operators' merge/fold
    * consumers would otherwise return WRONG rows silently — this
    * turns that into a loud failure naming the layout.
    */
  private def monotonicGuard(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      ords: Seq[(Int, org.apache.spark.sql.types.DataType)])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val n = ords.length
    val idxs = ords.map(_._1).toArray
    val dts = ords.map(_._2).toArray
    val ordArr = ords.map { case (_, dt) =>
      org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(dt)
    }.toArray
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      // the previous row's ORDER VALUES only (no per-row full-width
      // row allocation), each DETACHED from the scan's reused buffer
      // — unsafe arrays/structs are views too, not just UTF8String
      private var prevVals: Array[Any] = _
      def hasNext: Boolean = rows.hasNext
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        val r = rows.next()
        if (prevVals != null) {
          var cmp = 0
          var c = 0
          while (cmp == 0 && c < n) {
            val pv = prevVals(c)
            val cn = r.isNullAt(idxs(c))
            cmp = if (pv == null && cn) 0
            else if (pv == null) -1 // NULLS FIRST: prev null ≤ any
            else if (cn) 1
            else ordArr(c).compare(pv, r.get(idxs(c), dts(c)))
            c += 1
          }
          if (cmp > 0)
            throw new IllegalStateException(
              "sorted-bucket layout violated: a file carrying a sorted " +
                "marker served rows out of key order — rewrite the table " +
                "(compactBucketed(sort = true)) and report the writer")
        } else prevVals = new Array[Any](n)
        var c = 0
        while (c < n) {
          prevVals(c) =
            if (r.isNullAt(idxs(c))) null
            else detachValue(r.get(idxs(c), dts(c)))
          c += 1
        }
        r
      }
    }
  }

  /** ONE bucket's files as a single-partition `orderCols`-ORDERED
    * (lexicographic, each ascending NULLS FIRST) InternalRow RDD —
    * the shared read the aligned merge/fold operators sit on.
    * `orderCols` leads with the bucket key; order-sensitive
    * consumers (as-of join, running windows) append their secondary
    * columns. Two paths, decided per bucket from the manifest alone:
    *  - SKIP-SORT ([[skipSortEligible]]): every file carries a sorted
    *    marker covering the `orderCols` prefix — each is read
    *    individually (same [[readFiles]] scan, so column mapping and
    *    schema evolution apply) and a tree of streaming 2-way merges
    *    ([[mergeSortedIters]]) zips them partition-wise: zero
    *    Exchange, zero Sort, O(1) task memory, each row crossing
    *    ⌈log₂ k⌉ merges for a k-file bucket. A [[monotonicGuard]]
    *    on the merged stream turns any broken marker into a loud
    *    failure. Driver cost is one tiny plan per FILE (vs per
    *    bucket) — the documented price of the sorted path, paid only
    *    by sorted buckets.
    *  - SORTER: the bucket's files read together and in-task sorted
    *    on the SAME `orderCols` (Spark's external SPILLABLE sorter —
    *    still zero Exchange), exactly the pre-sorted-layout behavior.
    */
  private def bucketOrderedRdd(spark: SparkSession, dir: String,
      m: Manifest, schema: org.apache.spark.sql.types.StructType,
      orderCols: Seq[String], files: Seq[String], dropNullKeys: Boolean,
      sink: PlanSink,
      rowFilter: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.functions.col
    val cols = schema.fieldNames.toIndexedSeq.map(c => col(s"`$c`"))
    val key = orderCols.head
    val ords = orderCols.map(c =>
      (schema.fieldIndex(c), schema(c).dataType))
    def read(fls: Seq[String]): DataFrame = {
      val base0 = readFiles(spark, dir, m, fls)
      // the range window's row predicate rides INSIDE each file scan
      // (pushed to parquet like any filter); filtering preserves the
      // files' sort order, so the skip-sort merge stays valid
      val base = rowFilter.fold(base0)(base0.filter)
      (if (dropNullKeys) base.filter(col(s"`$key`").isNotNull) else base)
        .select(cols: _*).coalesce(1)
    }
    if (skipSortEligible(spark, m, orderCols, files)) {
      val perFile = files.map { fl =>
        val qe = read(Seq(fl)).queryExecution
        recordAlignedPlan(sink, qe)
        qe.toRdd
      }
      def tree(rs: Seq[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]])
          : org.apache.spark.rdd.RDD[
              org.apache.spark.sql.catalyst.InternalRow] =
        if (rs.size == 1) rs.head
        else tree(rs.grouped(2).map {
          case Seq(a, b) =>
            a.zipPartitions(b)(mergeSortedIters(_, _, ords))
          case Seq(a) => a
        }.toSeq)
      tree(perFile).mapPartitions(monotonicGuard(_, ords))
    } else {
      val qe = read(files)
        .sortWithinPartitions(orderCols.map(c => col(s"`$c`")): _*)
        .queryExecution
      recordAlignedPlan(sink, qe)
      qe.toRdd
    }
  }

  /** The aligned family's RANGE WINDOW (VERDICT r15 task #2): each
    * `(column, lo, hi)` is a SEMANTIC predicate `lo <= column <= hi`
    * (SQL BETWEEN — both bounds required; rows with a NULL range
    * column are excluded, exactly as a SQL WHERE would), applied
    * twice with one meaning:
    *  - as manifest-stat FILE pruning ([[pruneFiles]] — a bucket
    *    whose files all fall outside the window contributes an empty
    *    scan), the part that makes a 30-day running window over a
    *    year-partitioned feature store read 30 days, not 365;
    *  - as a per-file ROW filter inside each scan (pushed to parquet),
    *    which keeps the semantics exact where the stats are
    *    conservative (unknown/decimal/non-ASCII stats keep files).
    * The operator therefore computes over σ_ranges(table) — the
    * windowed query every real as-of/running call carries. Returns
    * (surviving files, row predicate).
    */
  private def alignedWindow(m: Manifest, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      ranges: Seq[(String, Any, Any)])
      : (Seq[String], Option[org.apache.spark.sql.Column]) = {
    import org.apache.spark.sql.functions.{col, lit}
    if (ranges.isEmpty) return (m.files, None)
    ranges.foreach { case (c, lo, hi) =>
      require(schema.fieldNames.contains(c),
        s"unknown range column '$c' on $dir " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      require(lo != null && hi != null,
        s"range on '$c' needs both bounds (the BETWEEN shape); for a " +
          "one-sided window pass the column type's extreme value")
    }
    val pred = ranges.map { case (c, lo, hi) =>
      col(s"`$c`") >= lit(lo) && col(s"`$c`") <= lit(hi)
    }.reduce(_ && _)
    (pruneFiles(m, ranges), Some(pred))
  }

  /** Checkpoint-planned resolve for the aligned family (VERDICT r15
    * task #7): when a servable metadata checkpoint covers the read
    * version, the per-bucket file lists are planned BY A SPARK JOB
    * over the checkpoint plus the cached tail — the driver never runs
    * the segment assembly that materializes every file's
    * stat/bloom/sketch payloads (~KB/file; the planning row is ~100
    * bytes). The job also applies the range window's file pruning
    * (the one pruning verdict, against the segments' physical stat
    * keys), so with a window only
    * O(window) file names reach the driver. Returns a PLANNING
    * manifest: the version-level header plus per-file
    * bucket/rows/bytes/sorted-marker maps for exactly the surviving
    * files — every downstream aligned consumer (ordered reads,
    * skip-sort eligibility, sub-bucket splits, the all-clustered
    * refusal) reads it like the eager manifest. Unclustered live
    * files are collected REGARDLESS of the window (the operators'
    * refusal must see them exactly as the eager path does). Falls
    * back to the eager [[assemble]] of the same parse when no
    * checkpoint covers the version.
    */
  private def resolveAlignedRead(spark: SparkSession, tableDir: String,
                                 version: Option[Long],
                                 ranges: Seq[(String, Any, Any)])
      : Manifest = {
    val base = resolveForRead(spark, tableDir, version)
    val head = base.header
    val cover = coverOf(spark, tableDir, head.version)
    if (cover.dir.isEmpty) return assemble(spark, tableDir, base)
    // a malformed range (unknown column, missing bound) prunes only as
    // far as it is well formed; [[alignedWindow]]'s loud refusal still
    // runs on the planning manifest
    val entries = liveEntriesUnder(spark, tableDir, base, cover,
      Prune.of(head.schema, Nil, ranges), keepUnbucketed = true)
    val retired = head.retiredCols.toSet
    val rev = head.logicalOf
    head.copy(
      files = entries.map(_.file),
      buckets = entries.iterator
        .flatMap(e => e.bucket.map(e.file -> _)).toMap,
      fileRows = entries.iterator.map(e => e.file -> e.rows).toMap,
      fileBytes = entries.iterator.map(e => e.file -> e.bytes).toMap,
      // markers translate through the read version's mapping and
      // retired set — the exact translation [[assemble]] applies
      sortedFiles = entries.iterator.flatMap(e =>
        e.sortedBy.flatMap(v => truncateSortMarker(v,
          retired.contains, c => rev.getOrElse(c, c))
          .map(e.file -> _))).toMap)
  }

  def bucketAlignedJoin(spark: SparkSession,
                        leftDir: String, rightDir: String,
                        leftKey: String, rightKey: String,
                        leftVersion: Option[Long] = None,
                        rightVersion: Option[Long] = None,
                        joinType: String = "inner",
                        strategy: String = "auto",
                        leftRanges: Seq[(String, Any, Any)] = Nil,
                        rightRanges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    require(Set("auto", "hash", "merge")(strategy.toLowerCase),
      s"unsupported strategy '$strategy' (auto, hash, merge)")
    val sink = resetAlignedPlans()
    val jt = joinType.toLowerCase.replace("_", "") match {
      case "left" | "leftouter" => "leftouter"
      case "leftsemi" | "semi"  => "leftsemi"
      case "leftanti" | "anti"  => "leftanti"
      case "full" | "fullouter" | "outer" => "fullouter"
      case "inner"              => "inner"
      case other => throw new IllegalArgumentException(
        s"unsupported joinType '$other' (inner, left_outer, full_outer, " +
          "left_semi, left_anti; for right-ish joins swap the sides)")
    }
    val lm = resolveAlignedRead(spark, leftDir, leftVersion, leftRanges)
    val rm = resolveAlignedRead(spark, rightDir, rightVersion, rightRanges)
    def bucketsOf(m: Manifest, dir: String, key: String): Int = {
      val (bk, n) = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$dir is not bucket-clustered; bucketAlignedJoin needs the layout " +
          "on both sides (bucketBy at commit, or CLUSTERED BY in DDL)"))
      require(bk == key,
        s"$dir is bucketed by '$bk', not the join key '$key'")
      require(m.files.forall(m.buckets.contains),
        s"$dir has unclustered files (appends since the last re-cluster); " +
          "run compactBucketed first — bucket-aligned placement is " +
          "exactly what those files lack")
      n
    }
    val ln = bucketsOf(lm, leftDir, leftKey)
    val rn = bucketsOf(rm, rightDir, rightKey)
    require(ln == rn,
      s"bucket counts differ ($leftDir=$ln, $rightDir=$rn): re-cluster one " +
        "side — zip alignment needs identical modulus")
    val lSchema = lm.schema
    val rSchema = rm.schema
    val keyType = lSchema(leftKey).dataType
    require(keyType == rSchema(rightKey).dataType,
      s"join key types differ (${lSchema(leftKey).dataType} vs " +
        s"${rSchema(rightKey).dataType}): the bucket hash is typed, so " +
        "differing types never co-bucket")
    require(keyType != org.apache.spark.sql.types.DoubleType &&
      keyType != org.apache.spark.sql.types.FloatType,
      "float/double join keys are not supported (±0.0/NaN equality)")
    // one single-partition RDD per bucket id, unioned in bucket order:
    // partition i of each union IS bucket i (empty buckets get an
    // explicit one-empty-partition RDD so alignment never slips).
    // NULL join keys never match, so both sides push `key IS NOT
    // NULL` into their scans — EXCEPT the left side of leftouter /
    // leftanti, whose NULL-key rows are output (with NULL right
    // columns, resp. as never-matching survivors); they sit in the
    // bucket pmod(xxhash64(NULL), n) assigns (the hash of a NULL
    // input is the seed), so the per-bucket read still sees them.
    val useMerge = strategy.toLowerCase match {
      case "merge" => true
      case "hash"  => false
      case _       => spjStrategy(spark, rm) == "merge"
    }
    // merge strategy: each bucket in-task-sorts on its key (Spark's
    // external SPILLABLE sorter — a local Sort node, still zero
    // Exchange), so the join streams both sides and holds only one
    // equal-key group of the right in memory
    def sideRdd(dir: String, m: Manifest,
                schema: org.apache.spark.sql.types.StructType, key: String,
                n: Int, dropNullKeys: Boolean,
                ranges: Seq[(String, Any, Any)]): org.apache.spark.rdd.RDD[
                  org.apache.spark.sql.catalyst.InternalRow] = {
      val (winFiles, rowF) = alignedWindow(m, dir, schema, ranges)
      val byBucket = winFiles.groupBy(m.buckets)
      alignedBucketUnion(spark, n) { b =>
        byBucket.get(b).map { files =>
          if (useMerge)
            // key-ordered read: a sorted layout streams its files
            // directly (zero Sort — [[bucketOrderedRdd]]), an
            // unsorted bucket in-task sorts exactly as before
            bucketOrderedRdd(spark, dir, m, schema, Seq(key), files,
              dropNullKeys, sink, rowF)
          else {
            val base0 = readFiles(spark, dir, m, files)
            val base = rowF.fold(base0)(base0.filter)
            val qe =
              (if (dropNullKeys) base.filter(col(s"`$key`").isNotNull)
               else base)
                .select(schema.fieldNames.toIndexedSeq
                  .map(c => col(s"`$c`")): _*)
                .coalesce(1)
                .queryExecution
            recordAlignedPlan(sink, qe)
            qe.toRdd
          }
        }
      }
    }
    // full outer null-extends BOTH sides' NULL-key rows, so neither
    // scan may drop them
    val keepLeftNulls =
      jt == "leftouter" || jt == "leftanti" || jt == "fullouter"
    val left = sideRdd(leftDir, lm, lSchema, leftKey, ln, !keepLeftNulls,
      leftRanges)
    val right = sideRdd(rightDir, rm, rSchema, rightKey, rn,
      dropNullKeys = jt != "fullouter", rightRanges)
    // leftouter's right columns are NULL for unmatched rows whatever
    // the parquet schema said (fullouter: both sides); semi/anti
    // output the left schema only
    val outSchema = jt match {
      case "leftsemi" | "leftanti" => lSchema
      case "leftouter" => org.apache.spark.sql.types.StructType(
        lSchema.fields ++ rSchema.fields.map(_.copy(nullable = true)))
      case "fullouter" => org.apache.spark.sql.types.StructType(
        lSchema.fields.map(_.copy(nullable = true)) ++
          rSchema.fields.map(_.copy(nullable = true)))
      case _ =>
        org.apache.spark.sql.types.StructType(lSchema.fields ++ rSchema.fields)
    }
    val lIdx = lSchema.fieldIndex(leftKey)
    val rIdx = rSchema.fieldIndex(rightKey)
    val kt = keyType
    val lWidth = lSchema.length
    val rWidth = rSchema.length
    val joined = left.zipPartitions(right) { (li, ri) =>
      // a key read from a streaming row may be a VIEW into the
      // iterator's reused buffer (UTF8String): anything retained
      // across rows stores a detached copy
      def copyKey(k: Any): Any = detachValue(k)
      def nextRight(): org.apache.spark.sql.catalyst.InternalRow =
        if (ri.hasNext) ri.next().copy() else null
      if (jt == "fullouter") {
        // FULL OUTER (r18): BOTH sides null-extend — one emitter per
        // strategy, symmetric by construction. NULL keys never match
        // and null-extend immediately (both scans kept them).
        val joinedRow =
          new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val project = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(outSchema)
        val nullRight = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(rWidth)
        val nullLeft = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(lWidth)
        if (useMerge) {
          // SYMMETRIC merge over the two key-sorted streams (NULLS
          // FIRST, so both sides' null-key rows drain first): the
          // smaller key's side null-extends and advances; equal keys
          // buffer ONE right group and stream the key's left rows
          // across it — memory O(one key's right rows), exactly the
          // inner/outer merge's bound.
          val ord = org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(kt)
          new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
            private var lHead: org.apache.spark.sql.catalyst.InternalRow =
              if (li.hasNext) li.next().copy() else null
            private var rHead: org.apache.spark.sql.catalyst.InternalRow =
              nextRight()
            private var sub: Iterator[
              org.apache.spark.sql.catalyst.InternalRow] = Iterator.empty
            private def nextL(): Unit =
              lHead = if (li.hasNext) li.next().copy() else null
            private def step(): Unit = {
              if (lHead != null && lHead.isNullAt(lIdx)) {
                val lc = lHead; nextL()
                sub = Iterator.single(project(joinedRow(lc, nullRight)))
              } else if (rHead != null && rHead.isNullAt(rIdx)) {
                val rc = rHead; rHead = nextRight()
                sub = Iterator.single(project(joinedRow(nullLeft, rc)))
              } else if (rHead == null || (lHead != null &&
                  ord.lt(lHead.get(lIdx, kt), rHead.get(rIdx, kt)))) {
                val lc = lHead; nextL()
                sub = Iterator.single(project(joinedRow(lc, nullRight)))
              } else if (lHead == null ||
                  ord.lt(rHead.get(rIdx, kt), lHead.get(lIdx, kt))) {
                val rc = rHead; rHead = nextRight()
                sub = Iterator.single(project(joinedRow(nullLeft, rc)))
              } else {
                val k = copyKey(rHead.get(rIdx, kt))
                val group = scala.collection.mutable.ArrayBuffer
                  .empty[org.apache.spark.sql.catalyst.InternalRow]
                while (rHead != null && !rHead.isNullAt(rIdx) &&
                    ord.equiv(rHead.get(rIdx, kt), k)) {
                  group += rHead; rHead = nextRight()
                }
                sub = new Iterator[
                    org.apache.spark.sql.catalyst.InternalRow] {
                  private var cur:
                    org.apache.spark.sql.catalyst.InternalRow = null
                  private var gi = 0
                  def hasNext: Boolean = {
                    if (cur != null && gi < group.length) true
                    else if (lHead != null && !lHead.isNullAt(lIdx) &&
                        ord.equiv(lHead.get(lIdx, kt), k)) {
                      cur = lHead.copy(); nextL(); gi = 0; true
                    } else { cur = null; false }
                  }
                  def next(): org.apache.spark.sql.catalyst.InternalRow = {
                    if (!hasNext) throw new NoSuchElementException("empty")
                    val r = project(joinedRow(cur, group(gi))); gi += 1; r
                  }
                }
              }
            }
            def hasNext: Boolean = {
              while (!sub.hasNext && (lHead != null || rHead != null)) step()
              sub.hasNext
            }
            def next(): org.apache.spark.sql.catalyst.InternalRow = {
              if (!hasNext) throw new NoSuchElementException("empty")
              sub.next()
            }
          }
        } else {
          // hash build on the right + matched-KEY tracking; the
          // unmatched remainder (NULL-key rows included) null-extends
          // AFTER the left stream drains (Iterator.++ is lazy)
          val byKey = new java.util.HashMap[Any,
            scala.collection.mutable.ArrayBuffer[
              org.apache.spark.sql.catalyst.InternalRow]]()
          val rightNulls = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.catalyst.InternalRow]
          ri.foreach { r =>
            val rc = r.copy()
            if (rc.isNullAt(rIdx)) rightNulls += rc
            else {
              val k = rc.get(rIdx, kt)
              var buf = byKey.get(k)
              if (buf == null) {
                buf = scala.collection.mutable.ArrayBuffer
                  .empty[org.apache.spark.sql.catalyst.InternalRow]
                byKey.put(k, buf)
              }
              buf += rc
            }
          }
          val matched = new java.util.HashSet[Any]()
          val leftPart = li.flatMap { l =>
            val found =
              if (l.isNullAt(lIdx)) null else byKey.get(l.get(lIdx, kt))
            if (found == null)
              Iterator.single(project(joinedRow(l, nullRight))
                : org.apache.spark.sql.catalyst.InternalRow)
            else {
              val lc = l.copy()
              matched.add(copyKey(lc.get(lIdx, kt)))
              found.iterator.map(r => project(joinedRow(lc, r))
                : org.apache.spark.sql.catalyst.InternalRow)
            }
          }
          def rightRemainder
              : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
            val unmatched = scala.jdk.CollectionConverters
              .IteratorHasAsScala(byKey.entrySet().iterator()).asScala
              .filter(e => !matched.contains(e.getKey))
              .flatMap(_.getValue.iterator)
            (unmatched ++ rightNulls.iterator)
              .map(r => project(joinedRow(nullLeft, r))
                : org.apache.spark.sql.catalyst.InternalRow)
          }
          leftPart ++ rightRemainder
        }
      } else {
      val semiAnti = jt == "leftsemi" || jt == "leftanti"
      // ONE right-lookup implementation per STRATEGY, ONE emitter per
      // JOIN TYPE (below) — the semantics cannot drift between hash
      // and merge. `exists` answers semi/anti (no right row is ever
      // buffered); `matches` returns the key's right rows (or null)
      // for inner/outer.
      var exists: Any => Boolean = null
      var matches: Any => scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.catalyst.InternalRow] = null
      if (useMerge) {
        // MERGE over the two sorted streams: the right is consumed
        // strictly forward; inner/outer buffer only the CURRENT
        // equal-key group (copied — iterators reuse row buffers), so
        // memory is O(max duplicates per key), not O(right bucket);
        // semi/anti buffer nothing. Left keys are monotone, so a
        // repeated key reuses the cached answer and a larger key
        // advances the right; NULL left keys are adjudicated before
        // any comparison (the right has none — filtered at the
        // scan), so the interpreted ordering only sees non-nulls.
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(kt)
        var rHead = nextRight()
        if (semiAnti) {
          var lastKey: Any = null
          var lastHas = false
          var loaded = false
          exists = (k: Any) =>
            if (loaded && ord.equiv(lastKey, k)) lastHas
            else {
              // advance to the first right key >= k, but do NOT
              // consume the equal run — a duplicate left key
              // re-checks the same head
              while (rHead != null && ord.lt(rHead.get(rIdx, kt), k))
                rHead = nextRight()
              lastKey = copyKey(k); loaded = true
              lastHas = rHead != null && ord.equiv(rHead.get(rIdx, kt), k)
              lastHas
            }
        } else {
          var groupKey: Any = null
          var group: scala.collection.mutable.ArrayBuffer[
            org.apache.spark.sql.catalyst.InternalRow] = null
          var loaded = false
          matches = (k: Any) =>
            if (loaded && ord.equiv(groupKey, k)) group
            else {
              while (rHead != null && ord.lt(rHead.get(rIdx, kt), k))
                rHead = nextRight()
              groupKey = copyKey(k); loaded = true
              if (rHead != null && ord.equiv(rHead.get(rIdx, kt), k)) {
                group = scala.collection.mutable.ArrayBuffer
                  .empty[org.apache.spark.sql.catalyst.InternalRow]
                while (rHead != null && ord.equiv(rHead.get(rIdx, kt), k)) {
                  group += rHead
                  rHead = nextRight()
                }
              } else group = null
              group
            }
        }
      } else {
        // HASH build on the right bucket. Semi/anti build only the
        // key SET (copied keys) — an existence join's build memory
        // is the distinct keys, not the bucket's rows, so `auto`
        // need not flip to merge as early for them. Inner/outer copy
        // each row FIRST and key from the copy (buffer reuse).
        if (semiAnti) {
          val keys = new java.util.HashSet[Any]()
          ri.foreach(r => keys.add(copyKey(r.get(rIdx, kt))))
          exists = (k: Any) => keys.contains(k)
        } else {
          val byKey = new java.util.HashMap[Any,
            scala.collection.mutable.ArrayBuffer[
              org.apache.spark.sql.catalyst.InternalRow]]()
          ri.foreach { r =>
            val rc = r.copy()
            val k = rc.get(rIdx, kt)
            var buf = byKey.get(k)
            if (buf == null) {
              buf = scala.collection.mutable.ArrayBuffer
                .empty[org.apache.spark.sql.catalyst.InternalRow]
              byKey.put(k, buf)
            }
            buf += rc
          }
          matches = (k: Any) => byKey.get(k)
        }
      }
      jt match {
        case "leftsemi" =>
          // ≥1 match emits the left row ONCE (never duplicated by
          // match multiplicity); a NULL key never matches
          li.filter { l =>
            val k = l.get(lIdx, kt)
            k != null && exists(k)
          }
        case "leftanti" =>
          // zero matches emits the row; a NULL key matches nothing,
          // so it survives (Spark/SQL left_anti on an equi-condition)
          li.filter { l =>
            val k = l.get(lIdx, kt)
            k == null || !exists(k)
          }
        case _ =>
          val joinedRow =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow
          val project = org.apache.spark.sql.catalyst.expressions
            .UnsafeProjection.create(outSchema)
          val nullRight = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(rWidth)
          val outer = jt == "leftouter"
          li.flatMap { l =>
            val k = l.get(lIdx, kt)
            val found = if (k == null) null else matches(k)
            if (found == null) {
              if (outer)
                Iterator.single(project(joinedRow(l, nullRight))
                  : org.apache.spark.sql.catalyst.InternalRow)
              else Iterator.empty
            } else {
              val lc = l.copy()
              found.iterator.map(r => project(joinedRow(lc, r))
                : org.apache.spark.sql.catalyst.InternalRow)
            }
          }
      }
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalFrame(
      spark, joined, outSchema)
  }

  /** [[bucketAlignedJoin]]'s `strategy = "auto"` decision, a pure
    * function of the BUILD side's manifest: "merge" when the largest
    * right bucket's bytes (summed from the `fileBytes` ledger — no
    * file is touched) exceed `graft.spj.buildBytesMax` (default
    * 256 MiB, the hash build the task would otherwise hold), "hash"
    * otherwise.
    */
  private[sources] def spjStrategy(spark: SparkSession, rm: Manifest)
      : String = {
    val budget = graft.GraftConf.long(spark, "graft.spj.buildBytesMax", 256L << 20)
    val maxBucket = rm.files.groupBy(f => rm.buckets.getOrElse(f, -1))
      .valuesIterator
      .map(_.iterator.map(rm.fileBytes).sum)
      .maxOption.getOrElse(0L)
    if (maxBucket > budget) "merge" else "hash"
  }

  /** DYNAMIC (join-driven) FILE PRUNING — the Delta/Photon
    * "dynamic file pruning" shape for a fact⋈dim join whose dim-side
    * predicate is only known at run time: no static filter on the
    * fact table exists, so a planner-only join scans EVERY fact file
    * even though the dim side selects a handful of keys. This
    * operator runs the (small, already-filtered) `dim` plan FIRST,
    * collects its distinct non-null join keys up to
    * [[probeKeyBudget]], plans the fact read from exactly those keys
    * — bucket ∧ stats ∧ bloom per-file verdicts, through the
    * metadata-checkpoint planning job when one covers the version
    * ([[readVersionCheckpointedProbes]]: O(segments + tail) driver
    * work) and the manifest pruner otherwise — then broadcast-joins
    * the pruned fact scan to the dim rows. At 100 TB this turns
    * "join the day's 10-key dim slice" from a full-table scan into a
    * ≤10-bucket read; the key-list collect is bounded by the same
    * budget the serving planner enforces ([[probeKeyBudget]],
    * `graft.probe.maxKeys`), and an over-budget dim degrades to the
    * full snapshot read with an ordinary planner join — exact either
    * way, pruning is only ever a scan reducer.
    *
    * Semantics: INNER equi-join on `factKey = dimKey`, SQL NULL never
    * matches (dim NULL keys are dropped before the collect; a fact
    * NULL key equals nothing); output columns = fact schema ++ dim
    * columns, Spark's own join-output shape. An empty (or all-NULL)
    * dim serves the schema'd empty frame without touching a fact
    * data file. `dim` must be DETERMINISTIC: it is evaluated twice
    * (the key collect, then the join) — the same contract Spark's
    * own dynamic partition pruning places on its reused dim
    * subquery; a nondeterministic dim (sample/limit over unordered
    * data) could select keys the pruned scan excluded. The broadcast
    * hint applies only WITHIN the key budget — an over-budget dim is
    * not provably small, so the fallback join lets the planner pick
    * its own strategy from statistics.
    *
    * `factRanges` adds STATIC range conjuncts on fact columns —
    * `(column, lo, hi)`, inclusive — to the same plan: the canonical
    * "`date BETWEEN ? AND ?` window ⋈ today's dim slice" DFP shape.
    * They AND-compose with the dim keys' verdicts in the one
    * planning pass (the one pruning verdict, over the checkpoint on
    * the checkpoint path and over the manifest otherwise), and the row
    * filter re-applies them exactly on EVERY
    * path, including the over-budget full read — pruning is only
    * ever a scan reducer.
    */
  def joinFilePruned(spark: SparkSession, factDir: String, factKey: String,
                     dim: DataFrame, dimKey: String,
                     version: Option[Long] = None,
                     factRanges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val budget = probeKeyBudget(spark)
    // budget+1 caps the collect — overflow is detected without ever
    // materializing a huge key set on the driver (saturating: a user
    // who "disables" the budget with Int.MaxValue must not wrap the
    // limit negative)
    val cap = if (budget >= Int.MaxValue) Int.MaxValue else budget + 1
    val keyRows = dim.select(col(s"`$dimKey`"))
      .filter(col(s"`$dimKey`").isNotNull)
      .distinct().limit(cap).collect()
    val keys: Seq[Any] = keyRows.iterator.map(_.get(0)).toSeq
    val withinBudget = keys.nonEmpty && keys.size <= budget
    import org.apache.spark.sql.functions.lit
    // the row filter owns range exactness on EVERY path (pruned,
    // over-budget full read, empty) — inclusive bounds, the planner's
    val rangeFiltered: DataFrame => DataFrame = df =>
      factRanges.foldLeft(df) { case (d, (c, lo, hi)) =>
        d.filter(col(s"`$c`") >= lit(lo) && col(s"`$c`") <= lit(hi))
      }
    val fact =
      if (keys.isEmpty)
        rangeFiltered(readVersion(spark, factDir, version).limit(0))
      else if (!withinBudget)
        rangeFiltered(readVersion(spark, factDir, version))
      else {
        val f = fs(spark, factDir)
        val v = version.orElse(latestLiveVersion(spark, factDir)).getOrElse(
          throw new IllegalArgumentException(
            s"no committed version at $factDir"))
        if (newestCheckpointAtOrBefore(f, factDir, v).isDefined)
          // keys ∧ ranges compose in the ONE checkpoint planning job
          // (the u50 mixed-probe shape); the serving read re-applies
          // both as row filters
          readVersionCheckpointedProbes(spark, factDir,
            Seq(factKey -> keys), Some(v), factRanges)
        else {
          // manifest path: the same conjunction under the one verdict
          val m = readLiveManifest(spark, factDir, v)
          val keep = prunedFiles(Some(spark), m,
            Prune.of(m.schema, Seq(factKey -> keys), factRanges), m.files)
          rangeFiltered(readFiles(spark, factDir, m, keep)
            .filter(col(s"`$factKey`").isin(keys: _*)))
        }
      }
    // broadcast only a provably small dim (≤ budget distinct keys is
    // the evidence the collect just produced); an over-budget dim
    // could be arbitrarily large — the planner owns that join
    val dimSide = if (withinBudget || keys.isEmpty) broadcast(dim) else dim
    fact.join(dimSide, fact(factKey) === dim(dimKey), "inner")
  }

  /** STORAGE-PARTITIONED (shuffle-free) GROUPED AGGREGATION — the
    * other half of what the bucket layout buys at 100 TB: a
    * `GROUP BY <bucket key>` needs no Exchange, because every row of
    * a key already lives in exactly one bucket (the layout's
    * invariant), yet the planner re-shuffles the whole table since
    * the V1 relation cannot report its partitioning. This operator
    * aggregates each bucket IN TASK: one coalesced vectorized read
    * per bucket (dv masks via the ordinary [[readFiles]] path), an
    * in-task SORT on the key (Spark's external spillable sorter — a
    * local node), and a streaming fold over each equal-key run, so
    * memory is O(one group's accumulators) however large the bucket —
    * the sort-based aggregation shape, chosen over a hash map for the
    * same reason [[bucketAlignedJoin]]'s merge strategy exists (a
    * high-cardinality bucket must not have to fit a map in memory).
    * ZERO `Exchange` anywhere in the plan; parallelism = numBuckets.
    *
    * `aggs` is an exact vocabulary of `(fn, column, alias)`:
    * `count` of `*` (rows) or of a column (non-null rows), `sum`
    * (integral → long, fractional → double, decimal → decimal at
    * precision min(38, p+10) — Spark's own sum result types, decimal
    * accumulation EXACT; a decimal sum that overflows even the
    * widened result precision THROWS, matching Spark's sum under the
    * ANSI mode this library runs with — non-ANSI Spark would return
    * NULL there), `min`/`max` (any orderable non-float type
    * plus strings — string results are detached copies). SQL NULL
    * semantics throughout: sum/min/max skip NULLs and return NULL
    * for an all-NULL group, `count(col)` skips NULLs, NULL group
    * keys form one group (they co-locate — the bucket hash of NULL
    * is the seed). `avg` is deliberately absent: derive it as
    * sum/count to keep every emitted value exactly replayable.
    * `groupAlso` (r18) appends FURTHER grouping columns — `GROUP BY
    * key, date` is free under co-location (every row of a key lives
    * in its bucket whatever the date), so the fold sorts in task on
    * the full tuple and streams one group per distinct tuple;
    * composite sort markers (`sortAlso` at commit) serve it
    * sort-free. Output columns: the bucket key, the `groupAlso`
    * columns, then one column per agg.
    * Refused: an unbucketed table, unclustered tail files (run
    * [[compactBucketed]] first), an unknown fn or column, float/
    * double min/max keys or group columns — same contract as the
    * aligned join.
    */
  /** One resolved aggregate of the aligned fold family: input ordinal
    * (-1 = `count(*)`), input type, output field. Shared vocabulary of
    * [[bucketAlignedAggregate]] and [[bucketAlignedJoinAggregate]].
    */
  private final case class AggSpec(fn: String, ord: Int,
      inType: org.apache.spark.sql.types.DataType,
      out: org.apache.spark.sql.types.StructField)

  /** THE accumulator core of the aligned fold family — one instance
    * holds the running count/sum/min/max state for ONE group (or one
    * running-window prefix). Shared by [[streamingGroupFold]] and the
    * running-window fold so the accumulation semantics (NULL skipping,
    * exact java-BigDecimal decimal sums converted once at read,
    * integral widening to Long, detached min/max copies) cannot drift
    * between the group and window operators. NOT thread-safe; one per
    * task.
    */
  private final class AggAccums(specs: Seq[AggSpec]) extends Serializable {
    import org.apache.spark.sql.types._
    private val accs = new Array[Any](specs.length)
    private val ordCache = scala.collection.mutable.Map
      .empty[DataType, Ordering[Any]]
    private def ord2(dt: DataType): Ordering[Any] =
      ordCache.getOrElseUpdate(dt,
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(dt))
    private def widenToLong(v: Any): Long = v match {
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
    }
    private def copyVal(v: Any): Any = detachValue(v)
    reset()
    def reset(): Unit = {
      var i = 0
      while (i < accs.length) {
        accs(i) = if (specs(i).fn == "count") 0L else null; i += 1
      }
    }
    def update(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      var i = 0
      while (i < accs.length) {
        val sp = specs(i)
        sp.fn match {
          case "count" =>
            if (sp.ord < 0 || !r.isNullAt(sp.ord))
              accs(i) = accs(i).asInstanceOf[Long] + 1L
          case "sum" => if (!r.isNullAt(sp.ord)) {
            val v = r.get(sp.ord, sp.inType)
            // decimals accumulate as java BigDecimal (EXACT, no
            // mid-fold precision juggling) and convert to the
            // declared result decimal once, at read
            accs(i) = (accs(i), sp.inType) match {
              case (null, _: DecimalType) =>
                v.asInstanceOf[Decimal].toJavaBigDecimal
              case (acc: java.math.BigDecimal, _) =>
                acc.add(v.asInstanceOf[Decimal].toJavaBigDecimal)
              case (null, _: FloatType) => v.asInstanceOf[Float].toDouble
              case (null, _: DoubleType) => v
              case (null, _) => widenToLong(v)
              case (acc: java.lang.Double, _: FloatType) =>
                acc + v.asInstanceOf[Float].toDouble
              case (acc: java.lang.Double, _) =>
                acc + v.asInstanceOf[Double]
              // ANSI-faithful integral sums (r16): Spark's ANSI-mode
              // Sum throws on long overflow; the engine's sessions
              // run ANSI ON, so a wrapping fold here would diverge
              // from the planner exactly where the planner is loud —
              // addExact makes overflow an error on both paths
              case (acc: java.lang.Long, _) =>
                Math.addExact(acc.longValue(), widenToLong(v))
            }
          }
          case "min" => if (!r.isNullAt(sp.ord)) {
            val v = r.get(sp.ord, sp.inType)
            if (accs(i) == null || ord2(sp.inType).compare(v, accs(i)) < 0)
              accs(i) = copyVal(v)
          }
          case "max" => if (!r.isNullAt(sp.ord)) {
            val v = r.get(sp.ord, sp.inType)
            if (accs(i) == null || ord2(sp.inType).compare(v, accs(i)) > 0)
              accs(i) = copyVal(v)
          }
        }
        i += 1
      }
    }
    /** The i-th aggregate's CURRENT value at the declared output type
      * (BigDecimal sums convert here; reading does not disturb the
      * running state — window folds read after every tie-group).
      */
    def value(i: Int): Any = accs(i) match {
      case bd: java.math.BigDecimal =>
        val dt = specs(i).out.dataType.asInstanceOf[DecimalType]
        Decimal(bd, dt.precision, dt.scale)
      case other => other
    }
  }

  /** Resolve `(fn, column, alias)` aggs against `schema` — unknown
    * fns/columns, duplicate aliases, float/double min/max and columns
    * in `ambiguous` (names appearing on BOTH sides of a join schema)
    * refuse at plan time, never mid-job.
    */
  private def resolveAggSpecs(
      schema: org.apache.spark.sql.types.StructType,
      aggs: Seq[(String, String, String)],
      ambiguous: Set[String] = Set.empty): Seq[AggSpec] = {
    import org.apache.spark.sql.types._
    require(aggs.nonEmpty, "at least one aggregate is required")
    require(aggs.map(_._3).distinct.size == aggs.size,
      s"duplicate output aliases: ${aggs.map(_._3)}")
    def sumResultType(dt: DataType): DataType = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
        LongType
      case _: FloatType | _: DoubleType => DoubleType
      case d: DecimalType =>
        DecimalType(math.min(38, d.precision + 10), d.scale)
      case other => throw new IllegalArgumentException(
        s"sum over ${other.simpleString} is not supported")
    }
    aggs.map { case (fnRaw, c, alias) =>
      val fn = fnRaw.toLowerCase
      require(Set("count", "sum", "min", "max")(fn),
        s"unknown agg fn '$fnRaw' (count, sum, min, max)")
      if (fn == "count" && c == "*")
        AggSpec("count", -1, NullType, StructField(alias, LongType, false))
      else {
        require(schema.fieldNames.contains(c),
          s"unknown column '$c' (columns: ${schema.fieldNames.mkString(", ")})")
        require(!ambiguous.contains(c),
          s"ambiguous column '$c': it exists on both join sides — " +
            "rename one side before aggregating over the join")
        val dt = schema(c).dataType
        fn match {
          case "count" =>
            AggSpec("count", schema.fieldIndex(c), dt,
              StructField(alias, LongType, false))
          case "sum" =>
            AggSpec("sum", schema.fieldIndex(c), dt,
              StructField(alias, sumResultType(dt), true))
          case mm =>
            require(dt != DoubleType && dt != FloatType,
              s"$mm over float/double is not supported (NaN ordering); " +
                "cast to decimal first")
            AggSpec(mm, schema.fieldIndex(c), dt,
              StructField(alias, dt, true))
        }
      }
    }
  }

  /** The STREAMING group fold over a KEY-GROUPED row stream (equal
    * keys adjacent — a key-ordered bucket, or a merge join's output):
    * accumulators for exactly ONE group are ever held (decimal sums
    * exact via java BigDecimal, convert once at emit), so memory is
    * O(1) in rows and groups. Returns a driver-built, serializable
    * partition function — the aligned operators pass it straight to
    * `mapPartitions`.
    */
  private def streamingGroupFold(kIdx: Int,
      kt: org.apache.spark.sql.types.DataType, specs: Seq[AggSpec],
      outSchema: org.apache.spark.sql.types.StructType)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    streamingGroupFoldKeys(Seq((kIdx, kt)), specs, outSchema)

  /** [[streamingGroupFold]] generalized to a COMPOSITE grouping tuple
    * (r18, VERDICT r17 task #5): rows arrive sorted lexicographically
    * on the key ordinals (the bucket key first), a group is one
    * distinct tuple — SQL GROUP BY semantics, NULLs equal per
    * component — and the output row leads with the tuple's values.
    * Still O(one group's accumulators) memory.
    */
  private def streamingGroupFoldKeys(
      keys: Seq[(Int, org.apache.spark.sql.types.DataType)],
      specs: Seq[AggSpec],
      outSchema: org.apache.spark.sql.types.StructType)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val specsB = specs // serializable capture
    val keysB = keys
    rows => {
      val nk = keysB.length
      val kIdxs = keysB.map(_._1).toArray
      val kts = keysB.map(_._2).toArray
      val ords = keysB.map { case (_, dt) =>
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(dt)
      }.toArray
      val project = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(outSchema)
      // detach values that may be views into the scan's reused buffer
      def copyVal(v: Any): Any = detachValue(v)
      // accumulators for ONE group — the only aggregation state held
      val accums = new AggAccums(specsB)
      val groupKey = new Array[Any](nk)
      var groupOpen = false
      def sameGroup(r: org.apache.spark.sql.catalyst.InternalRow)
          : Boolean = {
        var i = 0
        while (i < nk) {
          val kn = r.isNullAt(kIdxs(i))
          val g = groupKey(i)
          val eq =
            if (kn) g == null
            else g != null && ords(i).equiv(r.get(kIdxs(i), kts(i)), g)
          if (!eq) return false
          i += 1
        }
        true
      }
      def loadKey(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        var i = 0
        while (i < nk) {
          groupKey(i) =
            if (r.isNullAt(kIdxs(i))) null
            else copyVal(r.get(kIdxs(i), kts(i)))
          i += 1
        }
      }
      def emit(): org.apache.spark.sql.catalyst.InternalRow = {
        val out = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(nk + specsB.length)
        var i = 0
        while (i < nk) { out.update(i, groupKey(i)); i += 1 }
        var j = 0
        while (j < specsB.length) {
          out.update(nk + j, accums.value(j)); j += 1
        }
        project(out).copy()
      }
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var pending: org.apache.spark.sql.catalyst.InternalRow = _
        private def advance(): Unit = {
          while (pending == null && rows.hasNext) {
            val r = rows.next()
            if (!(groupOpen && sameGroup(r))) {
              if (groupOpen) pending = emit()
              loadKey(r)
              groupOpen = true
              accums.reset()
            }
            accums.update(r)
          }
          if (pending == null && groupOpen && !rows.hasNext) {
            pending = emit()
            groupOpen = false
          }
        }
        def hasNext: Boolean = { advance(); pending != null }
        def next(): org.apache.spark.sql.catalyst.InternalRow = {
          advance()
          val out = pending; pending = null
          if (out == null) throw new NoSuchElementException("empty")
          out
        }
      }
    }
  }

  def bucketAlignedAggregate(spark: SparkSession, tableDir: String,
                             aggs: Seq[(String, String, String)],
                             version: Option[Long] = None,
                             ranges: Seq[(String, Any, Any)] = Nil,
                             groupAlso: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val m = resolveAlignedRead(spark, tableDir, version, ranges)
    val (key, n) = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$tableDir is not bucket-clustered; bucketAlignedAggregate groups " +
        "by the bucket key (bucketBy at commit, or CLUSTERED BY in DDL)"))
    require(m.files.forall(m.buckets.contains),
      s"$tableDir has unclustered files (appends since the last " +
        "re-cluster); run compactBucketed first")
    val schema = m.schema
    val keyType = schema(key).dataType
    require(keyType != DoubleType && keyType != FloatType,
      "float/double group keys are not supported (±0.0/NaN equality)")
    // COMPOSITE grouping (r18): `groupAlso` appends further grouping
    // columns — `GROUP BY key, date` is still co-located, because
    // every (key, *) row lives in the key's bucket; the fold just
    // sorts in task on the full tuple and streams one group per
    // distinct tuple. Composite sort markers (sortAlso) make it
    // sort-free, like the as-of/running operators.
    require(groupAlso.distinct.size == groupAlso.size &&
      !groupAlso.contains(key),
      s"groupAlso must be distinct non-key columns: $groupAlso")
    groupAlso.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"unknown grouping column '$c' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      val dt = schema(c).dataType
      require(dt != DoubleType && dt != FloatType,
        "float/double group columns are not supported (±0.0/NaN equality)")
    }
    // resolve each agg to (input ordinal or -1 for *, accumulator kind,
    // output field) up front — unknown fns/columns refuse at plan time
    val specs = resolveAggSpecs(schema, aggs)
    require(!aggs.map(_._3).exists((Set(key) ++ groupAlso).contains),
      "an agg alias collides with a grouping column name")
    val groupCols = key +: groupAlso
    val outSchema = StructType(
      groupCols.map(c => schema(c).copy(nullable = true)) ++ specs.map(_.out))
    // one sorted single-partition RDD per bucket (the join's shape);
    // an oversized bucket splits into key-disjoint sub-tasks
    // ([[subBucketSplits]]) — each folds complete groups, so the
    // union below is still final rows, never partials
    val sink = resetAlignedPlans()
    val (winFiles, rowF) = alignedWindow(m, tableDir, schema, ranges)
    val byBucket = winFiles.groupBy(m.buckets)
    val tasks = (0 until n).flatMap { b =>
      byBucket.get(b) match {
        case None => Seq(() => Option.empty[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]])
        case Some(files) =>
          val k = subBucketSplits(spark, m, files)
          (0 until k).map(i => () => Some(
            // tuple-ordered read — composite-sorted layouts skip the
            // in-task sort
            bucketOrderedRdd(spark, tableDir, m, schema, groupCols, files,
              dropNullKeys = false, sink,
              subBucketFilter(key, i, k, rowF))))
      }
    }
    val perBucket = alignedUnion(spark, tasks)
    val aggregated = perBucket.mapPartitions(
      streamingGroupFoldKeys(
        groupCols.map(c => (schema.fieldIndex(c), schema(c).dataType)),
        specs, outSchema))
    org.apache.spark.sql.graftbridge.Bridge.internalFrame(
      spark, aggregated, outSchema)
  }

  /** FUSED storage-partitioned join + grouped aggregation — the
    * 100 TB star-query shape `SELECT key, aggs FROM fact JOIN fact
    * USING (key) GROUP BY key` executed with ZERO Exchange end to
    * end: [[bucketAlignedJoin]] with the merge strategy emits each
    * bucket's joined rows in KEY order (left keys are monotone
    * through the merge), so the grouped aggregation is the same
    * O(1)-memory [[streamingGroupFold]] the aligned aggregate runs —
    * applied in the SAME task, no materialized join result, no
    * second pass. A planner would shuffle both inputs for the join
    * and (even with the join's partitioning reused) hold a hash-agg
    * over every group; this streams.
    *
    * Semantics: INNER equi-join (SQL NULL never matches — both scans
    * drop NULL keys), then `aggs` (`count(*)`/count/sum/min/max, the
    * aligned-fold vocabulary) grouped by the join key. Agg columns
    * resolve against the JOINED schema (left fields then right);
    * a column name present on BOTH sides is refused as ambiguous
    * (rename a side first — positional trickery would silently bind
    * the left one). Output: the join key (left name, never NULL on an
    * inner join) + one column per agg, Spark's own aggregate result
    * types. Sorted layouts compose: both sides skip their in-task
    * sort ([[bucketOrderedRdd]]), making the whole star query
    * scan-bound. Same refusals as the join (layouts, types) and the
    * aggregate (fns, aliases).
    */
  def bucketAlignedJoinAggregate(spark: SparkSession,
                                 leftDir: String, rightDir: String,
                                 leftKey: String, rightKey: String,
                                 aggs: Seq[(String, String, String)],
                                 leftVersion: Option[Long] = None,
                                 rightVersion: Option[Long] = None,
                                 leftRanges: Seq[(String, Any, Any)] = Nil,
                                 rightRanges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    // the join RESETS and records the per-bucket plans; the fold adds
    // no plan of its own, so the shuffle/sort witnesses cover the
    // whole fused pipeline
    val joined = bucketAlignedJoin(spark, leftDir, rightDir,
      leftKey, rightKey, leftVersion, rightVersion,
      joinType = "inner", strategy = "merge",
      leftRanges = leftRanges, rightRanges = rightRanges)
    val jSchema = joined.schema
    val dup = jSchema.fieldNames.groupBy(identity)
      .filter(_._2.length > 1).keySet
    require(!dup.contains(leftKey),
      s"join key name '$leftKey' exists on both sides — rename the " +
        "right side's key before aggregating over the join")
    val specs = resolveAggSpecs(jSchema, aggs, ambiguous = dup)
    val kIdx = jSchema.fieldIndex(leftKey)
    val kt = jSchema(leftKey).dataType
    val outSchema = StructType(
      jSchema(kIdx).copy(nullable = true) +: specs.map(_.out))
    // the joined frame is an ExistingRDD scan — toRdd re-wraps the
    // underlying rows without any exchange
    val folded = joined.queryExecution.toRdd.mapPartitions(
      streamingGroupFold(kIdx, kt, specs, outSchema))
    org.apache.spark.sql.graftbridge.Bridge.internalFrame(
      spark, folded, outSchema)
  }

  /** LATEST-BY-KEY over the bucket layout — the CDC upsert-compaction
    * / "current state of every entity" shape, shuffle-free: per
    * bucket, one key-ordered pass ([[bucketOrderedRdd]] — sorted
    * layouts skip even the in-task sort) keeps the single row with
    * the greatest `orderCol` per bucket-key group, O(1) memory (one
    * candidate row held). A planner computes this as a window
    * (`row_number() OVER (PARTITION BY key ORDER BY ord DESC) = 1`)
    * — a full shuffle plus a per-partition sort of every column.
    *
    * Semantics (matched by the relational oracle `t JOIN (SELECT
    * key, max(ord) FROM t GROUP BY key) USING (key, ord)`): rows
    * with a NULL `orderCol` never win, a key whose rows are ALL
    * NULL-ordered is absent from the output, and NULL keys are
    * dropped (no entity). Ties on `orderCol` keep an arbitrary one
    * of the tied rows — make the order column unique per key (the
    * CDC sequence-number shape) for a deterministic answer.
    * Refusals: unbucketed/unclustered tables, float/double keys or
    * order columns, unknown/non-orderable order columns.
    */
  def bucketAlignedLatest(spark: SparkSession, tableDir: String,
                          orderCol: String,
                          version: Option[Long] = None,
                          ranges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val m = resolveAlignedRead(spark, tableDir, version, ranges)
    val (key, n) = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$tableDir is not bucket-clustered; bucketAlignedLatest keeps the " +
        "latest row per bucket key (bucketBy at commit, or CLUSTERED BY " +
        "in DDL)"))
    require(m.files.forall(m.buckets.contains),
      s"$tableDir has unclustered files (appends since the last " +
        "re-cluster); run compactBucketed first")
    val schema = m.schema
    val keyType = schema(key).dataType
    require(keyType != DoubleType && keyType != FloatType,
      "float/double keys are not supported (±0.0/NaN equality)")
    require(schema.fieldNames.contains(orderCol),
      s"unknown order column '$orderCol' " +
        s"(columns: ${schema.fieldNames.mkString(", ")})")
    val ot = schema(orderCol).dataType
    require(ot != DoubleType && ot != FloatType,
      "float/double order columns are not supported (NaN ordering); " +
        "cast to decimal first")
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(ot),
      s"order column '$orderCol' of type ${ot.simpleString} is not orderable")
    val sink = resetAlignedPlans()
    val (winFiles, rowF) = alignedWindow(m, tableDir, schema, ranges)
    val byBucket = winFiles.groupBy(m.buckets)
    // latest-by-key folds per key too — an oversized bucket splits
    // into key-disjoint sub-tasks exactly like the aggregate
    val tasks = (0 until n).flatMap { b =>
      byBucket.get(b) match {
        case None => Seq(() => Option.empty[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]])
        case Some(files) =>
          val k = subBucketSplits(spark, m, files)
          (0 until k).map(i => () => Some(
            bucketOrderedRdd(spark, tableDir, m, schema, Seq(key), files,
              dropNullKeys = true, sink,
              subBucketFilter(key, i, k, rowF))))
      }
    }
    val perBucket = alignedUnion(spark, tasks)
    val kIdx = schema.fieldIndex(key)
    val oIdx = schema.fieldIndex(orderCol)
    val kt = keyType
    val latest = perBucket.mapPartitions { rows =>
      val kOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(kt)
      val oOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(ot)
      def copyKey(v: Any): Any = detachValue(v)
      // ONE candidate row held (copied — scan buffers are reused);
      // group close emits it iff its order value is non-NULL
      var groupKey: Any = null
      var groupOpen = false
      var best: org.apache.spark.sql.catalyst.InternalRow = null
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var pending: org.apache.spark.sql.catalyst.InternalRow = _
        private def close(): Unit = {
          if (best != null) pending = best
          best = null
        }
        private def advance(): Unit = {
          while (pending == null && rows.hasNext) {
            val r = rows.next()
            val k = r.get(kIdx, kt) // scans dropped NULL keys
            if (!groupOpen || !kOrd.equiv(k, groupKey)) {
              if (groupOpen) close()
              groupKey = copyKey(k)
              groupOpen = true
            }
            if (!r.isNullAt(oIdx) && (best == null ||
                oOrd.compare(r.get(oIdx, ot), best.get(oIdx, ot)) > 0))
              best = r.copy()
          }
          if (pending == null && groupOpen && !rows.hasNext) {
            close()
            groupOpen = false
          }
        }
        def hasNext: Boolean = { advance(); pending != null }
        def next(): org.apache.spark.sql.catalyst.InternalRow = {
          advance()
          val out = pending; pending = null
          if (out == null) throw new NoSuchElementException("empty")
          out
        }
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalFrame(
      spark, latest, schema)
  }

  /** STORAGE-PARTITIONED AS-OF JOIN — the point-in-time / feature-
    * store shape (`trades ⋈ last quote at-or-before trade time`,
    * `label ⋈ feature state as of label time`) executed with ZERO
    * Exchange: both sides bucket-clustered on the entity key with
    * identical modulus, each bucket pair zipped into ONE task that
    * walks the two (key, time)-ordered streams forward holding O(1)
    * state — one right look-ahead row plus ONE candidate row (the
    * greatest right time ≤ the current left time). A planner
    * computes this as a range join (quadratic blow-up risk) or a
    * union + window carry-forward ([[graft.operators.TemporalJoins]]
    * — correct, but one full shuffle of both inputs); this streams
    * each bucket once. Sorted layouts (`sortBuckets` with
    * `sortAlso = Seq(timeCol)`) skip even the in-task sort — the
    * whole join becomes scan-bound ([[alignedSortFree]]); unsorted
    * or key-only-sorted buckets fall back to the spillable in-task
    * sorter on (key, time), exactly as correct.
    *
    * Semantics (BACKWARD as-of, the trades⋈quotes default): for each
    * left row, the single right row of equal key with the GREATEST
    * `rightTime` ≤ `leftTime`; `direction = "forward"` flips it to
    * the SMALLEST `rightTime` ≥ `leftTime` (next-event attribution),
    * and `tolerance = Some(n)` bounds the match gap in the time
    * column's native internal unit (pandas merge_asof's contract —
    * stale features refuse to serve). SQL NULL comparisons never match: a
    * NULL `leftTime` row matches nothing, NULL `rightTime` rows are
    * never candidates, NULL keys never match (kept and NULL-extended
    * under `joinType = "left"`, dropped under `"inner"` — the
    * aligned join's exact contract). Ties on `rightTime` within a
    * key keep an arbitrary one of the tied rows — make (key, time)
    * unique on the right (the quote-sequence shape) for a
    * deterministic answer. Output: every left column, then every
    * right column EXCEPT `rightKey` (it equals the left key on every
    * match), right columns nullable; duplicate names across the
    * surviving columns are refused (rename a side first).
    * Refusals mirror [[bucketAlignedJoin]]: unbucketed/unclustered
    * layouts, differing moduli, float/double or mismatched key
    * types; plus mismatched/float/non-orderable time column types.
    */
  def bucketAlignedAsof(spark: SparkSession,
                        leftDir: String, rightDir: String,
                        leftKey: String, rightKey: String,
                        leftTime: String, rightTime: String,
                        joinType: String = "left",
                        direction: String = "backward",
                        tolerance: Option[Long] = None,
                        leftVersion: Option[Long] = None,
                        rightVersion: Option[Long] = None,
                        leftRanges: Seq[(String, Any, Any)] = Nil,
                        rightRanges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val jt = joinType.toLowerCase.replace("_", "") match {
      case "left" | "leftouter" => "leftouter"
      case "inner"              => "inner"
      case other => throw new IllegalArgumentException(
        s"unsupported joinType '$other' (inner, left)")
    }
    // `direction`: backward = greatest right time ≤ left time (the
    // trades⋈quotes default); forward = SMALLEST right time ≥ left
    // time (next-event attribution). `tolerance`: a staleness bound
    // in the time column's NATIVE internal unit (timestamps = µs,
    // dates = days, integrals = their own value) — a candidate
    // further than `tolerance` from the left time is no match (the
    // feature-store "features older than N are unusable" contract,
    // pandas merge_asof's tolerance). Both evaluated per left row on
    // the same O(1)-state walk.
    val backward = direction.toLowerCase match {
      case "backward" => true
      case "forward"  => false
      case other => throw new IllegalArgumentException(
        s"unsupported direction '$other' (backward, forward)")
    }
    tolerance.foreach(t => require(t >= 0L,
      s"tolerance must be ≥ 0, got $t"))
    val sink = resetAlignedPlans()
    val lm = resolveAlignedRead(spark, leftDir, leftVersion, leftRanges)
    val rm = resolveAlignedRead(spark, rightDir, rightVersion, rightRanges)
    def bucketsOf(m: Manifest, dir: String, key: String): Int = {
      val (bk, n) = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$dir is not bucket-clustered; bucketAlignedAsof needs the layout " +
          "on both sides (bucketBy at commit, or CLUSTERED BY in DDL)"))
      require(bk == key,
        s"$dir is bucketed by '$bk', not the join key '$key'")
      require(m.files.forall(m.buckets.contains),
        s"$dir has unclustered files (appends since the last re-cluster); " +
          "run compactBucketed first")
      n
    }
    val ln = bucketsOf(lm, leftDir, leftKey)
    val rn = bucketsOf(rm, rightDir, rightKey)
    require(ln == rn,
      s"bucket counts differ ($leftDir=$ln, $rightDir=$rn): re-cluster one " +
        "side — zip alignment needs identical modulus")
    val lSchema = lm.schema
    val rSchema = rm.schema
    val kt = lSchema(leftKey).dataType
    require(kt == rSchema(rightKey).dataType,
      s"join key types differ (${lSchema(leftKey).dataType} vs " +
        s"${rSchema(rightKey).dataType}): the bucket hash is typed, so " +
        "differing types never co-bucket")
    require(kt != DoubleType && kt != FloatType,
      "float/double join keys are not supported (±0.0/NaN equality)")
    Seq((leftTime, lSchema, leftDir), (rightTime, rSchema, rightDir))
      .foreach { case (c, sch, dir) =>
        require(sch.fieldNames.contains(c),
          s"unknown time column '$c' on $dir " +
            s"(columns: ${sch.fieldNames.mkString(", ")})")
      }
    val tt = lSchema(leftTime).dataType
    require(tt == rSchema(rightTime).dataType,
      s"time column types differ (${lSchema(leftTime).dataType} vs " +
        s"${rSchema(rightTime).dataType}): as-of compares them directly")
    require(tt != DoubleType && tt != FloatType,
      "float/double time columns are not supported (NaN ordering); " +
        "cast to decimal or timestamp first")
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(tt),
      s"time column type ${tt.simpleString} is not orderable")
    // tolerance subtracts internal representations — meaningful only
    // for the numeric-internal time types (timestamp = Long µs,
    // date = Int days, integral = itself)
    val numericInternal = tt match {
      case _: TimestampType | _: TimestampNTZType | _: DateType |
           _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      case _ => false
    }
    require(tolerance.isEmpty || numericInternal,
      s"tolerance requires a numeric-internal time column (timestamp, " +
        s"date, byte/short/int/long); ${tt.simpleString} is not")
    val rKeyIdx = rSchema.fieldIndex(rightKey)
    val outFields = lSchema.fields ++
      rSchema.fields.zipWithIndex.collect {
        case (f, i) if i != rKeyIdx => f.copy(nullable = true)
      }
    val dupNames = outFields.map(_.name).groupBy(identity)
      .filter(_._2.length > 1).keys
    require(dupNames.isEmpty,
      s"duplicate output column(s) ${dupNames.mkString(", ")}: rename one " +
        "side before the as-of join")
    val outSchema = StructType(outFields)
    def sideRdd(dir: String, m: Manifest,
                schema: StructType, key: String, time: String, n: Int,
                dropNullKeys: Boolean,
                ranges: Seq[(String, Any, Any)]): org.apache.spark.rdd.RDD[
                  org.apache.spark.sql.catalyst.InternalRow] = {
      val (winFiles, rowF) = alignedWindow(m, dir, schema, ranges)
      val byBucket = winFiles.groupBy(m.buckets)
      alignedBucketUnion(spark, n) { b =>
        byBucket.get(b).map(files =>
          bucketOrderedRdd(spark, dir, m, schema, Seq(key, time), files,
            dropNullKeys, sink, rowF))
      }
    }
    val left = sideRdd(leftDir, lm, lSchema, leftKey, leftTime, ln,
      dropNullKeys = jt == "inner", leftRanges)
    val right = sideRdd(rightDir, rm, rSchema, rightKey, rightTime, rn,
      dropNullKeys = true, rightRanges)
    val lIdxK = lSchema.fieldIndex(leftKey)
    val lIdxT = lSchema.fieldIndex(leftTime)
    val rIdxT = rSchema.fieldIndex(rightTime)
    val lWidth = lSchema.length
    val inner = jt == "inner"
    val lFieldTypes = lSchema.fields.map(_.dataType)
    val rFieldTypes = rSchema.fields.map(_.dataType)
    val joined = left.zipPartitions(right) { (li, ri) =>
      import org.apache.spark.sql.catalyst.expressions.{
        BoundReference, JoinedRow, UnsafeProjection}
      val kOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(kt)
      val tOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(tt)
      def copyKey(k: Any): Any = detachValue(k)
      def nextRight(): org.apache.spark.sql.catalyst.InternalRow =
        if (ri.hasNext) ri.next().copy() else null
      // output = left columns + right columns minus the right key
      val project = UnsafeProjection.create(
        lFieldTypes.zipWithIndex.map { case (dt, i) =>
          BoundReference(i, dt, nullable = true) } ++
        rFieldTypes.zipWithIndex.collect { case (dt, i) if i != rKeyIdx =>
          BoundReference(lWidth + i, dt, nullable = true) })
      val joinedRow = new JoinedRow
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rFieldTypes.length)
      // a time value's internal numeric form (validated above when a
      // tolerance is set): timestamps are Long µs, dates Int days
      def toNum(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case s: java.lang.Short => s.toLong
        case b: java.lang.Byte => b.toLong
      }
      // overflow-safe gap (ADVICE r15): the candidate order guarantees
      // a non-negative true gap (backward matched rt <= lt, forward
      // rt >= lt), so the raw subtraction can only overflow when the
      // true gap exceeds Long range — astronomically stale. Raw
      // `toNum(lt) - toNum(rt)` would wrap NEGATIVE there (e.g. a
      // Long.MinValue sentinel time) and wrongly pass `gap <= tol`;
      // subtractExact turns that wrap into out-of-tolerance.
      def withinTol(lt: Any, rt: Any): Boolean = tolerance.forall { tol =>
        try {
          val gap =
            if (backward) Math.subtractExact(toNum(lt), toNum(rt))
            else Math.subtractExact(toNum(rt), toNum(lt))
          gap <= tol
        } catch { case _: ArithmeticException => false }
      }
      // O(1) walk state: the right look-ahead, the CURRENT left key
      // group (detached copy), and (backward) the group's best
      // candidate so far — forward needs none, its candidate IS the
      // un-consumed look-ahead
      var rHead = nextRight()
      var groupKey: Any = null
      var groupLoaded = false
      var cand: org.apache.spark.sql.catalyst.InternalRow = null
      li.flatMap { l =>
        val k = l.get(lIdxK, kt) // may be NULL only under leftouter
        if (k == null) {
          // NULL keys match nothing; the scans sorted them FIRST, so
          // no group state has been built yet
          if (inner) Iterator.empty
          else Iterator.single(project(joinedRow(l, nullRight))
            : org.apache.spark.sql.catalyst.InternalRow)
        } else {
          if (!groupLoaded || !kOrd.equiv(groupKey, k)) {
            // new left key group: discard the previous candidate and
            // advance the right stream to the first key ≥ k (strictly
            // forward — left keys are monotone)
            while (rHead != null &&
                kOrd.lt(rHead.get(rKeyIdx, kt), k))
              rHead = nextRight()
            groupKey = copyKey(k); groupLoaded = true
            cand = null
          }
          val lt = if (l.isNullAt(lIdxT)) null else l.get(lIdxT, tt)
          var fwdCand: org.apache.spark.sql.catalyst.InternalRow = null
          if (lt != null) {
            // BACKWARD: consume the group's rows with time ≤ lt (left
            // times are monotone within the group, so this pointer
            // only moves forward), remembering the last — the
            // greatest time ≤ lt. FORWARD: discard the same rows
            // WITHOUT remembering (a row with time < lt is < every
            // later lt too) and peek the first time ≥ lt — the
            // look-ahead itself, never consumed (later left rows may
            // match it again). NULL right times sort first and are
            // never candidates either way.
            var advancing = true
            while (advancing && rHead != null &&
                kOrd.equiv(rHead.get(rKeyIdx, kt), k)) {
              val rt =
                if (rHead.isNullAt(rIdxT)) null else rHead.get(rIdxT, tt)
              if (rt == null) rHead = nextRight()
              else if (backward) {
                if (tOrd.lteq(rt, lt)) { cand = rHead; rHead = nextRight() }
                else advancing = false
              } else {
                if (tOrd.lt(rt, lt)) rHead = nextRight()
                else { fwdCand = rHead; advancing = false }
              }
            }
          }
          val chosen = if (backward) cand else fwdCand
          val matched = lt != null && chosen != null &&
            withinTol(lt, chosen.get(rIdxT, tt))
          if (matched)
            Iterator.single(project(joinedRow(l, chosen))
              : org.apache.spark.sql.catalyst.InternalRow)
          else if (inner) Iterator.empty
          else Iterator.single(project(joinedRow(l, nullRight))
            : org.apache.spark.sql.catalyst.InternalRow)
        }
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalFrame(
      spark, joined, outSchema)
  }

  /** STORAGE-PARTITIONED RUNNING-WINDOW AGGREGATION — `agg(x) OVER
    * (PARTITION BY key ORDER BY orderCol RANGE BETWEEN UNBOUNDED
    * PRECEDING AND CURRENT ROW)` (SQL's DEFAULT window frame) for
    * the aligned fold vocabulary (count/`count(*)`/sum/min/max),
    * with ZERO Exchange: each bucket streams (key, orderCol)-ordered
    * in one task, folding the running accumulators forward and
    * emitting every input row with its running values appended. A
    * planner shuffles the whole table on the key and sorts every
    * partition; this streams each bucket once. Sorted layouts
    * (`sortAlso = Seq(orderCol)`) skip even the in-task sort.
    *
    * RANGE (peer) semantics exactly — rows tied on `orderCol` within
    * a key all receive the value INCLUDING the whole tie group,
    * which is what makes the answer deterministic under ties (ROWS
    * framing would depend on the physical tie order). Task memory is
    * O(one tie group) — the rows sharing one (key, orderCol) value —
    * plus the O(1) accumulators. NULL semantics are SQL's: NULL keys
    * form ONE window partition (kept, not dropped — `PARTITION BY`
    * groups NULLs), NULL `orderCol` rows are each other's peers and
    * sort FIRST (mirror the oracle with `ORDER BY t NULLS FIRST`),
    * and the accumulators skip NULL inputs as ever. Output: every
    * table column, then one column per agg. Refusals: the aligned
    * family's (unbucketed/unclustered/float keys), float/double or
    * non-orderable `orderCol`, the agg vocabulary's.
    */
  def bucketAlignedRunning(spark: SparkSession, tableDir: String,
                           orderCol: String,
                           aggs: Seq[(String, String, String)],
                           version: Option[Long] = None,
                           ranges: Seq[(String, Any, Any)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val m = resolveAlignedRead(spark, tableDir, version, ranges)
    val (key, n) = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$tableDir is not bucket-clustered; bucketAlignedRunning windows " +
        "over the bucket key (bucketBy at commit, or CLUSTERED BY in DDL)"))
    require(m.files.forall(m.buckets.contains),
      s"$tableDir has unclustered files (appends since the last " +
        "re-cluster); run compactBucketed first")
    val schema = m.schema
    val kt = schema(key).dataType
    require(kt != DoubleType && kt != FloatType,
      "float/double keys are not supported (±0.0/NaN equality)")
    require(schema.fieldNames.contains(orderCol),
      s"unknown order column '$orderCol' " +
        s"(columns: ${schema.fieldNames.mkString(", ")})")
    val ot = schema(orderCol).dataType
    require(ot != DoubleType && ot != FloatType,
      "float/double order columns are not supported (NaN ordering); " +
        "cast to decimal first")
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(ot),
      s"order column '$orderCol' of type ${ot.simpleString} is not orderable")
    val specs = resolveAggSpecs(schema, aggs)
    specs.foreach(sp => require(!schema.fieldNames.contains(sp.out.name),
      s"agg alias '${sp.out.name}' shadows a table column"))
    val outSchema = StructType(schema.fields ++ specs.map(_.out))
    val sink = resetAlignedPlans()
    val (winFiles, rowF) = alignedWindow(m, tableDir, schema, ranges)
    val byBucket = winFiles.groupBy(m.buckets)
    val perBucket = alignedBucketUnion(spark, n) { b =>
      byBucket.get(b).map(files =>
        bucketOrderedRdd(spark, tableDir, m, schema, Seq(key, orderCol),
          files, dropNullKeys = false, sink, rowF))
    }
    val kIdx = schema.fieldIndex(key)
    val oIdx = schema.fieldIndex(orderCol)
    val width = schema.length
    val specsB = specs
    val folded = perBucket.mapPartitions { rows =>
      import org.apache.spark.sql.catalyst.expressions.{
        BoundReference, UnsafeProjection}
      val kOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(kt)
      val oOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(ot)
      val project = UnsafeProjection.create(
        schema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, nullable = true) } ++
        specsB.zipWithIndex.map { case (sp, i) =>
          BoundReference(width + i, sp.out.dataType, nullable = true) })
      def copyVal(v: Any): Any = detachValue(v)
      val accums = new AggAccums(specsB)
      var groupKey: Any = null
      var groupOpen = false
      // the ONE buffered tie group (rows sharing (key, orderCol)) —
      // its rows all emit the running value that includes the whole
      // group, so they buffer until the group closes
      val tie = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.catalyst.InternalRow]
      var tieVal: Any = null
      var tieValNull = false
      val extras = new Array[Any](specsB.length)
      val wide = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(width + specsB.length)
      def sameKey(r: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
        val kn = r.isNullAt(kIdx)
        if (!groupOpen) false
        else if (kn || groupKey == null) kn && groupKey == null
        else kOrd.equiv(r.get(kIdx, kt), groupKey)
      }
      def samePeer(r: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
        val on = r.isNullAt(oIdx)
        if (on || tieValNull) on && tieValNull
        else oOrd.equiv(r.get(oIdx, ot), tieVal)
      }
      // fold the buffered tie group into the accumulators, snapshot
      // the running values, emit each buffered row with them appended
      def flushTie(): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
        if (tie.isEmpty) Iterator.empty
        else {
          tie.foreach(accums.update)
          var i = 0
          while (i < specsB.length) { extras(i) = accums.value(i); i += 1 }
          val out = tie.toIndexedSeq
          tie.clear()
          out.iterator.map { r =>
            var j = 0
            while (j < width) {
              wide.update(j,
                if (r.isNullAt(j)) null
                else r.get(j, schema.fields(j).dataType))
              j += 1
            }
            var e = 0
            while (e < specsB.length) {
              wide.update(width + e, extras(e)); e += 1
            }
            project(wide).copy()
          }
        }
      def openTie(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        tieValNull = r.isNullAt(oIdx)
        tieVal = if (tieValNull) null else copyVal(r.get(oIdx, ot))
        tie += r.copy()
      }
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var pending: Iterator[
          org.apache.spark.sql.catalyst.InternalRow] = Iterator.empty
        private def advance(): Unit = {
          while (!pending.hasNext && rows.hasNext) {
            val r = rows.next()
            if (!groupOpen) {
              groupKey =
                if (r.isNullAt(kIdx)) null else copyVal(r.get(kIdx, kt))
              groupOpen = true
              accums.reset()
              openTie(r)
            } else if (!sameKey(r)) {
              pending = flushTie()
              groupKey =
                if (r.isNullAt(kIdx)) null else copyVal(r.get(kIdx, kt))
              accums.reset()
              openTie(r)
            } else if (samePeer(r)) {
              tie += r.copy()
            } else {
              pending = flushTie()
              openTie(r)
            }
          }
          if (!pending.hasNext && !rows.hasNext && tie.nonEmpty)
            pending = flushTie()
        }
        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): org.apache.spark.sql.catalyst.InternalRow = {
          advance()
          pending.next()
        }
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalFrame(
      spark, folded, outSchema)
  }

  /** The manifest-path twin of [[pruneFilesCheckpointedProbes]]: of
    * `candidates`, the files the probes' conjunction cannot rule out —
    * the decisions-identical witness the checkpoint path is pinned
    * against.
    */
  private[sources] def pruneForProbes(spark: SparkSession, m: Manifest,
                                      candidates: Seq[String],
                                      probes: Seq[(String, Seq[Any])])
      : Seq[String] =
    prunedFiles(Some(spark), m, Prune.of(m.schema, probes, Nil), candidates)

  /** The WRITE half of [[publishManifestDelta]]: serialize the
    * version-level lines of `m` plus the given segment refs and
    * tombstones, publish atomically, and on success restamp + write
    * the feed marker + run the opt-in auto-checkpoint. On a CAS loss
    * the freshly written segment (this commit's only new metadata
    * file) is unpublished. Never consults `m`'s per-file maps — a
    * manifest header serves it completely.
    */
  private def publishManifestFile(f: FileSystem, tableDir: String,
                                  m: Manifest,
                                  segRefs: Seq[(String, Int)],
                                  tombstones: Seq[(String, String)],
                                  newSeg: Option[String]): Boolean = {
    // opt-in auto-checkpoint (graft.checkpoint.autoEvery = N > 0),
    // read BEFORE the publish so a malformed value refuses the commit
    // instead of surfacing after it landed
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val autoEvery =
      session.map(s => graft.GraftConf.int(s, "graft.checkpoint.autoEvery", 0))
        .getOrElse(0)
    val tmp = new Path(tableDir,
      s"_manifests/.tmp-${m.version}-${UUID.randomUUID()}")
    val w = new OutputStreamWriter(f.create(tmp, false), StandardCharsets.UTF_8)
    try {
      w.write(s"$Header\n")
      w.write(s"version=${m.version}\n")
      w.write(s"schema=${m.schema.json}\n") // one line
      segRefs.foreach { case (rel, n) => w.write(s"segment=$rel\t$n\n") }
      tombstones.foreach { case (rel, file) => w.write(s"removed=$rel\t$file\n") }
      m.dvs.foreach(p => w.write(s"dv=$p\n"))
      m.txns.toSeq.sorted.foreach { case (app, b) => w.write(s"txn=$app\t$b\n") }
      m.checks.toSeq.sorted.foreach { case (n, e) => w.write(s"check=$n\t$e\n") }
      w.write(s"rows=${m.dataRows}\n")
      w.write(s"dvrows=${m.dvRows}\n")
      m.bucketSpec.foreach { case (k, n) => w.write(s"bucketspec=$k\t$n\n") }
      m.pendingMarker.foreach(p => w.write(s"pending=$p\n"))
      if (m.partitionCols.nonEmpty)
        w.write(s"partcols=${m.partitionCols.mkString(",")}\n")
      m.colMap.toSeq.sorted.foreach { case (l, ph) =>
        w.write(s"colmap=$l\t$ph\n") }
      m.retiredCols.foreach(c => w.write(s"retired=$c\n"))
    } finally w.close()
    val ok = atomicPublish(f, tmp, manifestPath(tableDir, m.version))
    if (!ok) {
      f.delete(tmp, false)
      newSeg.foreach { rel => // unpublish: file AND its cache seed
        f.delete(new Path(tableDir, rel), false)
        segmentCache.synchronized(segmentCache.remove(
          f.makeQualified(new Path(tableDir, rel)).toString))
      }
    }
    // stamp the PUBLISH instant: rename preserves the tmp-write mtime,
    // which predates visibility — [[versionAsOf]] resolves by mtime,
    // so without the restamp a timestamp falling between the tmp
    // write and the rename would classify the version as already
    // committed. Best-effort (object stores may refuse setTimes); the
    // residual skew is then the original sub-second write-to-rename gap
    else {
      try f.setTimes(manifestPath(tableDir, m.version),
        System.currentTimeMillis(), -1L)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => () }
      // feed-discovery marker (1 byte) for THIS version only — O(1)
      // per commit, not an O(history) directory sweep (the full
      // backfill sweep runs once at stream start, see
      // [[ensureCommitMarkers]]). Best-effort: a miss here is healed
      // by the next stream start's sweep
      try writeCommitMarker(f, tableDir, f"v${m.version}%06d")
      catch { case _: java.io.IOException => () }
      // auto-checkpoint: every Nth committed version materializes its
      // metadata checkpoint at commit time, Delta-style; tail replay
      // ([[pruneFilesCheckpointedProbes]]) covers the versions in between.
      // Skips pending (txn) manifests — their liveness is undecided.
      // Best-effort: a checkpoint is an optimization and must never
      // fail the commit that produced the data.
      if (m.pendingMarker.isEmpty && autoEvery > 0 && m.version % autoEvery == 0)
        session.foreach { s =>
          try writeMetadataCheckpoint(s, tableDir, Some(m.version))
          catch { case e: Exception =>
            log.warn(s"auto-checkpoint of $tableDir v${m.version} " +
              s"failed: ${e.getMessage}") }
        }
    }
    ok
  }

  /** THE manifest publisher — every data commit, DML, maintenance and
    * metadata-only operation lands through it: publish a new version
    * as a DIFF against the base manifest (`base`, [[ManifestShell]])
    * instead of re-deriving every segment's liveness from a fully
    * materialized [[Manifest]]. Untouched segment refs are carried
    * VERBATIM with their recorded live counts and existing tombstones —
    * never parsed, never even consulted ([[segmentTouchHook]] observes
    * this); a segment some of whose files this commit removed is
    * touched: parsed (O(that segment)), kept with fresh tombstones
    * while more than half alive, or folded — its survivors copied
    * verbatim (they are already in segment vocabulary: physical stat
    * keys, marker truncation applied at read) into this commit's
    * fresh segment alongside `freshEntries` (the commit's own files or
    * edited copies of the removed entries, physical keys). Driver
    * memory and metadata I/O are O(touched segments + fresh files); a
    * 3-file compaction on a 10⁷-file table writes ~3 entries and reads
    * nothing else, and a header-only commit (schema change, CHECK,
    * restore) reads and writes no segment at all.
    *
    * Two rules touch more than the removals' segments:
    *  - a WIDENING (`widened`, logical names) drops the carried
    *    blooms and NDV sketches of the widened columns, and the
    *    carried min/max stats of the `scaleWidened` ones (see
    *    [[commit]]): every segment is consulted, and one holding such
    *    metadata on a live entry folds with it stripped;
    *  - past [[MaxManifestSegments]] kept refs, every live entry folds
    *    into the fresh segment (the amortized segment-list
    *    compaction — a long append history would otherwise grow the
    *    ref list and a cold read's parse count with COMMIT count).
    *
    * This publisher owns the one-live-ref invariant the KLL and
    * null-count checkpoint folds rely on ([[mergedHistogramCheckpointed]]):
    * within one published manifest every live file has exactly ONE
    * un-tombstoned (segment, file) position. It holds by induction —
    * removals tombstone (or fold away) the one owning position, fresh
    * entries are new files or edits of entries removed in the same
    * publish, a fold copies each survivor once, and a restore
    * republishes a shell that already held it — so tombstoning a
    * removed file in its owning segment can never leave a shadow copy
    * to resurrect. Callers must keep to it: a fresh entry for a file
    * that stays live elsewhere breaks it.
    *
    * `mThin` carries the version-level lines (schema, dvs, txns,
    * checks, ledgers, specs, column mapping) — a manifest
    * header suffices; its per-file maps are never read.
    */
  private def publishManifestDelta(
      f: FileSystem, tableDir: String, mThin: Manifest,
      base: ManifestShell,
      removedBySeg: Map[String, Set[String]],
      freshEntries: Seq[SegEntry],
      widened: Set[String] = Set.empty,
      scaleWidened: Set[String] = Set.empty): Boolean = {
    val tombsBySeg = base.tombs.groupBy(_._1)
    // a removal attributed to a segment the base no longer references
    // would silently skip its tombstone — the file would resurrect on
    // the next read. Unreachable (the planning rows are liveness-
    // filtered against these very refs), which is why it must refuse
    // loudly rather than drift.
    val refSet = base.segRefs.iterator.map(_._1).toSet
    require(removedBySeg.keysIterator.forall(refSet.contains),
      s"delta publish: removals reference segments outside the base " +
        s"manifest (${removedBySeg.keySet -- refSet})")
    val sketchDrop = widened.map(mThin.physOf)
    val statDrop = scaleWidened.map(mThin.physOf)
    def stale(e: SegEntry): Boolean = e.stats.exists(s => statDrop(s._1)) ||
      e.blooms.exists(b => sketchDrop(b._1)) || e.ndvs.exists(n => sketchDrop(n._1))
    def strip(e: SegEntry): SegEntry = e.copy(
      stats = e.stats.filterNot(s => statDrop(s._1)),
      blooms = e.blooms.filterNot(b => sketchDrop(b._1)),
      ndvs = e.ndvs.filterNot(n => sketchDrop(n._1)))
    def deadIn(rel: String): Set[String] =
      tombsBySeg.getOrElse(rel, Set.empty).map(_._2)
    // per base ref, in ref order: Left = kept (rel, live count,
    // tombstones), Right = its live entries folded into the fresh
    // segment
    val perRef = base.segRefs.map { case (rel, cnt) =>
      val rm = removedBySeg.getOrElse(rel, Set.empty)
      if (rm.isEmpty && widened.isEmpty)
        Left((rel, cnt, deadIn(rel))) // untouched: carried verbatim
      else {
        val sd = cachedSegment(f, tableDir, rel)
        val dead = deadIn(rel) ++ rm
        val live = sd.entries.filterNot(e => dead(e.file))
        if (live.exists(stale)) Right(live.map(strip))
        else if (rm.isEmpty) Left((rel, cnt, dead))
        // at-most-half alive: fold, so tombstones cannot pile up
        else if (live.size * 2 > sd.entries.size)
          Left((rel, live.size, sd.entries.map(_.file).toSet -- live.map(_.file)))
        else Right(live)
      }
    }
    // segment-list compaction: past the cap every live entry folds
    val folded =
      if (perRef.count(_.isLeft) < MaxManifestSegments) perRef
      else perRef.map {
        case Left((rel, _, dead)) => Right(
          cachedSegment(f, tableDir, rel).entries.filterNot(e => dead(e.file)))
        case folds => folds
      }
    val entries = folded.flatMap(_.toOption).flatten ++ freshEntries
    val newSeg =
      if (entries.isEmpty) None
      else Some(writeSegment(f, tableDir, mThin.version, entries))
    val kept = folded.flatMap(_.left.toOption)
    publishManifestFile(f, tableDir, mThin,
      kept.map { case (rel, n, _) => (rel, n) } ++
        newSeg.map(r => (r, entries.size)),
      kept.flatMap { case (rel, _, dead) => dead.toSeq.sorted.map(rel -> _) },
      newSeg)
  }

  /** ANALYZE: backfill per-file NDV sketches for `columns` on every
    * live file MISSING one — the repair that restores table-level NDV
    * ([[mergedNdv]] refuses partial unions) after maintenance dropped
    * rewritten files' sketches, or on a table that predates
    * `ndvColumns`. Cost is O(files missing sketches) — an analyzed
    * table pays only for what changed, never a full rescan; files
    * already covered keep their sketches verbatim. One metadata
    * commit that tombstones only the entries it extends and writes
    * their extended copies; no-ops versionlessly when nothing is
    * missing. The ANALYZE TABLE ... FOR COLUMNS role, incremental by
    * construction.
    */
  def analyzeNdv(spark: SparkSession, tableDir: String,
                 columns: Seq[String]): Long =
    analyzeSketches(spark, tableDir, columns, "analyzeNdv",
      validate = (_, _) => (),
      existing = _.ndvs, build = hllPerFile,
      withFresh = (e, fresh) => e.copy(ndvs = e.ndvs ++ fresh))

  /** [[analyzeNdv]]'s histogram twin: backfill per-file KLL quantile
    * sketches for `columns` (numeric/date/timestamp) on every live
    * file MISSING one — restores [[mergedHistogram]] (which refuses
    * partial merges) after a sketchless append or on a table that
    * predates `histColumns`. O(files missing sketches); covered files
    * keep their sketches verbatim; no-ops versionlessly when complete.
    */
  def analyzeHistograms(spark: SparkSession, tableDir: String,
                        columns: Seq[String]): Long =
    analyzeSketches(spark, tableDir, columns, "analyzeHistograms",
      validate = requireKllSketchable,
      existing = _.klls, build = kllPerFile,
      withFresh = (e, fresh) => e.copy(klls = e.klls ++ fresh))

  /** [[analyzeStats]]' inverse, for stats that can no longer be
    * trusted: DROP every live file's recorded min/max stat (and null
    * count) for `columns` in one metadata commit: invalidated columns
    * stop pruning (conservative — every file scans) until a rewrite
    * re-records them. No data
    * is read; the commit tombstones the entries that carried such a
    * stat and writes their stripped copies, every other entry rides
    * its segment verbatim.
    */
  def invalidateStats(spark: SparkSession, tableDir: String,
                      columns: Seq[String]): Long = {
    require(columns.nonEmpty, "invalidateStats needs at least one column")
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val drop = columns.map(m.physOf).toSet -- m.retiredCols
    val edits = liveSegEntries(spark, tableDir, base).collect {
      case (rel, e) if e.stats.exists(st => drop(st._1)) ||
          e.nulls.exists(n => drop(n._1)) =>
        rel -> e.copy(stats = e.stats.filterNot(st => drop(st._1)),
          nulls = e.nulls.filterNot(n => drop(n._1)))
    }
    if (edits.isEmpty) return m.version // nothing recorded: versionless no-op
    publishMetadata(spark, tableDir, m.copy(version = version), base, edits)
  }

  /** The third ANALYZE sibling: backfill per-file FOOTER min/max
    * stats (and null counts) for `columns` on every live file MISSING
    * a stat — the repair that restores file skipping (and the
    * [[mergedRanges]] CBO feed) on files that predate `statsColumns`,
    * which no rewrite-free path could fix before. METADATA-ONLY and
    * cheaper than its sketch siblings: one parquet FOOTER read per
    * missing file, never a data scan. Covered files keep their stats
    * verbatim (value-typed — no randomized-sketch churn concern);
    * files whose footer carries no usable statistics simply stay
    * uncovered (unknown is never pruned). Null counts are recorded
    * for the repaired columns only where missing, never overwritten.
    * DECIMAL columns are refused: a file's footer decimals are
    * unscaled at ITS write scale, which a post-hoc repair cannot
    * verify against the table's (the write paths record decimal
    * stats only where the batch scale is known to match — see
    * [[statMayContain]]). The commit tombstones only the entries it
    * extends and writes their extended copies. No-ops versionlessly
    * when nothing is missing or the footers yielded nothing fresh.
    */
  def analyzeStats(spark: SparkSession, tableDir: String,
                   columns: Seq[String]): Long = {
    require(columns.nonEmpty, "analyzeStats needs at least one column")
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val schema = m.schema
    columns.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"analyze column '$c' is not a table column")
      require(!schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.DecimalType],
        s"analyzeStats cannot backfill decimal column '$c' (footer " +
          "stats are unscaled at each file's own write scale)")
    }
    val phys = columns.map(m.physOf)
    // gate on stats OR null counts: a pre-null-count-era file with
    // min/max but no counts still needs its footer visited (and an
    // all-null column's file has a count but no min/max — both gaps
    // are this repair's job). Re-visiting a file whose footer yields
    // nothing fresh is a wasted footer read, never a burned version
    // (the no-edit no-op below).
    val edits = liveSegEntries(spark, tableDir, base).flatMap { case (rel, e) =>
      val haveStat = e.stats.iterator.map(_._1).toSet
      val haveNull = e.nulls.iterator.map(_._1).toSet
      if (phys.forall(c => haveStat(c) && haveNull(c))) None
      else {
        val (st, nn) = footerColumnMeta(spark, dataPath(tableDir, e.file), phys)
        val freshStats = st.filter { case (c, _) => !haveStat(c) }
        val freshNulls = nn.filter { case (c, _) => !haveNull(c) }
        if (freshStats.isEmpty && freshNulls.isEmpty) None
        else Some(rel -> e.copy(stats = e.stats ++ freshStats,
          nulls = e.nulls ++ freshNulls))
      }
    }
    if (edits.isEmpty) return m.version
    publishMetadata(spark, tableDir, m.copy(version = version), base, edits)
  }

  /** The ONE eligibility rule for KLL (histogram) columns, shared by
    * [[commit]]'s `histColumns` and [[analyzeHistograms]] so the two
    * can never drift: numeric, date or timestamp (all sketch as
    * doubles in Catalyst-internal units).
    */
  private def requireKllSketchable(c: String,
      t: org.apache.spark.sql.types.DataType): Unit =
    require(t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        t == org.apache.spark.sql.types.DateType ||
        t == org.apache.spark.sql.types.TimestampType,
      s"hist column '$c' must be numeric, date or timestamp (KLL " +
        s"sketches values as doubles), not $t")

  /** Shared scaffolding of the two ANALYZE repairs: resolve, validate,
    * find live entries missing any requested sketch, re-sketch ONLY the
    * (file, column) pairs actually missing (a covered column's sketch
    * survives BY IDENTITY, not by recompute determinism — KLL
    * compaction is randomized), and publish one metadata commit that
    * tombstones exactly the entries it extends and writes their
    * extended copies. No-ops VERSIONLESSLY both when nothing is
    * missing and when the rebuild produced nothing fresh — publishing
    * an identical manifest would burn a version per call and never
    * converge. The builders differ on all-null (file, column) pairs:
    * the NDV build yields no sketch there (that repair no-ops on a
    * column only all-null files carry), while the KLL build records
    * an explicit EMPTY sketch (merge identity — see [[kllPerFile]]),
    * so a histogram repair CONVERGES in one commit and all-null files
    * stop poisoning [[mergedHistogram]].
    */
  private def analyzeSketches(spark: SparkSession, tableDir: String,
      columns: Seq[String], what: String,
      validate: (String, org.apache.spark.sql.types.DataType) => Unit,
      existing: SegEntry => Seq[(String, Array[Byte])],
      build: (SparkSession, Seq[(String, Path)], Seq[String],
              Option[org.apache.spark.sql.types.StructType])
        => Map[(String, String), Array[Byte]],
      withFresh: (SegEntry, Seq[(String, Array[Byte])]) => SegEntry): Long = {
    require(columns.nonEmpty, s"$what needs at least one column")
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val schema = m.schema
    columns.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"analyze column '$c' is not a table column")
      validate(c, schema(c).dataType)
    }
    val phys = columns.map(m.physOf)
    def missingOf(e: SegEntry): Seq[String] = {
      val have = existing(e).iterator.map(_._1).toSet
      phys.filterNot(have)
    }
    val missing = liveSegEntries(spark, tableDir, base)
      .filter { case (_, e) => missingOf(e).nonEmpty }
    if (missing.isEmpty) return m.version
    val physSchema =
      if (m.colMap.isEmpty) schema
      else org.apache.spark.sql.types.StructType(
        schema.fields.map(fd => fd.copy(name = m.physOf(fd.name))))
    val fresh = build(spark,
      missing.map { case (_, e) => e.file -> dataPath(tableDir, e.file) },
      phys, Some(physSchema))
    val edits = missing.flatMap { case (rel, e) =>
      val add = missingOf(e).flatMap(c => fresh.get((e.file, c)).map(c -> _))
      if (add.isEmpty) None else Some(rel -> withFresh(e, add))
    }
    if (edits.isEmpty) return m.version
    publishMetadata(spark, tableDir, m.copy(version = version), base, edits)
  }

  /** Every live segment entry of `base` with its owning segment — the
    * driver walk the metadata repairs edit (every segment consulted).
    */
  private def liveSegEntries(spark: SparkSession, tableDir: String,
                             base: ManifestShell): Seq[(String, SegEntry)] = {
    val f = fs(spark, tableDir)
    base.segRefs.flatMap { case (rel, _) =>
      cachedSegment(f, tableDir, rel).entries
        .filterNot(e => base.tombs.contains((rel, e.file))).map(rel -> _)
    }
  }

  /** A data file's path: borrowed (clone) refs are absolute. */
  private def dataPath(tableDir: String, rel: String): Path =
    if (isBorrowed(rel)) new Path(rel) else new Path(tableDir, rel)

  /** The publish of every metadata-only commit: `next` (the new
    * version's header) as a delta on `base` ([[publishManifestDelta]]).
    * `edits` are (segment, edited entry) pairs: each original entry is
    * tombstoned in its segment and its edited copy lands in the
    * commit's fresh segment, with any `fresh` entries; every other
    * ref rides verbatim. Returns `next.version`; a concurrent commit
    * of that version throws (there is no data to clean up).
    */
  private def publishMetadata(spark: SparkSession, tableDir: String,
                              next: Manifest, base: ManifestShell,
                              edits: Seq[(String, SegEntry)] = Nil,
                              fresh: Seq[SegEntry] = Nil,
                              widened: Set[String] = Set.empty): Long = {
    val removed = edits.groupBy(_._1).map { case (rel, es) =>
      rel -> es.iterator.map(_._2.file).toSet }
    if (!publishManifestDelta(fs(spark, tableDir), tableDir,
        next.copy(pendingMarker = None), base, removed,
        edits.map(_._2) ++ fresh, widened))
      throw new java.util.ConcurrentModificationException(
        s"version ${next.version} of $tableDir was committed concurrently")
    next.version
  }

  /** Register a named table-level CHECK constraint (the table formats'
    * ALTER TABLE ADD CONSTRAINT): a header-only commit — no data
    * written, no segment read or written — after which EVERY commit
    * kind (append, overwrite/MERGE, compaction, purge) validates its
    * batch against the constraint and refuses on violation. Existing
    * data is validated first (one scan of the current snapshot, DVs
    * applied) unless `validateExisting` is false — the admin "trust
    * me" escape hatch for constraints known to hold, which also makes
    * the enforcement-on-rewrite path independently testable. `exprSql`
    * must be a single-line Spark SQL boolean expression (no
    * tab/newline — manifest line format).
    */
  def addCheckConstraint(spark: SparkSession, tableDir: String,
                         name: String, exprSql: String,
                         validateExisting: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit, not}
    require(name.nonEmpty && fitsMetadataLine(name),
      s"constraint name must be non-empty with no tab/newline: '$name'")
    require(fitsMetadataLine(exprSql),
      s"constraint expression must be a single line: '$exprSql'")
    val (nextV, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    require(!m.checks.contains(name), s"constraint '$name' already exists")
    if (validateExisting && m.dataRows > 0) {
      val full = assemble(spark, tableDir, base)
      val bad = readFiles(spark, tableDir, full, full.files)
        .filter(not(coalesce(expr(exprSql), lit(false))))
        .agg(count(lit(1))).head().getLong(0)
      if (bad > 0)
        throw new IllegalArgumentException(
          s"existing data violates CHECK '$name' in $bad row(s); " +
            s"constraint not added to $tableDir")
    }
    publishMetadata(spark, tableDir,
      m.copy(version = nextV, checks = m.checks + (name -> exprSql)), base)
  }

  /** Remove a table-level CHECK constraint (a header-only commit). */
  def dropCheckConstraint(spark: SparkSession, tableDir: String,
                          name: String): Long = {
    val (nextV, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    require(m.checks.contains(name), s"no constraint '$name' at $tableDir")
    publishMetadata(spark, tableDir,
      m.copy(version = nextV, checks = m.checks - name), base)
  }

  /** Commit with a CHECK constraint (the table formats' CHECK /
    * NOT NULL enforcement): the batch is validated BEFORE any data is
    * written — a violating commit leaves the table completely
    * untouched (no orphan data dir, no version consumed). The check
    * is one aggregate over the batch (count of violating rows, not a
    * collect); its cost is a scan of the data about to be written —
    * the same data the write itself scans. Violations raise with the
    * violating-row count so the producer can quarantine the batch.
    */
  def commitChecked(df: DataFrame, tableDir: String,
                    constraint: org.apache.spark.sql.Column,
                    mode: String = "overwrite",
                    expectedVersion: Option[Long] = None,
                    statsColumns: Seq[String] = Nil,
                    txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{count, lit, not, coalesce}
    // NULL constraint results count as violations (CHECK semantics in
    // SQL let NULL pass; a lakehouse quality gate must not — an
    // unevaluable predicate is a dirty row, not a free pass)
    val bad = df.filter(not(coalesce(constraint, lit(false))))
      .agg(count(lit(1))).head().getLong(0)
    if (bad > 0)
      throw new IllegalArgumentException(
        s"CHECK constraint violated by $bad row(s); commit to $tableDir refused")
    commit(df, tableDir, mode, expectedVersion, statsColumns, txn)
  }

  /** Publish `tmp` as `dst` iff `dst` does not exist, atomically.
    * On HDFS and namespace-atomic object stores, `rename` IS that
    * operation (the namenode arbitrates). Hadoop's LOCAL filesystem,
    * though, implements rename as a non-atomic exists-check + POSIX
    * rename (which overwrites) — two racing writers could both
    * "win". There, hard-link creation (link(2), atomic EEXIST) is the
    * arbitration, so the concurrent-writer guarantee holds in local
    * tests exactly as it does on a real cluster.
    */
  /** The commit point: publish `tmp` at `dst` iff absent, exactly one
    * concurrent winner. The store-dependent primitive is pluggable
    * ([[CommitArbiter]] — object stores without an atomic
    * create-if-absent register a coordinated arbiter for their path
    * prefix); the default is the filesystem-native CAS, the historical
    * behavior verbatim.
    */
  private def atomicPublish(f: FileSystem, tmp: Path, dst: Path): Boolean =
    CommitArbiters.forPath(dst).putIfAbsent(f, tmp, dst)

  // ------------------------------------------------------------------
  // Multi-table transactions: two-phase commit over pending manifests.
  //
  // A cross-table atomic commit publishes each table's manifest with a
  // `pending=<marker>` line (phase 1 — each publish is a normal CAS
  // participant, owning its version number), then atomically creates
  // ONE marker file whose CONTENT is the decision, "commit" or "abort"
  // (phase 2 — create-if-absent arbitrates, the first creator decides
  // for every table at once). A pending manifest is:
  //   - decided "commit"  → a normal version,
  //   - decided "abort"   → DEAD: invisible to readers, skipped by
  //                         writers (its version number stays burned),
  //   - undecided         → IN-FLIGHT: invisible to readers (the txn
  //                         has not committed); a WRITER that needs to
  //                         proceed FORCES the decision by racing an
  //                         "abort" into the marker — it either kills
  //                         the stale txn or loses to the committer
  //                         and adopts the now-committed version.
  // Optimistic concurrency all the way down: transactions are short,
  // progress is guaranteed, and the reader-side cost for tables that
  // never use transactions is ZERO (no pending line, no marker I/O).
  // ------------------------------------------------------------------

  /** Read a txn marker's decision, if published. */
  private def markerDecision(spark: SparkSession, marker: String): Option[String] = {
    val p = new Path(marker)
    val mf = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!mf.exists(p)) None
    else {
      val r = new BufferedReader(
        new InputStreamReader(mf.open(p), StandardCharsets.UTF_8))
      try Option(r.readLine()).map(_.trim) finally r.close()
    }
  }

  /** Atomically publish a txn decision; false if already decided. */
  private def publishDecision(spark: SparkSession, marker: String,
                              decision: String): Boolean = {
    val p = new Path(marker)
    val mf = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mf.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".tmp-${UUID.randomUUID()}")
    val w = new OutputStreamWriter(mf.create(tmp, false), StandardCharsets.UTF_8)
    try w.write(decision + "\n") finally w.close()
    val ok = atomicPublish(mf, tmp, p)
    if (!ok) mf.delete(tmp, false)
    ok
  }

  /** Is this manifest's version visible? Non-pending manifests always
    * are (zero I/O). For a pending one: committed → yes, aborted → no,
    * undecided → readers see NO (snapshot excludes uncommitted data);
    * a writer (`forWrite`) forces the decision with an "abort" race —
    * kill the stale txn or adopt the committed version, never block.
    */
  private def manifestLive(spark: SparkSession, m: Manifest,
                           forWrite: Boolean): Boolean = m.pendingMarker match {
    case None => true
    case Some(marker) => markerDecision(spark, marker) match {
      case Some(d) => d == "commit"
      case None if !forWrite => false
      case None =>
        publishDecision(spark, marker, "abort")
        markerDecision(spark, marker).contains("commit") // lost to the committer?
    }
  }

  /** Last LIVE version ≤ `from`, walking down past dead/in-flight
    * pending manifests. O(1) for tables that never used transactions
    * (the first manifest checked has no pending line), and the vacuum
    * floor is never consulted — a vacuumed version's manifest simply
    * does not exist, which ends the walk. Liveness reads only the
    * pending marker, so each manifest is parsed once and no segment
    * is assembled.
    */
  private def lastLive(spark: SparkSession, tableDir: String, from: Long,
                       forWrite: Boolean): Option[ManifestShell] = {
    val f = fs(spark, tableDir)
    var v = from
    while (v >= 0) {
      if (!f.exists(manifestPath(tableDir, v))) return None // vacuumed
      val base = parseManifest(spark, tableDir, v)
      if (manifestLive(spark, base.header, forWrite)) return Some(base)
      v -= 1
    }
    None
  }

  /** The read-side twin of [[resolveForWrite]], shared by every
    * default-or-explicit-version read path: an explicit version must
    * be LIVE history; no version means the last live one
    * (uncommitted/aborted txn heads are invisible). Returns the parsed
    * manifest file; callers that read per-file maps [[assemble]] it.
    */
  private def resolveForRead(spark: SparkSession, tableDir: String,
                             version: Option[Long]): ManifestShell =
    version match {
      case Some(v) =>
        val base = parseManifest(spark, tableDir, v)
        require(manifestLive(spark, base.header, forWrite = false),
          s"version $v of $tableDir belongs to an uncommitted or aborted " +
            "transaction")
        base
      case None =>
        val raw = latestVersion(spark, tableDir).getOrElse(
          throw new IllegalArgumentException(s"no committed version at $tableDir"))
        lastLive(spark, tableDir, raw, forWrite = false).getOrElse(
          throw new IllegalArgumentException(s"no live version at $tableDir"))
    }

  /** Last LIVE version — dead/in-flight txn heads skipped — for the
    * layers that resolve "latest" OUTSIDE this object (the data
    * source, the view registry). Resolving with raw [[latestVersion]]
    * would let an uncommitted multi-table txn's pending manifest
    * serve as the table's head.
    */
  private[sources] def latestLiveVersion(spark: SparkSession,
                                         tableDir: String): Option[Long] =
    latestVersion(spark, tableDir).flatMap(v =>
      lastLive(spark, tableDir, v, forWrite = false).map(_.header.version))

  /** [[readLiveManifest]] for same-package callers (the data source's
    * schema/ledger path): explicit versions must be live history.
    */
  private[sources] def liveManifest(spark: SparkSession, tableDir: String,
                                    version: Long): Manifest =
    readLiveManifest(spark, tableDir, version)

  /** The assembled manifest of an EXPLICIT live version: an aborted
    * or in-flight version is not part of table history and must not
    * serve rows.
    */
  private def readLiveManifest(spark: SparkSession, tableDir: String,
                               version: Long): Manifest =
    assemble(spark, tableDir, resolveForRead(spark, tableDir, Some(version)))

  /** The write-side base resolution every single-table mutation uses:
    * the NEXT version number (raw latest + 1 — version numbers burn,
    * aborted or not) and the last LIVE manifest file to build on,
    * parsed once. Forces a decision on any in-flight txn at the head
    * (see [[manifestLive]]).
    */
  private def resolveForWrite(spark: SparkSession,
                              tableDir: String): (Long, ManifestShell) = {
    val raw = latestVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    val base = lastLive(spark, tableDir, raw, forWrite = true).getOrElse(
      throw new IllegalArgumentException(s"no live version at $tableDir"))
    (raw + 1, base)
  }

  /** Cross-table ATOMIC commit (the multi-statement transaction a
    * lakehouse needs when one logical event lands in several tables —
    * a fact and its rollup, an entity and its index): every part
    * becomes visible at the same instant, or none does. Protocol in
    * the section comment above; returns the per-table versions. On
    * any phase-1 CAS loss the txn self-aborts (marker = "abort") so
    * already-published parts are dead, and the loss is rethrown for
    * the caller's retry loop. Commit cost: one data write + manifest
    * per table (same as N plain commits) + ONE marker file.
    */
  def commitTxn(parts: Seq[(DataFrame, String, String)],
                txnDir: String): Seq[Long] = {
    require(parts.nonEmpty, "commitTxn needs at least one (df, tableDir, mode)")
    require(parts.map(_._2).distinct.size == parts.size,
      "commitTxn parts must target distinct tables")
    val spark = parts.head._1.sparkSession
    val tf = fs(spark, txnDir)
    val marker = tf.makeQualified(
      new Path(txnDir, s"txn-${UUID.randomUUID()}.final")).toString
    val versions =
      try parts.map { case (df, dir, mode) =>
        commit(df, dir, mode, pending = Some(marker))
      } catch { case e: Throwable =>
        // phase-1 failure: decide ABORT so any parts already published
        // are dead (idempotent — the marker may already hold a decision
        // if a concurrent writer raced us)
        publishDecision(spark, marker, "abort")
        throw e
      }
    if (!publishDecision(spark, marker, "commit") &&
        !markerDecision(spark, marker).contains("commit"))
      throw new java.util.ConcurrentModificationException(
        s"transaction $marker was aborted by a concurrent writer")
    versions
  }

  /** Optimistic-retry wrapper around [[commit]]: on a CAS loss
    * (another writer took the version first) re-read the latest
    * version and retry, up to `maxAttempts`. This is the writer loop
    * every concurrent producer runs — append-mode retries are always
    * safe (the batch lands on top of whatever won); overwrite-mode
    * retries re-assert the caller's full-snapshot intent, which the
    * caller must want applied regardless of interleaved commits
    * (read-modify-write flows should instead re-derive from the new
    * latest inside their own loop).
    */
  def commitRetry(df: DataFrame, tableDir: String, mode: String = "append",
                  maxAttempts: Int = 10,
                  statsColumns: Seq[String] = Nil): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return commit(df, tableDir, mode, statsColumns = statsColumns)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** Min/max per requested column from one parquet file's FOOTER —
    * metadata only, no row read; merged across the file's row groups.
    * Columns whose statistics are absent/empty, whose min/max class is
    * not a numeric/binary primitive, or whose string bounds contain
    * the manifest's separator characters are skipped (→ un-prunable,
    * still correct).
    */
  private def footerStats(spark: SparkSession, file: Path,
                          columns: Seq[String]): Map[String, FileStat] =
    footerColumnMeta(spark, file, columns)._1

  /** One footer pass per file: min/max stats AND per-column null
    * counts (`isNumNullsSet` summed across row groups; any group
    * without the count makes the column's total unknown). Null counts
    * are recorded independently of min/max — an ALL-NULL column has no
    * min/max but a perfectly known null count, and that is exactly the
    * file `IS NOT NULL` pruning wants to skip.
    */
  private def footerColumnMeta(spark: SparkSession, file: Path,
                               columns: Seq[String])
      : (Map[String, FileStat], Map[String, Long]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    val want = columns.toSet
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try {
      val perCol = scala.collection.mutable.Map.empty[String, FileStat]
      val poisoned = scala.collection.mutable.Set.empty[String]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val nullsUnknown = scala.collection.mutable.Set.empty[String]
      for (block <- reader.getFooter.getBlocks.asScala;
           col <- block.getColumns.asScala) {
        val name = col.getPath.toDotString
        if (want.contains(name)) {
          val stN: org.apache.parquet.column.statistics.Statistics[_] =
            col.getStatistics
          if (stN != null && stN.isNumNullsSet && stN.getNumNulls >= 0)
            nulls(name) = nulls.getOrElse(name, 0L) + stN.getNumNulls
          else nullsUnknown += name
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            col.getStatistics
          if (st != null && !st.isEmpty && st.hasNonNullValue) {
            val repr: Option[FileStat] = (st.genericGetMin, st.genericGetMax) match {
              case (a: java.lang.Integer, b: java.lang.Integer) =>
                Some(FileStat("long", a.toString, b.toString))
              case (a: java.lang.Long, b: java.lang.Long) =>
                Some(FileStat("long", a.toString, b.toString))
              case (a: java.lang.Float, b: java.lang.Float) =>
                Some(FileStat("double", a.toDouble.toString, b.toDouble.toString))
              case (a: java.lang.Double, b: java.lang.Double) =>
                Some(FileStat("double", a.toString, b.toString))
              case (a: Binary, b: Binary)
                  // ONLY string-annotated BINARY gets a string stat:
                  // INT96 timestamps (Spark's legacy default) and raw
                  // binaries also surface Binary min/max here, but
                  // their byte order is NOT value order — recording
                  // them as strings would wrongly prune files
                  if col.getPrimitiveType.getLogicalTypeAnnotation
                    .isInstanceOf[org.apache.parquet.schema
                      .LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                val (lo, hi) = (a.toStringUsingUTF8, b.toStringUsingUTF8)
                if (!fitsMetadataLine(lo + hi)) None
                else Some(FileStat("string", lo, hi))
              case _ => None
            }
            repr match {
              case None => poisoned += name
              case Some(s) =>
                perCol(name) = perCol.get(name) match {
                  case None => s
                  case Some(prev) => // merge row groups: widen the range
                    if (s.kind == "long") FileStat("long",
                      math.min(prev.min.toLong, s.min.toLong).toString,
                      math.max(prev.max.toLong, s.max.toLong).toString)
                    else if (s.kind == "double") FileStat("double",
                      math.min(prev.min.toDouble, s.min.toDouble).toString,
                      math.max(prev.max.toDouble, s.max.toDouble).toString)
                    else FileStat("string",
                      if (prev.min <= s.min) prev.min else s.min,
                      if (prev.max >= s.max) prev.max else s.max)
                }
            }
          } else poisoned += name // a stat-less row group poisons the file
        }
      }
      (perCol.toMap -- poisoned, (nulls.toMap -- nullsUnknown))
    } finally reader.close()
  }

  /** The whole-table view of one version: [[parseManifest]] then
    * [[assemble]]. The manifest file itself is small (table-level
    * state + segment refs + tombstones); referenced segments resolve
    * through the process-wide immutable-segment cache, so repeat reads
    * of an evolving table parse only NEW segments.
    */
  def readManifest(spark: SparkSession, tableDir: String, version: Long): Manifest =
    assemble(spark, tableDir, parseManifest(spark, tableDir, version))

  /** THE manifest-file parse — every reader of a manifest goes through
    * it, once per use: the version-level header (schema, column
    * mapping, DV refs, txn watermarks, pending marker, ledger counts,
    * specs) together with the segment refs and their live counts and
    * the tombstones ([[ManifestShell]]). Driver cost is
    * O(segments + tombstones) however many files the table holds — no
    * segment is parsed; [[assemble]] does that for the callers that
    * read per-file maps.
    *
    * The parse accepts exactly the `graft-manifest-v2` grammar
    * [[publishManifestFile]] writes: `schema=`, `rows=` and `dvrows=`
    * are required, every `segment=` ref carries its live count, and a
    * line of any other kind, or one whose fields do not parse, is
    * refused naming the file and the field ([[parseLines]]).
    */
  private[sources] def parseManifest(spark: SparkSession, tableDir: String,
                                     version: Long): ManifestShell = {
    val f = fs(spark, tableDir)
    val p = manifestPath(tableDir, version)
    require(f.exists(p), s"no version $version at $tableDir")
    val segRefs = ArrayBuffer.empty[(String, Int)]
    val tombs = scala.collection.mutable.HashSet.empty[(String, String)]
    val colMap = scala.collection.mutable.Map.empty[String, String]
    val retiredCols = ArrayBuffer.empty[String]
    val dvs = ArrayBuffer.empty[String]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    val checks = scala.collection.mutable.Map.empty[String, String]
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    var dataRows: Option[Long] = None
    var dvRows: Option[Long] = None
    var bucketSpec: Option[(String, Int)] = None
    var pending: Option[String] = None
    var partitionCols: Seq[String] = Nil
    // a row ledger is exact: a negative count is refused, never
    // carried as "unknown"
    def rowCount(v: String): Long = {
      val n = v.toLong
      require(n >= 0L, s"negative row count $n")
      n
    }
    parseLines(f, p, Header) { (kind, v) =>
      kind match {
        case "version" => require(v.toLong == version, s"not version $version")
        case "schema" =>
          schema = Some(org.apache.spark.sql.types.DataType.fromJson(v)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        case "segment" =>
          val Array(rel, n) = fields(v, 2)
          segRefs += ((rel, n.toInt))
        case "removed" =>
          val Array(rel, file) = fields(v, 2)
          tombs += ((rel, file))
        case "dv" => dvs += v
        case "txn" =>
          val Array(app, b) = fields(v, 2)
          txns(app) = b.toLong
        case "check" =>
          val Array(n, e) = fields(v, 2)
          checks(n) = e
        case "rows" => dataRows = Some(rowCount(v))
        case "dvrows" => dvRows = Some(rowCount(v))
        case "bucketspec" =>
          val Array(k, n) = fields(v, 2)
          bucketSpec = Some((k, n.toInt))
        case "pending" => pending = Some(v)
        // paren-aware split: transform specs like `truncate(4, c)`
        // legally carry a comma inside the parens
        case "partcols" =>
          partitionCols = splitSpecList(v).map(_.trim).filter(_.nonEmpty)
        case "colmap" =>
          val Array(l, ph) = fields(v, 2)
          colMap(l) = ph
        case "retired" => retiredCols += v
        case other => unknownField(other)
      }
    }
    def required[T](field: String, x: Option[T]): T = x.getOrElse(
      throw new IllegalArgumentException(s"$p: missing field '$field'"))
    val header = Manifest(version, Nil, required("schema", schema),
      txns = txns.toMap, dvs = dvs.toSeq, checks = checks.toMap,
      dataRows = required("rows", dataRows), dvRows = required("dvrows", dvRows),
      bucketSpec = bucketSpec, pendingMarker = pending,
      partitionCols = partitionCols, segments = segRefs.map(_._1).toSeq,
      colMap = colMap.toMap, retiredCols = retiredCols.toSeq)
    ManifestShell(header, segRefs.toSeq, tombs.toSet)
  }

  /** Segment assembly: the whole-table view of a parsed manifest. The
    * referenced segments' entries fill the per-file maps in ref order,
    * tombstoned and duplicate entries skipped. Segment stat/bloom keys
    * are PHYSICAL column names: they translate to logical through the
    * column mapping, and entries of retired (dropped) columns drop — their
    * stats describe a dead column's values and must never prune a
    * later column that reuses the name.
    */
  private def assemble(spark: SparkSession, tableDir: String,
                       base: ManifestShell): Manifest = {
    val m = base.header
    if (base.segRefs.isEmpty) return m
    val f = fs(spark, tableDir)
    val segRefs = base.segRefs.map(_._1)
    val rev = m.logicalOf
    val retired = m.retiredCols.toSet
    // cold reads parse uncached segments CONCURRENTLY (immutable
    // files, thread-safe cache) — a many-segment table's first read
    // is bounded by the largest segment, not the sum; assembly below
    // stays in ref order for deterministic file ordering
    val segDatas: Map[String, SegmentData] =
      if (segRefs.length <= 2)
        segRefs.iterator.map(rel => rel -> cachedSegment(f, tableDir, rel)).toMap
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(Future.sequence(segRefs.toVector.map(rel =>
          Future(rel -> cachedSegment(f, tableDir, rel)))),
          10.minutes).toMap
      }
    val segFiles = ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    val stats = scala.collection.mutable.Map.empty[(String, String), FileStat]
    val buckets = scala.collection.mutable.Map.empty[String, Int]
    val fileRows = scala.collection.mutable.Map.empty[String, Long]
    val fileBytes = scala.collection.mutable.Map.empty[String, Long]
    val blooms = scala.collection.mutable.Map.empty[(String, String), Bloom]
    val nullCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    val ndvSketches =
      scala.collection.mutable.Map.empty[(String, String), Array[Byte]]
    val kllSketches =
      scala.collection.mutable.Map.empty[(String, String), Array[Byte]]
    val sortedFiles = scala.collection.mutable.Map.empty[String, String]
    segRefs.foreach { rel =>
      segDatas(rel).entries.foreach { e =>
        if (!base.tombs.contains((rel, e.file)) && seen.add(e.file)) {
          segFiles += e.file
          e.stats.foreach { case (c, st) =>
            if (!retired.contains(c))
              stats((e.file, rev.getOrElse(c, c))) = st }
          e.bucket.foreach(b => buckets(e.file) = b)
          fileRows(e.file) = e.rows
          fileBytes(e.file) = e.bytes
          e.blooms.foreach { case (c, b) =>
            if (!retired.contains(c))
              blooms((e.file, rev.getOrElse(c, c))) = b }
          e.nulls.foreach { case (c, n) =>
            if (!retired.contains(c))
              nullCounts((e.file, rev.getOrElse(c, c))) = n }
          e.ndvs.foreach { case (c, sk) =>
            if (!retired.contains(c))
              ndvSketches((e.file, rev.getOrElse(c, c))) = sk }
          e.klls.foreach { case (c, sk) =>
            if (!retired.contains(c))
              kllSketches((e.file, rev.getOrElse(c, c))) = sk }
          e.sortedBy.foreach { v =>
            truncateSortMarker(v, retired.contains,
              c => rev.getOrElse(c, c))
              .foreach(sortedFiles(e.file) = _) }
        }
      }
    }
    m.copy(files = segFiles.toSeq, stats = stats.toMap,
      buckets = buckets.toMap, blooms = blooms.toMap,
      fileRows = fileRows.toMap, fileBytes = fileBytes.toMap,
      nullCounts = nullCounts.toMap, ndvs = ndvSketches.toMap,
      klls = kllSketches.toMap, sortedFiles = sortedFiles.toMap)
  }

  /** Time travel: the table exactly as of `version` (default latest).
    * An empty version (a committed empty frame) still carries its
    * schema via the parquet footers of zero files — callers commit at
    * least one row or handle the empty list themselves.
    */
  def readVersion(spark: SparkSession, tableDir: String,
                  version: Option[Long] = None): DataFrame = {
    val m = assemble(spark, tableDir, resolveForRead(spark, tableDir, version))
    readFiles(spark, tableDir, m, m.files)
  }

  /** Read `rels` with the manifest's recorded schema — files
    * predating an additive schema change read NULL for columns they
    * lack (and vice versa for omitted ones), with O(1) planning (no
    * footer merge).
    */
  private def readFiles(spark: SparkSession, tableDir: String,
                        m: Manifest, rels: Seq[String]): DataFrame =
    readFilesMeta(spark, tableDir, m, rels).drop(FpCol, RiCol)

  private val FpCol = "__graft_fp"
  private val RiCol = "__graft_ri"

  /** The deletion-vector file schema — dv files are written exclusively
    * by [[dvSizedForWrite]] from `(FpCol as file_path, RiCol as
    * row_index)` projections, so every dv read can pass this schema
    * explicitly and skip parquet schema inference (a ~50 ms driver
    * footer pass PER READ — r18 MicroBench).
    */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("row_index",
      org.apache.spark.sql.types.LongType)))

  /** `spark.read.parquet` for dv files with the static [[DvSchema]]. */
  private def readDvs(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(paths: _*)

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.sources.Snapshots")

  /** Rough bytes one dv row costs the read-side mask join (a file URI
    * string plus a long). Powers the broadcast-threshold warning only
    * — an estimate, never accounting.
    */
  private val DvRowEstBytes = 160L

  /** The ACTIVE half of the purge signal (the passive half is a
    * shuffle appearing in read plans, see [[readFilesMeta]]): when a
    * masked read's recorded dv row count says the mask outgrew either
    * the broadcast threshold (the anti-join silently degrades to a
    * shuffle on EVERY read from here on) or `graft.dv.purgeWarnRatio`
    * (default 0.1) of the table's rows, warn toward [[purgeDeletes]].
    * Metadata-only — reads proceed unchanged.
    */
  private def warnIfPurgeOverdue(spark: SparkSession, tableDir: String,
                                 m: Manifest): Unit = {
    // masks below graft.dv.purgeWarnMinRows (default 1024) never warn:
    // at trivial sizes the ratio says nothing and a purge buys nothing
    val minRows = graft.GraftConf.long(spark, "graft.dv.purgeWarnMinRows", 1024L)
    val ratioThresh = graft.GraftConf.double(spark, "graft.dv.purgeWarnRatio", 0.1)
    if (m.dvRows >= minRows) {
      val bcast = spark.sessionState.conf.autoBroadcastJoinThreshold
      val overBroadcast = bcast > 0 && m.dvRows * DvRowEstBytes > bcast
      val overRatio = m.dataRows > 0 && m.dvRows.toDouble / m.dataRows > ratioThresh
      if (overBroadcast || overRatio)
        log.warn(s"table $tableDir v${m.version}: dv mask holds ${m.dvRows} rows" +
          (if (overBroadcast)
            s"; ~${m.dvRows * DvRowEstBytes} est bytes exceeds the broadcast " +
              s"threshold ($bcast) — masked reads degrade to a shuffle anti-join"
          else "") +
          (if (overRatio)
            f"; mask_ratio ${m.dvRows.toDouble / m.dataRows}%.3f > $ratioThresh%.2f"
          else "") +
          " — run purgeDeletes to rewrite the mask away")
    }
  }

  /** The manifest read with per-row provenance (`__graft_fp` = source
    * file URI, `__graft_ri` = row index within it) and the version's
    * DELETION VECTORS applied: rows listed in any dv file are masked
    * out by a (file, row_index) anti-join. The dv side is the set of
    * DELETED rows — tiny relative to the table until a purge is due —
    * so the planner broadcasts it while it fits
    * `spark.sql.autoBroadcastJoinThreshold` and the base table neither
    * shuffles nor rewrites: the merge-on-read half of row-level
    * deletes. No broadcast hint on purpose: a dv side grown past the
    * threshold degrades to a shuffle join instead of a driver OOM —
    * that shuffle appearing in plans is the operational signal that
    * [[purgeDeletes]] is overdue, exactly the rewrite-vs-mask tradeoff
    * the table formats expose.
    *
    * DV file contract (what [[deleteWhere]] produces and any external
    * writer must match): parquet with columns `file_path: string` —
    * the fully-qualified URI exactly as `_metadata.file_path` reports
    * it for the table's data files — and `row_index: long` —
    * `_metadata.row_index` within that file. Relative dv refs resolve
    * under `tableDir` (they live under `dv/`, see [[deleteWhere]]);
    * absolute refs are clone-borrowed.
    */
  private def readFilesMeta(spark: SparkSession, tableDir: String,
                            m: Manifest, rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // a zero-file snapshot (a just-created catalog table, an
    // everything-deleted overwrite) serves an empty frame with the
    // declared schema — the parquet reader cannot be given zero paths
    if (rels.isEmpty) {
      val withMeta = org.apache.spark.sql.types.StructType(m.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField(FpCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(RiCol,
          org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withMeta)
    }
    val abs = rels.map(rel => new Path(tableDir, rel).toString)
    // column mapping: the files carry PHYSICAL names — read with the
    // physical projection of the recorded schema, then rename to the
    // logical view (an alias-only Project: pushed filters rewrite
    // through it into the parquet scan). Identity when unmapped.
    val physSchema =
      if (m.colMap.isEmpty) m.schema
      else org.apache.spark.sql.types.StructType(
        m.schema.fields.map(fd => fd.copy(name = m.physOf(fd.name))))
    val raw = spark.read.schema(physSchema).parquet(abs: _*)
      .select(col("*"), col("_metadata.file_path").as(FpCol),
        col("_metadata.row_index").as(RiCol))
    val base =
      if (m.colMap.isEmpty) raw
      else raw.select(m.schema.fields.map(fd =>
        col(s"`${m.physOf(fd.name)}`").as(fd.name)).toIndexedSeq ++
        Seq(col(FpCol), col(RiCol)): _*)
    if (m.dvs.isEmpty) base
    else {
      warnIfPurgeOverdue(spark, tableDir, m)
      val dvAbs = m.dvs.map(rel =>
        if (isBorrowed(rel)) rel else new Path(tableDir, rel).toString)
      val dv = readDvs(spark, dvAbs)
      base.join(dv,
        base(FpCol) === dv("file_path") && base(RiCol) === dv("row_index"),
        "left_anti")
    }
  }

  /** Row-level DELETE as a deletion vector (merge-on-read): mark every
    * current row matching `predicate` deleted by writing their
    * (file_path, row_index) keys as a small parquet under `dv/` and
    * committing a new version with the SAME data files plus the new dv
    * ref — no data rewritten, commit cost O(matched rows), the
    * mask-now-rewrite-later half of the table formats' DELETE. Readers
    * of the new version apply the mask via the [[readFilesMeta]]
    * anti-join; prior versions still serve the rows (snapshot
    * isolation). Returns the committed version, or the current one
    * unchanged when nothing matched (no empty commit). Appends carry
    * dv refs forward; an overwrite (e.g. [[purgeDeletes]], [[compact]])
    * drops them with the files they masked. NOT visible to
    * [[streamAppends]] consumers — deletes are not appends; dv files
    * deliberately live outside the stream's `data` glob so they can
    * never surface as ghost batches.
    *
    * A predicate DELETE is the SIMPLEST delta of the DML family — dv
    * refs only, no appends, no schema evolution — so the publish
    * carries every segment ref verbatim ([[publishManifestDelta]] with
    * zero removals and zero fresh entries), and the driver holds
    * O(mask candidates + tail) metadata, never O(table): the GDPR /
    * retention steady state (`DELETE FROM t WHERE date < ?` on a
    * 10⁷-file table every night). The mask scan reads only the
    * predicate's candidate files ([[dmlCandidates]]).
    */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, tableDir)
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    // pin the mask once (the count and the write must see the same
    // rows), then size the write to the mask ([[dvSizedForWrite]])
    val mask = readFilesMeta(spark, tableDir, m,
        dmlCandidates(spark, tableDir, base, predicate))
      .filter(predicate)
      .select(col(FpCol).as("file_path"), col(RiCol).as("row_index"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val matched = mask.count()
      if (matched == 0L) return m.version // nothing to mask: table untouched
      val dvRel = f"dv/v$version%06d-${UUID.randomUUID().toString.take(8)}"
      val dvDir = new Path(tableDir, dvRel)
      dvSizedForWrite(mask, matched).write.parquet(dvDir.toString)
      val dvs = f.listStatus(dvDir).iterator.map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).map(x => s"$dvRel/$x").toSeq.sorted
      val mPub = m.copy(version = version,
        dvs = m.dvs ++ dvs,
        dvRows = (if (m.dvs.isEmpty) 0L else m.dvRows) + matched,
        pendingMarker = None)
      if (!publishManifestDelta(f, tableDir, mPub, base, Map.empty, Nil)) {
        f.delete(dvDir, true)
        throw new java.util.ConcurrentModificationException(
          s"version $version of $tableDir was committed concurrently")
      }
      version
    } finally mask.unpersist(false)
  }

  /** The candidate files of a predicate DML ([[deleteWhere]],
    * [[updateWhere]]): the live entries the predicate's prunable
    * conjuncts ([[Prune.ofPredicate]]) cannot rule out under the one
    * pruning verdict — buckets, stats (decimal equality included) and
    * blooms, evaluated inside the checkpoint job when one covers the
    * version — so a `DELETE WHERE day = X` scans the files that can
    * hold day X — on a partitioned/stat-covered table one partition's
    * files, not the table. Conservative: the row filter on the
    * candidate scan owns exactness, so a kept file is a scan cost,
    * never a semantic change; an all-pruned predicate yields no
    * candidate (the scan serves the schema'd empty frame).
    */
  private[sources] def dmlCandidates(spark: SparkSession, tableDir: String,
                                     base: ManifestShell,
                                     predicate: org.apache.spark.sql.Column)
      : Seq[String] =
    liveEntriesUnder(spark, tableDir, base,
      coverOf(spark, tableDir, base.header.version),
      Prune.ofPredicate(predicate)).map(_.file)

  /** Size a dv mask for writing: 1 output file while it fits the
    * broadcast-friendly shape, sharded at `graft.dv.maxRowsPerFile`
    * (default 4M rows/file) above it so a large DELETE neither funnels
    * through one write task nor lands as one giant file. The common
    * CDC case is a shuffle-free coalesce(1); a sharded mask is
    * round-robin repartitioned so every shard actually carries rows
    * (a coalesce would inherit the scan's skew and can leave shards
    * empty) — a shuffle of the MASK, never the table.
    */
  private def dvSizedForWrite(mask: DataFrame, rows: Long): DataFrame = {
    val maxPerFile =
      graft.GraftConf.long(mask.sparkSession, "graft.dv.maxRowsPerFile", 4000000L)
    val shards = math.max(1L, (rows + maxPerFile - 1) / maxPerFile).toInt
    if (shards <= 1) mask.coalesce(1) else mask.repartition(shards)
  }

  /** MERGE on read (low-shuffle MERGE): apply a CDC batch to the
    * latest version by MASKING every matched target row with a
    * deletion vector and APPENDING the batch's I/U payloads as new
    * files — both published in ONE atomic commit, so no reader can
    * observe the deletes without the inserts. Semantics are exactly
    * [[graft.operators.Merge.applyChanges]]'s (same one-change-per-key
    * contract: D drops, U/I replace-or-insert); the difference is
    * cost: copy-on-write MERGE rewrites the full snapshot
    * (O(table), see [[u7MergeSnapshot]]), merge-on-read touches
    * O(changes) new bytes plus one provenance scan of the target for
    * the mask join — at 100 TB with a per-mille change rate that is
    * the difference between rewriting the table and appending a few
    * files. The deferred cost is the read-side anti-join until
    * [[purgeDeletes]]/[[compact]] materializes. `changes` needs the
    * key, an `op` column STRICTLY in {I,U,D} (any other value is
    * refused up front — a typo'd op must not silently mask a matched
    * row while appending nothing), and the payload for I/U rows.
    * Payload columns evolve ADDITIVELY like the append path
    * ([[evolveSchema]]): new columns are recorded nullable (old files
    * read NULL for them), omitted ones read NULL in the new files; a
    * type change is refused — that is a rewrite. The batch is PINNED
    * (persist) for the duration, so validation, key extraction, the
    * mask join, and the append all see ONE evaluation of a possibly
    * non-deterministic source — no mask/append disagreement. Table
    * CHECK constraints validate the appended payloads before anything
    * is written. `txn` rides the commit like [[commit]]'s — the
    * exactly-once hook [[cdcSink]] builds on. Returns the committed
    * version.
    */
  def mergeOnRead(spark: SparkSession, tableDir: String,
                  changes: DataFrame, key: String,
                  statsColumns: Seq[String] = Nil,
                  txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(changes.columns.contains("op"), "changes needs an op column (I/U/D)")
    val f = fs(spark, tableDir)
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val old = m.schema
    txn.foreach { case (app, _) =>
      require(app.nonEmpty && fitsMetadataLine(app),
        s"txn appId must be non-empty with no tab/newline: '$app'")
    }
    val txns = txn.fold(m.txns) { case (app, b) =>
      m.txns + (app -> math.max(b, m.txns.getOrElse(app, Long.MinValue)))
    }
    val incoming = org.apache.spark.sql.types.StructType(
      changes.schema.fields.filterNot(_.name == "op"))
    val (schema, widenedCols) = evolveSchema(old, incoming, "merge")
    refuseBucketKeyWiden(m.bucketSpec, widenedCols, tableDir)
    // column mapping: payloads write PHYSICAL names; a column the
    // merge ADDS whose physical slot is taken gets a fresh one
    val colMap = extendColMap(m.colMap, m.retiredCols,
      old.fieldNames.toSet, schema.fieldNames.toIndexedSeq, version)
    val physRev = colMap.map(_.swap)
    val batch = changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // null-aware: `!isin` is NULL for a NULL op, which filter() would
    // drop — a NULL-op row would then mask its target while appending
    // nothing (silent delete), the exact failure this guard exists for
    require(batch.filter(col("op").isNull ||
        !col("op").isin("I", "U", "D")).isEmpty,
      s"changes has op values outside I/U/D; merge into $tableDir refused")
    val upserts = batch.filter(col("op").isin("I", "U")).drop("op")
    // table CHECK constraints gate the new rows BEFORE any write —
    // masks cannot violate a CHECK, appended payloads can
    val violated = checkViolations(upserts, m.checks)
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint(s) violated: ${violated.mkString(", ")}; " +
          s"merge into $tableDir refused")
    val tag = UUID.randomUUID().toString.take(8)
    // mask side: provenance keys of every target row the batch touches
    // (any op — U replaces, D drops, I with an existing key upserts).
    // The mask candidates are planned under the one pruning verdict,
    // with [[readLatestForKeys]]' conjuncts: the batch's key range
    // prunes by footer stats, the batch's bucket ids prune
    // hash-clustered tables. At 100 TB a CDC batch touching one day's
    // keys masks against that day's files, not the decade.
    val keys = batch.select(col(key)).distinct()
    val cover = coverOf(spark, tableDir, m.version)
    val bucketed = batchBuckets(m, key, keys)
    def plan(range: Prune.Conjunct*): Seq[LiveEntry] = liveEntriesUnder(
      spark, tableDir, base, cover, bucketed ++ range, withStats = true)
    // the range prunes only files carrying a key stat: a checkpoint job
    // evaluates it inside the walk, while the checkpoint-free walk is
    // driver-side and looks for such a file before paying for the range
    // (one job over the batch; no range when every batch key is NULL —
    // no row can match)
    def ranged = batchKeyRange(key, keys).fold(Seq.empty[LiveEntry])(plan(_))
    val entries: Seq[LiveEntry] =
      if (cover.dir.isDefined) ranged
      else {
        val all = plan()
        if (all.exists(_.statCols.contains(m.physOf(key)))) ranged else all
      }
    val maskFiles = entries.map(_.file)
    val dvRel = f"dv/v$version%06d-$tag"
    val dvDir = new Path(tableDir, dvRel)
    val nMasked = {
      if (maskFiles.isEmpty) 0L // every file pruned: nothing to mask
      else {
        val baseMeta = readFilesMeta(spark, tableDir, m, maskFiles)
        val mask = baseMeta.join(keys, Seq(key), "left_semi")
          .select(col(FpCol).as("file_path"), col(RiCol).as("row_index"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val n = mask.count()
          // sized like deleteWhere's: one broadcast-friendly file
          // until the mask outgrows maxRowsPerFile
          if (n > 0) dvSizedForWrite(mask, n).write.parquet(dvDir.toString)
          n
        } finally mask.unpersist(false)
      }
    }
    val dvs =
      if (nMasked > 0)
        f.listStatus(dvDir).iterator.map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).map(n => s"$dvRel/$n").toSeq.sorted
      else { // pure-insert batch (or every file pruned)
        if (maskFiles.nonEmpty) f.delete(dvDir, true)
        Seq.empty
      }
    // data side: the appended payloads, landed IN the table's
    // partition layout (`k=v/` dirs + exact per-file partition stats
    // below) whenever the batch carries the source columns — without
    // this every merge grows an unprunable flat tail until a
    // compaction folds it in. Bucket clustering is deliberately NOT
    // applied (a small CDC batch repartitioned to n buckets explodes
    // into n tiny files; [[clusterTail]] re-clusters the tail when
    // due).
    val dataRel = f"data/v$version%06d-$tag"
    val dataDir = new Path(tableDir, dataRel)
    val paySpecs = m.partitionCols.map(PartitionTransforms.parse)
      .filter(sp => upserts.columns.contains(sp.source) &&
        schema.fieldNames.contains(sp.source))
    writeLayout(spark, f, upserts, dataDir, paySpecs, schema, None, colMap)
    val newFileMeta = footerFileMeta(spark, f, dataDir, dataRel)
    val newFileRows = newFileMeta.view.mapValues(_._1).toMap
    val nAppended = newFileRows.values.sum
    val written =
      if (nAppended > 0) newFileRows.keys.toSeq.sorted
      else { f.delete(dataDir, true); Seq.empty } // pure-delete batch
    // payloads written at a different decimal scale than the table's
    // record no footer stats (the commit path's rule, shared helper)
    val mergeStatsCols = statsColumns.filterNot(
      batchScaleMismatchCols(upserts.schema, schema))
    val mergeMetas =
      if (mergeStatsCols.isEmpty) Nil
      else written.map { rel =>
        rel -> footerColumnMeta(spark, new Path(tableDir, rel),
          mergeStatsCols.map(c => colMap.getOrElse(c, c)))
      }
    val newStats = (mergeMetas.flatMap { case (rel, (st, _)) =>
      st.map { case (c, x) => (rel, physRev.getOrElse(c, c)) -> x }
    }.toMap: Map[(String, String), FileStat]) ++
      // payload partition dirs pin exact min=max stats per file, so
      // partition predicates prune the merge tail from day one
      partitionStatsOf(written, paySpecs, schema)
    val newNulls = mergeMetas.flatMap { case (rel, (_, nn)) =>
      nn.map { case (c, n) => (rel, physRev.getOrElse(c, c)) -> n } }.toMap
    // ONE commit point for mask + append together: a zero-removal
    // manifest DELTA — segment refs carried verbatim, only the
    // batch's entries written; a widening batch drops the widened
    // columns' carried blooms/NDVs (klls survive: they sketch VALUES,
    // which a lossless widening preserves)
    val mPub = m.copy(version = version, schema = schema,
      txns = txns, dvs = m.dvs ++ dvs,
      dataRows = m.dataRows + nAppended,
      dvRows = (if (m.dvs.isEmpty) 0L else m.dvRows) + nMasked,
      colMap = colMap, pendingMarker = None)
    if (!publishManifestDelta(f, tableDir, mPub, base, Map.empty,
        freshSegEntries(mPub, written, newStats, newNulls, newFileMeta,
          Map.empty, Map.empty),
        widenedCols, scaleWidenedCols(old, schema, widenedCols))) {
      if (dvs.nonEmpty) f.delete(dvDir, true)
      if (written.nonEmpty) f.delete(dataDir, true)
      throw new java.util.ConcurrentModificationException(
        s"version $version of $tableDir was committed concurrently")
    }
    version
    } finally batch.unpersist(false)
  }

  /** A change batch's key range as a conjunct (one agg over the
    * batch); None when every batch key is NULL — no row can match.
    */
  private def batchKeyRange(key: String, keys: DataFrame)
      : Option[Prune.Conjunct] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val b = keys.agg(min(col(key)), max(col(key))).head()
    if (b.isNullAt(0)) None
    else Some(Prune.Range(key, Some(b.get(0)), Some(b.get(1))))
  }

  /** A change batch's bucket ids when `m` is hash-clustered on `key`
    * (one distinct agg, collect bounded by numBuckets).
    */
  private def batchBuckets(m: Manifest, key: String, keys: DataFrame)
      : Seq[Prune.Conjunct] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    m.bucketSpec.toSeq.collect { case (bk, n) if bk == key =>
      Prune.Buckets(keys.select(pmod(xxhash64(col(key).cast(m.schema(key)
        .dataType)), lit(n.toLong)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSet)
    }
  }

  /** The LATEST live version read pruned to the files that may hold
    * any of `keys`, deletion vectors applied — the target side of a
    * small-batch SQL MERGE's payload join, with the conjuncts
    * [[mergeOnRead]]'s mask planning evaluates: when the manifest
    * carries footer stats on the key, files outside the batch's
    * [min, max] key range drop ([[batchKeyRange]]); when the table is
    * hash-clustered ON the key, files holding none of the batch's
    * buckets drop too ([[batchBuckets]] — min/max stats cannot narrow
    * a hash-distributed key, this can). At 100 TB a CDC batch touching
    * one day's keys resolves against that day's files, not the decade.
    * Conservative by construction: files without a recorded stat or
    * bucket entry always stay (unknown ≠ empty), so a pruned file
    * provably holds NO batch key. Returns the frame plus (chosen,
    * total) file counts so callers (and specs) can audit that pruning
    * happened.
    */
  private[graft] def readLatestForKeys(spark: SparkSession, tableDir: String,
                                       key: String, keys: DataFrame)
      : (DataFrame, Int, Int) = {
    val m = assemble(spark, tableDir, resolveForRead(spark, tableDir, None))
    val range =
      if (!m.stats.keys.exists(_._2 == key)) Some(Nil)
      else batchKeyRange(key, keys).map(Seq(_))
    val pruned = range.fold(Seq.empty[String])(r =>
      prunedFiles(Some(spark), m, r ++ batchBuckets(m, key, keys), m.files))
    (readFiles(spark, tableDir, m, pruned), pruned.size, m.files.size)
  }

  /** Row-level UPDATE as merge-on-read — `UPDATE t SET ... WHERE p`
    * without rewriting the table: the matched rows are MASKED by a
    * deletion vector and re-appended with `sets` applied, both in ONE
    * atomic commit ([[mergeOnRead]]'s machinery with the change batch
    * derived from the table itself). Cost is O(matched rows) — at
    * 100 TB an UPDATE touching one day's rows costs that day, not the
    * decade; the deferred price is the read-side mask until
    * [[purgeDeletes]]. Set expressions may WIDEN a column's type
    * losslessly ([[evolveSchema]]; the widened columns' carried
    * blooms/NDVs drop in the publish) but not change it otherwise
    * (that is a rewrite); table CHECK constraints validate the updated
    * rows BEFORE anything is written, so a refused update leaves the
    * table untouched. The matched set is pinned (persist) so the mask
    * and the re-appended payloads see the same rows even under a
    * non-deterministic predicate. The matched-row scan reads only the
    * predicate's candidate files ([[dmlCandidates]]) and the publish
    * is a zero-removal delta, so driver metadata is O(candidates +
    * tail). Returns the committed version (the current one unchanged
    * when nothing matched).
    */
  def updateWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  sets: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    val f = fs(spark, tableDir)
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val old = m.schema
    sets.keys.foreach { c =>
      require(old.fieldNames.contains(c),
        s"SET column '$c' is not in the table schema")
    }
    val matched = readFilesMeta(spark, tableDir, m,
        dmlCandidates(spark, tableDir, base, predicate))
      .filter(predicate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = matched.count()
      if (n == 0L) return m.version // nothing matched: table untouched
      val updated = sets.foldLeft(matched.drop(FpCol, RiCol)) {
        case (df, (c, e)) => df.withColumn(c, e)
      }
      // widening-or-same type contract + CHECK gate BEFORE any write
      val (schema, widenedCols) = evolveSchema(old, updated.schema, "update")
      refuseBucketKeyWiden(m.bucketSpec, widenedCols, tableDir)
      val violated = checkViolations(updated, m.checks)
      if (violated.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint(s) violated: ${violated.mkString(", ")}; " +
            s"update of $tableDir refused")
      val tag = UUID.randomUUID().toString.take(8)
      val dvRel = f"dv/v$version%06d-$tag"
      val dvDir = new Path(tableDir, dvRel)
      dvSizedForWrite(
        matched.select(col(FpCol).as("file_path"), col(RiCol).as("row_index")), n)
        .write.parquet(dvDir.toString)
      val dvs = f.listStatus(dvDir).iterator.map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).map(x => s"$dvRel/$x").toSeq.sorted
      val dataRel = f"data/v$version%06d-$tag"
      val dataDir = new Path(tableDir, dataRel)
      // the re-appended rows land IN the table's partition layout
      // with exact partition stats — like mergeOnRead's payloads, an
      // UPDATE tail must not decay partition pruning until compaction
      val paySpecs = m.partitionCols.map(PartitionTransforms.parse)
        .filter(sp => updated.columns.contains(sp.source) &&
          schema.fieldNames.contains(sp.source))
      writeLayout(spark, f, updated, dataDir, paySpecs, schema,
        None, m.colMap)
      val newFileMeta = footerFileMeta(spark, f, dataDir, dataRel)
      val written = newFileMeta.keys.toSeq.sorted
      val mPub = m.copy(version = version, schema = schema,
        dvs = m.dvs ++ dvs,
        dataRows = m.dataRows + n,
        dvRows = (if (m.dvs.isEmpty) 0L else m.dvRows) + n,
        pendingMarker = None)
      if (!publishManifestDelta(f, tableDir, mPub, base, Map.empty,
          freshSegEntries(mPub, written,
            partitionStatsOf(written, paySpecs, schema), Map.empty,
            newFileMeta, Map.empty, Map.empty),
          widenedCols, scaleWidenedCols(old, schema, widenedCols))) {
        f.delete(dvDir, true)
        f.delete(dataDir, true)
        throw new java.util.ConcurrentModificationException(
          s"version $version of $tableDir was committed concurrently")
      }
      version
    } finally matched.unpersist(false)
  }

  /** TIMESTAMP AS OF: the highest version whose manifest was PUBLISHED
    * at or before `tsMillis` — the atomic manifest publish IS the
    * commit instant, and its file modification time records it, so no
    * extra metadata is needed. O(one manifest-dir listing). Throws if
    * the table has no version that old (or they were vacuumed).
    */
  def versionAsOf(spark: SparkSession, tableDir: String, tsMillis: Long): Long = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir, "_manifests")
    require(f.exists(dir), s"no committed version at $tableDir")
    val vs = f.listStatus(dir).iterator
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.endsWith(".manifest") &&
          st.getModificationTime <= tsMillis
      }
      .map(_.getPath.getName.stripPrefix("v").stripSuffix(".manifest").toLong)
      .toSeq
    require(vs.nonEmpty, s"no version of $tableDir existed at $tsMillis")
    // a dead/in-flight txn manifest is not table history at any instant
    lastLive(spark, tableDir, vs.max, forWrite = false).map(_.header.version).getOrElse(
      throw new IllegalArgumentException(
        s"no live version of $tableDir existed at $tsMillis"))
  }

  /** Time travel by wall clock: [[readVersion]] at [[versionAsOf]]. */
  def readVersionAsOf(spark: SparkSession, tableDir: String,
                      tsMillis: Long): DataFrame =
    readVersion(spark, tableDir, Some(versionAsOf(spark, tableDir, tsMillis)))

  /** Apply the deletion vectors physically — the deferred half of
    * [[deleteWhere]]'s logical delete — by rewriting ONLY the files
    * the mask touches and carrying every clean file BY REFERENCE
    * (the `REORG ... APPLY (PURGE)` shape): cost is O(masked files),
    * not O(table). At 100 TB a delete that masked one day's files
    * purges that day, never the decade — the full-table variant this
    * replaced was exactly the scale cliff dv masks exist to avoid.
    * The rewrite keeps the table's layout — rewritten rows land back
    * in their `k=v/` partition dirs and hash buckets via the same
    * one-job write path [[commit]] uses ([[writeLayout]]), so a
    * masked partitioned/bucketed table never silently flattens on
    * maintenance. Footer stats for the rewritten files are recorded
    * for `statsColumns` PLUS every column the replaced files had
    * stats on (pruning must survive maintenance untended); blooms of
    * rewritten files drop (re-index via [[compactBucketed]]/
    * [[compact]] variants). The new snapshot has no dv refs; prior
    * masked versions remain readable until [[vacuum]]. Run when
    * `history()`'s `mask_ratio`, the read-path warning
    * ([[warnIfPurgeOverdue]]), or a shuffle appearing in the read
    * plan says the mask has outgrown merge-on-read. Always consumes a
    * version (a maskless purge publishes a metadata-only copy) — the
    * randomized protocol specs model purge as a version bump.
    */
  def purgeDeletes(spark: SparkSession, tableDir: String,
                   statsColumns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val f = fs(spark, tableDir)
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    def publishOr(cleanup: => Unit)(
        mNext: Manifest, removed: Map[String, Set[String]],
        fresh: Seq[SegEntry]): Long = {
      if (!publishManifestDelta(f, tableDir, mNext, base, removed, fresh)) {
        cleanup
        throw new java.util.ConcurrentModificationException(
          s"version $version of $tableDir was committed concurrently")
      }
      version
    }
    if (m.dvs.isEmpty) // metadata-only: every segment carried verbatim
      return publishOr(())(
        m.copy(version = version, pendingMarker = None), Map.empty, Nil)
    // which files does the mask touch? dv rows key by fully-qualified
    // URI — match manifest rels on the URI tail (uuid-unique commit
    // dirs; spans the `k=v/` segments; matches borrowed absolute refs
    // the same way — see [[dataTail]]). Bounded collect: one row per
    // DISTINCT masked file — the set being rewritten
    val dvAbs = m.dvs.map(rel =>
      if (isBorrowed(rel)) rel else new Path(tableDir, rel).toString)
    val maskedTails = readDvs(spark, dvAbs)
      .select(regexp_extract(col("file_path"), DataTailRe, 1).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    // invariant made LOUD: every dv file_path must match the data/v*/
    // layout — an unmatched path would extract "" here, its masked file
    // would carry UNREWRITTEN while dvs=Nil publishes, and the deleted
    // rows would resurrect. Unreachable today (every data file lives
    // under data/v*), which is exactly why it must refuse, not drift.
    require(!maskedTails.contains(""),
      s"a deletion-vector file_path in $tableDir does not match the " +
        "data/v*/ layout — refusing to purge (its mask would be dropped " +
        "without rewriting the file it masks)")
    // the masked files' segment positions and row ledgers come from
    // the planning walk; the driver holds O(masked files + touched
    // segments) metadata
    val entries = liveEntriesCheckpointed(spark, tableDir, base,
      coverOf(spark, tableDir, base.header.version),
      (r: CkptFile) => maskedTails.contains(dataTail(r.file)),
      withStats = true)
    if (entries.isEmpty) // mask rows reference no live file: drop them
      return publishOr(())(
        m.copy(version = version, dvs = Nil, dvRows = 0L,
          pendingMarker = None), Map.empty, Nil)
    // the surviving rows of the masked files, mask applied (readFiles
    // anti-joins the dvs), rewritten back INTO the table's layout
    val masked = entries.map(_.file)
    val visible = readFiles(spark, tableDir, m, masked)
    val partSpecs = m.partitionCols.map(PartitionTransforms.parse)
    val schema = m.schema
    val tag = UUID.randomUUID().toString.take(8)
    val dataRel = f"data/v$version%06d-$tag"
    val dataDir = new Path(tableDir, dataRel)
    writeLayout(spark, f, visible, dataDir, partSpecs, schema,
      m.bucketSpec, m.colMap)
    val newBuckets: Map[String, Int] =
      if (m.bucketSpec.isEmpty) Map.empty
      else flattenBucketDirs(f, dataDir, dataRel)
    val written = listDataFiles(f, dataDir, dataRel)
    // stats: caller's columns ∪ transform sources ∪ whatever the
    // replaced files had stats on (the planning rows carry their stat'd
    // PHYSICAL columns) — maintenance must not decay pruning
    val inherited = entries.iterator.flatMap(_.statCols)
      .map(c => m.logicalOf.getOrElse(c, c)).toSeq
    val effStatsCols = (statsColumns ++ inherited ++
      partSpecs.collect { case sp if !sp.isIdentity => sp.source })
      .distinct.filter(c => schema.fieldNames.contains(c))
    val (newStats0, newNulls) =
      rewriteFooterStats(spark, tableDir, m, written, effStatsCols)
    val newStats = newStats0 ++ partitionStatsOf(written, partSpecs, schema)
    val newFileMeta = footerFileMeta(spark, f, dataDir, dataRel)
    // exact ledger arithmetic: remove the rewritten files' physical
    // rows, add the fresh footers' — never an O(table) sum
    val dataRows = m.dataRows - entries.iterator.map(_.rows).sum +
      newFileMeta.valuesIterator.map(_._1).sum
    val fresh = freshSegEntries(m, written, newStats, newNulls,
      newFileMeta, newBuckets, Map.empty)
    publishOr { f.delete(dataDir, true) }(
      m.copy(version = version, dvs = Nil, dataRows = dataRows,
        dvRows = 0L, pendingMarker = None),
      removedBySegment(entries), fresh)
  }

  /** The removals of a partial rewrite, grouped by owning segment —
    * the tombstone positions [[publishManifestDelta]] writes.
    */
  private def removedBySegment(entries: Seq[LiveEntry])
      : Map[String, Set[String]] =
    entries.groupBy(_.seg).map { case (s, es) => s -> es.iterator.map(_.file).toSet }

  // ------------------------------------------------------------------
  // The one file-pruning verdict. Every planner decides "can this file
  // hold a matching row?" here: a predicate translates to [[Prune]]
  // conjuncts (pushed V1 filters for the serving read, a DML
  // predicate's prunable hints, explicit probes and ranges for the
  // public planners), [[compileVerdict]] compiles them ONCE per
  // planning call against the read version's schema, column mapping
  // and bucket spec, and the compiled [[Verdict]] runs over checkpoint
  // rows where the caller already walks files — over the assembled
  // manifest's files on the driver (logical names, [[prunedFiles]]) or
  // over checkpoint and tail rows inside [[liveEntriesCheckpointed]]
  // (physical names, [[liveEntriesUnder]]). Anything unknown keeps the
  // file: pruning is a scan reducer, and the row filter owns exactness.
  // ------------------------------------------------------------------

  /** The verdict's conjuncts, in LOGICAL column names, and their
    * three translators. `KeyIn` is `col IN keys` (`=` is one key),
    * `Range` an inclusive range with optional bounds, `Buckets` the
    * bucket ids a file may hold (files without one keep).
    */
  private[sources] object Prune {
    sealed trait Conjunct
    final case class KeyIn(col: String, keys: Seq[Any]) extends Conjunct
    final case class Range(col: String, lo: Option[Any], hi: Option[Any])
      extends Conjunct
    final case class Buckets(ids: Set[Int]) extends Conjunct
    final case class IsNull(col: String) extends Conjunct
    final case class NotNull(col: String) extends Conjunct

    /** Explicit key probes and inclusive ranges (the public planners);
      * a probe on a column `schema` lacks is refused, naming it.
      */
    def of(schema: org.apache.spark.sql.types.StructType,
           probes: Seq[(String, Seq[Any])],
           ranges: Seq[(String, Any, Any)]): Seq[Conjunct] =
      probes.map { case (c, ks) =>
        require(schema.fieldNames.contains(c), s"unknown probe column " +
          s"'$c' (columns: ${schema.fieldNames.mkString(", ")})")
        KeyIn(c, ks)
      } ++ ranges.map { case (c, lo, hi) => Range(c, Option(lo), Option(hi)) }

    /** Pushed V1 filters (the serving read). Decimal range literals do
      * not translate ([[rangeStatsComparable]]); other shapes (Or, Not,
      * string matches) are the row filter's alone.
      */
    def ofFilters(filters: Seq[org.apache.spark.sql.sources.Filter])
        : Seq[Conjunct] = {
      import org.apache.spark.sql.{sources => v1}
      def bound(v: Any) =
        Option(v).filterNot(_.isInstanceOf[java.math.BigDecimal])
      def lower(c: String, v: Any) = bound(v).map(b => Range(c, Some(b), None))
      def upper(c: String, v: Any) = bound(v).map(b => Range(c, None, Some(b)))
      filters.flatMap {
        case v1.EqualTo(c, v) => Some(KeyIn(c, Seq(v)))
        case v1.EqualNullSafe(c, v) => Some(KeyIn(c, Seq(v)))
        case v1.In(c, vs) => Some(KeyIn(c, vs.toSeq))
        case v1.GreaterThan(c, v) => lower(c, v)
        case v1.GreaterThanOrEqual(c, v) => lower(c, v)
        case v1.LessThan(c, v) => upper(c, v)
        case v1.LessThanOrEqual(c, v) => upper(c, v)
        case v1.IsNull(c) => Some(IsNull(c))
        case v1.IsNotNull(c) => Some(NotNull(c))
        case _ => None
      }
    }

    /** A DML predicate's prunable hints
      * ([[org.apache.spark.sql.graftbridge.Bridge.prunableConjuncts]]).
      */
    def ofPredicate(predicate: org.apache.spark.sql.Column): Seq[Conjunct] =
      org.apache.spark.sql.graftbridge.Bridge.prunableConjuncts(predicate)
        .collect {
          case ("=" | "in", c, vs) => KeyIn(c, vs)
          case (">=", c, Seq(v)) => Range(c, Some(v), None)
          case ("<=", c, Seq(v)) => Range(c, None, Some(v))
        }
  }

  /** A compiled conjunction over one file's checkpoint row: pure and
    * serializable (the checkpoint walk ships it in its task closure).
    * `cols` are the columns its checks read and `bloomCols` those whose
    * blooms they read, in the vocabulary it was compiled for.
    */
  private[sources] final case class Verdict(checks: Seq[CkptFile => Boolean],
                                            cols: Set[String],
                                            bloomCols: Set[String]) {
    def keeps(r: CkptFile): Boolean = checks.forall(_(r))
  }

  /** Compile `conjuncts` against `head` (the read version's schema,
    * column mapping and bucket spec) into one [[Verdict]], in physical
    * names when `physical`. The per-file rules:
    *  - `KeyIn`: bucket ids when the column is the bucket key, footer
    *    stats through [[statMayContain]] (decimals exactly) and blooms —
    *    a file survives if SOME key may be present. Bucket ids and bloom
    *    bit positions come from Spark's own hash ([[probeHashes]]), so
    *    probe and build can never drift; a bloom of another geometry
    *    than this engine builds keeps. Past [[probeKeyBudget]] keys
    *    only the bucket check is built.
    *  - `Range`: [[FileStat.overlaps]]/`mayGe`/`mayLe`, never on decimal
    *    columns ([[rangeStatsComparable]]).
    *  - `IsNull`/`NotNull`: a recorded zero null count rules out
    *    IS NULL, a null count equal to the file's rows IS NOT NULL.
    * A conjunct on a column the schema lacks, or without a non-null key
    * or bound, keeps every file; so does a `KeyIn` without a `spark`
    * session to hash its keys (the range-only [[pruneFiles]]). Bloom
    * bits are computed only for a column `hasBlooms` says may hold
    * blooms (its blooms are unread otherwise).
    */
  private[sources] def compileVerdict(spark: Option[SparkSession],
      head: Manifest, conjuncts: Seq[Prune.Conjunct], physical: Boolean,
      hasBlooms: String => Boolean): Verdict = {
    import Prune._
    val schema = head.schema
    def known(c: String) = schema.fieldNames.contains(c)
    def name(c: String) = if (physical) head.physOf(c) else c
    def inBuckets(ids: Set[Int]): CkptFile => Boolean =
      _.bucket.forall(ids.contains)
    var bloomCols = Set.empty[String]
    def keyChecks(s: SparkSession, c: String, keys: Seq[Any])
        : Seq[CkptFile => Boolean] = {
      val (kt, p) = (schema(c).dataType, name(c))
      val bucketed = head.bucketSpec.toSeq.collect { case (`c`, n) =>
        inBuckets(probeHashes(s, keys, kt, Seq(None), n).map(_.head.toInt).toSet)
      }
      if (keys.size > probeKeyBudget(s)) return bucketed
      val bits = if (!hasBlooms(p)) Nil else {
        bloomCols += p
        probeHashes(s, keys, kt, (0 until BloomK).map(Some(_)), BloomMBits)
      }
      bucketed :+ { (r: CkptFile) =>
        r.stats.get(p).forall(st => keys.exists(statMayContain(st, kt, _))) &&
          r.blooms.get(p).forall(b => bits.isEmpty ||
            (b.mBits, b.k) != (BloomMBits, BloomK) ||
            bits.exists(bloomMightContain(b, _)))
      }
    }
    val checks = conjuncts.flatMap {
      case Buckets(ids) => Seq(inBuckets(ids))
      case KeyIn(c, ks) if known(c) && ks.exists(_ != null) =>
        spark.toSeq.flatMap(keyChecks(_, c, ks.filter(_ != null).distinct))
      case Range(c, lo, hi) if known(c) && rangeStatsComparable(schema, c) &&
          (lo.isDefined || hi.isDefined) =>
        val p = name(c)
        Seq((r: CkptFile) => r.stats.get(p).forall(st => (lo, hi) match {
          case (Some(l), Some(h)) => st.overlaps(l, h)
          case (Some(l), None) => st.mayGe(l)
          case (None, h) => h.forall(st.mayLe)
        }))
      case IsNull(c) if known(c) =>
        val p = name(c)
        Seq((r: CkptFile) => r.nulls.get(p).forall(_ > 0L))
      case NotNull(c) if known(c) =>
        val p = name(c)
        Seq((r: CkptFile) => r.nulls.get(p).forall(_ != r.rows))
      case _ => Nil
    }
    val cols = conjuncts.collect {
      case KeyIn(c, _) => c; case Range(c, _, _) => c
      case IsNull(c) => c; case NotNull(c) => c
    }.filter(known).map(name).toSet
    Verdict(checks, cols, bloomCols)
  }

  /** Of `candidates`, the files of the assembled manifest `m` that
    * `conjuncts` cannot rule out — the verdict on the driver, over each
    * file's metadata transcribed as a checkpoint row (only the columns
    * the verdict reads). O(files) driver work, no filesystem access.
    */
  private[sources] def prunedFiles(spark: Option[SparkSession], m: Manifest,
                                   conjuncts: Seq[Prune.Conjunct],
                                   candidates: Seq[String]): Seq[String] = {
    val v = compileVerdict(spark, m, conjuncts, physical = false,
      c => m.blooms.keysIterator.exists(_._2 == c))
    def of[A](rel: String, facts: Map[(String, String), A]): Map[String, A] =
      v.cols.iterator.flatMap(c => facts.get((rel, c)).map(c -> _)).toMap
    // every live file has a ledger row count; -1 (unknown) never
    // equals a null count, so NotNull keeps
    candidates.filter(rel => v.keeps(CkptFile(rel, m.buckets.get(rel),
      m.fileRows.getOrElse(rel, -1L), 0L, of(rel, m.stats),
      of(rel, m.nullCounts), "", of(rel, m.blooms))))
  }

  /** The files of `version` that can contain rows with `column` in
    * [lo, hi] — manifest-stat file skipping, the driver-side analog of
    * parquet row-group pruning one level up. Files without a recorded
    * stat are kept (unknown ≠ empty); range overlap is evaluated in
    * the stat's own kind (long/double/string). O(files) driver work on
    * the already-loaded manifest, no filesystem access.
    */
  def pruneFiles(m: Manifest, column: String, lo: Any, hi: Any): Seq[String] =
    pruneFiles(m, Seq((column, lo, hi)))

  /** Conjunctive multi-column pruning: a file survives only if EVERY
    * `(column, lo, hi)` range can overlap its stats — the reader-side
    * half of Z-ordering ([[graft.operators.Layout]]): a z-ordered
    * layout gives tight per-file boxes in BOTH dimensions, so a 2-d
    * box predicate multiplies the two single-column skip rates.
    */
  def pruneFiles(m: Manifest, preds: Seq[(String, Any, Any)]): Seq[String] =
    prunedFiles(None, m, Prune.of(m.schema, Nil, preds), m.files)

  /** Time travel + file skipping: the rows of `version` after pruning
    * files whose [min,max] for `column` cannot intersect [lo, hi].
    * The caller still applies the row-level filter — pruning is a scan
    * reducer, never a semantic change (exactly parquet's own
    * footer-pruning contract). A range that misses every file serves
    * the schema'd empty frame.
    */
  def readVersionPruned(spark: SparkSession, tableDir: String, version: Long,
                        column: String, lo: Any, hi: Any): DataFrame =
    readVersionPruned(spark, tableDir, version, Seq((column, lo, hi)))

  /** Multi-predicate variant of [[readVersionPruned]]. */
  def readVersionPruned(spark: SparkSession, tableDir: String, version: Long,
                        preds: Seq[(String, Any, Any)]): DataFrame = {
    val m = readManifest(spark, tableDir, version)
    readFiles(spark, tableDir, m, pruneFiles(m, preds))
  }

  /** Point lookup: the rows of `version` whose `key` is in `keys`,
    * scanning only the bucket files those keys can live in (plus any
    * unbucketed files — appends and merge payloads not yet
    * re-clustered by [[compactBucketed]]). THE read path bucketing
    * exists for: min/max stats cannot prune a hash-distributed key
    * (every file spans the range), so without this a 100 TB point
    * lookup scans the table; with it, ≤ `keys.size` bucket files plus
    * the unclustered tail. Deletion vectors apply as on any read; the
    * row-level `isin` filter still runs (bucket pruning is a scan
    * reducer — a bucket holds every key hashing to it). Works on
    * unbucketed tables too (no pruning, same answer); keys no file can
    * hold serve the schema'd empty frame.
    */
  def readVersionKeys(spark: SparkSession, tableDir: String,
                      key: String, keys: Seq[Any],
                      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "readVersionKeys needs at least one key")
    require(keys.forall(_ != null),
      "readVersionKeys keys must be non-null (SQL NULL never equals NULL " +
        "— an isin probe cannot match it, and the index probes cannot hash it)")
    val m = assemble(spark, tableDir, resolveForRead(spark, tableDir, version))
    readFiles(spark, tableDir, m, pruneForProbes(spark, m, m.files,
      Seq(key -> keys))).filter(col(key).isin(keys: _*))
  }

  /** Per-column IN-list size past which the per-file stat/bloom
    * verdicts DEGRADE to bucket-only pruning (conservative keeps —
    * the row filter owns exactness): the per-file verdict is
    * O(keys) and runs once per candidate file, so an unbudgeted
    * 10⁵-key IN-list over a 10⁷-file table is a 10¹²-comparison
    * planning job shipping the probe bits for every key in every
    * task closure (VERDICT r14 task #7 — the [[commitUnique]]
    * `maxProbeKeys` semi-join-fallback precedent, applied to the
    * planner). Bucket pruning survives the budget: its wanted-set is
    * ≤ numBuckets however many keys probe, and its per-file verdict
    * is one Set lookup. Session-tunable via `graft.probe.maxKeys`;
    * every planner compiles the one verdict under the same budget.
    */
  private def probeKeyBudget(spark: SparkSession): Int =
    graft.GraftConf.int(spark, "graft.probe.maxKeys", 1000)

  /** The equality-probe-vs-footer-stat rule of the one verdict. For
    * non-decimal keys this is plain [[FileStat.overlaps]]. DECIMAL keys
    * compare in the footer's OWN representation: int-backed parquet
    * decimals (precision ≤ 18) record UNSCALED integers as "long"-kind
    * stats, so the literal is rescaled EXACTLY to the column's scale
    * and compared as its unscaled long — exact pruning, never a lossy
    * double detour. Conservative keeps everywhere the decoding is not
    * airtight: a non-"long" stat kind (binary-backed >18-digit
    * decimals), a literal that does not rescale exactly (cannot equal
    * any stored value, but the row filter owns that verdict), or a
    * non-numeric literal. Scale-drift is impossible by construction: a
    * scale-growing decimal widening DROPS carried stats at the
    * widening commit (like blooms/NDVs) and a batch written at a
    * mismatched scale records none ([[batchScaleMismatchCols]]), so
    * every surviving "long" stat of a `graft-manifest-v2` table is
    * unscaled at the column's CURRENT scale.
    */
  private def statMayContain(st: FileStat,
      keyType: org.apache.spark.sql.types.DataType, k: Any): Boolean =
    keyType match {
      case dt: org.apache.spark.sql.types.DecimalType =>
        st.kind != "long" ||
          decimalUnscaledLong(k, dt.scale).forall(u => st.overlaps(u, u))
      case _ => st.overlaps(k, k)
    }

  /** The range rule of the one verdict: DECIMAL columns of `schema`
    * never stat-prune. Int-backed decimal footer stats are UNSCALED
    * integers while a range bound compares by VALUE, so the comparison
    * is meaningless; such predicates keep the file and the row filter
    * owns them. Equality/IN probes on decimals DO prune — through
    * [[statMayContain]]'s exact unscaled-long decode, which a range
    * cannot use (its bounds are not required to be representable at
    * the column's scale).
    */
  private def rangeStatsComparable(
      schema: org.apache.spark.sql.types.StructType, column: String): Boolean =
    !schema.fields.exists(fd => fd.name == column &&
      fd.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])

  /** Columns a batch WRITES at a different decimal scale than the
    * table's — such files' footer stats must never be recorded (the
    * commit-path comment at `effStatsCols`); the row-loss-critical
    * rule lives here ONCE so every write path applies the same shape.
    */
  private def batchScaleMismatchCols(
      batchSchema: org.apache.spark.sql.types.StructType,
      tableSchema: org.apache.spark.sql.types.StructType): Set[String] =
    batchSchema.fields.iterator.flatMap { fd =>
      (fd.dataType, tableSchema.fields.find(_.name == fd.name)
        .map(_.dataType)) match {
        case (b: org.apache.spark.sql.types.DecimalType,
              Some(t: org.apache.spark.sql.types.DecimalType))
            if b.scale != t.scale => Some(fd.name)
        case _ => None
      }
    }.toSet

  /** Columns whose decimal SCALE changed in a widening — their carried
    * unscaled-int footer stats are re-based and must DROP at the
    * widening commit (see the commit-path `carriedStats` comment; the
    * append, MERGE and UPDATE paths all apply this through their own
    * stat carries so no path can leak a stale-scale stat).
    */
  private def scaleWidenedCols(
      oldSchema: org.apache.spark.sql.types.StructType,
      newSchema: org.apache.spark.sql.types.StructType,
      widenedCols: Set[String]): Set[String] =
    widenedCols.filter { c =>
      (oldSchema(c).dataType, newSchema(c).dataType) match {
        case (o: org.apache.spark.sql.types.DecimalType,
              n: org.apache.spark.sql.types.DecimalType) =>
          o.scale != n.scale
        case _ => false
      }
    }

  /** A probe literal's unscaled-long form at `scale`, when it has one
    * EXACTLY (no rounding, fits in 64 bits) — None keeps the file.
    */
  private def decimalUnscaledLong(k: Any, scale: Int): Option[Long] = {
    val bd = k match {
      case d: java.math.BigDecimal => Some(d)
      case d: scala.math.BigDecimal => Some(d.bigDecimal)
      case n: java.lang.Number =>
        scala.util.Try(new java.math.BigDecimal(n.toString)).toOption
      case _ => None
    }
    bd.flatMap(d => scala.util.Try(
      d.setScale(scale).unscaledValue().longValueExact()).toOption)
  }

  /** The [[GraftRelation]] read path: `version`'s rows (deletion
    * vectors applied) scanning only the files the pushed V1 filters
    * cannot rule out under the one pruning verdict ([[Prune.ofFilters]]:
    * equality/IN, one-sided ranges, null tests); everything else (Or,
    * Not, string matches) is left to the row-level filter the caller
    * re-applies — pruning here is a scan reducer, never a row filter,
    * exactly the parquet footer-pruning contract one level up. Filters
    * no file can satisfy serve the schema'd empty frame.
    */
  def readVersionFiltered(spark: SparkSession, tableDir: String,
                          version: Option[Long],
                          filters: Seq[org.apache.spark.sql.sources.Filter])
      : DataFrame =
    readVersionFiltered(spark, tableDir,
      assemble(spark, tableDir, resolveForRead(spark, tableDir, version)),
      filters)

  /** Core of the above against an already-resolved manifest — the
    * [[GraftRelation]] passes its cached one, so a scan does not
    * re-read the manifest the relation already parsed.
    */
  private[sources] def readVersionFiltered(spark: SparkSession,
      tableDir: String, m: Manifest,
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    readFiles(spark, tableDir, m,
      prunedFiles(Some(spark), m, Prune.ofFilters(filters), m.files))

  /** Re-cluster the latest version into the bucket layout (the
    * bucketed OPTIMIZE): one overwrite rewrite after which EVERY file
    * carries a bucket id again — the maintenance step that folds the
    * unbucketed tail (plain appends, merge payloads, masks) back into
    * prunable form. CAS-pinned to the version it read, like
    * [[compact]].
    */
  def compactBucketed(spark: SparkSession, tableDir: String,
                      key: String, numBuckets: Int,
                      statsColumns: Seq[String] = Nil,
                      sort: Boolean = false,
                      sortAlso: Seq[String] = Nil): Long = {
    val (next, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    // layout-preserving on the OTHER axis: a partitioned table
    // re-clustered on a key keeps its `k=v/` dirs (the composed
    // date-dirs × key-buckets shape), it does not silently flatten.
    // `sort = true` additionally key-orders every rewritten bucket
    // and records the sorted markers — the one-rewrite upgrade of an
    // existing table onto the sorted-bucket layout.
    commit(readVersion(spark, tableDir, Some(m.version)), tableDir, "overwrite",
      expectedVersion = Some(next), statsColumns = statsColumns,
      bucketBy = Some((key, numBuckets)), partitionBy = m.partitionCols,
      sortBuckets = sort, sortAlso = sortAlso)
  }

  /** URI TAIL of a data-file ref (`data/v<N>-<uuid>/...` — the uuid
    * makes commit dirs unique and `.+` spans `k=v/` partition
    * segments): the key dv rows use to name their target file,
    * matching table-relative refs and clone-borrowed absolute ones
    * the same way. Shared by every partial-rewrite/purge path so the
    * matching rule cannot drift between them.
    */
  private val DataTailRe = "(data/v[^/]+/.+)$"
  private val DataTailPattern = java.util.regex.Pattern.compile(DataTailRe)
  private def dataTail(rel: String): String = {
    val mt = DataTailPattern.matcher(rel)
    if (mt.find()) mt.group(1) else rel
  }

  /** Partial-rewrite dv consolidation ([[compactSmall]] /
    * [[clusterTail]]'s shared rule): mask rows for the REWRITTEN
    * files are inert (the rewrite read applied them); the rows whose
    * target is NOT among the rewritten files survive, written as this
    * commit's dv dir. The filter is O(removed files), never O(table):
    * the commit protocol guarantees every dv row references a LIVE
    * file (deleteWhere masks live rows; every partial rewrite
    * consolidates; overwrites clear), so "not removed" names exactly
    * the kept files' rows. A rewrite of every physical row of the
    * table leaves no mask row behind (a kept file then holds no row to
    * mask), decided from the row ledger without reading the masks.
    * Returns (dv refs, masked-row count), keeping the ledger invariant
    * dataRows − dvRows = visible rows exact.
    */
  private def consolidateDvs(spark: SparkSession, f: FileSystem,
                             tableDir: String, m: Manifest,
                             removed: Seq[LiveEntry], version: Long,
                             tag: String): (Seq[String], Long) = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    if (m.dvs.isEmpty || removed.iterator.map(_.rows).sum == m.dataRows)
      return (Seq.empty, 0L)
    val removedTails = removed.iterator.map(e => dataTail(e.file)).toSet
    val dvAbs = m.dvs.map(rel =>
      if (isBorrowed(rel)) rel else new Path(tableDir, rel).toString)
    // isin compiles to an InSet hash probe past 10 values — O(1) per
    // row whatever the rewrite's size
    val live = readDvs(spark, dvAbs)
      .withColumn("__rel", regexp_extract(col("file_path"), DataTailRe, 1))
      .filter(!col("__rel").isin(removedTails.toSeq: _*)).drop("__rel")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cnt = live.count()
      if (cnt == 0) (Seq.empty, 0L)
      else {
        val dvRel = f"dv/v$version%06d-$tag"
        val dvDir = new Path(tableDir, dvRel)
        dvSizedForWrite(live, cnt).write.parquet(dvDir.toString)
        (f.listStatus(dvDir).iterator.map(_.getPath.getName)
          .filter(_.endsWith(".parquet"))
          .map(x => s"$dvRel/$x").toSeq.sorted, cnt)
      }
    } finally live.unpersist(false)
  }

  /** Fresh-file footer stats for a partial rewrite: the files carry
    * PHYSICAL names — read footers by physical name, record under the
    * LOGICAL key (the same dance as [[commit]]). Returns
    * (stats, nullCounts), empty for an empty `statsColumns`.
    */
  private def rewriteFooterStats(spark: SparkSession, tableDir: String,
                                 m: Manifest, written: Seq[String],
                                 statsColumns: Seq[String])
      : (Map[(String, String), FileStat], Map[(String, String), Long]) = {
    if (statsColumns.isEmpty) return (Map.empty, Map.empty)
    val physRev = m.colMap.map(_.swap)
    val metas = written.map { rel =>
      rel -> footerColumnMeta(spark, new Path(tableDir, rel),
        statsColumns.map(c => m.colMap.getOrElse(c, c)))
    }
    (metas.flatMap { case (rel, (st, _)) =>
      st.map { case (c, x) => (rel, physRev.getOrElse(c, c)) -> x } }.toMap,
      metas.flatMap { case (rel, (_, nn)) =>
        nn.map { case (c, cnt) =>
          (rel, physRev.getOrElse(c, c)) -> cnt } }.toMap)
  }

  /** INCREMENTAL re-cluster of the UNBUCKETED TAIL — O(tail), not
    * O(table). [[compactBucketed]] folds plain-append files back into
    * the bucket layout by rewriting the WHOLE table; at 100 TB that
    * is a full-table rewrite to place a day's worth of appends — the
    * same maintenance-cost class the r14 verdict flagged for
    * compactSmall's sizing. This operator rewrites ONLY the files
    * without a bucket mapping: read them with their masks applied,
    * cluster them with the table's own bucket function (the one
    * every bucketed write uses — same typed xxhash64, same modulus,
    * computed on the PHYSICAL column at the logical type so renamed
    * keys hash identically), and commit new bucket-mapped files
    * while the clustered bulk rides by reference. Buckets may hold
    * several files afterwards (one per re-cluster epoch) — every
    * bucket consumer ([[readVersionKeys]] lookups, merge-on-read
    * mask scans, [[bucketAlignedJoin]], [[bucketAlignedAggregate]])
    * already groups files per bucket id, so multi-file buckets are
    * the layout's normal shape, and a later [[compactSmall]] folds
    * the epochs together. Idempotent: a fully clustered table
    * returns its version untouched. Partition×bucket tables are
    * refused (the tail rewrite does not reproduce the `k=v/` dirs —
    * use [[compactBucketed]], which preserves that axis). Like
    * compactSmall, rewritten files drop their per-file sketches
    * (blooms/NDV/KLL — pruning and stat feeds degrade conservatively
    * until the next ANALYZE); pass `statsColumns` to record fresh
    * footer stats.
    */
  def clusterTail(spark: SparkSession, tableDir: String,
                  statsColumns: Seq[String] = Nil,
                  sort: Boolean = false,
                  sortAlso: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val f = fs(spark, tableDir)
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val (key, n) = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$tableDir is not bucket-clustered; clusterTail repairs a bucket " +
        "layout (bucketBy at commit, or CLUSTERED BY in DDL)"))
    require(sortAlso.isEmpty || sort,
      "sortAlso requires sort: secondary sort columns extend the " +
        "bucket-key order, they cannot replace it")
    if (sort) {
      val sortCols = key +: sortAlso
      require(sortCols.distinct.size == sortCols.size,
        s"duplicate sort columns: $sortCols")
    }
    val schema = m.schema
    sortAlso.foreach { c =>
      require(!c.contains(","),
        s"sort column '$c' contains ',' (the marker separator)")
      require(schema.fieldNames.contains(c),
        s"sortAlso column '$c' is not a column of the table")
      val dt = schema(c).dataType
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(dt),
        s"sortAlso column '$c' of type ${dt.simpleString} is not orderable")
    }
    require(m.partitionCols.isEmpty,
      s"$tableDir is partitioned: the tail rewrite does not reproduce the " +
        "partition dirs — re-cluster via compactBucketed")
    // the unbucketed tail: planning rows without a bucket id
    val entries = liveEntriesCheckpointed(spark, tableDir, base,
      coverOf(spark, tableDir, base.header.version),
      (r: CkptFile) => r.bucket.isEmpty)
    if (entries.isEmpty) return m.version
    val tail = entries.map(_.file)
    val tag = UUID.randomUUID().toString.take(8)
    val dataRel = f"data/v$version%06d-$tag"
    val dataDir = new Path(tableDir, dataRel)
    val physKey = m.colMap.getOrElse(key, key)
    withMicrosTimestamps(spark) {
      val clusteredTail = toPhysical(readFiles(spark, tableDir, m, tail),
          m.colMap)
        .withColumn(BucketCol,
          pmod(xxhash64(col(s"`$physKey`").cast(schema(key).dataType)),
            lit(n.toLong)).cast("int"))
        .repartition(n, col(BucketCol))
      // `sort = true`: the rewritten tail files land key-ordered
      // (plus `sortAlso` secondaries — match the bulk's marker to
      // keep a composite-sorted layout whole) and gain sorted
      // markers — an O(tail) repair KEEPS a sorted bulk's layout
      // whole (same write-side reasoning as [[writeLayout]])
      (if (sort)
         clusteredTail.sortWithinPartitions(
           (Seq(BucketCol, physKey) ++
             sortAlso.map(c => m.colMap.getOrElse(c, c)))
             .map(c => col(s"`$c`")): _*)
       else clusteredTail)
        .write.partitionBy(BucketCol).parquet(dataDir.toString)
    }
    val newBuckets = flattenBucketDirs(f, dataDir, dataRel)
    val written = listDataFiles(f, dataDir, dataRel)
    val (dvs, dvRows) =
      consolidateDvs(spark, f, tableDir, m, entries, version, tag)
    val (newStats, newNulls) =
      rewriteFooterStats(spark, tableDir, m, written, statsColumns)
    val newFileMeta = footerFileMeta(spark, f, dataDir, dataRel)
    val dataRows = m.dataRows - entries.iterator.map(_.rows).sum +
      newFileMeta.valuesIterator.map(_._1).sum
    val sortedMarkers: Map[String, String] =
      if (sort) {
        val marker = (key +: sortAlso).mkString(",")
        written.iterator.map(_ -> marker).toMap
      } else Map.empty
    val fresh = freshSegEntries(m, written, newStats, newNulls,
      newFileMeta, newBuckets, sortedMarkers)
    if (!publishManifestDelta(f, tableDir,
        m.copy(version = version, dvs = dvs, dataRows = dataRows,
          dvRows = dvRows, pendingMarker = None),
        base, removedBySegment(entries), fresh)) {
      f.delete(dataDir, true)
      if (dvs.nonEmpty)
        f.delete(new Path(tableDir, f"dv/v$version%06d-$tag"), true)
      throw new java.util.ConcurrentModificationException(
        s"version $version of $tableDir was committed concurrently")
    }
    version
  }

  /** The files version `toVersion` has that `fromVersion` does not —
    * the manifest diff, O(files) driver set work, no data read. Pass
    * `fromVersion = -1` for "everything in toVersion". For an
    * append-only range this is exactly the change feed (each commit's
    * new files); an overwrite inside the range makes the diff the
    * rewrite's output files instead — callers doing incremental
    * maintenance across rewrites must restart from the rewrite (the
    * same contract the table formats expose as "change data feed
    * unavailable across non-append commits").
    */
  def addedFiles(spark: SparkSession, tableDir: String,
                 fromVersion: Long, toVersion: Long): Seq[String] = {
    // endpoints must be LIVE history — a dead/in-flight txn version's
    // uncommitted files must never surface as "added" (same contract
    // as readChangeFeed; versions INSIDE the range need no check:
    // a dead version's files never enter live lineage)
    val to = readLiveManifest(spark, tableDir, toVersion)
    if (fromVersion < 0) to.files
    else {
      val before = readLiveManifest(spark, tableDir, fromVersion).files.toSet
      to.files.filterNot(before)
    }
  }

  /** The CDC feed for the `(fromVersion, toVersion]` range, or None
    * for a METADATA-ONLY range (ALTER TABLE ADD COLUMNS / ALTER
    * COLUMN TYPE, CHECK add/drop, a no-op restore — the file and dv
    * sets are IDENTICAL at both endpoints): [[readChangeFeed]]
    * refuses such a range ("no changes"), so streaming consumers call
    * this instead and emit an empty micro-batch for None — a routine
    * metadata commit must never wedge a checkpointed stream (the
    * offset is logged before getBatch; a throw would replay the same
    * range forever; same guard [[changeFeedBatches]] applies). A
    * range that REMOVED files or dvs (truncate, restore, rewrite) is
    * NOT metadata-only — it proceeds to the feed computation and hits
    * its loud "change feed unavailable across rewrites" error, never
    * a silent skip; identical ENDPOINTS with data churn in between
    * (append + restore netting to zero) are told apart from true
    * metadata-only ranges by an in-range lineage walk and refused
    * loudly too. Each endpoint manifest is read exactly once.
    */
  private[sources] def changeFeedSlice(spark: SparkSession, tableDir: String,
                                       fromVersion: Long, toVersion: Long)
      : Option[DataFrame] = {
    val to = readLiveManifest(spark, tableDir, toVersion)
    val from =
      if (fromVersion < 0) PreHistory
      else readLiveManifest(spark, tableDir, fromVersion)
    if (to.files.toSet == from.files.toSet && to.dvs.toSet == from.dvs.toSet) {
      // identical endpoints mean EITHER a genuinely metadata-only
      // range (empty batch) OR net-zero data churn — e.g. an append
      // undone by a RESTORE back to the starting snapshot, whose
      // transient rows a CDC consumer must not silently miss. Walk
      // the in-range lineage to tell them apart: any LIVE in-range
      // version whose file/dv sets differ from the endpoints proves
      // churn, which gets the same loud refusal as a rewrite in
      // range (the consumer restarts past it). O(range versions)
      // driver reads — a streaming slice spans few versions.
      val f = fs(spark, tableDir)
      val churned = (math.max(fromVersion, -1L) + 1 until toVersion)
        .exists { v =>
          f.exists(manifestPath(tableDir, v)) && {
            val mv = readManifest(spark, tableDir, v)
            manifestLive(spark, mv, forWrite = false) &&
              (mv.files.toSet != from.files.toSet ||
                mv.dvs.toSet != from.dvs.toSet)
          }
        }
      require(!churned,
        s"change feed unavailable for ($fromVersion, $toVersion] of " +
          s"$tableDir: the range nets to zero file changes but contains " +
          "data commits (e.g. an append undone by a RESTORE) — transient " +
          "rows are not representable as a row-level change set; restart " +
          "the consumer from a fresh checkpoint past the restore")
      None
    }
    else Some(readChangeFeedManifests(spark, tableDir, from, to,
      fromVersion, toVersion))
  }

  /** Change-feed read: the rows in files added between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — the "process only data
    * that arrived since the last run" primitive that turns a periodic
    * full recompute into an incremental one. Scan cost is O(new data),
    * independent of table size: at 100 TB with hourly appends, the
    * hourly job reads the hour, not the decade. See [[addedFiles]] for
    * the append-only contract.
    */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val added = addedFiles(spark, tableDir, fromVersion, toVersion)
    require(added.nonEmpty,
      s"no files added between v$fromVersion and v$toVersion of $tableDir")
    readFiles(spark, tableDir, readManifest(spark, tableDir, toVersion), added)
  }

  /** Change DATA feed (CDC read): one row per net row-level change
    * between `fromVersion` (exclusive) and `toVersion` (inclusive),
    * tagged `_change_type` ∈ {insert, delete} — the row-granular
    * sibling of [[readChanges]] that downstream incremental consumers
    * (sync jobs, materialized views with deletes) subscribe to:
    *   - insert = a row of a file added in the range, not masked by
    *     `toVersion`'s deletion vectors (a row inserted AND deleted
    *     inside the range nets out — it was never visible at either
    *     endpoint);
    *   - delete = a row visible at `fromVersion` that a deletion
    *     vector added in the range masks, read back FULL-ROW from its
    *     source file by (file, row_index) provenance — consumers get
    *     the deleted content, not just a key.
    * Cost is O(changed data): added files + the dv-matched slice of
    * the old snapshot; the unchanged corpus is never read. Append and
    * [[deleteWhere]] commits are exactly representable; an overwrite
    * in the range throws (a rewrite is not a row-level change set —
    * the same "change feed unavailable across non-append commits"
    * contract as [[readChanges]], detected here structurally: the
    * from-side files/dvs must be subsets of the to-side's).
    */
  def readChangeFeed(spark: SparkSession, tableDir: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    // endpoints must be LIVE history — a dead txn version's files were
    // never part of the table and must not surface as feed rows
    // ([[changeFeedBatches]] resolves its endpoints before calling)
    val to = readLiveManifest(spark, tableDir, toVersion)
    val from =
      if (fromVersion < 0) PreHistory
      else readLiveManifest(spark, tableDir, fromVersion)
    readChangeFeedManifests(spark, tableDir, from, to, fromVersion, toVersion)
  }

  /** [[readChangeFeed]]'s core against already-read endpoint
    * manifests — [[changeFeedSlice]] passes the pair it parsed for
    * its metadata-only check, so the streaming hot path reads each
    * manifest once per micro-batch instead of twice.
    */
  private def readChangeFeedManifests(spark: SparkSession, tableDir: String,
                                      from: Manifest, to: Manifest,
                                      fromVersion: Long, toVersion: Long)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(from.files.toSet.subsetOf(to.files.toSet) &&
        from.dvs.toSet.subsetOf(to.dvs.toSet),
      s"non-append commit between v$fromVersion and v$toVersion of " +
        s"$tableDir: change feed unavailable across rewrites")
    val added = to.files.filterNot(from.files.toSet)
    val addedDvs = to.dvs.filterNot(from.dvs.toSet)
    require(added.nonEmpty || addedDvs.nonEmpty,
      s"no changes between v$fromVersion and v$toVersion of $tableDir")
    // inserts: added files with the TO version's masks applied
    val inserts =
      if (added.isEmpty) None
      else Some(readFiles(spark, tableDir, to, added)
        .withColumn("_change_type", lit("insert")))
    // deletes: from-visible rows matched by the range's new dvs
    val deletes =
      if (addedDvs.isEmpty || from.files.isEmpty) None
      else {
        val dvAbs = addedDvs.map(rel =>
          if (isBorrowed(rel)) rel else new Path(tableDir, rel).toString)
        val dv = readDvs(spark, dvAbs)
        val base = readFilesMeta(spark, tableDir, from, from.files)
        Some(base.join(dv,
            base(FpCol) === dv("file_path") && base(RiCol) === dv("row_index"),
            "left_semi")
          .drop(FpCol, RiCol)
          .withColumn("_change_type", lit("delete")))
      }
    (inserts.toSeq ++ deletes.toSeq).reduce(_ unionByName _)
  }

  /** The streaming half of the change feed: tail the table's data
    * dirs as a Structured Streaming file source — each commit's new
    * files arrive as (one or more) micro-batches, so downstream
    * incremental jobs are plain `writeStream` consumers with
    * checkpointed progress. The glob re-evaluates every batch, so
    * commit dirs created after the query starts are picked up.
    * Append-only contract, same as [[readChanges]]: an overwrite
    * commit's files would re-deliver their rows (they are new files);
    * tail append-only tables, restart consumers across rewrites.
    * `maxFilesPerTrigger` bounds per-batch work at scale.
    * NOT transaction-aware: the raw data glob cannot consult txn
    * markers, so a [[commitTxn]] participant's files surface here even
    * if the txn aborts — tables written transactionally must be tailed
    * with [[streamChangeFeed]] (manifest-driven, dead versions
    * resolved away) instead.
    */
  /** LAYOUT NOTE: this helper globs the flat one-level `data` layout;
    * tables written with Hive-style partition dirs (`commit(partitionBy)`)
    * nest their files one level deeper — tail those through
    * `spark.readStream.format("graft")` instead, whose manifest-diff
    * discovery is layout-independent (and delete-aware in changeFeed
    * mode).
    */
  def streamAppends(spark: SparkSession, tableDir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(new Path(tableDir, "data/*").toString)

  /** The DELETE-AWARE streaming half of the change feed — what
    * [[streamAppends]] cannot see (dv masks live outside its `data`
    * glob, deliberately): tail the table's COMMITS by streaming the
    * per-commit 1-byte markers (`_commits/`, written right after each
    * manifest's atomic publish — see [[ensureCommitMarkers]]) as a
    * file source, so the source's own checkpointed discovery IS the
    * offset tracking (no bespoke offset store) and discovery cost is
    * O(commits), independent of manifest size. One output row per
    * discovered commit, `version: long`. Pair with
    * [[changeFeedBatches]] in `foreachBatch` to turn each micro-batch
    * of versions into the corresponding [[readChangeFeed]] slice
    * (insert+delete rows, `_change_type`-tagged) — the subscription a
    * downstream incremental consumer of a [[cdcSink]]-maintained
    * table needs. `maxFilesPerTrigger = 1` (the default) delivers one
    * commit per micro-batch; larger values fuse consecutive commits
    * into one net-change slice (cheaper at scale, same net result —
    * inserts deleted within the fused range drop out).
    *
    * Contract: the consumer must start at (or above) the table's
    * vacuum floor, and an overwrite/restore inside a consumed range
    * fails the feed computation (the same "change feed unavailable
    * across rewrites" rule as [[readChangeFeed]]) — restart the
    * consumer from the rewrite. A marker only ever appears after its
    * manifest's publish, so a discovered version is always readable;
    * existing tables are backfilled at stream start, and vacuum
    * expires markers with their manifests. Checkpoints created
    * against the pre-marker layout (streaming `_manifests` directly)
    * are not portable to this source — restart those consumers fresh.
    */
  def streamChangeFeed(spark: SparkSession, tableDir: String,
                       maxFilesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    // tail the 1-byte commit MARKERS, not the manifests: a wholetext
    // file source reads each discovered file in full, and manifests
    // grow with stats/bucket/bloom payloads — discovery must stay
    // O(commits), not O(manifest bytes). Backfill covers tables whose
    // history predates markers (and any publish/marker crash window);
    // a marker only ever appears after its manifest's atomic publish.
    ensureCommitMarkers(fs(spark, tableDir), tableDir)
    spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(commitMarkerDir(tableDir).toString)
      .select(regexp_extract(col("_metadata.file_path"),
        "v(\\d+)\\.marker$", 1).cast("long").as("version"))
  }

  /** foreachBatch adapter for [[streamChangeFeed]]: resolve the
    * micro-batch's commit versions to ONE [[readChangeFeed]] slice
    * (fromVersion = lowest-1, exclusive; toVersion = highest) and hand
    * it to `apply(feed, fromVersion, toVersion)`. Metadata-only
    * ranges (CHECK add/drop, a no-op restore) produce no rows and are
    * skipped. The initial batch of a fresh checkpoint delivers every
    * existing manifest, so the first slice is the full snapshot as
    * inserts (fromVersion = -1) — the standard initial-load-then-tail
    * shape. For exactly-once downstream materialization, write the
    * slice with [[exactlyOnceSink]]/[[cdcSink]] keyed by `toVersion`
    * as the batch id — a replayed slice (failure between apply and
    * checkpoint write) then no-ops on the txn watermark.
    */
  def changeFeedBatches(tableDir: String)
                       (apply: (DataFrame, Long, Long) => Unit)
                       (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // bounded collect: ≤ maxFilesPerTrigger manifest names
    val versions = batch.select("version").distinct().collect()
      .map(_.getLong(0)).sorted
    if (versions.isEmpty) return
    // resolve BOTH endpoints to live versions (forWrite: the feed is a
    // consumer that must make progress — an in-flight txn at the slice
    // boundary is forced to a decision, committed-adopted or aborted,
    // exactly once; dead versions inside the range are invisible by
    // construction — their files never entered live lineage). An
    // in-flight txn racing toward its decision gets a bounded GRACE
    // (`graft.txn.feedGraceMs`, default 1000) before the force-abort:
    // without it a fast-polling consumer could starve every long
    // multi-table txn on a streamed table. Txns whose decision latency
    // exceeds the grace still lose to the feed — size the grace (or
    // pause consumers) around long transactions.
    val grace = graft.GraftConf.long(spark, "graft.txn.feedGraceMs", 1000L)
    parseManifest(spark, tableDir, versions.last).header.pendingMarker.foreach { mk =>
      val deadline = System.currentTimeMillis() + grace
      while (markerDecision(spark, mk).isEmpty &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
    val toLive = lastLive(spark, tableDir, versions.last, forWrite = true)
    if (toLive.isEmpty) return // nothing live yet
    val to = toLive.get.header.version
    val toM = assemble(spark, tableDir, toLive.get)
    val fromRaw = versions.head - 1
    val (from, fromM) =
      if (fromRaw < 0) (-1L, PreHistory)
      else lastLive(spark, tableDir, fromRaw, forWrite = true) match {
        case Some(x) => (x.header.version, assemble(spark, tableDir, x))
        case None =>
          // distinguish "everything at or below the checkpoint was an
          // aborted txn" (restarting from the true beginning is exact)
          // from "the checkpoint predates the vacuum floor" — there
          // the slice is unreconstructable, and falling back to -1
          // would silently re-deliver the whole table as inserts into
          // an exactly-once sink. Fail loudly, like a rewrite does.
          require(vacuumFloor(spark, tableDir) == 0L,
            s"change-feed checkpoint at v$fromRaw of $tableDir predates the " +
              "vacuum floor: the slice cannot be reconstructed — restart the " +
              "consumer from a fresh checkpoint (same contract as rewrites)")
          (-1L, PreHistory)
      }
    if (to <= from) return // every arrived manifest was dead
    if (toM.files.toSet == fromM.files.toSet &&
        toM.dvs.toSet == fromM.dvs.toSet) return // metadata-only range
    apply(readChangeFeed(spark, tableDir, from, to), from, to)
  }

  /** Exactly-once TABLE REPLICATION over the streaming change feed —
    * the composition the pieces exist for: tail the source with
    * [[streamChangeFeed]], resolve each micro-batch to a net change
    * slice ([[changeFeedBatches]]), collapse it to a one-change-per-
    * key CDC batch, and apply it to the replica through [[cdcSink]]
    * keyed by the slice's `toVersion` — so a replayed slice (failure
    * between apply and checkpoint write) no-ops on the replica's txn
    * watermark. Usage:
    * {{{
    *   streamChangeFeed(spark, src).writeStream
    *     .option("checkpointLocation", ckpt)
    *     .foreachBatch(Snapshots.replicaSink(src, dst, "id") _)
    *     .start()
    * }}}
    * The collapse handles the one shape a net slice can carry that
    * MERGE cannot: a key-unique source's update lands as delete(old
    * row) + insert(new row) in the SAME slice (one mergeOnRead commit
    * = mask + append atomically), which collapses to U with the
    * inserted payload; a delete with no matching insert stays D. A
    * net feed slice of a key-unique table carries at most one insert
    * and one delete per key, so the one-change-per-key contract holds
    * by construction. Cost per slice: O(changed data) — the replica
    * is maintained without ever reading the unchanged corpus, the
    * cross-table sync shape a 100 TB table needs. Source overwrites
    * (compaction, purge) break the feed contract mid-stream, exactly
    * as [[readChangeFeed]] documents: re-seed the replica from the
    * rewrite (fresh checkpoint + fresh replica, or a clone) — the
    * same rule every format's CDC-based replication exposes.
    */
  def replicaSink(sourceDir: String, targetDir: String, key: String,
                  appId: String = "replica")
                 (batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    changeFeedBatches(sourceDir) { (feed, _, to) =>
      val ins = feed.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val del = feed.filter(col("_change_type") === "delete")
        .drop("_change_type")
      val changes = ins.withColumn("op", lit("U"))
        .unionByName(del.join(ins.select(col(key)), Seq(key), "left_anti")
          .withColumn("op", lit("D")))
      cdcSink(targetDir, key, appId)(changes, to)
    }(batch, batchId)
  }

  /** Exactly-once streaming sink over the snapshot layer, for
    * `writeStream.foreachBatch(Snapshots.exactlyOnceSink(dir))`.
    * Replay detection is the manifest's per-producer txn watermark,
    * NOT the version number: a batch id at or below `appId`'s recorded
    * watermark is a replay (failure between sink and checkpoint write)
    * and no-ops; anything newer appends with the watermark riding in
    * the same atomic commit. Versions stay free for table maintenance
    * — an earlier design used "version == batch id" and silently
    * DROPPED the live batch whose id collided with a version that
    * compact/vacuum/MERGE had taken in the meantime. On a CAS loss the
    * loop re-reads the watermark before retrying, so two racing
    * replays of the same batch (zombie driver) resolve to one append:
    * the loser sees the winner's watermark and no-ops.
    */
  def exactlyOnceSink(tableDir: String, appId: String = "sink",
                      bucketBy: Option[(String, Int)] = None,
                      bloomColumns: Seq[String] = Nil,
                      partitionBy: Seq[String] = Nil,
                      sortBuckets: Boolean = false,
                      sortAlso: Seq[String] = Nil)
                     (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    var attempt = 0
    while (true) {
      val latest = latestVersion(spark, tableDir)
      // the replay watermark comes from the last LIVE manifest: a dead
      // txn head records the txns it WOULD have committed, and reading
      // it would let an aborted batch permanently suppress its own
      // redelivery (silent data loss). The expectedVersion still comes
      // from the raw head — burned numbers are never reused.
      val watermark = latest
        .flatMap(v => lastLive(spark, tableDir, v, forWrite = false))
        .map(_.header.txns.getOrElse(appId, Long.MinValue))
        .getOrElse(Long.MinValue)
      if (batchId <= watermark) return // replay (or lost race): durable already
      val expected = latest.map(_ + 1).getOrElse(0L)
      try {
        // a streaming sink can keep the table's indexes warm as it
        // lands: bucketBy clusters each micro-batch's files (matching
        // the table spec — point lookups stay pruned without waiting
        // for compactBucketed), bloomColumns indexes them (one agg
        // over the batch's own files), sortBuckets/sortAlso order each
        // batch's bucket files and record their markers (the aligned
        // skip-sort paths serve the streamed table immediately — each
        // bucket accretes one sorted file per batch, which the tree
        // merge reads with zero Sort until compactSmall folds them)
        commit(batch, tableDir, "append", expectedVersion = Some(expected),
          txn = Some(appId -> batchId), bucketBy = bucketBy,
          bloomColumns = bloomColumns, partitionBy = partitionBy,
          sortBuckets = sortBuckets, sortAlso = sortAlso)
        return
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= 10) throw e
      }
    }
  }

  /** Exactly-once streaming CDC apply — the streaming-MERGE pattern,
    * for `writeStream.foreachBatch(Snapshots.cdcSink(dir, key))` over
    * a change stream (rows carry the key, the payload, and `op` ∈
    * {I,U,D}): each micro-batch lands through [[mergeOnRead]] (one
    * atomic mask+append commit, O(batch)), with the same per-producer
    * txn-watermark replay protection as [[exactlyOnceSink]] — a
    * replayed batch id at or below the watermark no-ops, a CAS loss
    * re-reads the watermark before retrying, so a zombie driver's
    * duplicate apply resolves to exactly one merge. The upsert-stream
    * sibling of the append-only sink: at 100 TB this is how a CDC feed
    * maintains a versioned table without ever rewriting it.
    */
  def cdcSink(tableDir: String, key: String, appId: String = "cdc")
             (batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    var attempt = 0
    while (true) {
      val latest = latestVersion(spark, tableDir)
      // the replay watermark comes from the last LIVE manifest: a dead
      // txn head records the txns it WOULD have committed, and reading
      // it would let an aborted batch permanently suppress its own
      // redelivery (silent data loss). The expectedVersion still comes
      // from the raw head — burned numbers are never reused.
      val watermark = latest
        .flatMap(v => lastLive(spark, tableDir, v, forWrite = false))
        .map(_.header.txns.getOrElse(appId, Long.MinValue))
        .getOrElse(Long.MinValue)
      if (batchId <= watermark) return // replay (or lost race): durable already
      try {
        if (latest.isEmpty) // first batch bootstraps the table
          commit(batch.filter(col("op").isin("I", "U")).drop("op"),
            tableDir, "overwrite", expectedVersion = Some(0L),
            txn = Some(appId -> batchId))
        else
          mergeOnRead(spark, tableDir, batch, key, txn = Some(appId -> batchId))
        return
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= 10) throw e
      }
    }
  }

  /** RESTORE TABLE TO VERSION — roll the table back to `toVersion` by
    * publishing its file/dv/stat/schema state as a NEW version: an
    * O(manifest) metadata-only commit that republishes the target's
    * segment refs and tombstones verbatim (no segment read or written), zero
    * data copied or rewritten (the old files are referenced, not
    * duplicated), and the botched
    * intermediate versions stay readable for forensics until
    * [[vacuum]]. Producer txn watermarks and CHECK constraints carry
    * from the LATEST version, not the restore point — replay
    * protection and the table's quality contract must never rewind
    * with the data (the same rule every commit kind follows) — and
    * because constraints may POSTDATE the restore target, the restored
    * snapshot is VALIDATED against them before publishing (one scan of
    * the target version, DVs applied — the same scan
    * [[addCheckConstraint]] runs): without it a rollback to a
    * pre-constraint version would silently serve rows that violate
    * the table's active contract. `validateChecks = false` is the
    * admin escape hatch, mirroring `addCheckConstraint`'s
    * `validateExisting`. Fails if `toVersion` was vacuumed. Returns
    * the new version.
    */
  def restore(spark: SparkSession, tableDir: String, toVersion: Long,
              validateChecks: Boolean = true): Long = {
    val (nextV, latest) = resolveForWrite(spark, tableDir)
    require(toVersion < nextV, s"cannot restore to future version $toVersion")
    // throws if vacuumed; a dead txn version is not restorable history.
    // The restored version republishes the target's refs and tombstones
    val target = resolveForRead(spark, tableDir, Some(toVersion))
    val checks = latest.header.checks
    if (validateChecks && checks.nonEmpty && target.header.dataRows > 0) {
      val full = assemble(spark, tableDir, target)
      val violated = checkViolations(
        readFiles(spark, tableDir, full, full.files), checks)
      if (violated.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint(s) violated by version $toVersion: " +
            s"${violated.mkString(", ")}; restore of $tableDir refused")
    }
    publishMetadata(spark, tableDir, target.header.copy(version = nextV,
      txns = latest.header.txns, checks = checks), target)
  }

  /** RESTORE demo — rollback-under-fire end-to-end: orders as v0, the
    * 'F' rows logically deleted as a deletion vector (v1), the mask
    * physically purged (v2 — an overwrite rewrite), then RESTORE back
    * to the MASKED version v1 (v3). The restore is metadata-only, but
    * v3 must read exactly as v1 did — which means the restored
    * manifest's dv refs must survive the intervening rewrite and mask
    * at read time. The audit reads all four versions through the
    * manifests; the oracle replays each state relationally, so the
    * compare proves restore-then-read correctness (v3 == v1 == v2 ==
    * the filtered table) and that the rollback resurrected nothing
    * (v0 still serves every row).
    */
  def u12Restore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-restore")
    deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    purgeDeletes(s, tableDir)
    restore(s, tableDir, 1L)
    (0L to 3L).map { v =>
      readVersion(s, tableDir, Some(v))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(v).as("version"), col("n_rows"), col("total"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** Batch twin of [[cdcSink]] — the exactly-once streaming CDC apply
    * driven as plain function calls, so the full bootstrap + merge +
    * replay protocol is oracle-checkable without a streaming runtime:
    * batch 0 (all-insert) bootstraps the table, the deterministic
    * [[graft.operators.Merge.demoChanges]] batch lands as TWO
    * merge-on-read batches (split by key parity — each keeps the
    * one-change-per-key contract), and batch 1 is then REPLAYED (the
    * failure-between-sink-and-checkpoint case) — the txn watermark
    * must no-op it. Output: the final per-status audit (== u7/u11's
    * merged state, proving the split apply composes to the one-shot
    * MERGE) plus `n_versions` = 3 (bootstrap + two merges — the
    * replay committed NOTHING).
    */
  def u13CdcApply(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-cdc-apply")
    val base = graft.Tables.orders(s, d)
    val changes = graft.operators.Merge.demoChanges(base)
    val sink = cdcSink(tableDir, "o_orderkey") _
    sink(base.withColumn("op", lit("I")), 0L)
    // one checkpoint after the initial load (r17): every subsequent
    // CDC batch merge plans its mask candidates through the
    // checkpoint, later versions' segments ride as the cached tail
    // (O(tail) growth between checkpoints), and each publish is a
    // zero-removal delta. The steady state this demo
    // exists to model.
    writeMetadataCheckpoint(s, tableDir)
    val batch1 = changes.filter(col("o_orderkey") % 2 === 0)
    sink(batch1, 1L)
    sink(changes.filter(col("o_orderkey") % 2 === 1), 2L)
    sink(batch1, 1L) // replayed batch: watermark must no-op it
    val nVersions = latestVersion(s, tableDir).get + 1
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Schema-evolution demo — both additive paths end-to-end: orders
    * (3 columns) as v0; a re-keyed late batch carrying a NEW
    * `o_channel` column appended as v1 (append-path evolution: the
    * column is recorded nullable, v0's files read NULL for it); a CDC
    * update batch carrying a SECOND new column `o_src` applied by
    * [[mergeOnRead]] as v2 (merge-path evolution, round 8). The final
    * audit groups by channel with a NULL bucket and counts `o_src`
    * carriers, so the oracle — which replays the whole derivation
    * relationally — verifies at once: old files read NULL for both
    * added columns, evolved payloads land intact, and the update's
    * mask+append touched exactly the intended rows. O(1) planning
    * throughout: readers take the schema from the manifest, never
    * from footer merges.
    */
  def u14SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-schema-evo")
    val orders = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_units", (col("o_orderkey") % 100).cast("int"))
    commit(orders, tableDir, "overwrite")
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(3000000000L))
      .withColumn("o_channel", // %20 splits the %10==3 keys in two;
        // the +3e9 rekey is ≡0 mod 20, so the split survives it
        when(col("o_orderkey") % 20 === 3, "web").otherwise("store"))
    commit(late, tableDir, "append") // additive column via append
    val changes = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
      .withColumn("o_channel", lit("cdc"))
      .withColumn("o_src", lit("cdc_feed")) // additive column via MERGE
      .withColumn("op", lit("U"))
    mergeOnRead(s, tableDir, changes, "o_orderkey")
    // TYPE WIDENING via append: the batch carries o_units as BIGINT
    // (values only a long can hold) — the manifest records the widened
    // type and every OLDER int32 file reads through it in place, no
    // rewrite (the 100 TB shape: an ID column outgrowing int costs one
    // metadata evolution, not a table rewrite)
    val widen = orders.filter(col("o_orderkey") % 10 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + lit(6000000000L))
      .withColumn("o_units", (col("o_orderkey") % 100) + lit(3000000000L))
      .withColumn("o_channel", lit("widen"))
    commit(widen, tableDir, "append")
    readVersion(s, tableDir)
      .groupBy(coalesce(col("o_channel"), lit("none")).as("channel"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        sum(when(col("o_src").isNotNull, 1L).otherwise(0L)).as("n_src"),
        sum(col("o_units")).as("units"))
      .orderBy("channel")
  }

  /** CHECK-enforcement demo, driver-visible: orders as v0, the
    * `price_pos` constraint registered (validates existing data; v1,
    * metadata-only), a VIOLATING append attempted — refused before any
    * write — then a clean re-keyed append (v2). The audit is the final
    * per-status state plus `n_versions` = 3: the refused commit
    * consumed no version and left no rows, which is exactly what the
    * oracle (base + clean batch only, 3 AS n_versions) asserts.
    */
  def u15CheckConstraints(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-check-demo")
    val orders = graft.Tables.orders(s, d)
    addCheckConstraint(s, tableDir, "price_pos", "o_totalprice > 0")
    val dirty = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(4000000000L))
      .withColumn("o_totalprice", lit(-1.0))
    try {
      commit(dirty, tableDir, "append")
      throw new IllegalStateException("violating append was not refused")
    } catch { case _: IllegalArgumentException => () } // refused: correct
    val clean = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(4000000000L))
    commit(clean, tableDir, "append")
    val nVersions = latestVersion(s, tableDir).get + 1
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Exactly-once append-sink demo, driver-visible — the protocol
    * [[exactlyOnceSink]] runs under a streaming checkpoint, driven as
    * plain calls: batches 0 and 1 land, batch 0 is REPLAYED (no-op on
    * the watermark), table maintenance takes a version ([[compact]] —
    * the case that broke the old version==batchId design), batch 1 is
    * replayed AGAIN (the watermark must survive the overwrite), then
    * batch 2 lands. Audit = final per-status state plus `n_versions`
    * = 4 (three appends + one compaction; the two replays committed
    * nothing) — the oracle replays the three batches as the full
    * table.
    */
  def u16ExactlyOnce(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-eos-demo")
    val orders = graft.Tables.orders(s, d)
    val sink = exactlyOnceSink(tableDir, "app") _
    def slice(k: Int) = orders.filter(col("o_orderkey") % 3 === k)
    sink(slice(0), 0L)
    sink(slice(1), 1L)
    sink(slice(0), 0L) // replay: watermark no-op
    compact(s, tableDir, numFiles = 4)
    sink(slice(1), 1L) // replay AFTER maintenance: still a no-op
    sink(slice(2), 2L)
    val nVersions = latestVersion(s, tableDir).get + 1
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Compaction + retention demo, driver-visible: three append commits
    * (v0–v2), compacted into 4 files (v3), then [[vacuum]] expires
    * everything below the compaction. The audit pins the surviving
    * state (== the full table — a rewrite + expiry must lose nothing),
    * `n_live_versions` = 1 (only the compacted snapshot remains) and
    * `floor` = 3 (expired versions can never be re-committed).
    */
  def u17CompactVacuum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-compact-demo")
    val orders = graft.Tables.orders(s, d)
    (0 to 2).foreach { k =>
      commit(orders.filter(col("o_orderkey") % 3 === k), tableDir,
        if (k == 0) "overwrite" else "append")
    }
    compact(s, tableDir, numFiles = 4)
    vacuum(s, tableDir, keepFromVersion = 3L, orphanRetainMs = 0L)
    val nLive = history(s, tableDir).count()
    val floor = vacuumFloor(s, tableDir)
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_live_versions", lit(nLive).cast("int"))
      .withColumn("floor", lit(floor).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** UPDATE-as-merge-on-read demo: orders as v0, the 'F' rows
    * repriced (+100) through [[updateWhere]] — one atomic mask+append
    * commit, v0's data files untouched. Audit = per-status state plus
    * `n_versions` = 2; the oracle replays the update relationally, so
    * the compare proves the masked-and-reappended rows carry exactly
    * the SET result and nothing else moved.
    */
  def u20UpdateWhere(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-update-demo")
    // checkpoint first (r17): the UPDATE plans its stat-hinted
    // candidates through the checkpoint (zero-removal delta publish)
    writeMetadataCheckpoint(s, tableDir)
    updateWhere(s, tableDir, col("o_orderstatus") === "F",
      Map("o_totalprice" -> (col("o_totalprice") + lit(100.0))))
    val nVersions = latestVersion(s, tableDir).get + 1
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Optimistic-concurrency demo, driver-visible: two writers both
    * read latest = v0 and race to commit v1 — the second (stale
    * `expectedVersion`) loses the CAS, throws, and cleans its orphaned
    * data dir; a third writer retries from the NEW latest and lands as
    * v2. Audit = the final state (base + winner + retried loser — the
    * lost update is NOT silently dropped, it lands on retry exactly
    * once) plus `n_versions` = 3: the losing attempt consumed nothing.
    */
  /** Hash-bucketed layout demo — the point-lookup loop min/max stats
    * cannot serve: orders committed hash-clustered on `o_orderkey`
    * (16 buckets, one file per bucket, mapping in the manifest), then
    * three lookups of the same key set read back through
    * [[readVersionKeys]] — leg 0 against the clustered table, leg 1
    * after a deletion-vector DELETE of one key (the mask must apply
    * through the pruned scan), leg 2 after a [[mergeOnRead]] UPDATE of
    * another key, whose mask scan itself bucket-prunes (merge key ==
    * bucket key). The oracle replays all three states relationally
    * from the raw table, so the compare proves bucket-pruned reads are
    * result-invisible across the whole DV/merge lifecycle; the
    * accompanying spec pins the SCAN side (≤ keys.size bucket files
    * touched, not the table). At 100 TB this is the difference
    * between a point lookup scanning ~5 files and scanning the table.
    */
  def u21BucketedLookup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedBucketedOrders(s, d, "graft-bucketed")
    val keys: Seq[Any] = Seq(2L, 5L, 7L, 11L, 13L)
    def leg(n: Int) = readVersionKeys(s, tableDir, "o_orderkey", keys)
      .select(lit(n).cast("int").as("leg"), col("o_orderkey"),
        col("o_custkey"), col("o_totalprice").cast("double").as("total"))
    val l0 = leg(0)
    deleteWhere(s, tableDir, col("o_orderkey") === 5L)
    val l1 = leg(1)
    mergeOnRead(s, tableDir,
      readVersionKeys(s, tableDir, "o_orderkey", Seq(7L))
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("op", lit("U")),
      "o_orderkey")
    val l2 = leg(2)
    l0.unionByName(l1).unionByName(l2).orderBy("leg", "o_orderkey")
  }

  /** Multi-table transaction demo — atomicity under fire, end to end:
    * a fact table and its per-status rollup seeded in ONE atomic
    * [[commitTxn]], then a CRASHED transaction against both (phase-1
    * pending manifests published, the decision marker never written —
    * the exact torn state a driver death leaves), then a second,
    * successful atomic commit whose writers force-abort the corpse
    * and land on the live lineage. Output:
    *   leg 0 = the fact table read WITH the torn txn at its head —
    *           must equal the seeded state (uncommitted data is
    *           invisible, the atomicity half);
    *   leg 1 = the fact table after the committed txn;
    *   leg 2 = the ROLLUP table's stored rows after the same txn —
    *           must equal leg 1 exactly (both tables moved in the
    *           same instant, the consistency half).
    * The oracle replays all three relationally from raw orders; any
    * torn visibility — crashed rows surfacing, or fact and rollup
    * disagreeing — breaks the compare.
    */
  def u22MultiTableTxn(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val factDir = graft.TempDirs.create("graft-txn-fact")
    val rollDir = graft.TempDirs.create("graft-txn-roll")
    val txnDir = graft.TempDirs.create("graft-txn-log")
    val orders = graft.Tables.orders(s, d)
    def rollup(df: DataFrame) = df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    // seed both tables in one atomic transaction
    commitTxn(Seq((orders, factDir, "overwrite"),
      (rollup(orders), rollDir, "overwrite")), txnDir)
    // a transaction that DIES between phase 1 and phase 2: pending
    // manifests on both tables, decision marker never published
    val crashed = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    val deadMarker = new Path(txnDir, "crashed-txn.final").toString
    commit(crashed, factDir, "append", pending = Some(deadMarker))
    commit(rollup(orders.unionByName(crashed)), rollDir, "overwrite",
      pending = Some(deadMarker))
    val leg0 = readVersion(s, factDir) // torn txn at the head: invisible
    val late = orders.filter(col("o_orderkey") % 10 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + lit(3000000000L))
    // the successful retry: force-aborts the corpse, lands atomically
    commitTxn(Seq((late, factDir, "append"),
      (rollup(orders.unionByName(late)), rollDir, "overwrite")), txnDir)
    // reclaim the torn txn's files — must be invisible to every read
    vacuumAborted(s, factDir)
    vacuumAborted(s, rollDir)
    def tag(df: DataFrame, leg: Int) = df
      .select(lit(leg).cast("int").as("leg"), col("o_orderstatus"),
        col("n_orders"), col("total"))
    tag(rollup(leg0), 0)
      .unionByName(tag(rollup(readVersion(s, factDir)), 1))
      .unionByName(tag(readVersion(s, rollDir), 2))
      .orderBy("leg", "o_orderstatus")
  }

  /** Metadata-only COUNT demo — the `SELECT COUNT(*)` fast path:
    * orders committed (v0), one status logically deleted as a
    * deletion vector (v1), a late re-keyed batch appended (v2); each
    * version's visible row count served by [[fastCount]] from the
    * manifest LEDGER — zero Spark jobs, zero data I/O (TxnSpec pins
    * the no-job claim with a listener; the randomized protocol spec
    * pins ledger exactness on arbitrary interleavings). The oracle
    * replays the three counts relationally: at 100 TB this is a
    * millisecond manifest read instead of a table scan.
    */
  def u23FastCount(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-fastcount")
    val orders = graft.Tables.orders(s, d)
    deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    commit(late, tableDir, "append")
    val s2 = s
    import s2.implicits._
    (0L to 2L).map(v => (v, fastCount(s, tableDir, Some(v))))
      .toDF("version", "n_rows")
      .select(col("version").cast("int").as("version"), col("n_rows"))
      .orderBy("version")
  }

  /** Bloom-index demo — point-lookup pruning on a table with INGEST
    * locality but no clustering and no stats: orders land as four
    * append batches (the residue classes of `o_orderkey` — each file
    * holds its slice, but min/max stats are deliberately NOT recorded
    * and the table is not bucketed), each commit building a per-file
    * bloom over the key. [[readVersionKeys]] then serves lookups
    * scanning only the files whose blooms might hold the wanted keys —
    * leg 0 against the fresh table, leg 1 after a deletion-vector
    * DELETE of one key (the mask applies through the bloom-pruned
    * scan). The oracle replays both states relationally; the spec pins
    * the scan side. This is the pruning primitive for high-cardinality
    * point lookups on columns a 100 TB table is NOT clustered by.
    */
  def u24BloomLookup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedBloomOrders(s, d, "graft-bloom")
    val keys: Seq[Any] = Seq(3L, 8L, 17L, 22L)
    def leg(n: Int) = readVersionKeys(s, tableDir, "o_orderkey", keys)
      .select(lit(n).cast("int").as("leg"), col("o_orderkey"),
        col("o_custkey"), col("o_totalprice").cast("double").as("total"))
    val l0 = leg(0)
    deleteWhere(s, tableDir, col("o_orderkey") === 17L)
    val l1 = leg(1)
    l0.unionByName(l1).orderBy("leg", "o_orderkey")
  }

  /** Partial-compaction demo — the real OPTIMIZE under masks: one big
    * file (v0) plus three small re-keyed append slices (v1–v3), a DV
    * DELETE masking rows in BOTH the big and the small files (v4),
    * then [[compactSmall]] with the threshold at half the big file's
    * size — the big file is carried BY REFERENCE, the smalls are
    * rewritten mask-applied, and the surviving mask rows (big-file
    * ones) are consolidated (v5). Output: the same per-status audit
    * read at v4 (pre) and v5 (post) — a partial rewrite must be
    * result-invisible — plus `n_versions` and the LEDGER-served
    * visible count ([[fastCount]]), which the oracle pins against the
    * relational count: if mask consolidation dropped or kept a wrong
    * row, the ledger breaks the compare.
    */
  def u25CompactSmall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-compact-small")
    val orders = graft.Tables.orders(s, d)
    commit(orders.coalesce(1), tableDir, "overwrite")
    (1 to 3).foreach { i =>
      commit(orders.filter(col("o_orderkey") % 10 === i)
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
        .coalesce(1), tableDir, "append")
    }
    deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    val m = readManifest(s, tableDir, latestVersion(s, tableDir).get)
    val maxBytes = m.files.map(m.fileBytes).max // ledger-served, no FS stats
    val preV = m.version
    compactSmall(s, tableDir, minBytes = maxBytes / 2)
    val nVersions = latestVersion(s, tableDir).get + 1
    val nVisible = fastCount(s, tableDir)
    def audit(v: Long, leg: Int) = readVersion(s, tableDir, Some(v))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select(lit(leg).cast("int").as("leg"), col("o_orderstatus"),
        col("n_orders"), col("total"))
    audit(preV, 0).unionByName(audit(preV + 1, 1))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .withColumn("n_visible", lit(nVisible))
      .orderBy("leg", "o_orderstatus")
  }

  /** Unique-key append demo — the primary-key constraint served by
    * the pruning indexes: orders hash-clustered on `o_orderkey` (v0),
    * a fresh re-keyed batch lands through [[commitUnique]] (v1 — its
    * existence probe bucket-prunes), then the SAME batch again and a
    * batch with an in-batch duplicate are both REFUSED — each leaves
    * the table untouched and consumes no version, which `n_versions`
    * = 2 pins through the oracle.
    */
  def u26UniqueAppend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedBucketedOrders(s, d, "graft-unique")
    val orders = graft.Tables.orders(s, d)
    val late = orders.filter(col("o_orderkey") % 10 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    commitUnique(late, tableDir, "o_orderkey")
    def refused(attempt: => Long): Unit =
      try {
        attempt
        throw new IllegalStateException("unique violation was NOT refused")
      } catch { case _: IllegalArgumentException => () }
    refused(commitUnique(late, tableDir, "o_orderkey")) // replay
    val one = late.filter(col("o_orderkey") === lit(2000000007L))
    refused(commitUnique(one.unionByName(one), tableDir, "o_orderkey")) // in-batch dup
    val nVersions = latestVersion(s, tableDir).get + 1
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .orderBy("o_orderstatus")
  }

  def u18ConcurrentWriters(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-cas-demo")
    val orders = graft.Tables.orders(s, d)
    val winner = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(5000000000L))
    val loser = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(6000000000L))
    commit(winner, tableDir, "append", expectedVersion = Some(1L))
    try {
      commit(loser, tableDir, "append", expectedVersion = Some(1L)) // stale CAS
      throw new IllegalStateException("stale-version commit was not refused")
    } catch { case _: java.util.ConcurrentModificationException => () }
    commitRetry(loser, tableDir, "append") // the writer loop: retry from new latest
    val nVersions = latestVersion(s, tableDir).get + 1
    readVersion(s, tableDir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Delete-aware incremental view maintenance — [[u5Incremental]]'s
    * missing half: u5 maintains an aggregate from append-only change
    * feeds; real tables also DELETE. Here the per-status fact is
    * maintained from [[readChangeFeed]] slices with SIGNED partials —
    * insert rows contribute (+1, +price), delete rows (−1, −price) —
    * over a history of: initial load (v0), late append (v1), a DV
    * delete of the 'F' rows (v2). The partials merge by plain
    * re-aggregation (count and sum are distributive in both
    * directions), and the result must equal the direct aggregate of
    * the final state — which is exactly what the oracle replays. At
    * 100 TB each maintenance step costs O(that slice's changed data);
    * the view never rescans the table, even for deletes.
    */
  def u19IncrementalDeletes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-incr-del")
    val orders = graft.Tables.orders(s, d)
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    commit(late, tableDir, "append")
    deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    val partials = (0L to 2L).map { v =>
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      readChangeFeed(s, tableDir, v - 1, v)
        .groupBy("o_orderstatus")
        .agg(
          sum(sign).as("n"),
          sum(sign * col("o_totalprice").cast("decimal(18,2)")).as("t"))
    }
    partials.reduce(_ unionByName _)
      .groupBy("o_orderstatus")
      .agg(sum(col("n")).as("n_orders"),
        sum(col("t")).cast("double").as("total"))
      // a status fully deleted nets to zero rows; the view drops it —
      // exactly what the direct aggregate of the final state shows
      .filter(col("n_orders") > 0)
      .orderBy("o_orderstatus")
  }

  /** Small-file compaction: rewrite the latest version's data as
    * `numFiles` files in a new version (same rows — `coalesce`, no
    * shuffle), leaving every prior version readable. The lakehouse
    * OPTIMIZE primitive; streaming-sink tables call this periodically
    * so the per-batch file accretion never degrades readers.
    */
  def compact(spark: SparkSession, tableDir: String, numFiles: Int,
              statsColumns: Seq[String] = Nil): Long = {
    // NOTE: compact/compactSorted REDEFINE the layout (that is their
    // point — exactly numFiles outputs); a partitioned table compacted
    // this way flattens. purgeDeletes preserves partitionCols; a
    // layout-preserving small-file fold is compactSmall (carried
    // files keep their dirs/stats).
    // pin the rewrite to the version it read: a concurrent append
    // landing in between turns this into a CAS failure (retry the
    // compaction from the new latest) instead of silently erasing the
    // appended rows from the new snapshot
    val (next, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    commit(readVersion(spark, tableDir, Some(m.version)).coalesce(numFiles),
      tableDir, "overwrite", expectedVersion = Some(next),
      statsColumns = statsColumns)
  }

  /** Clustering compaction: rewrite the latest version range-sorted on
    * `sortCol` into `numFiles` files WITH footer stats on it — the
    * OPTIMIZE-with-ZORDER/sort shape. A streaming-sink table's commit
    * order is arrival order, so its per-file [min,max] spans on query
    * columns drift toward the full range and file skipping decays;
    * sorted compaction is when clustering (and so pruning) is
    * restored. One shuffle (repartitionByRange's sampled balanced
    * ranges), prior versions untouched.
    */
  def compactSorted(spark: SparkSession, tableDir: String, numFiles: Int,
                    sortCol: String,
                    statsColumns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    val cols = if (statsColumns.isEmpty) Seq(sortCol) else statsColumns
    val (next, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    commit(
      readVersion(spark, tableDir, Some(m.version))
        .repartitionByRange(numFiles, col(sortCol))
        .sortWithinPartitions(sortCol),
      tableDir, "overwrite", expectedVersion = Some(next),
      statsColumns = cols)
  }

  /** Z-order clustering compaction: rewrite the latest version
    * Morton-ordered on k clustering columns into `numFiles` files with
    * footer stats on ALL of them — the OPTIMIZE ... ZORDER BY shape.
    * A plain sort gives tight per-file [min,max] on one dimension and
    * full-range stats on every other; interleaving the keys' bits
    * ([[graft.operators.Layout.zValueN]]) gives every file a compact
    * k-d box, so predicates on ANY clustering column — or a k-d box,
    * via [[pruneFiles]]'s conjunctive overlap — skip files from
    * manifest stats alone. Keys are folded to the low `bits` bits
    * (non-negative via pmod) for the CLUSTERING value only; the
    * recorded stats are the exact column values, so pruning is never
    * wrong, just looser for values beyond 2^bits. k·bits must fit a
    * long (≤ 63): 3 columns default to e.g. bits = 16 (48 used bits).
    * One range shuffle (sampled balanced z-ranges); prior versions
    * untouched.
    */
  def compactZOrder(spark: SparkSession, tableDir: String, numFiles: Int,
                    zCols: Seq[String], bits: Int = 16,
                    statsColumns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    require(zCols.size >= 2, s"z-order needs at least 2 columns, got $zCols")
    require(bits >= 1 && zCols.size * bits <= 63,
      s"${zCols.size} columns × $bits bits must be in [1, 63]")
    val cols = if (statsColumns.isEmpty) zCols else statsColumns
    val (next, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val fold = lit(1L << bits)
    val z = graft.operators.Layout.zValueN(
      zCols.map(c => pmod(col(c).cast("long"), fold)), bits)
    commit(
      readVersion(spark, tableDir, Some(m.version))
        .withColumn("__graft_z", z)
        .repartitionByRange(numFiles, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z"),
      tableDir, "overwrite", expectedVersion = Some(next),
      statsColumns = cols)
  }

  /** 2-d [[compactZOrder]] (source-compatible shorthand). */
  def compactZOrder(spark: SparkSession, tableDir: String, numFiles: Int,
                    a: String, b: String): Long =
    compactZOrder(spark, tableDir, numFiles, Seq(a, b))

  /** MERGE-into-snapshot demo — the full lakehouse write loop:
    * orders committed as v0, a deterministic CDC batch
    * ([[graft.operators.Merge.demoChanges]]) applied with
    * [[graft.operators.Merge.applyChanges]] and committed back as v1
    * (copy-on-write: the merge result IS the overwrite commit — at
    * scale this is MERGE's rewrite path, with [[readVersionPruned]]
    * narrowing which files need rewriting). Output: per-status audits
    * of BOTH versions read back through the manifests, so the oracle
    * proves the merge landed as the new version AND the pre-merge
    * snapshot still serves untouched.
    */
  def u7MergeSnapshot(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-merge-snap")
    val base = graft.Tables.orders(s, d)
    val merged = graft.operators.Merge.applyChanges(
      readVersion(s, tableDir, Some(0L)),
      graft.operators.Merge.demoChanges(base), "o_orderkey")
    commit(merged, tableDir, "overwrite")
    (0L to 1L).map { v =>
      readVersion(s, tableDir, Some(v))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(v).as("version"), col("o_orderstatus"),
          col("n_orders"), col("total"))
    }.reduce(_ unionByName _).orderBy("version", "o_orderstatus")
  }

  /** Merge-on-read demo — [[u7MergeSnapshot]]'s exact workload served
    * through the LOW-SHUFFLE path: the same deterministic CDC batch
    * applied by [[mergeOnRead]] (one atomic mask+append commit,
    * O(changes) new bytes) instead of the copy-on-write full rewrite.
    * Output and oracle are u7's verbatim — v0 = raw orders, v1 = the
    * merge semantics replayed relationally — so the compare proves the
    * two MERGE strategies are result-identical while SnapshotSpec
    * pins the cost difference (v0's data files untouched by v1).
    */
  def u11MergeOnRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-mor")
    val base = graft.Tables.orders(s, d)
    // checkpoint first (r17): the merge's mask candidates are planned
    // by the checkpoint job before the zero-removal delta publish —
    // i.e. the demo measures the CDC steady state's real commit shape;
    // results are identical with or without the checkpoint
    // (ThinMaintenanceSpec pins it)
    writeMetadataCheckpoint(s, tableDir)
    mergeOnRead(s, tableDir,
      graft.operators.Merge.demoChanges(base), "o_orderkey")
    (0L to 1L).map { v =>
      readVersion(s, tableDir, Some(v))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(v).as("version"), col("o_orderstatus"),
          col("n_orders"), col("total"))
    }.reduce(_ unionByName _).orderBy("version", "o_orderstatus")
  }

  /** Z-order × file-skipping demo — the full layout loop: orders
    * committed Z-ordered on (o_custkey, order day) with footer stats
    * on both columns, then a 2-d box predicate reads only the files
    * whose (custkey, date) boxes intersect it. A single-column sort
    * would give one tight dimension and one full-range dimension; the
    * Morton interleave ([[graft.operators.Layout.zValue]]) keeps both
    * tight, so the box predicate multiplies the two skip rates — at
    * 100 TB this is the difference between scanning a few files and
    * a full dimension's worth. The oracle is the same predicate over
    * the raw table: pruning must be result-invisible.
    */
  def u6ZorderSkip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-zorder")
    val orders = graft.Tables.orders(s, d)
    val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
    val zOrdered = orders
      .withColumn("__z", graft.operators.Layout.zValue(col("o_custkey"), day))
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commit(zOrdered, tableDir, "overwrite",
      statsColumns = Seq("o_custkey", "o_orderdate"))
    val (loK, hiK) = (100L, 500L)
    // o_orderdate is a TIMESTAMP (midnight-valued, session TZ pinned
    // UTC) — bounds as Instants, which are epoch-anchored: a
    // java.sql.Timestamp.valueOf wall-clock string would shift by the
    // JVM default TZ offset and silently prune boundary files on any
    // non-UTC host
    val (loD, hiD) = (java.time.Instant.parse("1995-01-01T00:00:00Z"),
      java.time.Instant.parse("1995-12-31T23:59:59.999999Z"))
    readVersionPruned(s, tableDir, 0L,
      Seq(("o_custkey", loK, hiK), ("o_orderdate", loD, hiD)))
      .filter(col("o_custkey").between(loK, hiK) &&
        to_date(col("o_orderdate")).between(lit("1995-01-01"), lit("1995-12-31")))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** The time-travel demo over orders, deterministic so the oracle can
    * replay each version's state relationally:
    *   v0 = initial load (overwrite);
    *   v1 = v0 + a late-arriving batch re-keyed out of range (append —
    *        v0's files are carried by reference, nothing rewritten);
    *   v2 = v1 with 'F' rows dropped (copy-on-write rewrite, the
    *        retention/compaction shape).
    * Output: per-version row count and exact-decimal price total, read
    * BACK THROUGH THE MANIFESTS (v0 and v1 answers must survive the
    * v2 rewrite — that IS the snapshot-isolation assertion). The demo
    * lake lives under a fresh temp dir per invocation; production
    * callers pass a durable tableDir.
    */
  def u3TimeTravel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-snapshots")
    val orders = graft.Tables.orders(s, d)
    commit(orders, tableDir, "overwrite")
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    commit(late, tableDir, "append")
    commit(readVersion(s, tableDir, Some(1L))
      .filter(col("o_orderstatus") =!= "F"), tableDir, "overwrite")
    (0L to 2L).map { v =>
      readVersion(s, tableDir, Some(v))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(v).as("version"), col("n_rows"), col("total"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** A file reference held by ABSOLUTE path — borrowed from another
    * table by [[cloneShallow]]. Borrowed refs read normally (Hadoop
    * Path resolution lets an absolute child win over the parent dir)
    * but are never deleted by the borrowing table's maintenance.
    */
  private def isBorrowed(p: String): Boolean = new Path(p).isAbsolute

  /** Create an EMPTY table: v0 is a zero-file manifest carrying only
    * the declared schema (and partition spec) — the `CREATE TABLE`
    * half of the catalog surface ([[GraftCatalog]]). Reads serve an
    * empty frame with the schema; the ledger knows 0 rows; the first
    * append evolves/validates against the declaration like any other.
    * Published as a delta on an empty base: no segment.
    */
  def createEmpty(spark: SparkSession, tableDir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partitionCols: Seq[String] = Nil,
                  bucketSpec: Option[(String, Int)] = None): Long = {
    require(latestVersion(spark, tableDir).isEmpty,
      s"$tableDir already has versions")
    partitionCols.map(PartitionTransforms.parse).foreach { sp =>
      require(schema.fieldNames.contains(sp.source),
        s"partition column '${sp.source}' is not in the schema")
      PartitionTransforms.validate(sp, schema, "partition column")
    }
    bucketSpec.foreach { case (k, n) =>
      require(schema.fieldNames.contains(k),
        s"bucket key '$k' is not in the schema")
      require(n >= 1 && n <= 65536, s"numBuckets must be in [1, 65536]: $n")
    }
    publishMetadata(spark, tableDir, Manifest(0L, Nil, schema,
      bucketSpec = bucketSpec, partitionCols = partitionCols), EmptyBase)
  }

  /** Metadata-only ADDITIVE schema evolution (the formats' ALTER
    * TABLE ADD COLUMNS): publish a new version whose manifest schema
    * carries the added nullable fields — zero data written, existing
    * files read NULL for them (the same additive machinery appends
    * use). A header-only commit: every segment ref rides verbatim, no
    * segment is read or written. Duplicate names are refused.
    */
  def addColumns(spark: SparkSession, tableDir: String,
                 added: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(added.nonEmpty, "addColumns needs at least one field")
    val (nextV, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val old = m.schema
    added.foreach(fd => require(!old.fieldNames.contains(fd.name),
      s"column '${fd.name}' already exists at $tableDir"))
    val derivedNames = m.partitionCols.map(PartitionTransforms.parse)
      .filterNot(_.isIdentity).map(_.derivedName).toSet
    added.foreach(fd => require(!derivedNames.contains(fd.name),
      s"column '${fd.name}' collides with a derived partition name at $tableDir"))
    val next = m.copy(version = nextV,
      schema = org.apache.spark.sql.types.StructType(
        old.fields ++ added.map(_.copy(nullable = true))),
      // a re-added dropped (or mapped-over) name gets a fresh physical
      // slot so old files read NULL, never the ghost's bytes
      colMap = extendColMap(m.colMap, m.retiredCols, old.fieldNames.toSet,
        added.map(_.name), nextV))
    publishMetadata(spark, tableDir, next, base)
  }

  /** Metadata-only TYPE WIDENING (`ALTER TABLE t ALTER COLUMN c TYPE
    * wider`): record the wider type in a new manifest — zero data
    * rewritten; every existing file reads through the widened schema
    * in place ([[widens]] — the same lattice the append path
    * accepts). The column's bloom entries and NDV sketches drop with
    * the old type (stale hashes would mis-prune files and lose rows):
    * the delta publish folds the segments holding them into one fresh
    * segment, stripped; every other segment rides verbatim. Widening
    * the bucket key is refused (re-cluster with [[compactBucketed]]).
    * Returns the committed version (unchanged for a same-type no-op).
    */
  def widenColumn(spark: SparkSession, tableDir: String,
                  name: String,
                  to: org.apache.spark.sql.types.DataType): Long = {
    val (nextV, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val old = m.schema
    val idx = old.fieldNames.indexOf(name)
    require(idx >= 0, s"no column '$name' at $tableDir")
    val from = old.fields(idx).dataType
    if (from == to) return m.version // no-op: no version burned
    require(widens(from, to),
      s"ALTER COLUMN '$name': $from -> $to is not a lossless widening")
    refuseBucketKeyWiden(m.bucketSpec, Set(name), tableDir)
    // the delta publish drops the column's blooms and NDV sketches;
    // klls sketch values (doubles) — widening preserves them
    publishMetadata(spark, tableDir, m.copy(version = nextV,
        schema = org.apache.spark.sql.types.StructType(
          old.fields.updated(idx, old.fields(idx).copy(dataType = to)))),
      base, widened = Set(name))
  }

  /** CHECK constraints whose stored SQL expression references `name`
    * — rename/drop of such a column would leave the expression
    * dangling, so the caller refuses. Parsed, not substring-matched;
    * an unparsable expression conservatively counts as a reference.
    */
  private def checksReferencing(spark: SparkSession,
                                checks: Map[String, String],
                                name: String): Seq[String] =
    checks.filter { case (_, e) =>
      // match ANY name part, not just the head: a qualified reference
      // (`t.price > 0`) must still block a rename/drop of `price`, or
      // the dangling constraint fails every later commit
      try spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts
      }.exists(_.exists(_.equalsIgnoreCase(name)))
      catch { case scala.util.control.NonFatal(_) => true }
    }.keys.toSeq

  /** ALTER TABLE RENAME COLUMN — an O(1) metadata-only commit via
    * column mapping: the logical schema renames while the mapping pins
    * the column's PHYSICAL (on-file) name, so no file is rewritten and
    * later commits keep writing the physical name. A header-only
    * commit: the stored segments speak physical names, so every ref
    * rides verbatim and no per-file map is re-keyed — stats, blooms,
    * sketches and sort markers take the new logical name when
    * [[assemble]] translates through the mapping, and the partition
    * and bucket specs re-key in the header. Pruning on the renamed
    * column keeps working — including on files written before the
    * rename. Refused when a CHECK constraint references the column.
    */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String): Long = {
    val (nextV, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val old = m.schema
    require(old.fieldNames.contains(from), s"no column '$from' at $tableDir")
    require(!old.fieldNames.contains(to),
      s"column '$to' already exists at $tableDir")
    require(to.nonEmpty && fitsMetadataLine(to) &&
        !to.exists(c => c == '=' || c == ','),
      s"bad column name '$to'")
    require(!m.partitionCols.map(PartitionTransforms.parse)
        .filterNot(_.isIdentity).exists(_.derivedName == to),
      s"column name '$to' collides with a derived partition name at $tableDir")
    val refs = checksReferencing(spark, m.checks, from)
    require(refs.isEmpty,
      s"cannot rename '$from': CHECK constraint(s) ${refs.mkString(", ")} " +
        "reference it — drop the constraint(s) first")
    val phys = m.physOf(from)
    val idx = old.fieldNames.indexOf(from)
    val next = m.copy(version = nextV,
      schema = org.apache.spark.sql.types.StructType(
        old.fields.updated(idx, old.fields(idx).copy(name = to))),
      colMap =
        if (phys == to) m.colMap - from else (m.colMap - from) + (to -> phys),
      partitionCols = m.partitionCols.map(
        PartitionTransforms.renameSource(_, from, to)),
      bucketSpec = m.bucketSpec.map { case (k, n) =>
        (if (k == from) to else k, n) })
    publishMetadata(spark, tableDir, next, base)
  }

  /** ALTER TABLE DROP COLUMN — an O(1) metadata-only commit: the
    * logical schema loses the column and its physical name joins the
    * RETIRED list, so the bytes still sitting in old files can never
    * serve a later column that reuses the name (a re-added column gets
    * a fresh physical slot and reads NULL from old files). A
    * header-only commit: the dropped column's stats, blooms, sketches
    * and sort-marker components stay in their segments, masked by the
    * retired list when [[assemble]] reads them. Refused for a
    * partition column, the bucket key, a CHECK-referenced column, and
    * the last column.
    */
  def dropColumn(spark: SparkSession, tableDir: String,
                 name: String): Long = {
    val (nextV, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val old = m.schema
    require(old.fieldNames.contains(name), s"no column '$name' at $tableDir")
    require(old.fields.length > 1, s"cannot drop the last column of $tableDir")
    require(!m.partitionCols.exists(pc =>
        PartitionTransforms.sourceOf(pc) == name),
      s"cannot drop partition column '$name' of $tableDir")
    m.bucketSpec.foreach { case (k, _) =>
      require(k != name, s"cannot drop bucket key '$name' of $tableDir") }
    val refs = checksReferencing(spark, m.checks, name)
    require(refs.isEmpty,
      s"cannot drop '$name': CHECK constraint(s) ${refs.mkString(", ")} " +
        "reference it — drop the constraint(s) first")
    val phys = m.physOf(name)
    val next = m.copy(version = nextV,
      schema = org.apache.spark.sql.types.StructType(
        old.fields.filterNot(_.name == name)),
      colMap = m.colMap - name,
      retiredCols = (m.retiredCols :+ phys).distinct)
    publishMetadata(spark, tableDir, next, base)
  }

  /** Shallow clone (the table formats' CLONE): create `targetDir` as
    * a NEW table whose v0 manifest references the source version's
    * data files by absolute path — an O(manifest) fork, zero data
    * copied or rewritten, the standard cheap branch for
    * experimentation over a production table. The clone is fully
    * functional from v0: reads (including stat-pruned reads — the
    * source's live segment entries are copied, refs made absolute,
    * into the clone's one segment), appends,
    * incremental reads, and [[compact]] — which MATERIALIZES it (the
    * rewrite produces local files, cutting the source dependency).
    * Writes to either table never disturb the other; txn watermarks
    * do NOT carry (the clone is a fresh producer space — a replayed
    * source batch landing in the clone is a different table's
    * ingest, not a duplicate).
    *
    * The shallow-clone caveat every format shares, enforced on the
    * delete side here: the borrowing table's [[vacuum]] never deletes
    * borrowed refs, but the SOURCE's vacuum cannot see clone refs —
    * coordinate source vacuums with live clones externally, or
    * compact the clone first.
    */
  def cloneShallow(spark: SparkSession, sourceDir: String, targetDir: String,
                   version: Option[Long] = None): Long = {
    require(latestVersion(spark, targetDir).isEmpty,
      s"clone target $targetDir already has commits")
    val src = resolveForRead(spark, sourceDir, version)
    val m = src.header
    val srcRoot = fs(spark, sourceDir).makeQualified(new Path(sourceDir))
    def absolutize(p: String): String =
      if (isBorrowed(p)) p else new Path(srcRoot, p).toString
    // the source's live entries, verbatim but for the absolute refs,
    // form the clone's one segment. Deletion vectors MUST ride the
    // clone (absolutized like file refs — relative dv paths point into
    // the source table): a clone of a masked version that dropped them
    // would silently resurrect the deleted rows. The dv keys stay valid
    // because `file_path` in a dv is the fully-qualified URI _metadata
    // reports, which is the same however the file is referenced. CHECK
    // constraints carry too — a fork of a constrained table stays
    // constrained. Borrowed files carry the SOURCE's physical column
    // names: the mapping and retired ghosts ride the clone.
    val entries = liveSegEntries(spark, sourceDir, src).map { case (_, e) =>
      e.copy(file = absolutize(e.file)) }
    publishMetadata(spark, targetDir,
      Manifest(0L, Nil, m.schema, dvs = m.dvs.map(absolutize),
        checks = m.checks, dataRows = m.dataRows, dvRows = m.dvRows,
        bucketSpec = m.bucketSpec, partitionCols = m.partitionCols,
        colMap = m.colMap, retiredCols = m.retiredCols),
      EmptyBase, fresh = entries)
  }

  /** DESCRIBE HISTORY: one row per LIVE version (vacuumed versions are
    * gone) with its file/stat/txn-watermark footprint, how many of
    * its refs are borrowed from a clone source, and the version's row
    * accounting: `n_data_rows` (pre-mask), `n_dv_rows` (masked keys),
    * and `mask_ratio` = dv/data — the operational purge signal (see
    * [[deleteWhere]]; reads also warn past
    * `graft.dv.purgeWarnRatio`; NULL for a version with no data rows).
    * O(live versions) driver work
    * over already-small manifests; no data access. Versions belonging
    * to aborted or in-flight transactions are RECORDED history (their
    * numbers are burned) and appear here like any manifest; every read
    * path ([[readVersion]], [[versionAsOf]], the change feed) excludes
    * them.
    */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val latest = latestVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    val f = fs(spark, tableDir)
    (0L to latest)
      .filter(v => f.exists(manifestPath(tableDir, v)))
      .map { v =>
        val m = readManifest(spark, tableDir, v)
        val ratio: Option[Double] =
          if (m.dataRows > 0) Some(m.dvRows.toDouble / m.dataRows) else None
        val bytes = m.files.iterator.map(m.fileBytes).sum
        (v, m.files.size.toLong, m.files.count(isBorrowed).toLong,
          m.stats.size.toLong, m.txns.size.toLong, m.dvs.size.toLong,
          m.checks.size.toLong, m.dataRows, m.dvRows, ratio, bytes)
      }
      .toDF("version", "n_files", "n_borrowed", "n_stats", "n_txns",
        "n_dvs", "n_checks", "n_data_rows", "n_dv_rows", "mask_ratio",
        "n_bytes")
  }

  /** Expire every version below `keepFromVersion`: delete their
    * manifests, then delete the data files no LIVE version references
    * (a file carried forward by an append chain into a live version
    * survives — reference counting over the manifest union, O(files)
    * driver set work). Returns the number of data files deleted.
    * Time travel below `keepFromVersion` stops working, by design;
    * concurrent readers of a live version are unaffected because live
    * files are never touched. The retention knob that keeps a
    * streaming-sink table's storage bounded, paired with [[compact]].
    *
    * Data dirs referenced by NO manifest at all are a writer's
    * in-flight commit (data written, manifest not yet published) or a
    * CAS loser's debris; they are deleted only once older than
    * `orphanRetainMs` (the same age-threshold guard the table formats
    * use), so a vacuum racing a slow commit cannot delete the files
    * out from under a manifest about to publish.
    */
  /** Reclaim the data of ABORTED transactions: delete every file and
    * commit dir referenced ONLY by decided-abort pending manifests —
    * the garbage a torn [[commitTxn]] leaves once a later writer
    * force-aborts it. The dead manifests themselves STAY (their
    * version numbers are burned; deleting one would let a replayed
    * committer recreate the version). In-flight (undecided) txns are
    * never touched — they may still commit; files SHARED with any
    * live manifest (an aborted append carries its predecessor's refs)
    * are never touched either. Safe to run any time, no floor change.
    * Returns the number of files deleted.
    */
  def vacuumAborted(spark: SparkSession, tableDir: String): Int = {
    val f = fs(spark, tableDir)
    val latest = latestVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    val ms = (vacuumFloor(spark, tableDir) to latest)
      .filter(v => f.exists(manifestPath(tableDir, v)))
      .map(readManifest(spark, tableDir, _))
    val (abortedMs, keptMs) = ms.partition(m =>
      m.pendingMarker.exists(p => markerDecision(spark, p).contains("abort")))
    val keptFiles = keptMs.flatMap(m => m.files ++ m.dvs).toSet
    val abortedOnly = abortedMs.flatMap(m => m.files ++ m.dvs).distinct
      .filterNot(keptFiles).filterNot(isBorrowed)
    // count only files actually removed (re-runs see the same dead
    // refs but find nothing on disk — idempotent, returns 0)
    val deleted = abortedOnly.count(rel =>
      f.delete(new Path(tableDir, rel), false))
    // sweep commit dirs now exclusively dead (same dir-ownership rule
    // as [[vacuum]]: each data/dv dir belongs to exactly one commit)
    def dirKey(rel: String): String = {
      val parts = rel.split("/"); s"${parts(0)}/${parts(1)}"
    }
    val keptDirs = keptFiles.filterNot(isBorrowed).map(dirKey)
    val abortedDirs = abortedOnly.map(dirKey).toSet
    for (root <- Seq("data", "dv")) {
      val rootPath = new Path(tableDir, root)
      if (f.exists(rootPath)) f.listStatus(rootPath).foreach { st =>
        val key = s"$root/${st.getPath.getName}"
        if (st.isDirectory && abortedDirs.contains(key) &&
            !keptDirs.contains(key))
          f.delete(st.getPath, true)
      }
    }
    deleted
  }

  /** Metadata-only COUNT(*): the visible row count of `version` served
    * from the manifest's ledger (`dataRows − dvRows` — the randomized
    * protocol spec pins this as EXACT on every commit interleaving),
    * no Spark job, no file I/O beyond the manifest read. The fast path
    * every format exposes for `SELECT COUNT(*)`; at 100 TB this is a
    * millisecond driver read instead of a table scan.
    */
  def fastCount(spark: SparkSession, tableDir: String,
                version: Option[Long] = None): Long = {
    val m = resolveForRead(spark, tableDir, version).header
    m.dataRows - m.dvRows
  }

  /** Append with a UNIQUE-KEY guarantee — the primary-key constraint
    * lakehouses usually refuse to enforce because the existence probe
    * costs a table scan. Here the probe is served by the pruning
    * indexes: the batch's distinct keys (bounded by `maxProbeKeys` —
    * beyond it the probe falls back to one semi-join against the full
    * snapshot) look up the current version through
    * [[readVersionKeys]], so on a bucketed or bloom-indexed table the
    * cost is O(batch × wanted files), not O(table). Refused commits
    * (an in-batch duplicate, or any key already present) leave the
    * table untouched and consume no version. Not a serializable
    * uniqueness guarantee under concurrent writers — two racing
    * batches with the same fresh key both pass the probe; pin
    * `expectedVersion` (CAS) around the probe+commit to close that
    * window, exactly like every optimistic writer loop here.
    */
  def commitUnique(df: DataFrame, tableDir: String, key: String,
                   expectedVersion: Option[Long] = None,
                   statsColumns: Seq[String] = Nil,
                   maxProbeKeys: Int = 100000): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val spark = df.sparkSession
    val batch = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // NULL keys are refused outright: SQL NULL never equals NULL, so
      // neither the groupBy dup check nor the isin existence probe can
      // see a second NULL — two null-keyed batches would both land,
      // silently voiding the uniqueness contract (and a null literal
      // crashes the bucket/bloom probe machinery)
      require(batch.filter(col(key).isNull).isEmpty,
        s"batch has NULL '$key' values; unique append to $tableDir refused")
      val dup = batch.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      require(dup == 0L,
        s"batch has duplicate '$key' values; unique append to $tableDir refused")
      if (latestVersion(spark, tableDir).nonEmpty) {
        val keys = batch.select(col(key)).distinct()
          .limit(maxProbeKeys + 1).collect().map(_.get(0)).toSeq
        val hits =
          if (keys.size <= maxProbeKeys)
            readVersionKeys(spark, tableDir, key, keys).limit(1).count()
          else readVersion(spark, tableDir)
            .join(batch.select(col(key)).distinct(), Seq(key), "left_semi")
            .limit(1).count()
        require(hits == 0L,
          s"key '$key' value(s) already present; unique append to $tableDir refused")
      }
      commit(batch, tableDir,
        if (latestVersion(spark, tableDir).isEmpty) "overwrite" else "append",
        expectedVersion = expectedVersion, statsColumns = statsColumns)
    } finally batch.unpersist(false)
  }

  /** PARTIAL compaction (the real OPTIMIZE shape): rewrite ONLY the
    * files smaller than `minBytes` into right-sized ones and carry
    * every other file BY REFERENCE — at 100 TB the small-file problem
    * is a trailing-edge problem (streaming sinks, CDC payloads, merge
    * appends), and a full-table rewrite to fix it is absurd; this
    * costs O(small files), not O(table). Deletion-vector masks are
    * handled exactly: masked rows of rewritten files are applied
    * during the rewrite read (and their now-inert mask rows dropped),
    * masks on carried files are CONSOLIDATED into one right-sized dv
    * set — so the ledger invariant (dataRows − dvRows = visible rows)
    * holds exactly, as the randomized protocol spec asserts. Stats,
    * bucket ids, and blooms of carried files ride along; the new
    * file(s) are unindexed until a full re-cluster. CAS-pinned like
    * [[compact]]. Returns the committed version (unchanged when <2
    * small files — nothing to gain).
    *
    * Candidate selection is served from the byte ledger by the
    * planning walk ([[liveEntriesCheckpointed]] — a Spark job over a
    * covering checkpoint, so O(candidates) reaches the driver), never
    * by a per-file `getFileStatus` loop (O(table) sequential HEAD
    * requests on an object store); the base manifest is parsed once,
    * never assembled, and the publish is a segment DELTA ([[publishManifestDelta]] — untouched
    * segments carried verbatim, never parsed). End to end the driver
    * holds O(candidates + touched segments + fresh files) metadata.
    */
  def compactSmall(spark: SparkSession, tableDir: String,
                   minBytes: Long,
                   targetBytes: Long = 128L * 1024 * 1024,
                   statsColumns: Seq[String] = Nil): Long = {
    val f = fs(spark, tableDir)
    val (version, base) = resolveForWrite(spark, tableDir)
    val m = base.header
    val min = minBytes
    val entries = liveEntriesCheckpointed(spark, tableDir, base,
      coverOf(spark, tableDir, base.header.version),
      (r: CkptFile) => r.bytes < min)
    if (entries.size < 2) return m.version
    val small = entries.map(_.file)
    val smallBytes = entries.iterator.map(_.bytes).sum
    val nOut = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    val tag = UUID.randomUUID().toString.take(8)
    val dataRel = f"data/v$version%06d-$tag"
    val dataDir = new Path(tableDir, dataRel)
    // rewrite the small files with their masks APPLIED (readFiles
    // anti-joins the version's dvs); the surviving rows land clean.
    // readFiles serves LOGICAL names but the carried manifest keeps
    // colMap: project back to PHYSICAL before writing, or a renamed
    // column reads all-NULL from every compacted file.
    withMicrosTimestamps(spark) {
      toPhysical(readFiles(spark, tableDir, m, small), m.colMap)
        .coalesce(nOut).write.parquet(dataDir.toString)
    }
    val written = f.listStatus(dataDir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(n => s"$dataRel/$n").toSeq.sorted
    // shared partial-rewrite tail (also clusterTail's): dv mask
    // consolidation on the URI-tail rule, fresh footer stats under
    // logical keys, exact row accounting from the ledger
    val (dvs, dvRows) =
      consolidateDvs(spark, f, tableDir, m, entries, version, tag)
    val (newStats, newNulls) =
      rewriteFooterStats(spark, tableDir, m, written, statsColumns)
    val newFileMeta = footerFileMeta(spark, f, dataDir, dataRel)
    // exact ledger arithmetic: remove the rewritten files' physical
    // rows, add the fresh footers' — never an O(table) sum
    val dataRows = m.dataRows - entries.iterator.map(_.rows).sum +
      newFileMeta.valuesIterator.map(_._1).sum
    val fresh = freshSegEntries(m, written, newStats, newNulls,
      newFileMeta, Map.empty, Map.empty)
    if (!publishManifestDelta(f, tableDir,
        m.copy(version = version, dvs = dvs, dataRows = dataRows,
          dvRows = dvRows, pendingMarker = None),
        base, removedBySegment(entries), fresh)) {
      f.delete(dataDir, true)
      if (dvs.nonEmpty) // the consolidated mask dir is this commit's too
        f.delete(new Path(tableDir, f"dv/v$version%06d-$tag"), true)
      throw new java.util.ConcurrentModificationException(
        s"version $version of $tableDir was committed concurrently")
    }
    version
  }

  /** Fresh-segment entries for a partial rewrite's own files —
    * logical stat/null keys translated to the segments' PHYSICAL
    * vocabulary, markers mapped likewise.
    */
  private def freshSegEntries(m: Manifest, written: Seq[String],
                              stats: Map[(String, String), FileStat],
                              nulls: Map[(String, String), Long],
                              meta: Map[String, (Long, Long)],
                              buckets: Map[String, Int],
                              sorted: Map[String, String],
                              blooms: Map[(String, String), Bloom] =
                                Map.empty,
                              ndvs: Map[(String, String), Array[Byte]] =
                                Map.empty,
                              klls: Map[(String, String), Array[Byte]] =
                                Map.empty): Seq[SegEntry] = {
    val statsByFile = stats.groupBy(_._1._1)
    val nullsByFile = nulls.groupBy(_._1._1)
    val bloomsByFile = blooms.groupBy(_._1._1)
    val ndvsByFile = ndvs.groupBy(_._1._1)
    val kllsByFile = klls.groupBy(_._1._1)
    written.map { rel =>
      SegEntry(rel,
        statsByFile.getOrElse(rel, Map.empty).iterator
          .map { case ((_, c), st) => m.physOf(c) -> st }.toSeq,
        buckets.get(rel), meta(rel)._1, meta(rel)._2,
        bloomsByFile.getOrElse(rel, Map.empty).iterator
          .map { case ((_, c), b) => m.physOf(c) -> b }.toSeq,
        nullsByFile.getOrElse(rel, Map.empty).iterator
          .map { case ((_, c), n) => m.physOf(c) -> n }.toSeq,
        ndvsByFile.getOrElse(rel, Map.empty).iterator
          .map { case ((_, c), sk) => m.physOf(c) -> sk }.toSeq,
        kllsByFile.getOrElse(rel, Map.empty).iterator
          .map { case ((_, c), sk) => m.physOf(c) -> sk }.toSeq,
        sorted.get(rel).map(mapSortMarker(_)(m.physOf)))
    }
  }

  /** Hadoop Configuration is not Serializable; this 10-line wrapper
    * (the stock SerializableConfiguration pattern, re-derived) ships
    * it to executors for the distributed maintenance sweeps.
    */
  private final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Dead-file deletes become a SPARK JOB past this count — below it
    * the job-scheduling overhead exceeds the driver loop it saves.
    */
  private val VacuumDistributeThreshold = 64

  def vacuum(spark: SparkSession, tableDir: String,
             keepFromVersion: Long,
             orphanRetainMs: Long = 600000L): Int = {
    val f = fs(spark, tableDir)
    val latest = latestVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    require(keepFromVersion <= latest,
      s"keepFromVersion $keepFromVersion > latest $latest would empty the table")
    val (dead, live) = (0L to latest)
      .filter(v => f.exists(manifestPath(tableDir, v)))
      .partition(_ < keepFromVersion)
    // liveness counts BOTH data files and deletion-vector files: a dv
    // referenced by any live manifest masks rows that must stay masked
    // — sweeping it as an orphan would silently resurrect them.
    // Manifests parse CONCURRENTLY (bounded by the global pool): a
    // long-history vacuum walks O(versions) manifest files whose
    // segments dedupe through the immutable-segment cache — the
    // remaining per-version cost is small-file I/O latency, which is
    // what the concurrency hides (the same shape as parseManifest's
    // own concurrent segment fetch)
    def parseAll(vs: Seq[Long]): Seq[Manifest] =
      if (vs.length <= 4) vs.map(readManifest(spark, tableDir, _))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(Future.sequence(vs.toVector.map(v =>
          Future(readManifest(spark, tableDir, v)))), 10.minutes)
      }
    val liveMs = parseAll(live)
    val deadMs = parseAll(dead)
    val liveFiles = liveMs.flatMap(m => m.files ++ m.dvs).toSet
    val deadFiles = deadMs.flatMap(m => m.files ++ m.dvs).distinct
    // borrowed (absolute) refs belong to the clone SOURCE — expiring a
    // version that held them must never reach into the other table
    val deadOnly = deadFiles.filterNot(liveFiles).filterNot(isBorrowed)
    // the deletes are issued WHERE THE PARALLELISM IS: a Spark job
    // once the dead set is big enough to matter — at a 10⁷-file purge
    // the driver loop is 10⁷ sequential object-store RPCs (the same
    // class as the compactSmall size probe, VERDICT r14 task #4);
    // executor fan-out turns it into (files / slots) rounds. Identical
    // semantics to the loop: best-effort per-file delete, non-recursive
    if (deadOnly.size >= VacuumDistributeThreshold) {
      val confB = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      val dir = tableDir
      spark.sparkContext
        .parallelize(deadOnly, math.max(1, math.min(32, deadOnly.size / 16)))
        .foreachPartition { it =>
          val fx = new Path(dir).getFileSystem(confB.value.value)
          it.foreach(rel => fx.delete(new Path(dir, rel), false))
        }
      confB.destroy()
    } else deadOnly.foreach(rel => f.delete(new Path(tableDir, rel), false))
    // metadata checkpoints: expired versions' checkpoints go with
    // their manifests, EXCEPT the newest one at-or-below the floor —
    // live versions without a checkpoint of their own tail-replay from
    // it (a checkpoint is a verbatim transcription of immutable
    // segments, so it stays valid for later versions; without the
    // retention every checkpoint-planned read would go dark between
    // the vacuum and the next auto-checkpoint cadence hit)
    val retainCkpt = newestCheckpointAtOrBefore(f, tableDir, keepFromVersion)
    dead.foreach { v =>
      f.delete(manifestPath(tableDir, v), false)
      // the feed-discovery marker goes with its manifest — a fresh
      // stream checkpoint must not discover an expired version
      f.delete(new Path(commitMarkerDir(tableDir), f"v$v%06d.marker"), false)
      if (!retainCkpt.contains(v))
        f.delete(checkpointDir(tableDir, v), true)
    }
    // crashed checkpoint builders leave `.tmp-*` dirs that no rename
    // ever claimed, and a torn install or a crashed vacuum leaves a
    // `ckpt-v*` dir without its sidecar — reap both, at any version,
    // past the same orphan cutoff that protects in-flight builds
    // ([[newestCheckpointAtOrBefore]] serves neither, so nothing served
    // is ever swept here)
    val ckptRoot = new Path(tableDir, "_manifests/checkpoints")
    if (f.exists(ckptRoot)) f.listStatus(ckptRoot).foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith(".tmp-") || (n.startsWith("ckpt-v") &&
            !f.exists(new Path(st.getPath, CoveredSegsFile)))) &&
          st.getModificationTime < System.currentTimeMillis() - orphanRetainMs)
        f.delete(st.getPath, true)
    }
    // sweep commit dirs with no live file left — each data/dv dir
    // belongs to exactly one commit, so dir-level liveness is well
    // defined; this also clears the _SUCCESS/.crc sidecars the
    // manifest never listed. Dirs from EXPIRED manifests go
    // immediately; dirs no manifest ever referenced are possibly
    // in-flight and only go once older than `orphanRetainMs` (see
    // scaladoc). Borrowed refs live under the source table, not these
    // roots — excluded. Dir keys are root-prefixed ("data/vN-x",
    // "dv/vN-x") so the two roots cannot shadow each other.
    def dirKey(rel: String): String = {
      val parts = rel.split("/"); s"${parts(0)}/${parts(1)}"
    }
    val liveDirs = liveFiles.filterNot(isBorrowed).map(dirKey)
    val deadDirs = deadFiles.filterNot(isBorrowed).map(dirKey).toSet
    val orphanCutoff = System.currentTimeMillis() - orphanRetainMs
    // sweep metadata segments no LIVE manifest references (expired
    // versions' exclusive segments, CAS-loser orphans); the orphan
    // cutoff protects a concurrent commit's just-written segment whose
    // manifest is not published yet
    val liveSegs = liveMs.flatMap(_.segments)
      .map(rel => f.makeQualified(new Path(tableDir, rel)).toString).toSet
    val segDir = new Path(tableDir, "_manifests/segments")
    if (f.exists(segDir)) f.listStatus(segDir).foreach { st =>
      if (!liveSegs.contains(f.makeQualified(st.getPath).toString) &&
          st.getModificationTime < orphanCutoff)
        f.delete(st.getPath, false)
    }
    for (root <- Seq("data", "dv")) {
      val rootPath = new Path(tableDir, root)
      if (f.exists(rootPath)) f.listStatus(rootPath).foreach { st =>
        val key = s"$root/${st.getPath.getName}"
        if (st.isDirectory && !liveDirs.contains(key) &&
            (deadDirs.contains(key) || st.getModificationTime < orphanCutoff))
          f.delete(st.getPath, true)
      }
    }
    // raise the floor so an expired version can never be re-committed
    // (admin op: plain overwrite, coordinate vacuums externally)
    if (keepFromVersion > vacuumFloor(spark, tableDir)) {
      val p = floorPath(tableDir)
      val w = new OutputStreamWriter(
        f.create(p, true), StandardCharsets.UTF_8)
      try w.write(s"$keepFromVersion\n") finally w.close()
    }
    deadOnly.size
  }

  /** Shallow-clone demo: a 2-commit source lake of orders is forked
    * with [[cloneShallow]] (zero data copied), then the CLONE diverges
    * with an appended re-keyed URGENT batch. The audit reads clone v0
    * (== source, through borrowed refs), clone v1 (diverged), and the
    * source's latest (must be UNTOUCHED by the clone's append) — the
    * oracle replays all three relationally, so the compare proves
    * both the zero-copy read path and the write isolation.
    */
  def u8ShallowClone(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val srcDir = graft.TempDirs.create("graft-clone-src")
    val cloneDir = graft.TempDirs.create("graft-clone-dst")
    val orders = graft.Tables.orders(s, d)
    commit(orders.filter(col("o_orderkey") % 2 === 0), srcDir, "overwrite")
    commit(orders.filter(col("o_orderkey") % 2 === 1), srcDir, "append")
    cloneShallow(s, srcDir, cloneDir)
    val delta = orders.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_orderkey", col("o_orderkey") + lit(3000000000L))
    commit(delta, cloneDir, "append")
    def audit(scope: String, df: DataFrame): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(scope).as("scope"), col("n_rows"), col("total"))
    audit("clone_v0", readVersion(s, cloneDir, Some(0L)))
      .unionByName(audit("clone_v1", readVersion(s, cloneDir, Some(1L))))
      .unionByName(audit("source_latest", readVersion(s, srcDir)))
      .orderBy("scope")
  }

  /** Deletion-vector demo — the merge-on-read DELETE loop end-to-end:
    * orders committed as v0, the 'F' rows logically deleted as a
    * deletion vector ([[deleteWhere]] — v1 keeps v0's data files
    * untouched and masks at read time), then physically purged
    * ([[purgeDeletes]] — v2 rewrites without the masked rows and drops
    * the dv). The audit reads all three versions back through the
    * manifests; the oracle replays each state relationally, so the
    * compare proves the mask is exact (v1 == v2 == the filtered
    * table) AND snapshot isolation held (v0 still serves every row
    * after both the logical and the physical delete). The fixture
    * checkpoints v0 first (r18), so the oracle-visible DELETE plans
    * its mask candidates through the checkpoint before its
    * zero-removal delta publish.
    */
  def u9DeleteVectors(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-dv")
    writeMetadataCheckpoint(s, tableDir)
    deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    purgeDeletes(s, tableDir)
    (0L to 2L).map { v =>
      readVersion(s, tableDir, Some(v))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(v).as("version"), col("n_rows"), col("total"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** Change-data-feed demo — the CDC subscription end-to-end: orders
    * as v0, a re-keyed late batch appended as v1, the 'F' rows
    * logically deleted (deletion vector) as v2; the feed over
    * (v0, v2] must emit exactly the late batch's surviving rows as
    * inserts and v0's 'F' rows as full-row deletes — late 'F' rows
    * net out (inserted and deleted inside the range). The oracle
    * replays both sides relationally from the raw table, so the
    * compare proves net-change semantics, mask-aware insert
    * filtering, and provenance-joined delete readback at once.
    */
  def u10ChangeFeed(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = DemoFixtures.clonedOrders(s, d, "graft-cdf")
    val orders = graft.Tables.orders(s, d)
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    commit(late, tableDir, "append")
    deleteWhere(s, tableDir, col("o_orderstatus") === "F")
    readChangeFeed(s, tableDir, 0L, 2L)
      .groupBy("_change_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("_change_type")
  }

  /** Incremental-maintenance demo: orders arrive as three append
    * commits (keys ≡ 0, 1, 2 mod 3); the per-status fact is maintained
    * INCREMENTALLY — each step aggregates only that commit's change
    * feed ([[readChanges]]) into a distributive partial (count +
    * exact-decimal sum), and the partials merge by re-aggregation.
    * The oracle is the full-table aggregate, so the compare proves
    * incremental == recompute. Decimal partial sums keep the merge
    * order-invariant (double partials would drift in low-order bits).
    * At 100 TB each maintenance step scans one commit's files, not the
    * table — the view's cost tracks the arrival rate, not table size.
    */
  def u5Incremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-incremental")
    val orders = graft.Tables.orders(s, d)
    (0 to 2).foreach { m =>
      commit(orders.filter(col("o_orderkey") % 3 === m), tableDir,
        if (m == 0) "overwrite" else "append")
    }
    val partials = (0L to 2L).map { v =>
      readChanges(s, tableDir, v - 1, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("t"))
    }
    partials.reduce(_ unionByName _)
      .groupBy("o_orderstatus")
      .agg(sum(col("n")).as("n_rows"),
        sum(col("t")).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** File-skipping demo: orders range-laid-out by o_orderkey into 8
    * files with footer stats in the manifest, then a key-range
    * aggregate reading ONLY the overlapping files (the row-level
    * filter still applies — pruning is a scan reducer). The oracle is
    * the same predicate over the raw table, so the compare proves
    * pruning changed nothing; SnapshotSpec asserts it actually
    * skipped files. At 100 TB this layout+stats pair is the
    * difference between touching ~1/8 of the table and all of it —
    * same contract as z-ordering one level up (see
    * [[graft.operators.Layout]]).
    */
  def u4FileSkip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tableDir = graft.TempDirs.create("graft-fileskip")
    val orders = graft.Tables.orders(s, d)
    commit(orders.repartitionByRange(8, col("o_orderkey")),
      tableDir, "overwrite", statsColumns = Seq("o_orderkey"))
    readVersionPruned(s, tableDir, 0L, "o_orderkey", 100L, 2000L)
      .filter(col("o_orderkey").between(100L, 2000L))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
  }
}

