package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest-versioned Parquet: commit/read-at-version semantics,
  * snapshot isolation across a rewrite, and the atomic-rename
  * concurrent-commit guard.
  */
class SnapshotSpec extends SparkSpec {

  private def freshDir(): String =
    graft.TempDirs.create("graft-snap-spec") // registered for exit cleanup

  private def frame(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  test("commit assigns sequential versions; read-at-version is exact") {
    val dir = freshDir()
    assert(Snapshots.latestVersion(spark, dir).isEmpty)
    assert(Snapshots.commit(frame(0 until 10, "a"), dir) === 0L)
    assert(Snapshots.commit(frame(10 until 15, "b"), dir, "append") === 1L)
    assert(Snapshots.commit(frame(0 until 3, "c"), dir, "overwrite") === 2L)
    assert(Snapshots.latestVersion(spark, dir) === Some(2L))
    assert(Snapshots.readVersion(spark, dir, Some(0L)).count() === 10L)
    assert(Snapshots.readVersion(spark, dir, Some(1L)).count() === 15L)
    assert(Snapshots.readVersion(spark, dir, Some(2L)).count() === 3L)
    // default read = latest
    assert(Snapshots.readVersion(spark, dir).count() === 3L)
    // append carried v0's rows by reference, plus the new batch
    val v1Tags = Snapshots.readVersion(spark, dir, Some(1L))
      .groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1Tags === Map("a" -> 10L, "b" -> 5L))
  }

  test("snapshot isolation: old versions survive a later rewrite untouched") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 100, "base"), dir)
    val v0Before = Snapshots.readVersion(spark, dir, Some(0L))
      .agg(sum("id")).head.getLong(0)
    Snapshots.commit(frame(0 until 1, "rewrite"), dir, "overwrite")
    val v0After = Snapshots.readVersion(spark, dir, Some(0L))
      .agg(sum("id")).head.getLong(0)
    assert(v0Before === v0After)
    assert(Snapshots.readVersion(spark, dir, Some(1L)).count() === 1L)
  }

  test("concurrent commit of the same version: one winner, loser throws and cleans up") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 5, "v0"), dir)
    // two writers both read latest=0 and race to commit version 1;
    // expectedVersion pins each writer's claim (the CAS protocol)
    Snapshots.commit(frame(0 until 7, "winner"), dir, "overwrite",
      expectedVersion = Some(1L))
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.commit(frame(0 until 2, "loser"), dir, "overwrite",
        expectedVersion = Some(1L))
    }
    // the winner's snapshot is what version 1 serves
    assert(Snapshots.readVersion(spark, dir, Some(1L)).count() === 7L)
    // the loser's orphaned data dir was removed: every data dir on
    // disk is referenced by some manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = (0L to 1L)
      .flatMap(v => Snapshots.readManifest(spark, dir, v).files)
      .map(_.split("/")(1)).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    assert(onDisk === referenced)
  }

  test("commitRetry: 8 genuinely concurrent appenders all land, no rows lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir()
    Snapshots.commit(frame(0 until 1, "base"), dir)
    // 8 writers race the SAME table; every CAS loser rewrites its
    // batch at the next version via the retry loop
    val writers = (1 to 8).map { i =>
      Future(Snapshots.commitRetry(
        frame(i * 100 until i * 100 + i, s"w$i"), dir, "append",
        maxAttempts = 32))
    }
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    assert(versions.sorted === (1L to 8L))
    // all rows landed exactly once (append chains carried correctly
    // through every interleaving)
    val byTag = Snapshots.readVersion(spark, dir)
      .groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag === (1 to 8).map(i => s"w$i" -> i.toLong).toMap + ("base" -> 1L))
    // no orphaned data dirs: every dir on disk is referenced
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = (0L to 8L)
      .flatMap(v => Snapshots.readManifest(spark, dir, v).files)
      .map(_.split("/")(1)).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    assert(onDisk === referenced)
  }

  test("footer stats + file skipping: prunes non-overlapping files, result unchanged") {
    val dir = freshDir()
    // 4 range-partitioned files over ids 0..399 → tight per-file ranges
    val df = spark.range(400).select(col("id"), (col("id") % 7).as("payload"))
      .repartitionByRange(4, col("id"))
    Snapshots.commit(df, dir, "overwrite", statsColumns = Seq("id"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.files.size === 4)
    assert(m.stats.size === 4, "every file needs an id stat")
    // a range inside one file's span keeps 1 file; full span keeps all
    val narrow = Snapshots.pruneFiles(m, "id", 10L, 20L)
    assert(narrow.size === 1, s"expected 1 surviving file: $narrow")
    assert(Snapshots.pruneFiles(m, "id", 0L, 399L).size === 4)
    // pruning is result-invisible
    val pruned = Snapshots.readVersionPruned(spark, dir, 0L, "id", 10L, 20L)
      .filter(col("id").between(10L, 20L)).agg(sum("id")).head.getLong(0)
    assert(pruned === (10L to 20L).sum)
    // unknown column → nothing pruned (unknown is never empty)
    assert(Snapshots.pruneFiles(m, "nope", 0L, 0L).size === 4)
  }

  test("string-kind stats prune lexicographic ranges") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    val df = Seq("apple", "banana", "cherry", "kiwi", "mango", "peach")
      .toDF("fruit").repartitionByRange(3, col("fruit"))
    Snapshots.commit(df, dir, "overwrite", statsColumns = Seq("fruit"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    val keep = Snapshots.pruneFiles(m, "fruit", "aaa", "b~")
    assert(keep.size < m.files.size, s"expected pruning: $keep of ${m.files}")
    val rows = Snapshots.readVersionPruned(spark, dir, 0L, "fruit", "aaa", "b~")
      .filter(col("fruit") <= "b~").collect().map(_.getString(0)).sorted.toSeq
    assert(rows === Seq("apple", "banana"))
  }

  test("streamAppends: commits before and after query start all arrive exactly once") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 5, "pre"), dir)
    val schema = Snapshots.readManifest(spark, dir, 0L).schema
    val q = Snapshots.streamAppends(spark, dir, schema)
      .writeStream.format("memory").queryName("lake_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Snapshots.commit(frame(5 until 9, "live1"), dir, "append")
      q.processAllAvailable()
      Snapshots.commit(frame(9 until 12, "live2"), dir, "append")
      q.processAllAvailable()
    } finally q.stop()
    val byTag = spark.sql("SELECT tag, COUNT(*) AS n FROM lake_tail GROUP BY tag")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag === Map("pre" -> 5L, "live1" -> 4L, "live2" -> 3L))
    // exactly once: no row delivered twice
    assert(spark.sql("SELECT COUNT(*) FROM lake_tail").head.getLong(0) === 12L)
    assert(spark.sql("SELECT COUNT(DISTINCT id) FROM lake_tail").head.getLong(0) === 12L)
  }

  test("streaming lakehouse loop: lake tail -> transform -> exactly-once sink") {
    // the full medallion hop as one pipeline: a source table's appends
    // stream out (streamAppends), a stateless transform runs per
    // micro-batch, and results land exactly-once in a SECOND versioned
    // table — each stage individually tested elsewhere; this pins the
    // composition (source commits drive sink versions end to end)
    val src = freshDir(); val dst = freshDir()
    Snapshots.commit(frame(0 until 10, "a"), src)
    val schema = Snapshots.readManifest(spark, src, 0L).schema
    val q = Snapshots.streamAppends(spark, src, schema)
      .filter(col("id") % 2 === 0)
      .withColumn("id2", col("id") * 2)
      .writeStream.foreachBatch(Snapshots.exactlyOnceSink(dst) _)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Snapshots.commit(frame(10 until 20, "b"), src, "append")
      q.processAllAvailable()
    } finally q.stop()
    // sink state == the batch recompute over the source's latest
    val got = Snapshots.readVersion(spark, dst)
      .select("id", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Snapshots.readVersion(spark, src)
      .filter(col("id") % 2 === 0)
      .select(col("id"), (col("id") * 2).as("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want && got.size === 10)
    // the sink table is itself time-travelable: one version per batch
    assert(Snapshots.latestVersion(spark, dst).exists(_ >= 1L))
  }

  test("exactly-once sink: a replayed micro-batch is a no-op") {
    val dir = freshDir()
    val b0 = frame(0 until 5, "b0")
    val b1 = frame(5 until 8, "b1")
    Snapshots.exactlyOnceSink(dir)(b0, 0L)
    Snapshots.exactlyOnceSink(dir)(b1, 1L)
    assert(Snapshots.readVersion(spark, dir).count() === 8L)
    // replay batch 1 (sink ran, checkpoint write was lost): no dupes
    Snapshots.exactlyOnceSink(dir)(b1, 1L)
    assert(Snapshots.latestVersion(spark, dir) === Some(1L))
    assert(Snapshots.readVersion(spark, dir).count() === 8L)
  }

  test("exactly-once sink end-to-end under a streaming query") {
    val dir = freshDir()
    val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    implicit val sq = sqlCtx
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDF().toDF("id")
      .writeStream.foreachBatch(Snapshots.exactlyOnceSink(dir) _)
      .outputMode("append").start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      input.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.readVersion(spark, dir).count() === 5L)
  }

  test("cdc sink: streaming MERGE applies batches exactly once") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    def cdc(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "tag", "op")
    // batch 0 bootstraps the table (I rows only matter)
    Snapshots.cdcSink(dir, "id")(cdc((1L to 10L).map(i => (i, s"v1-$i", "I"))), 0L)
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
    // batch 1: update 3, delete 7, insert 11
    val b1 = cdc(Seq((3L, "v2-3", "U"), (7L, "", "D"), (11L, "v1-11", "I")))
    Snapshots.cdcSink(dir, "id")(b1, 1L)
    val got = Snapshots.readVersion(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet === ((1L to 11L).toSet - 7L))
    assert(got(3L) === "v2-3" && got(11L) === "v1-11" && got(4L) === "v1-4")
    // zombie replay of batch 1 (sink ran, checkpoint write lost): no-op
    val vBefore = Snapshots.latestVersion(spark, dir)
    Snapshots.cdcSink(dir, "id")(b1, 1L)
    assert(Snapshots.latestVersion(spark, dir) === vBefore)
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
    // the watermark is in the manifest; maintenance preserves it
    Snapshots.compact(spark, dir, numFiles = 1)
    Snapshots.cdcSink(dir, "id")(b1, 1L) // replay after compact: still no-op
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
    // end-to-end under a real streaming query
    val sqlCtx = spark.sqlContext
    implicit val sq = sqlCtx
    val dir2 = freshDir()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("id", "tag", "op")
      .writeStream.foreachBatch(Snapshots.cdcSink(dir2, "id") _)
      .outputMode("append").start()
    try {
      input.addData((1L, "a", "I"), (2L, "b", "I"))
      q.processAllAvailable()
      input.addData((1L, "a2", "U"), (2L, "", "D"), (3L, "c", "I"))
      q.processAllAvailable()
    } finally q.stop()
    val fin = Snapshots.readVersion(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin === Map(1L -> "a2", 3L -> "c"))
  }

  test("a live batch whose id collides with a maintenance version still lands") {
    // regression: the sink once used version==batchId as its replay
    // check, so compaction taking a version number made the next live
    // batch look like a replay and silently dropped it
    val dir = freshDir()
    (0 until 3).foreach(b =>
      Snapshots.exactlyOnceSink(dir)(frame(b * 10 until (b + 1) * 10, s"b$b"), b.toLong))
    assert(Snapshots.compact(spark, dir, numFiles = 1) === 3L)
    // batch 3 arrives AFTER compact committed version 3: it must land
    Snapshots.exactlyOnceSink(dir)(frame(30 until 40, "b3"), 3L)
    assert(Snapshots.readVersion(spark, dir).count() === 40L)
    // and a genuine replay of batch 3 is still a no-op
    Snapshots.exactlyOnceSink(dir)(frame(30 until 40, "b3"), 3L)
    assert(Snapshots.readVersion(spark, dir).count() === 40L)
    assert(Snapshots.readVersion(spark, dir)
      .select("id").distinct().count() === 40L)
    // the watermark rode through the compact overwrite
    val latest = Snapshots.latestVersion(spark, dir).get
    assert(Snapshots.readManifest(spark, dir, latest).txns("sink") === 3L)
  }

  test("vacuum retains young unreferenced dirs (in-flight commits), sweeps old ones") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a"), dir)
    Snapshots.commit(frame(10 until 20, "b"), dir, "append")
    // simulate a writer mid-commit: data written, manifest not yet
    // published — vacuum must NOT delete it (age < retention)
    val inflight = new java.io.File(s"$dir/data/v000002-inflight")
    assert(inflight.mkdirs())
    new java.io.FileOutputStream(new java.io.File(inflight, "part-0.parquet")).close()
    Snapshots.vacuum(spark, dir, keepFromVersion = 1L)
    assert(inflight.exists(), "young unreferenced dir must survive vacuum")
    // an abandoned orphan older than the retention window goes
    assert(inflight.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    Snapshots.vacuum(spark, dir, keepFromVersion = 1L, orphanRetainMs = 60000L)
    assert(!inflight.exists(), "aged orphan dir must be swept")
    // the live version still serves in full
    assert(Snapshots.readVersion(spark, dir).count() === 20L)
  }

  test("ops lifecycle: sink -> compact -> vacuum keeps the table correct and bounded") {
    val dir = freshDir()
    // a streaming producer lands 6 micro-batches via the
    // exactly-once sink (6 versions, 1+ file each)
    (0 until 6).foreach(b =>
      Snapshots.exactlyOnceSink(dir)(frame(b * 10 until (b + 1) * 10, s"b$b"), b.toLong))
    assert(Snapshots.latestVersion(spark, dir) === Some(5L))
    // periodic OPTIMIZE: compact to 2 files (version 6)
    val compacted = Snapshots.compact(spark, dir, numFiles = 2)
    assert(compacted === 6L)
    assert(Snapshots.readManifest(spark, dir, 6L).files.size === 2)
    // retention: expire everything before the compacted version
    Snapshots.vacuum(spark, dir, keepFromVersion = 6L)
    // the table still serves, with all 60 rows exactly once
    val served = Snapshots.readVersion(spark, dir)
    assert(served.count() === 60L)
    assert(served.select("id").distinct().count() === 60L)
    // storage is bounded: only the compacted files remain on disk
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    assert(onDisk === Snapshots.readManifest(spark, dir, 6L)
      .files.map(_.split("/")(1)).toSet)
    // and a late replay of an already-compacted batch is still a no-op
    Snapshots.exactlyOnceSink(dir)(frame(0 until 10, "b0"), 0L)
    assert(Snapshots.latestVersion(spark, dir) === Some(6L))
  }

  test("sorted compaction restores file skipping that arrival order destroyed") {
    val dir = freshDir()
    // interleaved arrival: every batch spans the whole id range, so
    // every file's [min,max] covers everything — nothing can prune
    (0 until 4).foreach { b =>
      val batch = spark.range(400).filter(col("id") % 4 === b)
        .select(col("id"), (col("id") % 7).as("payload"))
        .coalesce(1) // one file per batch, spanning the full id range
      Snapshots.commit(batch, dir, "append", statsColumns = Seq("id"))
    }
    val before = Snapshots.readManifest(spark, dir, 3L)
    assert(before.files.size === 4)
    assert(Snapshots.pruneFiles(before, "id", 10L, 20L).size === 4,
      "arrival order: no file should prune")
    // sorted compaction re-clusters: now a narrow range keeps 1 file
    val v = Snapshots.compactSorted(spark, dir, numFiles = 4, sortCol = "id")
    val after = Snapshots.readManifest(spark, dir, v)
    assert(after.files.size === 4)
    assert(Snapshots.pruneFiles(after, "id", 10L, 20L).size === 1)
    // rows unchanged
    assert(Snapshots.readVersion(spark, dir).count() === 400L)
    assert(Snapshots.readVersion(spark, dir).agg(sum("id")).head.getLong(0)
      === (0L until 400L).sum)
  }

  test("compaction: fewer files, same rows, prior versions intact") {
    val dir = freshDir()
    (0 until 5).foreach(i =>
      Snapshots.commit(frame(i * 10 until (i + 1) * 10, s"b$i"), dir, "append"))
    val before = Snapshots.readManifest(spark, dir, 4L).files.size
    assert(before >= 5)
    val v = Snapshots.compact(spark, dir, numFiles = 1)
    assert(v === 5L)
    assert(Snapshots.readManifest(spark, dir, 5L).files.size === 1)
    assert(Snapshots.readVersion(spark, dir, Some(5L)).count() === 50L)
    // pre-compaction snapshot still serves
    assert(Snapshots.readVersion(spark, dir, Some(4L)).count() === 50L)
    assert(Snapshots.readVersion(spark, dir, Some(0L)).count() === 10L)
  }

  test("change feed: addedFiles is the manifest diff, readChanges reads only the batch") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "b0"), dir)
    Snapshots.commit(frame(10 until 14, "b1"), dir, "append")
    Snapshots.commit(frame(14 until 19, "b2"), dir, "append")
    // each version's change feed is exactly that commit's rows
    assert(Snapshots.readChanges(spark, dir, -1L, 0L).count() === 10L)
    assert(Snapshots.readChanges(spark, dir, 0L, 1L).count() === 4L)
    assert(Snapshots.readChanges(spark, dir, 1L, 2L).count() === 5L)
    // a multi-version range accumulates the appends in between
    assert(Snapshots.readChanges(spark, dir, 0L, 2L).count() === 9L)
    val tags = Snapshots.readChanges(spark, dir, 0L, 2L)
      .select("tag").distinct().collect().map(_.getString(0)).toSet
    assert(tags === Set("b1", "b2"))
    // the diff is over file identity: added files ∩ carried files = ∅
    val added = Snapshots.addedFiles(spark, dir, 1L, 2L).toSet
    val carried = Snapshots.readManifest(spark, dir, 1L).files.toSet
    assert(added.intersect(carried).isEmpty)
    // an overwrite's "changes" are its full output (documented contract)
    Snapshots.commit(frame(0 until 2, "rw"), dir, "overwrite")
    assert(Snapshots.readChanges(spark, dir, 2L, 3L).count() === 2L)
    // an empty diff (same version twice) refuses rather than
    // fabricating an empty frame with a guessed schema
    intercept[IllegalArgumentException] {
      Snapshots.readChanges(spark, dir, 2L, 2L)
    }
  }

  test("u5 demo: incremental partial-merge equals the full recompute") {
    val d = "/root/testdata/sf0.001"
    val got = Snapshots.u5Incremental(spark, d).collect()
    val want = graft.Tables.orders(spark, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("o_orderstatus").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) === w.getString(0))
      assert(g.getLong(1) === w.getLong(1))
      assert(g.getDouble(2) === w.getDouble(2)) // decimal partials: exact
    }
  }

  test("schema evolution: appends add and omit columns, reads plan from the manifest schema") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    Snapshots.commit(frame(0 until 4, "v0"), dir)
    // v1 adds a score column old files don't have
    Snapshots.commit(
      (4 until 6).map(i => (i.toLong, "v1", i * 1.5)).toDF("id", "tag", "score"),
      dir, "append")
    // v2's batch omits tag entirely (and score)
    Snapshots.commit((6 until 8).map(_.toLong).toDF("id"), dir, "append")
    val latest = Snapshots.readVersion(spark, dir)
    assert(latest.columns.toSeq === Seq("id", "tag", "score"))
    assert(latest.count() === 8L)
    // old files read NULL for the added column; new files NULL for omitted
    assert(latest.filter(col("score").isNull).count() === 6L)
    assert(latest.filter(col("tag").isNull).count() === 2L)
    assert(latest.filter(col("score").isNotNull).agg(sum("score"))
      .head.getDouble(0) === (4 * 1.5 + 5 * 1.5))
    // time travel serves each version's own schema
    assert(Snapshots.readVersion(spark, dir, Some(0L)).columns.toSeq
      === Seq("id", "tag"))
    // the change feed carries the evolved schema too
    assert(Snapshots.readChanges(spark, dir, 0L, 1L).columns.toSeq
      === Seq("id", "tag", "score"))
    // a same-name type change is refused (that's a rewrite, not an append)
    intercept[IllegalArgumentException] {
      Snapshots.commit((0 until 2).map(i => (i.toLong, i))
        .toDF("id", "tag"), dir, "append")
    }
  }

  test("vacuum: expires old versions, keeps files any live version references") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a"), dir)            // v0: files A
    Snapshots.commit(frame(10 until 14, "b"), dir, "append") // v1: A + B
    Snapshots.commit(frame(0 until 3, "c"), dir, "overwrite") // v2: C
    val deleted = Snapshots.vacuum(spark, dir, keepFromVersion = 1L)
    // v0's files all live on in v1 — nothing was deletable
    assert(deleted === 0)
    assert(Snapshots.readVersion(spark, dir, Some(1L)).count() === 14L)
    intercept[IllegalArgumentException] {
      Snapshots.readManifest(spark, dir, 0L)
    }
    // expiring v1 frees A and B (only v2's C is live)
    val deleted2 = Snapshots.vacuum(spark, dir, keepFromVersion = 2L)
    assert(deleted2 > 0)
    assert(Snapshots.readVersion(spark, dir, Some(2L)).count() === 3L)
    // on-disk data dirs now hold exactly v2's files
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val remaining = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    val v2Dirs = Snapshots.readManifest(spark, dir, 2L).files
      .map(_.split("/")(1)).toSet
    assert(remaining === v2Dirs)
    // vacuuming past latest is refused
    intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, dir, keepFromVersion = 3L)
    }
  }

  test("z-order + 2-d stats: both dimensions prune, conjunction prunes hardest") {
    val dir = freshDir()
    // a 64x64 grid of (a, b) points, z-ordered into 16 files: each
    // file covers a compact box in BOTH dimensions
    val grid = spark.range(64L * 64L).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    val z = graft.operators.Layout.zValue(col("a"), col("b"))
    Snapshots.commit(
      grid.withColumn("__z", z).repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z").drop("__z"),
      dir, "overwrite", statsColumns = Seq("a", "b"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.files.size === 16)
    val onA = Snapshots.pruneFiles(m, "a", 0L, 15L)
    val onB = Snapshots.pruneFiles(m, "b", 0L, 15L)
    // each single dimension skips files (impossible for b under a
    // plain sort on a)
    assert(onA.size < m.files.size, s"a-range kept all: $onA")
    assert(onB.size < m.files.size, s"b-range kept all: $onB")
    // the 2-d box keeps no more than either dimension alone
    val box = Snapshots.pruneFiles(m,
      Seq(("a", 0L, 15L), ("b", 0L, 15L)))
    assert(box.size <= math.min(onA.size, onB.size))
    assert(box.nonEmpty)
    // and the pruned read still returns exactly the box
    val n = Snapshots.readVersionPruned(spark, dir, 0L,
      Seq(("a", 0L, 15L), ("b", 0L, 15L)))
      .filter(col("a").between(0, 15) && col("b").between(0, 15))
      .count()
    assert(n === 16L * 16L)
  }

  test("u6 demo: z-order box aggregate equals the raw 2-d filter") {
    val d = "/root/testdata/sf0.001"
    val got = Snapshots.u6ZorderSkip(spark, d).head
    val want = graft.Tables.orders(spark, d)
      .filter(col("o_custkey").between(100L, 500L) &&
        to_date(col("o_orderdate")).between(lit("1995-01-01"), lit("1995-12-31")))
      .agg(count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")).head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(0) > 0L)
    assert(got.getDouble(1) === want.getDouble(1))
  }

  test("u4 demo: pruned key-range aggregate equals the raw filter") {
    val d = "/root/testdata/sf0.001"
    val got = Snapshots.u4FileSkip(spark, d).head
    val want = graft.Tables.orders(spark, d)
      .filter(col("o_orderkey").between(100L, 2000L))
      .agg(count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")).head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getDouble(1) === want.getDouble(1))
  }

  test("u7 demo: merge lands as v1, pre-merge snapshot serves unchanged") {
    val d = "/root/testdata/sf0.001"
    val rows = Snapshots.u7MergeSnapshot(spark, d).collect()
    val (v0, v1) = rows.partition(_.getLong(0) == 0L)
    assert(v0.nonEmpty && v1.nonEmpty)
    // v0's audit is exactly the raw table's
    val raw = graft.Tables.orders(spark, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("t"))
      .orderBy("o_orderstatus").collect()
    assert(v0.map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      === raw.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
    // the merge changed the table (deletes + inserts shift counts)
    val n0 = v0.map(_.getLong(2)).sum
    val n1 = v1.map(_.getLong(2)).sum
    assert(n1 !== n0)
  }

  test("shallow clone: zero-copy fork, write isolation both ways, safe vacuum") {
    val src = freshDir(); val dst = freshDir()
    Snapshots.commit(frame(0 until 20, "a"), src, statsColumns = Seq("id"))
    Snapshots.commit(frame(20 until 30, "b"), src, "append",
      statsColumns = Seq("id"))
    assert(Snapshots.cloneShallow(spark, src, dst) === 0L)
    // zero data copied: the clone dir holds no parquet of its own yet
    val h0 = Snapshots.history(spark, dst).collect()
    assert(h0.length === 1 &&
      h0.head.getAs[Long]("n_borrowed") === h0.head.getAs[Long]("n_files"))
    // clone v0 reads the source's rows through the borrowed refs
    assert(Snapshots.readVersion(spark, dst, Some(0L)).count() === 30L)
    // carried stats re-keyed: a pruned read on the clone still works
    assert(Snapshots.readVersionPruned(spark, dst, 0L, "id", 0L, 5L)
      .filter(col("id") <= 5L).count() === 6L)
    // writes diverge independently in BOTH directions
    Snapshots.commit(frame(100 until 110, "c"), dst, "append")
    Snapshots.commit(frame(200 until 220, "d"), src, "append")
    assert(Snapshots.readVersion(spark, dst).count() === 40L)
    assert(Snapshots.readVersion(spark, dst, Some(0L)).count() === 30L)
    assert(Snapshots.readVersion(spark, src).count() === 50L)
    // expiring the clone's v0 must NOT reach into the source table
    Snapshots.vacuum(spark, dst, keepFromVersion = 1L)
    assert(Snapshots.readVersion(spark, src, Some(1L)).count() === 30L,
      "clone vacuum deleted borrowed source files")
    // compaction materializes: the rewritten version owns local files
    Snapshots.compact(spark, dst, numFiles = 1)
    val h = Snapshots.history(spark, dst).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_borrowed")).toMap
    assert(h(h.keys.max) === 0L, "compacted clone still borrows")
    // a clone refuses a non-empty target
    intercept[IllegalArgumentException] {
      Snapshots.cloneShallow(spark, src, dst)
    }
  }

  test("commit-time CHECK constraint: violating batch refused, table untouched") {
    val dir = freshDir()
    Snapshots.commitChecked(frame(0 until 10, "clean"), dir,
      col("id") >= 0L)
    // a violating batch raises and consumes NOTHING — no version, no
    // orphan data dir
    intercept[IllegalArgumentException] {
      Snapshots.commitChecked(frame(0 until 5, "dirty"), dir,
        col("id") > 2L, "append")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(0L))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(dir, "data")).length === 1)
    // NULL constraint results are violations, not a free pass
    val s = spark
    import s.implicits._
    val withNull = Seq((Some(1L), "a"), (None, "b"))
      .toDF("id", "tag").select(col("id").cast("long").as("id"), col("tag"))
    intercept[IllegalArgumentException] {
      Snapshots.commitChecked(withNull, dir, col("id") > 0L, "append")
    }
    // a clean batch still lands normally afterward
    Snapshots.commitChecked(frame(10 until 15, "ok"), dir,
      col("id").isNotNull && col("id") < 100L, "append")
    assert(Snapshots.readVersion(spark, dir).count() === 15L)
  }

  test("deleteWhere: merge-on-read mask, snapshot isolation, no data rewritten") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 30, "a"), dir)
    Snapshots.commit(frame(30 until 40, "b"), dir, "append")
    val v1Files = Snapshots.readManifest(spark, dir, 1L).files
    // mask every id divisible by 3 — a logical delete, no rewrite
    val v2 = Snapshots.deleteWhere(spark, dir, col("id") % 3 === 0L)
    assert(v2 === 2L)
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.files === v1Files, "delete must not touch data files")
    assert(m2.dvs.size === 1)
    val left = Snapshots.readVersion(spark, dir).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(left.toSeq === (0L until 40L).filter(_ % 3 != 0))
    // prior versions still serve the masked rows (snapshot isolation)
    assert(Snapshots.readVersion(spark, dir, Some(1L)).count() === 40L)
    // appends carry the mask; the new batch is NOT masked
    Snapshots.commit(frame(100 until 103, "c"), dir, "append")
    assert(Snapshots.readVersion(spark, dir).count() ===
      (0 until 40).count(_ % 3 != 0) + 3L)
    // a pruned read applies the mask too (same readFiles path)
    val pruned = Snapshots.readVersionPruned(spark, dir, 3L, "id", 0L, 10L)
      .filter(col("id") <= 10L).select("id").collect().map(_.getLong(0)).sorted
    assert(pruned.toSeq === (0L to 10L).filter(_ % 3 != 0))
    // nothing-matched delete is a no-op: no version consumed
    assert(Snapshots.deleteWhere(spark, dir, col("id") > 9999L) === 3L)
    assert(Snapshots.latestVersion(spark, dir) === Some(3L))
    // history surfaces the dv count for purge scheduling
    val h = Snapshots.history(spark, dir).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_dvs")).toMap
    assert(h === Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("purgeDeletes: rewrite drops the mask; vacuum never sweeps a live dv") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 20, "a"), dir)
    Snapshots.deleteWhere(spark, dir, col("id") < 5L)
    // vacuum keeping the dv-carrying version must preserve the dv file
    Snapshots.vacuum(spark, dir, keepFromVersion = 1L, orphanRetainMs = 0L)
    assert(Snapshots.readVersion(spark, dir).count() === 15L,
      "vacuum swept a dv file referenced by a live manifest")
    // purge materializes the delete: fresh files, no dv refs
    val v = Snapshots.purgeDeletes(spark, dir)
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.dvs.isEmpty)
    assert(Snapshots.readVersion(spark, dir, Some(v)).count() === 15L)
    // expiring the masked version sweeps the now-dead dv dir
    Snapshots.vacuum(spark, dir, keepFromVersion = v, orphanRetainMs = 0L)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvRoot = new org.apache.hadoop.fs.Path(dir, "dv")
    assert(!f.exists(dvRoot) || f.listStatus(dvRoot).isEmpty,
      "expired dv dir not swept")
    assert(Snapshots.readVersion(spark, dir).count() === 15L)
  }

  test("shallow clone carries deletion vectors: no resurrected rows") {
    val src = freshDir(); val dst = freshDir()
    Snapshots.commit(frame(0 until 20, "a"), src)
    Snapshots.deleteWhere(spark, src, col("id") >= 15L)
    Snapshots.cloneShallow(spark, src, dst)
    val m0 = Snapshots.readManifest(spark, dst, 0L)
    assert(m0.dvs.size === 1 && m0.dvs.forall(p =>
      new org.apache.hadoop.fs.Path(p).isAbsolute),
      "clone must borrow the source dv by absolute path")
    assert(Snapshots.readVersion(spark, dst, Some(0L)).count() === 15L,
      "clone resurrected rows the source version had deleted")
    // the clone's own appends keep the borrowed mask
    Snapshots.commit(frame(100 until 105, "c"), dst, "append")
    assert(Snapshots.readVersion(spark, dst).count() === 20L)
    // and the clone's vacuum never reaches the source's dv file
    Snapshots.vacuum(spark, dst, keepFromVersion = 1L, orphanRetainMs = 0L)
    assert(Snapshots.readVersion(spark, src).count() === 15L)
  }

  test("table-level CHECK: enforced on append, MERGE overwrite, and compaction") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "clean"), dir)
    // registration is a metadata-only commit, validated against
    // existing data first
    intercept[IllegalArgumentException] {
      Snapshots.addCheckConstraint(spark, dir, "pos", "id > 5")
    }
    val v1 = Snapshots.addCheckConstraint(spark, dir, "pos", "id >= 0")
    assert(v1 === 1L)
    assert(Snapshots.readManifest(spark, dir, v1).checks === Map("pos" -> "id >= 0"))
    // 1) violating APPEND refused, no version consumed, no orphan dir
    intercept[IllegalArgumentException] {
      Snapshots.commit(frame(-3 until 2, "bad"), dir, "append")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(1L))
    // 2) violating OVERWRITE (the MERGE/CoW result shape) refused —
    // the constraint cannot be bypassed by a non-append commit
    intercept[IllegalArgumentException] {
      Snapshots.commit(frame(-5 until 0, "merge"), dir, "overwrite")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(1L))
    // 3) COMPACTION rewrite also validates: plant violating data under
    // a trusted (unvalidated) constraint, then compact — refused
    val dir2 = freshDir()
    Snapshots.commit(frame(0 until 8, "x"), dir2)
    Snapshots.addCheckConstraint(spark, dir2, "big", "id >= 5",
      validateExisting = false)
    intercept[IllegalArgumentException] {
      Snapshots.compact(spark, dir2, numFiles = 1)
    }
    // constraints carry through a VALID overwrite and keep enforcing
    Snapshots.commit(frame(20 until 25, "rewrite"), dir, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.commit(frame(-1 until 0, "bad2"), dir, "append")
    }
    // NULL check results are violations, not a free pass
    val s = spark
    import s.implicits._
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("id", "tag")
      .select(col("id").cast("long").as("id"), col("tag"))
    intercept[IllegalArgumentException] {
      Snapshots.commit(withNull, dir, "append")
    }
    // dropping the constraint re-opens the gate
    Snapshots.dropCheckConstraint(spark, dir, "pos")
    Snapshots.commit(frame(-1 until 0, "now-ok"), dir, "append")
    assert(Snapshots.readVersion(spark, dir).count() === 6L)
  }

  test("change data feed: net inserts/deletes reconcile the two snapshots") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 20, "base"), dir)
    Snapshots.commit(frame(20 until 30, "late"), dir, "append")
    // delete spans BOTH the old snapshot (ids 0,4,8,...) and the new
    // batch (ids 20,24,28) — the latter must net out of the feed
    Snapshots.deleteWhere(spark, dir, col("id") % 4 === 0L)
    val feed = Snapshots.readChangeFeed(spark, dir, 0L, 2L)
    val ins = feed.filter(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).sorted
    val del = feed.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ins.toSeq === (20L until 30L).filter(_ % 4 != 0))
    assert(del.toSeq === (0L until 20L).filter(_ % 4 == 0))
    // deletes are FULL rows (provenance readback), not just keys
    assert(feed.filter(col("_change_type") === "delete")
      .select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("base"))
    // reconciliation: from-snapshot + inserts − deletes == to-snapshot
    val v0 = Snapshots.readVersion(spark, dir, Some(0L))
      .select("id").collect().map(_.getLong(0)).toSet
    val v2 = Snapshots.readVersion(spark, dir, Some(2L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert((v0 ++ ins) -- del === v2)
    // an overwrite inside the range breaks the feed contract: refused
    Snapshots.commit(frame(0 until 5, "rewrite"), dir, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.readChangeFeed(spark, dir, 0L, 3L)
    }
    // no-change range refused (same contract as readChanges)
    intercept[IllegalArgumentException] {
      Snapshots.readChangeFeed(spark, dir, 3L, 3L)
    }
  }

  test("mergeOnRead == copy-on-write merge, without rewriting the target") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (1L to 100L).map(i => (i, s"p$i", i * 10.0))
      .toDF("id", "payload", "price")
    Snapshots.commit(base, dir)
    val v0Files = Snapshots.readManifest(spark, dir, 0L).files
    // CDC batch: delete ids %10==0, reprice ids %7==0 (not deleted),
    // insert re-keyed copies of ids %13==0
    val changes =
      base.filter(col("id") % 10 === 0).withColumn("op", lit("D"))
        .unionByName(base.filter(col("id") % 7 === 0 && col("id") % 10 =!= 0)
          .withColumn("price", col("price") + 1.0).withColumn("op", lit("U")))
        .unionByName(base.filter(col("id") % 13 === 0)
          .withColumn("id", col("id") + 1000L).withColumn("op", lit("I")))
    val v1 = Snapshots.mergeOnRead(spark, dir, changes, "id")
    assert(v1 === 1L)
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    // the cost shape: target files untouched, one mask + one append
    assert(m1.files.startsWith(v0Files), "merge rewrote target files")
    assert(m1.dvs.size === 1)
    // result identity with the relational CoW apply
    val expected = graft.operators.Merge
      .applyChanges(base, changes, "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val got = Snapshots.readVersion(spark, dir, Some(1L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === expected)
    // v0 still serves the pre-merge snapshot (snapshot isolation)
    assert(Snapshots.readVersion(spark, dir, Some(0L)).count() === 100L)
    // pure-insert batch: no dv ref added
    val insOnly = base.filter(col("id") === 1L)
      .withColumn("id", col("id") + 5000L).withColumn("op", lit("I"))
    Snapshots.mergeOnRead(spark, dir, insOnly, "id")
    assert(Snapshots.readManifest(spark, dir, 2L).dvs.size === 1)
    // pure-delete batch: no data file added
    val delOnly = base.filter(col("id") === 2L).withColumn("op", lit("D"))
    Snapshots.mergeOnRead(spark, dir, delOnly, "id")
    val m3 = Snapshots.readManifest(spark, dir, 3L)
    assert(m3.files.size === Snapshots.readManifest(spark, dir, 2L).files.size)
    assert(m3.dvs.size === 2)
    // table CHECK constraints gate merge payloads too
    Snapshots.addCheckConstraint(spark, dir, "pos_price", "price > 0")
    intercept[IllegalArgumentException] {
      Snapshots.mergeOnRead(spark, dir,
        base.filter(col("id") === 3L).withColumn("price", lit(-1.0))
          .withColumn("op", lit("U")), "id")
    }
  }

  test("mergeOnRead prunes its mask scan with key stats, result unchanged") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (1L to 100L).map(i => (i, s"p$i")).toDF("id", "tag")
    // 4 range-partitioned files with footer stats on the merge key
    Snapshots.commit(base.repartitionByRange(4, col("id")), dir,
      statsColumns = Seq("id"))
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    assert(m0.files.size === 4 && m0.stats.size === 4)
    // the batch touches only the top of the key range — the mask scan
    // needs a strict subset of the files
    assert(Snapshots.pruneFiles(m0, "id", 90L, 99L).size < m0.files.size)
    val changes =
      base.filter(col("id").isin(90L, 95L)).withColumn("op", lit("D"))
        .unionByName(base.filter(col("id") === 92L)
          .withColumn("tag", lit("updated")).withColumn("op", lit("U")))
    Snapshots.mergeOnRead(spark, dir, changes, "id")
    val expected = graft.operators.Merge.applyChanges(base, changes, "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)
    assert(got.size === 98 && got.contains((92L, "updated")))
  }

  test("restore: metadata-only rollback, files by reference, watermarks don't rewind") {
    val dir = freshDir()
    Snapshots.exactlyOnceSink(dir, "app")(frame(0 until 10, "good"), 0L) // v0
    Snapshots.commit(frame(100 until 105, "bad"), dir, "overwrite")      // v1 botched
    assert(Snapshots.restore(spark, dir, 0L) === 2L)
    // v2 serves v0's state through v0's OWN files — nothing copied
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
    assert(Snapshots.readManifest(spark, dir, 2L).files ===
      Snapshots.readManifest(spark, dir, 0L).files)
    // the botched version stays readable for forensics
    assert(Snapshots.readVersion(spark, dir, Some(1L)).count() === 5L)
    // the producer watermark carried from LATEST: a replay still no-ops
    Snapshots.exactlyOnceSink(dir, "app")(frame(0 until 10, "dup"), 0L)
    assert(Snapshots.latestVersion(spark, dir) === Some(2L))
    // vacuuming past the restore keeps the restored (old) files alive
    Snapshots.vacuum(spark, dir, keepFromVersion = 2L, orphanRetainMs = 0L)
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
    // restoring to a dv-masked version restores the mask with it
    Snapshots.deleteWhere(spark, dir, col("id") < 3L) // v3
    Snapshots.purgeDeletes(spark, dir)                // v4
    assert(Snapshots.restore(spark, dir, 3L) === 5L)
    assert(Snapshots.readVersion(spark, dir).count() === 7L)
    // a vacuumed restore point is refused
    intercept[IllegalArgumentException] {
      Snapshots.restore(spark, dir, 1L)
    }
  }

  test("large delete shards its dv write; history records rows and mask_ratio") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 100, "base"), dir)
    spark.conf.set("graft.dv.maxRowsPerFile", "10")
    try Snapshots.deleteWhere(spark, dir, col("id") < 35L)
    finally spark.conf.unset("graft.dv.maxRowsPerFile")
    // ceil(35/10) = 4 shards: the mask neither funnels through one
    // task nor lands as one giant file
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.dvs.size === 4, s"expected 4 dv shards, got ${m1.dvs}")
    assert(Snapshots.readVersion(spark, dir).count() === 65L)
    assert(m1.dataRows === 100L && m1.dvRows === 35L)
    val h = Snapshots.history(spark, dir).collect().map { r =>
      r.getAs[Long]("version") ->
        (r.getAs[Long]("n_data_rows"), r.getAs[Long]("n_dv_rows"),
          if (r.isNullAt(r.fieldIndex("mask_ratio"))) None
          else Some(r.getAs[Double]("mask_ratio")))
    }.toMap
    assert(h(0L) === ((100L, 0L, Some(0.0))))
    assert(h(1L)._1 === 100L && h(1L)._2 === 35L)
    assert(math.abs(h(1L)._3.get - 0.35) < 1e-9)
    // the accounting survives an append and resets on overwrite
    Snapshots.commit(frame(100 until 110, "late"), dir, "append")
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.dataRows === 110L && m2.dvRows === 35L)
    Snapshots.purgeDeletes(spark, dir)
    val m3 = Snapshots.readManifest(spark, dir, 3L)
    assert(m3.dataRows === 75L && m3.dvRows === 0L)
  }

  test("restore validates the target against the LATEST CHECK constraints") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "old"), dir)              // v0: ids 0-9
    Snapshots.commit(frame(3 until 10, "new"), dir, "overwrite") // v1: ids 3-9
    Snapshots.addCheckConstraint(spark, dir, "id_min", "id >= 3") // v2
    // v0 predates the constraint and violates it: the metadata-only
    // rollback must not silently serve rows the active contract bans
    val e = intercept[IllegalArgumentException] {
      Snapshots.restore(spark, dir, 0L)
    }
    assert(e.getMessage.contains("id_min"))
    assert(Snapshots.latestVersion(spark, dir) === Some(2L)) // nothing committed
    // the admin escape hatch (mirrors addCheckConstraint's
    // validateExisting) publishes anyway
    assert(Snapshots.restore(spark, dir, 0L, validateChecks = false) === 3L)
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
  }

  test("mergeOnRead evolves schema additively; refuses type changes and bad ops") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "base"), dir)
    // additive column: recorded nullable; pre-evolution rows read NULL
    val evolved = Seq((1L, "upd", "x1"), (100L, "ins", "x100"))
      .toDF("id", "tag", "extra")
      .withColumn("op", when(col("id") === 1L, "U").otherwise("I"))
    Snapshots.mergeOnRead(spark, dir, evolved, "id")
    val v1 = Snapshots.readVersion(spark, dir)
    assert(v1.columns.toSeq === Seq("id", "tag", "extra"))
    val byId = v1.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(byId(1L) === (("upd", Some("x1"))))
    assert(byId(100L) === (("ins", Some("x100"))))
    assert(byId(2L) === (("base", None)))
    assert(byId.size === 11)
    // omitted payload columns: the new file reads NULL for them (the
    // same fill the append path gives)
    Snapshots.mergeOnRead(spark, dir, Seq((200L, "I")).toDF("id", "op"), "id")
    val r200 = Snapshots.readVersion(spark, dir)
      .where(col("id") === 200L).collect()
    assert(r200.length === 1 && r200(0).isNullAt(1) && r200(0).isNullAt(2))
    // a type change is a rewrite, not an evolution: refused
    intercept[IllegalArgumentException] {
      Snapshots.mergeOnRead(spark, dir,
        Seq((5L, 42)).toDF("id", "tag").withColumn("op", lit("U")), "id")
    }
    // an op outside I/U/D must not silently mask-and-drop: refused,
    // table untouched
    val before = Snapshots.latestVersion(spark, dir)
    intercept[IllegalArgumentException] {
      Snapshots.mergeOnRead(spark, dir,
        frame(1 until 2, "typo").withColumn("op", lit("u")), "id")
    }
    assert(Snapshots.latestVersion(spark, dir) === before)
    // a NULL op would slip a null-naive `!isin` filter and mask its
    // target while appending nothing (silent delete): refused too
    intercept[IllegalArgumentException] {
      Snapshots.mergeOnRead(spark, dir,
        frame(1 until 2, "nullop")
          .withColumn("op", lit(null).cast("string")), "id")
    }
    assert(Snapshots.latestVersion(spark, dir) === before)
  }

  test("commitUnique refuses NULL keys (SQL NULL never equals NULL)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "base"), dir)
    val nullKeyed = Seq((Option.empty[Long], "n1"))
      .toDF("id", "tag")
    intercept[IllegalArgumentException] {
      Snapshots.commitUnique(nullKeyed, dir, "id")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(0L))
    intercept[IllegalArgumentException] {
      Snapshots.readVersionKeys(spark, dir, "id", Seq(null))
    }
  }

  test("updateWhere: mask + re-append in one commit, CHECK-gated, type-stable") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (1L to 100L).map(i => (i, s"p$i", i * 10.0))
      .toDF("id", "payload", "price")
    Snapshots.commit(base, dir)
    val v0Files = Snapshots.readManifest(spark, dir, 0L).files
    // UPDATE price = price + 1 WHERE id % 10 == 0
    assert(Snapshots.updateWhere(spark, dir, col("id") % 10 === 0L,
      Map("price" -> (col("price") + lit(1.0)))) === 1L)
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.files.startsWith(v0Files), "update rewrote target files")
    assert(m1.dvs.nonEmpty)
    assert(m1.dataRows === 110L && m1.dvRows === 10L) // 10 masked + 10 reappended
    val got = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.size === 100)
    assert(got(10L) === 101.0 && got(20L) === 201.0 && got(11L) === 110.0)
    // no match: no version consumed
    assert(Snapshots.updateWhere(spark, dir, col("id") > 1000L,
      Map("price" -> lit(0.0))) === 1L)
    // CHECK constraints gate the updated rows; refusal leaves v1 live
    Snapshots.addCheckConstraint(spark, dir, "pos_price", "price > 0")
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, dir, col("id") === 1L,
        Map("price" -> lit(-5.0)))
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(2L)) // only the CHECK add
    // a SET that changes the column's type is a rewrite: refused
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, dir, col("id") === 1L,
        Map("price" -> lit("not a number")))
    }
    // an unknown SET column is refused
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, dir, col("id") === 1L,
        Map("nope" -> lit(1.0)))
    }
  }

  test("versionAsOf: wall-clock time travel off manifest publish instants") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "v0"), dir)
    Thread.sleep(30)
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(30)
    Snapshots.commit(frame(10 until 15, "v1"), dir, "append")
    assert(Snapshots.versionAsOf(spark, dir, afterV0) === 0L)
    assert(Snapshots.versionAsOf(spark, dir, System.currentTimeMillis()) === 1L)
    assert(Snapshots.readVersionAsOf(spark, dir, afterV0).count() === 10L)
    // before the table existed: refused
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, dir, afterV0 - 3600000L)
    }
  }

  test("changeFeedSlice: metadata-only range is an empty batch; net-zero churn refuses") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "base"), dir) // v0
    // a CHECK add is genuinely metadata-only: the slice is None
    Snapshots.addCheckConstraint(spark, dir, "id_ok", "id >= 0") // v1
    assert(Snapshots.changeFeedSlice(spark, dir, 0L, 1L).isEmpty)
    // append + restore back: the endpoints are identical but the range
    // carried transient rows a CDC consumer never saw — the slice must
    // refuse loudly (rewrite-class contract), not emit an empty batch
    Snapshots.commit(frame(100 until 105, "extra"), dir, "append") // v2
    Snapshots.restore(spark, dir, 1L) // v3 — v1's exact file set
    val e = intercept[IllegalArgumentException] {
      Snapshots.changeFeedSlice(spark, dir, 1L, 3L)
    }
    assert(e.getMessage.contains("nets to zero"))
    // the single-version slices on either side still behave: the
    // append slice is a normal feed, the restore slice hits the
    // rewrite refusal
    assert(Snapshots.changeFeedSlice(spark, dir, 1L, 2L).get.count() === 5L)
    intercept[Exception] { Snapshots.changeFeedSlice(spark, dir, 2L, 3L) }
  }

  test("u3 demo: per-version aggregates over the sf0.001 orders") {
    val rows = Snapshots.u3TimeTravel(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    val (n0, n1, n2) = (rows(0).getLong(1), rows(1).getLong(1), rows(2).getLong(1))
    assert(n1 > n0)  // append added rows
    assert(n2 < n1)  // rewrite dropped the F rows
  }
}
