package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `readStream.format("graft")`: the streaming half of the data
  * source. Offsets are table versions; micro-batches are manifest-diff
  * reads — stream == batch is the core assertion, now through the
  * PUBLIC source API (the r8 StreamingChangeFeedSpec cases re-run
  * through readStream instead of the Scala helpers).
  */
class GraftStreamSourceSpec extends SparkSpec {

  private def frame(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  test("appends mode: initial snapshot then per-commit tail == batch reads") {
    val dir = graft.TempDirs.create("gss-app")
    val ckpt = graft.TempDirs.create("gss-app-ckpt")
    Snapshots.commit(frame(0 until 20, "base"), dir) // v0
    val stream = spark.readStream.format("graft").load(dir)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("gss_app")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gss_app").count() === 20L)
      Snapshots.commit(frame(20 until 30, "late"), dir, "append") // v1
      Snapshots.commit(frame(30 until 35, "late2"), dir, "append") // v2
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gss_app").select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val want = Snapshots.readVersion(spark, dir).select("id", "tag")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got === want.toSeq)
  }

  test("changeFeed mode: _change_type-tagged stream == one readChangeFeed call") {
    val dir = graft.TempDirs.create("gss-cdc")
    val ckpt = graft.TempDirs.create("gss-cdc-ckpt")
    Snapshots.commit(frame(0 until 20, "base"), dir) // v0
    val stream = spark.readStream.format("graft")
      .option("changeFeed", "true").load(dir)
    assert(stream.schema.fieldNames.contains("_change_type"))
    val q = stream.writeStream.format("memory").queryName("gss_cdc")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // initial load: the full snapshot as inserts
      assert(spark.table("gss_cdc").count() === 20L)
      assert(spark.table("gss_cdc")
        .filter(col("_change_type") =!= "insert").count() === 0L)
      Snapshots.commit(frame(20 until 30, "late"), dir, "append")   // v1
      q.processAllAvailable()
      Snapshots.deleteWhere(spark, dir,
        col("id") % 4 === 0L && col("id") < 20L)                    // v2
      q.processAllAvailable()
      Snapshots.commit(frame(30 until 35, "late2"), dir, "append")  // v3
      q.processAllAvailable()
    } finally q.stop()
    val tail = spark.table("gss_cdc")
      .filter(col("tag") =!= "base" || col("_change_type") === "delete")
      .select("id", "tag", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val oneCall = Snapshots.readChangeFeed(spark, dir, 0L, 3L)
      .select("id", "tag", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(tail === oneCall.toSeq)
    // deletes carry FULL rows (provenance readback), not just keys
    assert(tail.filter(_._3 == "delete").forall(_._2 == "base"))
  }

  test("maxVersionsPerTrigger bounds commit fusion per micro-batch") {
    val dir = graft.TempDirs.create("gss-rate")
    val ckpt = graft.TempDirs.create("gss-rate-ckpt")
    Snapshots.commit(frame(0 until 5, "base"), dir) // v0
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0)).toSeq.sorted
        batches.synchronized { if (ids.nonEmpty) batches += ids }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches.size === 1) // initial load (uncapped by design)
      (1 to 3).foreach(i =>
        Snapshots.commit(frame(i * 10 until i * 10 + 2, s"b$i"), dir, "append"))
      q.processAllAvailable()
    } finally q.stop()
    // the three appended versions arrived in THREE bounded micro-batches
    assert(batches.size === 4, batches.toString)
    assert(batches.drop(1).map(_.size) === Seq(2, 2, 2))
  }

  test("sink appId falls back to session checkpoint root + queryName") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = spark.sqlContext
    val dir = graft.TempDirs.create("gss-sink-root")
    val root = graft.TempDirs.create("gss-sink-rootckpt")
    spark.conf.set("spark.sql.streaming.checkpointLocation", root)
    try {
      val input = MemoryStream[Long]
      // no per-query checkpointLocation, no explicit appId: the
      // stable identity is <session root>/<queryName> — the same path
      // StreamingQueryManager derives for the checkpoint itself
      def start() = input.toDF().toDF("id")
        .writeStream.format("graft")
        .queryName("gss_root_sink")
        .outputMode("append")
        .start(dir)
      val q = start()
      try {
        input.addData(0L until 5L: _*)
        q.processAllAvailable()
      } finally q.stop()
      // restart: same derived identity — no redelivery
      val q2 = start()
      try {
        input.addData(5L until 8L: _*)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(Snapshots.readVersion(spark, dir).select("id")
        .collect().map(_.getLong(0)).sorted === (0L until 8L).toArray)
      // without ANY resolvable identity the sink still refuses loudly
      val input2 = MemoryStream[Long]
      spark.conf.unset("spark.sql.streaming.checkpointLocation")
      val e = intercept[Exception] {
        val qq = input2.toDF().toDF("id")
          .writeStream.format("graft").outputMode("append")
          .start(graft.TempDirs.create("gss-sink-noid"))
        try qq.processAllAvailable() finally qq.stop()
      }
      assert(e.getMessage.contains("appId") ||
        Option(e.getCause).exists(_.getMessage.contains("appId")))
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("writeStream.format(graft): exactly-once sink through the public API") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = spark.sqlContext
    val dir = graft.TempDirs.create("gss-sink")
    val ckpt = graft.TempDirs.create("gss-sink-ckpt")
    val input = MemoryStream[Long]
    def start() = input.toDF().toDF("id")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start(dir)
    val q = start()
    try {
      input.addData(0L until 10L: _*)
      q.processAllAvailable()
      input.addData(10L until 15L: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.readVersion(spark, dir).count() === 15L)
    // restart on the same checkpoint: no redelivery (txn watermark)
    val q2 = start()
    try {
      input.addData(15L until 18L: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val got = Snapshots.readVersion(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(got === (0L until 18L).toArray)
    // every micro-batch was one atomic append commit with the
    // watermark riding it, keyed by the checkpoint-derived appId
    // (query-unique: a second query on another checkpoint gets its
    // own watermark instead of silently no-oping under this one's)
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m.txns.keys.exists(_.startsWith("sink-")), m.txns.toString)
    // source half composes: the graft table written by the sink is
    // itself tailable
    val rt = spark.readStream.format("graft").load(dir)
    assert(rt.isStreaming)
  }

  test("sink sortBuckets/sortAlso: streamed commits carry sorted " +
    "markers and the aligned read over the streamed table is " +
    "sort-free (r16)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    implicit val ctx = spark.sqlContext
    val dir = graft.TempDirs.create("gss-sorted-sink")
    val ckpt = graft.TempDirs.create("gss-sorted-ckpt")
    val input = MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("k", "t", "v")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("bucketBy", "k:4")
      .option("sortBuckets", "true")
      .option("sortAlso", "t")
      .outputMode("append")
      .start(dir)
    try {
      // two micro-batches → each bucket accretes one sorted file per
      // batch; arrival order is deliberately shuffled
      input.addData((0L until 200L).reverse.map(i => (i % 13, i, i * 2)): _*)
      q.processAllAvailable()
      input.addData((200L until 400L).reverse.map(i => (i % 13, i, i * 2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m.files.nonEmpty && m.files.forall(m.buckets.contains),
      "every streamed file must carry its bucket id")
    assert(m.files.forall(r => m.sortedFiles.get(r).contains("k,t")),
      s"every streamed file must carry the (k,t) sorted marker: " +
        s"${m.sortedFiles}")
    // the order-sensitive aligned operator streams the streamed table
    // with ZERO Sort — no compactBucketed(sort) pass ever ran
    val run = Snapshots.bucketAlignedRunning(spark, dir, "t",
      Seq(("sum", "v", "rs")))
    assert(Snapshots.alignedShuffleFree(run) &&
      Snapshots.alignedSortFree(run),
      "a sorted streaming sink must serve the skip-sort path directly")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(asc_nulls_first("t"))
    val expect = Snapshots.readVersion(spark, dir)
      .withColumn("rs", sum("v").over(w))
    assert(run.exceptAll(expect).isEmpty && expect.exceptAll(run).isEmpty,
      "streamed sorted layout parity")
    // contract violations refuse at the first batch, loudly: sort
    // without a bucket spec is a misuse (same rule as the batch writer)
    val q2 = input.toDF().toDF("k", "t", "v")
      .writeStream.format("graft")
      .option("checkpointLocation", graft.TempDirs.create("gss-bad-ckpt"))
      .option("sortBuckets", "true")
      .outputMode("append")
      .start(graft.TempDirs.create("gss-bad-sink"))
    try {
      input.addData((400L, 400L, 800L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
  }

  test("changeFeed mode survives a metadata-only commit (empty batch, no wedge)") {
    val dir = graft.TempDirs.create("gss-meta")
    val ckpt = graft.TempDirs.create("gss-meta-ckpt")
    Snapshots.commit(frame(0 until 10, "base"), dir) // v0
    val stream = spark.readStream.format("graft")
      .option("changeFeed", "true").load(dir)
    val q = stream.writeStream.format("memory").queryName("gss_meta")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gss_meta").count() === 10L)
      // a routine metadata operation: adds no files, no dvs — the
      // stream must deliver an EMPTY micro-batch for it, not wedge on
      // readChangeFeed's "no changes" refusal (the offset is logged
      // before getBatch, so a throw would replay forever)
      Snapshots.addColumns(spark, dir, Seq(
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))) // v1, metadata-only
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
      // and the stream still makes progress past it
      Snapshots.deleteWhere(spark, dir, col("id") === 3L) // v2
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    assert(spark.table("gss_meta")
      .filter(col("_change_type") === "delete").count() === 1L)
  }

  test("two sink queries with distinct checkpoints both land (no watermark clash)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = spark.sqlContext
    val dir = graft.TempDirs.create("gss-sink2")
    // query A: 10 rows over batchIds 0..0 on checkpoint A
    val inA = MemoryStream[Long]
    val qA = inA.toDF().toDF("id").writeStream.format("graft")
      .option("checkpointLocation", graft.TempDirs.create("gss-sink2-ckA"))
      .outputMode("append").start(dir)
    try { inA.addData(0L until 10L: _*); qA.processAllAvailable() }
    finally qA.stop()
    // query B: a FRESH checkpoint, so its batchIds restart at 0 — with
    // a constant default appId its first batch would silently no-op
    // under query A's watermark; the checkpoint-derived default keys
    // the two queries separately
    val inB = MemoryStream[Long]
    val qB = inB.toDF().toDF("id").writeStream.format("graft")
      .option("checkpointLocation", graft.TempDirs.create("gss-sink2-ckB"))
      .outputMode("append").start(dir)
    try { inB.addData(100L until 105L: _*); qB.processAllAvailable() }
    finally qB.stop()
    val got = Snapshots.readVersion(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(got === ((0L until 10L) ++ (100L until 105L)).toArray)
  }

  test("maxVersionsPerTrigger still caps the first trigger after a restart") {
    val dir = graft.TempDirs.create("gss-rate2")
    val ckpt = graft.TempDirs.create("gss-rate2-ckpt")
    Snapshots.commit(frame(0 until 4, "base"), dir) // v0
    val batches = scala.collection.mutable.ArrayBuffer.empty[Int]
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count().toInt
          batches.synchronized { if (n > 0) batches += n }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // initial load, committed cleanly
    batches.synchronized(batches.clear())
    // backlog of 3 commits lands while the query is DOWN; on restart
    // the first getOffset must still be capped (the processed floor is
    // seeded from the restored committed offset, not left at -1)
    (1 to 3).foreach(i =>
      Snapshots.commit(frame(i * 10 until i * 10 + 2, s"b$i"), dir, "append"))
    run()
    assert(batches.toSeq === Seq(2, 2, 2), batches.toString)
  }

  test("a removal-only commit fails the changeFeed stream loudly, never silently") {
    val dir = graft.TempDirs.create("gss-rewrite")
    val ckpt = graft.TempDirs.create("gss-rewrite-ckpt")
    Snapshots.commit(frame(0 until 10, "base"), dir) // v0
    val stream = spark.readStream.format("graft")
      .option("changeFeed", "true").load(dir)
    val q = stream.writeStream.format("memory").queryName("gss_rw")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gss_rw").count() === 10L)
      // a REMOVAL-only commit (overwrite that drops rows) breaks the
      // feed contract — the stream must FAIL with the rewrite error,
      // not deliver an empty batch that silently skips the retraction
      Snapshots.commit(frame(0 until 3, "rewritten"), dir, "overwrite") // v1
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = q.exception.map(_.toString).getOrElse("")
      assert(msg.contains("change feed unavailable across rewrites"), msg)
    } finally q.stop()
  }

  test("mid-stream type widening: in-range values keep flowing, cast to the pinned type") {
    val dir = graft.TempDirs.create("gss-widen")
    val ckpt = graft.TempDirs.create("gss-widen-ckpt")
    val s = spark
    import s.implicits._
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("id", "tag")
      .select(col("id").cast("int"), col("tag")), dir) // v0, id: int
    val stream = spark.readStream.format("graft").load(dir)
    assert(stream.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val q = stream.writeStream.format("memory").queryName("gss_widen")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // widen id to bigint (metadata-only, empty batch), then append
      // LONG values that still fit int: the batch arrives cast back
      // to the pinned int type instead of failing the engine's schema
      // assertion (the widened type applies on restart)
      Snapshots.widenColumn(spark, dir, "id",
        org.apache.spark.sql.types.LongType) // v1
      Snapshots.commit(Seq((3L, "c"), (4L, "d")).toDF("id", "tag"),
        dir, "append") // v2, long-typed files
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    assert(spark.table("gss_widen").select("id").collect()
      .map(_.getInt(0)).sorted === Array(1, 2, 3, 4))
    // a RESTARTED stream picks up the widened schema
    val restarted = spark.readStream.format("graft").load(dir)
    assert(restarted.schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("metadata checkpoints landing mid-stream never perturb batches: " +
    "the restart across the boundary is identical to a no-checkpoint " +
    "control, and the sink replans checkpointed") {
    // the round's two features composed: auto-cadence metadata
    // checkpoints (u46) write under _manifests/checkpoints/ while a
    // stream tails the same table's versions — the stream's offsets,
    // batch boundaries and rows must be exactly the control run's,
    // and a checkpoint-PLANNED read of what the stream wrote must
    // equal the full read
    def runOnce(dir: String, ckpt: String,
                rec: scala.collection.mutable.Map[Long, Seq[Long]]): Unit = {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val ids = batch.select("id").collect().map(_.getLong(0)).sorted
          rec.synchronized { rec(id) = rec.getOrElse(id, Nil) ++ ids }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val control = graft.TempDirs.create("gss-ckpt-control")
    val ckptd = graft.TempDirs.create("gss-ckpt-table")
    val recC = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val recK = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val ckC = graft.TempDirs.create("gss-ckpt-control-sc")
    val ckK = graft.TempDirs.create("gss-ckpt-table-sc")
    // identical commit histories; the checkpointed table additionally
    // materializes a metadata checkpoint on EVERY commit mid-stream
    Snapshots.commit(frame(0 until 10, "base"), control)
    Snapshots.commit(frame(0 until 10, "base"), ckptd)
    Snapshots.writeMetadataCheckpoint(spark, ckptd)
    runOnce(control, ckC, recC)
    runOnce(ckptd, ckK, recK)
    spark.conf.set("graft.checkpoint.autoEvery", "1")
    try {
      Snapshots.commit(frame(10 until 16, "mid"), ckptd, "append")
      Snapshots.commit(frame(16 until 20, "late"), ckptd, "append")
    } finally spark.conf.unset("graft.checkpoint.autoEvery")
    Snapshots.commit(frame(10 until 16, "mid"), control, "append")
    Snapshots.commit(frame(16 until 20, "late"), control, "append")
    // every commit got its auto-checkpoint
    assert(new java.io.File(ckptd, "_manifests/checkpoints/ckpt-v000001")
      .exists() &&
      new java.io.File(ckptd, "_manifests/checkpoints/ckpt-v000002").exists())
    // restart both streams across the checkpoint boundary
    runOnce(control, ckC, recC)
    runOnce(ckptd, ckK, recK)
    assert(recK.toMap === recC.toMap,
      "batch ids and rows must be identical with and without metadata " +
        "checkpoints landing mid-stream")
    assert(recK.values.flatten.toSeq.sorted === (0L until 20L).toSeq)
    // and the checkpoint-planned read of the streamed table serves the
    // full-read rows exactly (the versions between checkpoints replay
    // through the tail path)
    val planned = Snapshots.readVersionCheckpointedProbes(spark, ckptd, Nil, None, Nil)
    val full = Snapshots.readVersion(spark, ckptd)
    assert(planned.collect().toSet === full.collect().toSet)
    // point-lookup planning through the same checkpoints agrees too
    val point = Snapshots.readVersionCheckpointedProbes(
      spark, ckptd, Seq("id" -> Seq(17L)))
    assert(point.collect().map(_.getLong(0)).toSeq === Seq(17L))
  }

  test("restart from checkpoint resumes at the stored version offset") {
    val dir = graft.TempDirs.create("gss-restart")
    val ckpt = graft.TempDirs.create("gss-restart-ckpt")
    Snapshots.commit(frame(0 until 10, "base"), dir) // v0
    // foreachBatch sink: checkpoint-recoverable (the memory sink is not)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = batch.select("id").collect().map(_.getLong(0))
          seen.synchronized { seen ++= ids }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(seen.sorted === (0L until 10L).toSeq)
    Snapshots.commit(frame(10 until 16, "late"), dir, "append") // v1
    // a NEW query on the SAME checkpoint: only the new version arrives
    seen.clear()
    run()
    assert(seen.sorted === (10L until 16L).toSeq)
  }
}
