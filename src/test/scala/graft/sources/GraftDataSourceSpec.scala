package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The `graft` data source ([[GraftSource]]/[[GraftRelation]]):
  * format-reader and SQL-view results must equal the Scala read path
  * (deletion vectors applied, time travel honored), and pushed
  * filters must prune files through the manifest's stats, buckets,
  * and blooms without ever changing results.
  */
class GraftDataSourceSpec extends SparkSpec {

  private def frame(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, tag, i % 7)).toDF("id", "tag", "grp")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "tag", "grp").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("format read == Scala read, with masks and versionAsOf time travel") {
    val dir = graft.TempDirs.create("graft-ds-spec")
    Snapshots.commit(frame(0 until 500, "base"), dir, "overwrite")
    Snapshots.commit(frame(500 until 600, "late"), dir, "append")
    Snapshots.deleteWhere(spark, dir, col("id") % 9 === 0)
    val viaFormat = spark.read.format("graft").load(dir)
    assert(rows(viaFormat) === rows(Snapshots.readVersion(spark, dir)))
    // time travel: pre-append snapshot through the option
    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(dir)
    assert(rows(v0) === rows(Snapshots.readVersion(spark, dir, Some(0L))))
    // SQL view surface, with a WHERE (re-applied row-level + pushed)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ds_spec_t " +
      s"USING graft OPTIONS (path '$dir')")
    val viaSql = spark.sql("SELECT * FROM ds_spec_t WHERE tag = 'late'")
    assert(rows(viaSql) ===
      rows(Snapshots.readVersion(spark, dir).filter(col("tag") === "late")))
  }

  test("pushed filters prune files: range stats, and bucket+bloom equality") {
    val dir = graft.TempDirs.create("graft-ds-prune")
    // two disjoint id ranges in separate files with footer stats
    Snapshots.commit(frame(0 until 1000, "lo").coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.commit(frame(100000 until 101000, "hi").coalesce(1), dir,
      "append", statsColumns = Seq("id"))
    import org.apache.spark.sql.sources.{GreaterThan, EqualTo}
    val pruned = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(GreaterThan("id", 50000L)))
    assert(pruned.inputFiles.length === 1)
    assert(Snapshots.readVersionFiltered(spark, dir, None, Nil)
      .inputFiles.length === 2)
    // results identical through the format reader despite pruning
    val viaFormat = spark.read.format("graft").load(dir)
      .filter(col("id") > 50000L)
    assert(rows(viaFormat) ===
      rows(Snapshots.readVersion(spark, dir).filter(col("id") > 50000L)))
    // bucketed + bloomed table: equality on the bucket key scans ≤ 1
    // bucket file; equality on the bloomed column prunes the rest
    val bdir = graft.TempDirs.create("graft-ds-bucket")
    Snapshots.commit(frame(0 until 2000, "b"), bdir, "overwrite",
      bucketBy = Some(("id", 8)), bloomColumns = Seq("tag"))
    val byKey = Snapshots.readVersionFiltered(spark, bdir, None,
      Seq(EqualTo("id", 77L)))
    assert(byKey.inputFiles.length === 1)
    val byBloom = Snapshots.readVersionFiltered(spark, bdir, None,
      Seq(EqualTo("tag", "nope")))
    assert(byBloom.inputFiles.isEmpty) // every file pruned
    assert(spark.read.format("graft").load(bdir)
      .filter(col("id") === 77L).count() === 1L)
  }

  test("a predicate that misses every file reads no file and serves the " +
    "schema'd empty frame on every pruned read") {
    val dir = graft.TempDirs.create("graft-ds-allpruned")
    Snapshots.commit(frame(0 until 100, "a").coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"), bucketBy = Some(("id", 4)))
    Snapshots.commit(frame(100 until 200, "b").coalesce(1), dir, "append",
      statsColumns = Seq("id"))
    val schema = Snapshots.readVersion(spark, dir).schema
    /** The data bytes `df`'s collect reads, and its rows. */
    def scan(df: org.apache.spark.sql.DataFrame): (Long, Int) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(t.taskMetrics).foreach(m =>
            bytes.addAndGet(m.inputMetrics.bytesRead))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val n = df.collect().length
        Thread.sleep(500) // let the task-end events drain
        (bytes.get, n)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val pruned = Snapshots.readVersionPruned(spark, dir, 1L, "id", 5000L, 6000L)
    val keys = Snapshots.readVersionKeys(spark, dir, "id", Seq(5000L, 6001L))
    val viaFormat = spark.read.format("graft").load(dir)
      .filter(col("id") > 5000L)
    Seq(pruned, keys).foreach(df => assert(df.inputFiles.isEmpty))
    Seq(pruned, keys, viaFormat).foreach { df =>
      assert(df.schema === schema)
      assert(scan(df) === ((0L, 0)))
    }
    // the same reads over a matching predicate do read data
    assert(scan(spark.read.format("graft").load(dir).filter(col("id") > 150L))
      ._2 === 49)
  }

  test("write path: append/overwrite/ErrorIfExists/Ignore with index options") {
    import org.apache.spark.sql.SaveMode
    val dir = graft.TempDirs.create("graft-ds-write")
    frame(0 until 100, "a").write.format("graft")
      .option("statsColumns", "id").option("bucketBy", "id:4").save(dir)
    frame(100 until 150, "b").write.format("graft")
      .mode(SaveMode.Append).save(dir)
    assert(Snapshots.latestVersion(spark, dir).get === 1L)
    assert(rows(spark.read.format("graft").load(dir)) ===
      rows(frame(0 until 150, "x").withColumn("tag",
        when(col("id") < 100, "a").otherwise("b"))))
    val m = Snapshots.readManifest(spark, dir, 1L)
    assert(m.bucketSpec === Some(("id", 4))) // layout rode the write
    assert(m.stats.keys.exists(_._2 == "id"))
    intercept[IllegalArgumentException] {
      frame(0 until 5, "x").write.format("graft")
        .mode(SaveMode.ErrorIfExists).save(dir)
    }
    frame(0 until 5, "x").write.format("graft")
      .mode(SaveMode.Ignore).save(dir) // no-op on existing table
    assert(Snapshots.latestVersion(spark, dir).get === 1L)
    frame(900 until 910, "ow").write.format("graft")
      .mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft").load(dir).count() === 10L)
  }

  test("SQL INSERT INTO / INSERT OVERWRITE commit atomically through the view") {
    val dir = graft.TempDirs.create("graft-ds-insert")
    frame(0 until 100, "seed").write.format("graft").save(dir)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ds_ins_t " +
      s"USING graft OPTIONS (path '$dir')")
    spark.sql(
      "INSERT INTO ds_ins_t SELECT id + 1000, 'ins', grp FROM ds_ins_t WHERE id < 10")
    assert(Snapshots.latestVersion(spark, dir) === Some(1L))
    assert(Snapshots.readVersion(spark, dir).count() === 110L)
    assert(Snapshots.readVersion(spark, dir)
      .filter(col("tag") === "ins").count() === 10L)
    // the first view stays pinned to v0 (snapshot isolation) — a
    // fresh view resolves the post-insert latest for the overwrite
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ds_ins_t2 " +
      s"USING graft OPTIONS (path '$dir')")
    spark.sql(
      "INSERT OVERWRITE ds_ins_t2 SELECT id, 'ow', grp FROM ds_ins_t2 WHERE id >= 1000")
    assert(Snapshots.latestVersion(spark, dir) === Some(2L))
    val fin = Snapshots.readVersion(spark, dir).collect()
    assert(fin.length === 10 && fin.forall(_.getString(1) == "ow"))
    // prior snapshots still serve (the insert was a plain commit)
    assert(Snapshots.readVersion(spark, dir, Some(0L)).count() === 100L)
  }

  test("COUNT(*) answers from the ledger: LocalRelation plan, exact across deletes") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = graft.TempDirs.create("graft-ds-count")
    Snapshots.commit(frame(0 until 400, "a"), dir, "overwrite")
    Snapshots.deleteWhere(spark, dir, col("id") % 4 === 0)
    def optimized(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan
    val df = spark.read.format("graft").load(dir)
    val cnt = df.groupBy().count()
    assert(optimized(cnt).collectFirst { case l: LocalRelation => l }.nonEmpty,
      "COUNT(*) over a graft relation must rewrite to a LocalRelation")
    assert(cnt.collect().head.getLong(0) === 300L) // 400 − 100 masked
    assert(df.count() === 300L)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ds_cnt_t " +
      s"USING graft OPTIONS (path '$dir')")
    val viaSql = spark.sql("SELECT COUNT(*) AS n FROM ds_cnt_t")
    assert(optimized(viaSql).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(viaSql.collect().head.getLong(0) === 300L)
    // NOT rewritten (and still exact): a filter, count(col), group-by
    val filtered = df.filter(col("tag") === "a").groupBy().count()
    assert(optimized(filtered).collectFirst { case l: LocalRelation => l }.isEmpty)
    assert(filtered.collect().head.getLong(0) === 300L)
    // COUNT(id) on the NON-nullable id: Catalyst's NullPropagation
    // legally rewrites it to COUNT(1) first, so the ledger serves it —
    // still exact (non-null count == row count)
    val countNonNull = spark.sql("SELECT COUNT(id) AS n FROM ds_cnt_t")
    assert(optimized(countNonNull).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(countNonNull.collect().head.getLong(0) === 300L)
    // COUNT(tag) on a NULLABLE column must NOT be served by the ledger
    val countCol = spark.sql("SELECT COUNT(tag) AS n FROM ds_cnt_t")
    assert(optimized(countCol).collectFirst { case l: LocalRelation => l }.isEmpty)
    assert(countCol.collect().head.getLong(0) === 300L)
    val grouped = spark.sql("SELECT tag, COUNT(*) AS n FROM ds_cnt_t GROUP BY tag")
    assert(optimized(grouped).collectFirst { case l: LocalRelation => l }.isEmpty)
    assert(grouped.collect().map(_.getLong(1)).sum === 300L)
  }

  test("timestampAsOf parses millis, ISO instant, UTC wall clock, and bare date") {
    assert(GraftSource.parseMillis("1723600000000") === 1723600000000L)
    assert(GraftSource.parseMillis("2026-08-14T00:00:00Z") ===
      java.time.Instant.parse("2026-08-14T00:00:00Z").toEpochMilli)
    assert(GraftSource.parseMillis("2026-08-14 00:00:00") ===
      java.time.Instant.parse("2026-08-14T00:00:00Z").toEpochMilli)
    assert(GraftSource.parseMillis("2026-08-14") ===
      java.time.Instant.parse("2026-08-14T00:00:00Z").toEpochMilli)
  }

  test("an in-flight txn head never serves: reads, ledger count, and refresh fold to live") {
    val dir = graft.TempDirs.create("graft-ds-torn")
    Snapshots.commit(frame(0 until 100, "live"), dir, "overwrite")
    val marker = new org.apache.hadoop.fs.Path(
      graft.TempDirs.create("graft-ds-torn-txn"), "dead.final").toString
    Snapshots.commit(frame(500 until 600, "torn"), dir, "append",
      pending = Some(marker)) // crashed txn: marker never decided
    // format reader resolves "latest" past the in-flight head
    val df = spark.read.format("graft").load(dir)
    assert(rows(df) === rows(Snapshots.readVersion(spark, dir)))
    assert(df.count() === 100L) // ledger count from the LIVE manifest
    // explicit versionAsOf of the uncommitted version is refused
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1").load(dir)
        .schema // schema forces the manifest read
    }
    // a view refresh folds only to live history (no-op here)
    val vdir = graft.TempDirs.create("graft-ds-torn-view")
    val vdef = IncrementalViews.ViewDef(Seq("tag"), Seq(("grp", "total")))
    IncrementalViews.bootstrap(spark, dir, vdir, vdef)
    assert(IncrementalViews.refreshedVersion(spark, vdir) === 0L)
    assert(IncrementalViews.refresh(spark, dir, vdir, vdef) === 0L)
  }
}
