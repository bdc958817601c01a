package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hive-style partition columns in the graft layer: `k=v/` data dirs,
  * values kept in the files, per-file min=max partition stats driving
  * the shared pruning machinery, spec carry + conflict rules like
  * bucketing's.
  */
class PartitionedTableSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("partitioned commit writes k=v dirs, keeps values, round-trips") {
    val dir = graft.TempDirs.create("part-basic")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.partitionCols === Seq("o_orderstatus"))
    // every file sits in a plain k=v dir (no shadow prefix leaks)
    assert(m.files.nonEmpty)
    assert(m.files.forall(_.contains("/o_orderstatus=")))
    assert(!m.files.exists(_.contains("__p_")))
    // values survive IN the data (not only in the path)
    val back = Snapshots.readVersion(spark, dir)
    assert(back.schema.fieldNames.contains("o_orderstatus"))
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
    // each file carries an exact min=max stat for the partition col
    m.files.foreach { f =>
      val st = m.stats((f, "o_orderstatus"))
      assert(st.min === st.max)
    }
    // per-file row accounting sums to the ledger
    assert(m.fileRows.keySet === m.files.toSet)
    assert(m.fileRows.values.sum === m.dataRows)
  }

  test("partition predicates prune the scan to matching dirs") {
    val dir = graft.TempDirs.create("part-prune")
    Snapshots.commit(graft.Tables.orders(spark, sf), dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    val total = m.files.size
    val pruned = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("o_orderstatus", "O")))
    assert(pruned.inputFiles.length < total)
    assert(pruned.inputFiles.forall(_.contains("o_orderstatus=O")))
    // and through the data source's pushed-filter path
    val viaDs = spark.read.format("graft").load(dir)
      .filter(col("o_orderstatus") === "O")
    val plain = spark.read.format("graft").load(dir)
      .where("o_orderstatus = 'O'").count()
    assert(viaDs.count() === plain)
  }

  test("date partition columns prune ranges via epoch-day stats") {
    val dir = graft.TempDirs.create("part-date")
    import spark.implicits._
    val df = Seq(
      ("2026-01-01", 1L), ("2026-01-01", 2L),
      ("2026-01-02", 3L), ("2026-01-03", 4L))
      .toDF("d", "v").select(to_date(col("d")).as("day"), col("v"))
      .coalesce(1)
    Snapshots.commit(df, dir, "overwrite", partitionBy = Seq("day"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.files.size === 3)
    val lo = java.sql.Date.valueOf("2026-01-02")
    val pruned = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("day", lo)))
    assert(pruned.inputFiles.length === 2)
    assert(pruned.where(s"day >= DATE'2026-01-02'").count() === 2)
  }

  test("append carries the spec; conflicts and NULL partitions refused") {
    val dir = graft.TempDirs.create("part-rules")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    // matching partitioned append: files join the layout
    val late = orders.limit(50)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    Snapshots.commit(late, dir, "append", partitionBy = Seq("o_orderstatus"))
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.partitionCols === Seq("o_orderstatus"))
    assert(m1.files.forall(_.contains("/o_orderstatus=")))
    // unpartitioned append: allowed, lands flat, spec kept
    Snapshots.commit(late.withColumn("o_orderkey",
      col("o_orderkey") + lit(1L)), dir, "append")
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.partitionCols === Seq("o_orderstatus"))
    assert(m2.files.exists(!_.contains("o_orderstatus=")))
    // a DIFFERENT spec on an append EVOLVES the layout (old files
    // keep pruning by their own recorded stats — see the dedicated
    // partition-evolution test); the manifest adopts the new spec
    val evolved = late.withColumn("o_orderkey", col("o_orderkey") + lit(7L))
    Snapshots.commit(evolved, dir, "append", partitionBy = Seq("o_orderpriority"))
    val m3 = Snapshots.readManifest(spark, dir, 3L)
    assert(m3.partitionCols === Seq("o_orderpriority"))
    // NULL partition value refused, no residue
    val withNull = orders.limit(5)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 2 === 0, col("o_orderstatus")))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(withNull, graft.TempDirs.create("part-null"),
        "overwrite", partitionBy = Seq("o_orderstatus"))
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("grouped and filtered COUNT(*) answer from the manifest (LocalRelation)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = graft.TempDirs.create("part-count")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    // a matching partitioned append extends the accounting
    Snapshots.commit(orders.limit(60)
        .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L)),
      dir, "append", partitionBy = Seq("o_orderstatus"))
    def optimized(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW part_cnt " +
      s"USING graft OPTIONS (path '$dir')")
    val df = spark.read.format("graft").load(dir)
    val expect = orders.unionByName(orders.limit(60))
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // grouped: SELECT p, COUNT(*) GROUP BY p → LocalRelation
    val grouped = spark.sql(
      "SELECT o_orderstatus, COUNT(*) AS n FROM part_cnt GROUP BY o_orderstatus")
    assert(optimized(grouped).collectFirst { case l: LocalRelation => l }.nonEmpty,
      "grouped count on a partition column must serve from the manifest")
    assert(grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === expect)
    // DataFrame groupBy().count() too
    val gdf = df.groupBy("o_orderstatus").count()
    assert(optimized(gdf).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(gdf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === expect)

    // filtered total on the partition column → LocalRelation
    val filtered = spark.sql(
      "SELECT COUNT(*) AS n FROM part_cnt WHERE o_orderstatus = 'O'")
    assert(optimized(filtered).collectFirst { case l: LocalRelation => l }.nonEmpty,
      "partition-predicate count must serve from the manifest")
    assert(filtered.collect().head.getLong(0) === expect("O"))
    // no-match filter still returns one zero row
    val none = spark.sql(
      "SELECT COUNT(*) AS n FROM part_cnt WHERE o_orderstatus = 'ZZ'")
    assert(optimized(none).collectFirst { case l: LocalRelation => l }.nonEmpty)
    assert(none.collect().head.getLong(0) === 0L)

    // a predicate on a NON-constant column must take the scan path
    val scanPath = spark.sql(
      "SELECT COUNT(*) AS n FROM part_cnt WHERE o_orderkey > 100")
    assert(optimized(scanPath).collectFirst { case l: LocalRelation => l }.isEmpty)
    // after a DV delete the grouped rewrite must bail — and stay exact
    Snapshots.deleteWhere(spark, dir, col("o_orderkey") % 5 === 0)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW part_cnt2 " +
      s"USING graft OPTIONS (path '$dir')")
    val afterDv = spark.sql(
      "SELECT o_orderstatus, COUNT(*) AS n FROM part_cnt2 GROUP BY o_orderstatus")
    assert(optimized(afterDv).collectFirst { case l: LocalRelation => l }.isEmpty,
      "masked rows make per-group accounting unknown: scan path")
    val expect2 = orders.unionByName(orders.limit(60))
      .filter(col("o_orderkey") % 5 =!= 0)
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterDv.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === expect2)
  }

  test("DML mask scans prune by the predicate (partition/stat-covered)") {
    val dir = graft.TempDirs.create("part-dml-prune")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"), statsColumns = Seq("o_orderkey"))
    // count the parquet data-file reads a partition-predicate DELETE
    // performs, via the scan metrics on a probe with the same pruning
    val m = Snapshots.readManifest(spark, dir, 0L)
    val total = m.files.size
    // the DML candidate planner itself: equality on the partition
    // column keeps only that partition's files; an impossible
    // predicate keeps none (the scan serves the schema'd empty
    // frame); a range on the stats column narrows; an unprunable
    // shape keeps everything — with or without a covering checkpoint
    def pruned(p: org.apache.spark.sql.Column) =
      Snapshots.dmlCandidates(spark, dir, Snapshots.parseManifest(spark, dir, 0L), p)
    def checkPlanner(): Seq[String] = {
      val onlyF = pruned(col("o_orderstatus") === "F")
      assert(onlyF.nonEmpty && onlyF.size < total)
      assert(onlyF.forall(_.contains("o_orderstatus=F")))
      assert(pruned(col("o_orderstatus") === "ZZ").isEmpty)
      assert(pruned(col("o_orderkey") < -5).isEmpty)
      assert(pruned(col("o_orderkey") % 10 === 3).size === total)
      onlyF
    }
    val onlyF = checkPlanner()
    Snapshots.writeMetadataCheckpoint(spark, dir)
    assert(checkPlanner().toSet === onlyF.toSet)
    // conjunction composes; the unprunable conjunct adds nothing
    val both = pruned(col("o_orderstatus") === "F" &&
      col("o_orderkey") % 10 === 3)
    assert(both.toSet === onlyF.toSet)
    // end to end: the partition-predicate DELETE and UPDATE stay exact
    Snapshots.deleteWhere(spark, dir, col("o_orderstatus") === "F")
    Snapshots.updateWhere(spark, dir,
      col("o_orderstatus") === "P" && col("o_orderkey") % 2 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))
    val want = orders.filter(col("o_orderstatus") =!= "F")
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "P" && col("o_orderkey") % 2 === 0,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
    val got = Snapshots.readVersion(spark, dir)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("partitionBy × bucketBy compose: k=v dirs with one bucket file each") {
    val dir = graft.TempDirs.create("part-bucket")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"), bucketBy = Some(("o_orderkey", 8)))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.partitionCols === Seq("o_orderstatus"))
    assert(m.bucketSpec === Some(("o_orderkey", 8)))
    // every file: inside a k=v dir, carrying its bucket id, with the
    // exact partition stat; at most one file per (partition, bucket)
    assert(m.files.nonEmpty && m.files.forall(_.contains("/o_orderstatus=")))
    assert(m.buckets.keySet === m.files.toSet)
    assert(m.files.forall(f => m.stats.contains((f, "o_orderstatus"))))
    val perPartBucket = m.files.groupBy(f =>
      (f.split('/').find(_.startsWith("o_orderstatus=")).get, m.buckets(f)))
    assert(perPartBucket.values.forall(_.size === 1))
    // round trip
    val back = Snapshots.readVersion(spark, dir)
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
    // composed pruning: partition predicate ∧ key lookup narrows on
    // BOTH axes — only O files, fewer than the O partition holds
    val nPartO = m.files.count(_.contains("o_orderstatus=O"))
    val keys: Seq[Any] = Seq(1L, 2L, 3L)
    val pruned = Snapshots.readVersionFiltered(spark, dir, None, Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderstatus", "O"),
      org.apache.spark.sql.sources.In("o_orderkey", keys.toArray)))
    assert(pruned.inputFiles.nonEmpty)
    assert(pruned.inputFiles.forall(_.contains("o_orderstatus=O")))
    assert(pruned.inputFiles.length < nPartO,
      s"${pruned.inputFiles.length} vs partition's $nPartO files")
    assert(pruned.inputFiles.length <= keys.size)
    // bucketed point lookup works inside the composed layout
    val hit = Snapshots.readVersionKeys(spark, dir, "o_orderkey", Seq(1L))
    assert(hit.count() === orders.filter(col("o_orderkey") === 1L).count())
    // composed append carries both; conflicting bucket spec refused
    val late = orders.limit(40)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    Snapshots.commit(late, dir, "append",
      partitionBy = Seq("o_orderstatus"), bucketBy = Some(("o_orderkey", 8)))
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.partitionCols === Seq("o_orderstatus") &&
      m1.bucketSpec === Some(("o_orderkey", 8)))
    intercept[IllegalArgumentException] {
      Snapshots.commit(late, dir, "append",
        partitionBy = Seq("o_orderstatus"), bucketBy = Some(("o_orderkey", 4)))
    }
  }

  test("maintenance keeps the composed layout; compactSmall keeps nested masks") {
    val dir = graft.TempDirs.create("part-bucket-maint")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"), bucketBy = Some(("o_orderkey", 4)))
    Snapshots.deleteWhere(spark, dir, col("o_orderkey") % 9 === 0)
    val want = orders.filter(col("o_orderkey") % 9 =!= 0)
    // compactSmall consolidates masks by URI tail — partitioned rels
    // nest files under k=v segments, and a carried file's mask rows
    // must SURVIVE the consolidation (a dropped mask resurrects rows)
    val sizes = {
      val m = Snapshots.readManifest(spark, dir, 1L)
      m.files.map { rel =>
        val p = new org.apache.hadoop.fs.Path(dir, rel)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
      }.sorted
    }
    // pick minBytes so SOME files rewrite and SOME carry (with masks)
    val minBytes = sizes(sizes.length / 2)
    Snapshots.compactSmall(spark, dir, minBytes)
    val afterCompact = Snapshots.readVersion(spark, dir)
    assert(afterCompact.exceptAll(want).isEmpty &&
      want.exceptAll(afterCompact).isEmpty,
      "compactSmall must keep carried partitioned files' masks")
    // purge keeps BOTH layout axes
    Snapshots.deleteWhere(spark, dir, col("o_orderkey") % 9 === 1)
    Snapshots.purgeDeletes(spark, dir)
    val mP = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(mP.partitionCols === Seq("o_orderstatus"))
    assert(mP.bucketSpec === Some(("o_orderkey", 4)))
    assert(mP.dvs.isEmpty)
    assert(mP.files.forall(_.contains("/o_orderstatus=")))
    assert(mP.buckets.keySet === mP.files.toSet)
    val want2 = orders.filter(col("o_orderkey") % 9 =!= 0 &&
      col("o_orderkey") % 9 =!= 1)
    val got2 = Snapshots.readVersion(spark, dir)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
    // a clone carries the composed spec too
    val cloneDir = graft.TempDirs.create("part-bucket-clone")
    Snapshots.cloneShallow(spark, dir, cloneDir)
    val mC = Snapshots.readManifest(spark, cloneDir, 0L)
    assert(mC.partitionCols === Seq("o_orderstatus") &&
      mC.bucketSpec === Some(("o_orderkey", 4)))
  }

  test("partition-spec evolution: each file prunes by its own recorded spec") {
    val dir = graft.TempDirs.create("part-evolve")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    val v0Files = Snapshots.readManifest(spark, dir, 0L).files.toSet
    val late = orders.limit(80)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    Snapshots.commit(late, dir, "append", partitionBy = Seq("o_orderpriority"))
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.partitionCols === Seq("o_orderpriority"))
    val newFiles = m1.files.filterNot(v0Files)
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("/o_orderpriority=")))
    // inputFiles are URI-encoded (space -> %20): decode before
    // matching manifest rels
    def decoded(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.inputFiles.toSeq.map(f => java.net.URI.create(f).getPath)
    // old-spec predicate: v0 files prune, v1 files conservatively stay
    val byStatus = decoded(Snapshots.readVersionFiltered(spark, dir, None, Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderstatus", "F"))))
    assert(byStatus.filter(f => v0Files.exists(f.endsWith))
      .forall(_.contains("o_orderstatus=F")))
    assert(byStatus.count(f => newFiles.exists(f.endsWith)) === newFiles.size)
    // new-spec predicate: v1 files prune, v0 files stay
    val prio = late.select("o_orderpriority").head().getString(0)
    val byPrio = decoded(Snapshots.readVersionFiltered(spark, dir, None, Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderpriority", prio))))
    assert(byPrio.filter(f => newFiles.exists(f.endsWith))
      .forall(_.contains(s"o_orderpriority=$prio")))
    assert(byPrio.count(f => v0Files.exists(f.endsWith)) === v0Files.size)
    // content exact across the boundary, both filters
    val want = orders.unionByName(late)
    val got = Snapshots.readVersion(spark, dir)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(Snapshots.readVersionFiltered(spark, dir, None, Seq(
        org.apache.spark.sql.sources.EqualTo("o_orderstatus", "F")))
      .where("o_orderstatus = 'F'").count() ===
      want.filter(col("o_orderstatus") === "F").count())
    // grouped metadata count on the MIXED state must take the scan
    // path (old files carry no stat for the new spec column) and
    // stay exact
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW part_evo " +
      s"USING graft OPTIONS (path '$dir')")
    val grouped = spark.sql(
      "SELECT o_orderpriority, COUNT(*) AS n FROM part_evo GROUP BY o_orderpriority")
    assert(grouped.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, "mixed-spec grouped count must not claim metadata-only")
    assert(grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      want.groupBy("o_orderpriority").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("deletion vectors and UPDATE compose with the partition layout") {
    val dir = graft.TempDirs.create("part-dv")
    val orders = graft.Tables.orders(spark, sf)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    Snapshots.deleteWhere(spark, dir, col("o_orderkey") % 7 === 0)
    Snapshots.updateWhere(spark, dir, col("o_orderkey") % 7 === 1,
      Map("o_totalprice" -> (col("o_totalprice") + lit(5.0))))
    val want = orders.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 1, col("o_totalprice") + 5.0)
          .otherwise(col("o_totalprice")))
    val got = Snapshots.readVersion(spark, dir)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // partition pruning still composes with the DV mask
    val o = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("o_orderstatus", "F")))
    assert(o.where("o_orderstatus = 'F'").count() ===
      want.filter(col("o_orderstatus") === "F").count())
  }

  test("DML payloads land in the partition layout and keep pruning") {
    val s = spark
    import s.implicits._
    val dir = graft.TempDirs.create("part-payload")
    val base = (0L until 300L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", i * 10L))
      .toDF("id", "p", "v")
    Snapshots.commit(base, dir, "overwrite", partitionBy = Seq("p"))
    // merge-on-read: U + I payloads must land under their k=v dirs
    val changes = Seq(
      (5L, "c", 9999L, "U"),   // moves id 5 from a to c
      (1000L, "b", 1L, "I"),
      (7L, "", 0L, "D")).toDF("id", "p", "v", "op")
    Snapshots.mergeOnRead(spark, dir, changes, "id")
    val m1 = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val payloads1 = m1.files.filterNot(
      Snapshots.readManifest(spark, dir, 0L).files.contains)
    assert(payloads1.nonEmpty && payloads1.forall(_.contains("/p=")),
      s"merge payloads must land in partition dirs: $payloads1")
    // exact partition stats on the payload files: pruning includes them
    assert(payloads1.forall(rel => m1.stats.get((rel, "p")).exists(st =>
      st.min == st.max)), "payload files must carry partition stats")
    // UPDATE payloads too
    Snapshots.updateWhere(spark, dir, col("id") === 10L,
      Map("v" -> lit(123L)))
    val m2 = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val payloads2 = m2.files.filterNot(m1.files.contains)
    assert(payloads2.nonEmpty && payloads2.forall(_.contains("/p=")))
    // a partition-filtered read prunes to the partition's files —
    // INCLUDING its payloads (content must be complete)
    val b = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("p", "b")))
    val bData = b.inputFiles.filter(_.contains("/data/")) // dv scans ride along
    assert(bData.length < m2.files.size)
    assert(bData.forall(_.contains("p=b")), bData.mkString(","))
    val gotB = b.where(col("p") === "b").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotB.contains(1000L), "inserted payload row must serve from the pruned read")
    assert(gotB(10L) === 123L, "updated payload row must serve from the pruned read")
    assert(!gotB.contains(7L), "merge-deleted row must not serve")
    assert(gotB.size === 100L) // 100 base 'b' rows - deleted 7 + insert
    // the moved row serves from its NEW partition only
    val c = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("p", "c")))
      .where(col("p") === "c").collect().map(r => r.getLong(0)).toSet
    assert(c.contains(5L))
    assert(!b.where(col("p") === "b").collect().map(_.getLong(0)).contains(5L))
    // a merge INSERTING a NULL partition-source row refuses, like the
    // commit path (a null partition could never be addressed by a
    // partition predicate) — pre-publish, so the table is untouched
    val vBefore = Snapshots.latestVersion(spark, dir).get
    val nullIns = Seq((2000L, null.asInstanceOf[String], 1L, "I"))
      .toDF("id", "p", "v", "op")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeOnRead(spark, dir, nullIns, "id")
    }
    assert(e.getMessage.contains("NULL"))
    assert(Snapshots.latestVersion(spark, dir).get === vBefore)
    assert(Snapshots.readVersion(spark, dir).where(col("p") === "b")
      .count() === 100L) // the table still serves intact
  }
}
