package graft.sources

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.functions._

/** Plan-time statistics from the manifest's per-file byte ledger:
  * a graft relation reports its EXACT on-disk size (zero filesystem
  * calls at plan time), so Catalyst auto-broadcasts a small graft
  * dimension in a join with no hints — the decision that matters most
  * at cluster scale, where the alternative is shuffling both sides.
  */
class RelationStatsSpec extends SparkSpec {

  private def table(dir: String) =
    spark.read.format("graft").load(dir)

  test("manifest byte ledger drives sizeInBytes; small dim auto-broadcasts") {
    val s = spark
    import s.implicits._
    val dimDir = TempDirs.create("stats-dim")
    val factDir = TempDirs.create("stats-fact")
    Snapshots.commit(
      (0L until 50L).map(k => (k, s"name-$k")).toDF("k", "name"), dimDir, "overwrite")
    Snapshots.commit(
      (0L until 20000L).map(i => (i % 50L, i, s"payload-$i")).toDF("k", "i", "p"),
      factDir, "overwrite")

    // stats: the optimized plan's sizeInBytes is the ledger sum, not
    // the session default (which would be effectively infinite)
    val dimStats = table(dimDir).queryExecution.optimizedPlan.stats.sizeInBytes
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Long =
      f.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) st.getLen
        else 0L
      }.sum
    val onDisk = walk(new org.apache.hadoop.fs.Path(dimDir, "data"))
    assert(dimStats.toLong === onDisk, "sizeInBytes must equal live file bytes")

    // planning: the 50-row dim broadcasts with NO hint
    val joined = table(factDir).join(table(dimDir), "k")
      .groupBy("name").agg(sum("i").as("si"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small graft dim must auto-broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join expected:\n$plan")
    assert(joined.count() === 50L)
  }

  test("appends, DML, and compaction keep the byte ledger complete") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-ledger")
    Snapshots.commit((0L until 100L).map(k => (k, k * 2)).toDF("k", "v"),
      dir, "overwrite", statsColumns = Seq("k"))
    Snapshots.commit((100L until 200L).map(k => (k, k * 2)).toDF("k", "v"),
      dir, "append", statsColumns = Seq("k"))
    // merge-on-read upsert (adds payload files) and an UPDATE rewrite
    Snapshots.mergeOnRead(spark,
      dir, Seq((5L, 1L, "U")).toDF("k", "v", "op"), "k")
    Snapshots.updateWhere(spark, dir, col("k") === 6L, Map("v" -> lit(0L)))
    Snapshots.compactSmall(spark, dir, minBytes = Long.MaxValue)
    val m = Snapshots.liveManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m.files.nonEmpty)
    assert(m.files.forall(m.fileBytes.contains),
      s"every live file needs bytes: ${m.files.filterNot(m.fileBytes.contains)}")
    assert(m.fileBytes.values.forall(_ > 0L))
    // DESCRIBE HISTORY surfaces the ledger sum as n_bytes
    val h = Snapshots.history(spark, dir)
      .orderBy(col("version").desc).head()
    assert(h.getAs[Long]("n_bytes") ===
      m.files.iterator.map(m.fileBytes).sum)
  }

  test("the ledger row count reaches Catalyst statistics (CBO-visible)") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-rowcount")
    Snapshots.commit((0L until 123L).map(k => (k, k)).toDF("k", "v"),
      dir, "overwrite")
    Snapshots.deleteWhere(spark, dir, col("k") < 3L) // net 120 visible
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = table(dir).queryExecution.optimizedPlan.stats
      assert(stats.rowCount === Some(BigInt(120)),
        s"ledger row count must surface in plan statistics, got $stats")
      assert(stats.sizeInBytes > 0 &&
        stats.sizeInBytes < BigInt(Long.MaxValue) / 4)
    } finally spark.conf.unset("spark.sql.cbo.enabled")
    // without CBO the byte figure still serves (broadcast calculus)
    val plain = table(dir).queryExecution.optimizedPlan.stats
    assert(plain.sizeInBytes < BigInt(Long.MaxValue) / 4)
  }

  test("a segment entry without a byte count is refused on read") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-legacy")
    Snapshots.commit((0L until 10L).map(k => (k, k)).toDF("k", "v"),
      dir, "overwrite")
    // strip the bytes field from the frow= lines, as metadata written
    // before byte accounting recorded them. Per-file lines
    // live in the manifest's SEGMENT; segments are immutable (the
    // process-wide cache keys on the path), so the munged copy gets a
    // NEW name and the manifest is re-pointed at it.
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def slurp(p: org.apache.hadoop.fs.Path): String = {
      val in = scala.io.Source.fromInputStream(f.open(p), "UTF-8")
      try in.mkString finally in.close()
    }
    def spit(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val out = f.create(p, false)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    val mPath = f.listStatus(new org.apache.hadoop.fs.Path(dir, "_manifests"))
      .map(_.getPath).find(_.getName.endsWith(".manifest")).get
    val text = slurp(mPath)
    val segRel = text.linesIterator.find(_.startsWith("segment="))
      .get.stripPrefix("segment=").split('\t').head
    val legacySeg = slurp(new org.apache.hadoop.fs.Path(dir, segRel))
      .linesIterator.map { line =>
        if (line.startsWith("frow=")) line.split('\t').head // rows only
        else line
      }.mkString("\n") + "\n"
    val legacyRel = segRel + "-legacy"
    spit(new org.apache.hadoop.fs.Path(dir, legacyRel), legacySeg)
    f.delete(mPath, false)
    spit(mPath, text.replace(segRel, legacyRel))
    // no size guess: the read that parses the segment refuses it,
    // naming the segment file and the field
    Seq[() => Any](() => Snapshots.readManifest(spark, dir, 0L),
      () => table(dir).count()).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains(s"$dir/$legacyRel") &&
        e.getMessage.contains("'frow'"), e.getMessage)
    }
  }

  test("per-file HLL NDV sketches merge to table NDV; appends extend without rescan") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-ndv")
    // 4 files, overlapping key sets: per-file distinct ≠ table distinct
    Snapshots.commit((0L until 4000L).map(i => (i % 1000L, s"t${i % 40}"))
        .toDF("k", "tag").repartition(4),
      dir, "overwrite", ndvColumns = Seq("k", "tag"))
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    assert(m0.files.forall(fl =>
      m0.ndvs.contains((fl, "k")) && m0.ndvs.contains((fl, "tag"))))
    val ndvK = Snapshots.mergedNdv(m0, "k").get
    val ndvT = Snapshots.mergedNdv(m0, "tag").get
    // HLL at lgK=12 is near-exact at these cardinalities
    assert(math.abs(ndvK - 1000L) <= 20L, s"k ndv $ndvK")
    assert(ndvT === 40L, s"tag ndv $ndvT")
    // an append with NEW keys extends the union — no old file rescanned
    Snapshots.commit((0L until 500L).map(i => (1000L + i, "fresh"))
        .toDF("k", "tag").coalesce(1),
      dir, "append", ndvColumns = Seq("k", "tag"))
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    val ndvK1 = Snapshots.mergedNdv(m1, "k").get
    assert(math.abs(ndvK1 - 1500L) <= 30L, s"k ndv after append $ndvK1")
    assert(Snapshots.mergedNdv(m1, "tag").get === 41L)
    // a sketchless append poisons the union: None, never an undercount
    Snapshots.commit(Seq((9999L, "x")).toDF("k", "tag"), dir, "append")
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(Snapshots.mergedNdv(m2, "k").isEmpty)
    // ANALYZE repairs it incrementally: only the sketchless file is
    // scanned, covered files keep their sketches verbatim
    val va = Snapshots.analyzeNdv(spark, dir, Seq("k", "tag"))
    val ma = Snapshots.readManifest(spark, dir, va)
    assert(m2.ndvs.forall { case (key0, sk) =>
      ma.ndvs.get(key0).exists(_.sameElements(sk)) },
      "analyze must keep existing sketches verbatim")
    val ndvRepaired = Snapshots.mergedNdv(ma, "k").get
    assert(math.abs(ndvRepaired - 1501L) <= 30L, s"repaired ndv $ndvRepaired")
    assert(Snapshots.mergedNdv(ma, "tag").get === 42L) // + "x"
    // complete coverage: analyze no-ops without consuming a version
    assert(Snapshots.analyzeNdv(spark, dir, Seq("k", "tag")) === va)
    // maintenance drops rewritten files' sketches; analyze restores
    Snapshots.deleteWhere(spark, dir, col("k") === 0L)
    Snapshots.purgeDeletes(spark, dir)
    val mp = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(Snapshots.mergedNdv(mp, "k").isEmpty, "purge drops rewritten sketches")
    Snapshots.analyzeNdv(spark, dir, Seq("k"))
    val mf = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val ndvAfterPurge = Snapshots.mergedNdv(mf, "k").get
    assert(math.abs(ndvAfterPurge - 1500L) <= 30L, s"post-purge ndv $ndvAfterPurge")
    // rename re-keys the sketches; the renamed column still serves NDV
    val dir2 = TempDirs.create("stats-ndv-ren")
    Snapshots.commit((0L until 100L).map(i => (i, i * 2)).toDF("a", "b"),
      dir2, "overwrite", ndvColumns = Seq("a"))
    Snapshots.renameColumn(spark, dir2, "a", "a2")
    val mr = Snapshots.readManifest(spark, dir2,
      Snapshots.latestVersion(spark, dir2).get)
    assert(Snapshots.mergedNdv(mr, "a2").get === 100L)
  }

  test("checkpoint-served NDV == per-file driver merge, through tail, " +
    "tombstones, poisoning, and rename") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-ndv-ckpt")
    // three segments with overlapping key sets
    (0 until 3).foreach { i =>
      Snapshots.commit(
        (0L until 2000L).map(j => ((j + i * 500) % 1500L, s"t${j % 40}"))
          .toDF("k", "tag").repartition(3),
        dir, if (i == 0) "overwrite" else "append",
        ndvColumns = Seq("k", "tag"), statsColumns = Seq("k"))
    }
    val v0 = Snapshots.latestVersion(spark, dir).get
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v0))
    def viaCkpt(v: Long) =
      Snapshots.mergedNdvCheckpointed(spark, dir, v).get
    def viaFiles(v: Long): Map[String, Long] = {
      val m = Snapshots.readManifest(spark, dir, v)
      m.ndvs.keysIterator.map(_._2).toSet.iterator
        .flatMap((c: String) => Snapshots.mergedNdv(m, c).map(c -> _)).toMap
    }
    // estimate-identical (exact Long equality — HLL unions are
    // associative/idempotent, regrouping per segment changes nothing)
    assert(viaCkpt(v0) === viaFiles(v0))
    assert(viaCkpt(v0).keySet === Set("k", "tag"))
    // tail: a post-checkpoint append contributes per-file
    Snapshots.commit((0L until 300L).map(j => (5000L + j, "fresh"))
        .toDF("k", "tag").coalesce(1),
      dir, "append", ndvColumns = Seq("k", "tag"))
    val v1 = Snapshots.latestVersion(spark, dir).get
    assert(viaCkpt(v1) === viaFiles(v1))
    assert(viaCkpt(v1)("tag") === viaCkpt(v0)("tag") + 1) // + "fresh"
    // tombstones dirty a covered segment: purge rewrites masked files
    // (their sketches drop → k/tag poisoned IDENTICALLY on both paths)
    Snapshots.deleteWhere(spark, dir, col("k") === 0L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("k"))
    val v2 = Snapshots.latestVersion(spark, dir).get
    assert(viaCkpt(v2) === viaFiles(v2))
    // analyze repairs; the stale checkpoint serves the clean segments,
    // the dirty + fresh ones parse per-file — still identical
    Snapshots.analyzeNdv(spark, dir, Seq("k", "tag"))
    val v3 = Snapshots.latestVersion(spark, dir).get
    val ck3 = viaCkpt(v3)
    assert(ck3 === viaFiles(v3))
    assert(ck3.contains("k") && ck3.contains("tag"))
    // rename AFTER the checkpoint: the checkpoint's physical sketches
    // serve under the new logical name
    Snapshots.renameColumn(spark, dir, "tag", "label")
    val v4 = Snapshots.latestVersion(spark, dir).get
    val ck4 = viaCkpt(v4)
    assert(ck4 === viaFiles(v4))
    assert(ck4.contains("label") && !ck4.contains("tag"))
    // the relation's CBO feed rides the checkpoint path and agrees
    val rel = GraftRelation(spark.sqlContext, dir, v4)
    assert(rel.columnNdvs === ck4)
    // a sidecar line this engine did not write is refused naming the
    // sidecar and the line (skipping it would silently drop that
    // column's statistics): an extended line, a tab-less line and a bad
    // base64 payload; restoring the written bytes serves the same stats
    val sidecars = new java.io.File(dir, "_manifests/checkpoints")
      .listFiles().filter(_.getName.startsWith("ckpt-v"))
      .map(d => new java.io.File(d, "_ndv_segs.txt")).filter(_.exists())
    assert(sidecars.nonEmpty)
    val written = sidecars.map(sc => sc -> java.nio.file.Files.readAllBytes(sc.toPath))
    def rewrite(sc: java.io.File, bytes: Array[Byte]): Unit = {
      java.nio.file.Files.write(sc.toPath, bytes)
      // no checksum sidecar may vouch for the old bytes
      new java.io.File(sc.getParentFile, s".${sc.getName}.crc").delete()
    }
    Seq("future-seg\tfuture-col\t1\tAAAA\textra-field",
        "seg-without-tabs",
        "some-seg\tk\t1\tnot*base64!").foreach { bad =>
      written.foreach { case (sc, bytes) =>
        rewrite(sc, bytes ++ s"$bad\n".getBytes("UTF-8"))
      }
      val e = intercept[IllegalArgumentException](viaCkpt(v4))
      assert(e.getMessage.contains("_ndv_segs.txt") && e.getMessage.contains(bad),
        e.getMessage)
    }
    written.foreach { case (sc, bytes) => rewrite(sc, bytes) }
    assert(viaCkpt(v4) === ck4)
    // a WELL-FORMED line whose base64 is not a valid HLL image must
    // POISON its column (conservative absence), never crash planning
    sidecars.foreach { sc =>
      val first = scala.io.Source.fromFile(sc).getLines()
        .find(_.split('\t').length == 4)
      first.foreach { line =>
        val Array(seg0, col0, _, _) = line.split('\t')
        val w = new java.io.FileWriter(sc, true)
        try w.write(s"$seg0\t$col0\t1\tAAAA\n") // overrides: last wins
        finally w.close()
        new java.io.File(sc.getParentFile, s".${sc.getName}.crc").delete()
      }
    }
    val ckCorrupt = Snapshots.mergedNdvCheckpointed(spark, dir, v4).get
    assert(ckCorrupt.forall { case (k0, v0) => ck4.get(k0).contains(v0) },
      "surviving columns must keep serving the same estimates")
    // a pre-NDV-sidecar (or absent) checkpoint falls back loudly-never:
    // a table with no checkpoint at all serves None and the relation
    // falls back to the per-file merge
    val dir2 = TempDirs.create("stats-ndv-nockpt")
    Snapshots.commit((0L until 100L).map(i => (i, i * 2)).toDF("a", "b"),
      dir2, "overwrite", ndvColumns = Seq("a"))
    assert(Snapshots.mergedNdvCheckpointed(spark, dir2, 0L).isEmpty)
    assert(GraftRelation(spark.sqlContext, dir2, 0L).columnNdvs
      === Map("a" -> 100L))
  }

  test("checkpoint-served histograms == per-file driver fold, through " +
    "tail, tombstones, purge, repair, and rename") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Histogram
    val dir = TempDirs.create("stats-kll-ckpt")
    // three SMALL segments of two files each: every per-file KLL
    // sketch stays in EXACT mode (k=200 ≫ total N=120), so merge
    // regrouping is quantile-identical and the parity asserts are
    // EXACT equality, not tolerance bands (KLL compaction past k is
    // randomized — at scale the two paths agree only within the rank
    // error; in exact mode they agree bit-for-bit)
    (0 until 3).foreach { i =>
      Snapshots.commit(
        (0 until 30).map(j => ((i * 30 + j).toLong, (i * 30 + j) * 2.0))
          .toDF("k", "v").repartition(2),
        dir, if (i == 0) "overwrite" else "append",
        histColumns = Seq("k", "v"), ndvColumns = Seq("k"),
        statsColumns = Seq("k"))
    }
    def latest = Snapshots.latestVersion(spark, dir).get
    val v0 = latest
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v0))
    assert(new java.io.File(dir,
      f"_manifests/checkpoints/ckpt-v$v0%06d/_kll_segs.txt").exists(),
      "the checkpoint must materialize the per-segment KLL sidecar")
    def viaCkpt(v: Long): Map[String, Histogram] =
      Snapshots.mergedHistogramCheckpointed(spark, dir, v, 10).get
    def viaFiles(v: Long): Map[String, Histogram] = {
      val m = Snapshots.readManifest(spark, dir, v)
      m.klls.keysIterator.map(_._2).toSet.iterator
        .flatMap((c: String) =>
          Snapshots.mergedHistogram(m, c, 10).map(c -> _)).toMap
    }
    // Histogram holds an Array — compare structurally, bin by bin
    def assertSame(v: Long): Unit = {
      val (a, b) = (viaCkpt(v), viaFiles(v))
      assert(a.keySet === b.keySet, s"served columns at v$v")
      a.foreach { case (c, ha) =>
        val hb = b(c)
        assert(ha.height === hb.height, s"height of $c at v$v")
        assert(ha.bins.toSeq === hb.bins.toSeq, s"bins of $c at v$v")
      }
    }
    assertSame(v0)
    assert(viaCkpt(v0).keySet === Set("k", "v"))
    // tail: a post-checkpoint append contributes per-file
    Snapshots.commit(
      (90 until 120).map(j => (j.toLong, j * 2.0)).toDF("k", "v").coalesce(1),
      dir, "append", histColumns = Seq("k", "v"), ndvColumns = Seq("k"))
    val v1 = latest
    assertSame(v1)
    // tombstones + poisoning: purge rewrites the masked file, its
    // sketches drop — the column is poisoned IDENTICALLY on both paths
    // (the stale sidecar fold of the dirtied segment must NOT serve)
    Snapshots.deleteWhere(spark, dir, col("k") === 0L)
    Snapshots.purgeDeletes(spark, dir)
    val v2 = latest
    assert(viaCkpt(v2).isEmpty && viaFiles(v2).isEmpty,
      "a sketchless rewritten file must poison both paths")
    // repair parity for the sidecar era: analyze backfills the
    // rewritten file; the served histogram must REFLECT the backfill
    // (the repair republishes changed entries into a fresh tail
    // segment, so the stale fold never serves them) — and the bins
    // must show k=0 actually gone, not a stale pre-delete quantile
    Snapshots.analyzeHistograms(spark, dir, Seq("k", "v"))
    val v3 = latest
    assertSame(v3)
    assert(viaCkpt(v3).keySet === Set("k", "v"))
    assert(viaCkpt(v3)("k").bins.head.lo === 1.0,
      "post-repair bins must reflect the purged row (min is 1, not 0)")
    // rename AFTER the checkpoint: physical sketches serve under the
    // new logical name on both paths
    Snapshots.renameColumn(spark, dir, "k", "key")
    val v4 = latest
    assertSame(v4)
    assert(viaCkpt(v4).contains("key") && !viaCkpt(v4).contains("k"))
    // the relation's CBO feed rides the checkpoint path and agrees
    val rel = GraftRelation(spark.sqlContext, dir, v4)
    val ck254 = Snapshots.mergedHistogramCheckpointed(spark, dir, v4, 254).get
    assert(rel.columnHistograms.keySet === ck254.keySet)
    rel.columnHistograms.foreach { case (c, h) =>
      assert(h.height === ck254(c).height && h.bins.toSeq === ck254(c).bins.toSeq)
    }
    // poisoning preserved across the feed: a sketchless tail append
    // drops every histogram on both paths …
    Snapshots.commit(Seq((999L, 1.0)).toDF("key", "v"), dir, "append")
    val v5 = latest
    assert(viaCkpt(v5).isEmpty && viaFiles(v5).isEmpty)
    // … and the incremental repair restores them, still identical
    Snapshots.analyzeHistograms(spark, dir, Seq("key", "v"))
    assertSame(latest)
    // no checkpoint at all → None; the relation falls back to the
    // per-file driver fold
    val dir2 = TempDirs.create("stats-kll-nockpt")
    Snapshots.commit((0 until 50).map(i => (i.toLong, i * 3.0))
        .toDF("a", "b").coalesce(1),
      dir2, "overwrite", histColumns = Seq("a"))
    assert(Snapshots.mergedHistogramCheckpointed(spark, dir2, 0L, 10).isEmpty)
    assert(GraftRelation(spark.sqlContext, dir2, 0L)
      .columnHistograms.contains("a"))
  }

  test("checkpoint-served column ranges == per-file driver fold, through " +
    "tail, purge, mixed kinds, nulls gating, and rename") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-rng-ckpt")
    // long column k, double column v, nullable column w (every file
    // keeps some non-null w so its min/max stat exists per file)
    (0 until 3).foreach { i =>
      Snapshots.commit(
        (i * 100 until (i + 1) * 100).map(j =>
          (j.toLong, j * 2.5, if (j % 3 == 0) None else Some(j.toLong)))
          .toDF("k", "v", "w").repartition(2),
        dir, if (i == 0) "overwrite" else "append",
        statsColumns = Seq("k", "v", "w"))
    }
    def latest = Snapshots.latestVersion(spark, dir).get
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(latest))
    def viaCkpt(v: Long) =
      Snapshots.mergedRangesCheckpointed(spark, dir, v).get
    def viaFiles(v: Long) = {
      val m = Snapshots.readManifest(spark, dir, v)
      Snapshots.mergedRanges(m, m.schema)
    }
    def assertSame(v: Long): Unit =
      assert(viaCkpt(v) === viaFiles(v), s"range divergence at v$v")
    val v0 = latest
    assertSame(v0)
    assert(viaCkpt(v0)("k") === (("0", "299", Some(0L))))
    assert(viaCkpt(v0)("w")._3 === Some(100L)) // j % 3 == 0 nulls
    // tail: a post-checkpoint append contributes per-file
    Snapshots.commit(Seq((500L, 9.0, Some(1L))).toDF("k", "v", "w"),
      dir, "append", statsColumns = Seq("k", "v", "w"))
    val v1 = latest
    assertSame(v1)
    assert(viaCkpt(v1)("k")._2 === "500")
    // purge rewrites the masked file WITH fresh stats (stats re-record
    // on maintenance, unlike sketches) — ranges keep serving and the
    // min reflects the deleted row, identically on both paths
    Snapshots.deleteWhere(spark, dir, col("k") === 0L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("k", "v", "w"))
    val v2 = latest
    assertSame(v2)
    assert(viaCkpt(v2)("k")._1 === "1")
    // rename AFTER the checkpoint: physical folds serve the new name
    Snapshots.renameColumn(spark, dir, "k", "key")
    val v3 = latest
    assertSame(v3)
    assert(viaCkpt(v3).contains("key") && !viaCkpt(v3).contains("k"))
    // the relation's CBO feed rides the checkpoint path and agrees
    assert(GraftRelation(spark.sqlContext, dir, v3).columnRanges
      === viaCkpt(v3))
    // a stats-less tail append poisons every column on both paths
    Snapshots.commit(Seq((9999L, 1.0, Some(2L))).toDF("key", "v", "w"),
      dir, "append")
    val v4 = latest
    assert(viaCkpt(v4).isEmpty && viaFiles(v4).isEmpty)
    // mixed long/double kinds after an int→double widening fold as
    // double on both paths
    val dir2 = TempDirs.create("stats-rng-mixed")
    Snapshots.commit((0 until 50).map(i => (i, i)).toDF("id", "x"),
      dir2, "overwrite", statsColumns = Seq("x"))
    Snapshots.commit((50 until 80).map(i => (i, i + 0.25)).toDF("id", "x"),
      dir2, "append", statsColumns = Seq("x"))
    val vm = Snapshots.latestVersion(spark, dir2).get
    Snapshots.writeMetadataCheckpoint(spark, dir2, Some(vm))
    val ckM = Snapshots.mergedRangesCheckpointed(spark, dir2, vm).get
    val m2 = Snapshots.readManifest(spark, dir2, vm)
    assert(ckM === Snapshots.mergedRanges(m2, m2.schema))
    assert(ckM("x")._1.toDouble === 0.0 && ckM("x")._2.toDouble === 79.25)
    // no checkpoint at all → None; the relation falls back
    val dir3 = TempDirs.create("stats-rng-nockpt")
    Snapshots.commit((0 until 20).map(i => (i.toLong, i)).toDF("a", "b"),
      dir3, "overwrite", statsColumns = Seq("a"))
    assert(Snapshots.mergedRangesCheckpointed(spark, dir3, 0L).isEmpty)
    assert(GraftRelation(spark.sqlContext, dir3, 0L).columnRanges
      .contains("a"))
  }

  test("analyzeStats backfills footer stats metadata-only: file " +
    "skipping and the range feed restored on files predating " +
    "statsColumns") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-analyze")
    // two stat-less commits: nothing prunes, no ranges serve
    Snapshots.commit((0 until 100).map(j =>
        (j.toLong, j * 2.5, if (j % 5 == 0) None else Some(j.toLong)))
        .toDF("k", "v", "w").coalesce(1),
      dir, "overwrite")
    Snapshots.commit((100 until 200).map(j =>
        (j.toLong, j * 2.5, Some(j.toLong): Option[Long]))
        .toDF("k", "v", "w").coalesce(1),
      dir, "append")
    val m0 = Snapshots.readManifest(spark, dir, 1L)
    assert(m0.stats.isEmpty)
    assert(Snapshots.pruneFiles(m0, Seq(("k", 0L, 10L))) === m0.files)
    assert(Snapshots.mergedRanges(m0, m0.schema).isEmpty)
    // the repair: ONE metadata commit of footer-read stats
    val va = Snapshots.analyzeStats(spark, dir, Seq("k", "v", "w"))
    assert(va === 2L)
    val ma = Snapshots.readManifest(spark, dir, va)
    assert(ma.files.forall(fl => ma.stats.contains((fl, "k"))))
    assert(Snapshots.pruneFiles(ma, Seq(("k", 0L, 10L))).size === 1,
      "file skipping must work after the repair")
    val r = Snapshots.mergedRanges(ma, ma.schema)
    assert(r("k") === (("0", "199", Some(0L))))
    assert(r("w")._3 === Some(20L), "null counts backfill too")
    // convergence: the second call no-ops versionlessly
    assert(Snapshots.analyzeStats(spark, dir, Seq("k", "v", "w")) === va)
    // partial coverage: covered files keep their stats VERBATIM, only
    // the missing (file, column) pairs gain entries
    Snapshots.commit((200 until 220).map(j => (j.toLong, j * 2.5,
        Some(j.toLong): Option[Long])).toDF("k", "v", "w").coalesce(1),
      dir, "append", statsColumns = Seq("k"))
    val mMid = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val vb = Snapshots.analyzeStats(spark, dir, Seq("k", "v"))
    val mb = Snapshots.readManifest(spark, dir, vb)
    assert(mMid.stats.forall { case (key, st) => mb.stats.get(key).contains(st) },
      "covered stats must survive verbatim")
    assert(mb.files.forall(fl =>
      mb.stats.contains((fl, "k")) && mb.stats.contains((fl, "v"))))
    // the checkpoint range twin reflects the backfill (the repair's
    // changed entries land in fresh segments the stale folds never
    // serve)
    Snapshots.writeMetadataCheckpoint(spark, dir)
    val vNow = Snapshots.latestVersion(spark, dir).get
    val mNow = Snapshots.readManifest(spark, dir, vNow)
    assert(Snapshots.mergedRangesCheckpointed(spark, dir, vNow).get
      === Snapshots.mergedRanges(mNow, mNow.schema))
    // decimal columns refuse: a footer's unscaled ints are at the
    // file's own write scale, unverifiable post-hoc
    val dirD = TempDirs.create("stats-analyze-dec")
    Snapshots.commit((0 until 10).map(i => (i.toLong, BigDecimal(i).toString))
        .toDF("id", "amt0")
        .select(col("id"), col("amt0").cast("decimal(9,2)").as("amt")),
      dirD, "overwrite", statsColumns = Seq("id"))
    intercept[IllegalArgumentException] {
      Snapshots.analyzeStats(spark, dirD, Seq("amt"))
    }
    // invalidateStats: the upgrade remedy for untrustworthy stats —
    // drops the column's min/max AND null counts in one metadata
    // commit (pruning goes conservative), other columns untouched,
    // versionless no-op when nothing is recorded
    val mInv0 = Snapshots.readManifest(spark, dirD, 0L)
    assert(mInv0.stats.keysIterator.exists(_._2 == "id"))
    val vi = Snapshots.invalidateStats(spark, dirD, Seq("id"))
    val mInv = Snapshots.readManifest(spark, dirD, vi)
    assert(!mInv.stats.keysIterator.exists(_._2 == "id"))
    assert(Snapshots.pruneFiles(mInv, Seq(("id", 0L, 1L))) === mInv.files,
      "invalidated columns must stop pruning")
    assert(Snapshots.invalidateStats(spark, dirD, Seq("id")) === vi,
      "nothing left to drop: versionless no-op")
    // stats-present/nulls-ABSENT files (pre-null-count-era manifests)
    // are also visited: copy the table and strip the segment's nulls=
    // lines (the copy's segment path is uncached), then repair
    val dirN = TempDirs.create("stats-analyze-nulls")
    def copyTree(a: java.io.File, b: java.io.File): Unit = {
      if (a.isDirectory) { b.mkdirs(); a.listFiles().foreach(f0 =>
        copyTree(f0, new java.io.File(b, f0.getName))) }
      else java.nio.file.Files.copy(a.toPath, b.toPath)
    }
    copyTree(new java.io.File(dir), new java.io.File(dirN))
    new java.io.File(dirN, "_manifests/segments").listFiles().foreach { sf =>
      if (!sf.getName.startsWith(".")) {
        val stripped = scala.io.Source.fromFile(sf).getLines()
          .filterNot(_.startsWith("nulls=")).mkString("\n") + "\n"
        val w0 = new java.io.FileWriter(sf, false)
        try w0.write(stripped) finally w0.close()
        new java.io.File(sf.getParentFile, s".${sf.getName}.crc").delete()
      }
    }
    val mN0 = Snapshots.readManifest(spark, dirN,
      Snapshots.latestVersion(spark, dirN).get)
    assert(mN0.nullCounts.isEmpty && mN0.stats.nonEmpty,
      "the fixture must have stats but no null counts")
    assert(Snapshots.mergedRanges(mN0, mN0.schema)("k")._3.isEmpty)
    val vN = Snapshots.analyzeStats(spark, dirN, Seq("k", "v", "w"))
    val mN = Snapshots.readManifest(spark, dirN, vN)
    assert(mN0.stats.forall { case (key, st) => mN.stats.get(key).contains(st) },
      "covered stats survive the null-count backfill verbatim")
    assert(Snapshots.mergedRanges(mN, mN.schema)("w")._3 === Some(20L),
      "null counts restored on stats-covered files")
  }

  test("randomized stats-feed parity: NDV, histogram and range " +
    "checkpoint twins == per-file folds across random maintenance " +
    "interleavings") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260815L)
    (0 until 3).foreach { trial =>
      val dir = TempDirs.create(s"stats-rand-$trial")
      // small batches keep every KLL sketch in EXACT mode (total rows
      // per column ≤ ~120 ≪ k=200), so histogram parity asserts exact
      // bin equality, not tolerance bands
      var next = 0
      def batch(n: Int) = {
        val lo = next; next += n
        (lo until lo + n).map(j =>
          (j.toLong, j * 1.5, if (j % 4 == 0) None else Some(j.toLong)))
          .toDF("k", "v", "w")
      }
      val nCommits = 2 + rnd.nextInt(2)
      (0 until nCommits).foreach { i =>
        Snapshots.commit(batch(10 + rnd.nextInt(15))
            .repartition(1 + rnd.nextInt(2)),
          dir, if (i == 0) "overwrite" else "append",
          statsColumns = Seq("k", "v", "w"), ndvColumns = Seq("k"),
          histColumns = Seq("k", "v"))
      }
      Snapshots.writeMetadataCheckpoint(spark, dir)
      var renamed = false
      def kCol = if (renamed) "key" else "k"
      val bins = 4 + rnd.nextInt(8)
      // served-or-fallback == per-file, exactly the relation's
      // getOrElse: a maintenance sequence that drops EVERY sketch (a
      // purge rewriting all files) leaves the next checkpoint with no
      // sidecar of that kind — the twin then returns None and the
      // relation falls back, which must equal the per-file fold too
      // (trivially, but the None-vs-empty distinction must never
      // surface a wrong map)
      def assertParity(where: String): Unit = {
        val v = Snapshots.latestVersion(spark, dir).get
        val m = Snapshots.readManifest(spark, dir, v)
        // NDV: map-equal (HLL regrouping is bit-identical)
        val ndvPf = m.ndvs.keysIterator.map(_._2).toSet.iterator
          .flatMap((c: String) => Snapshots.mergedNdv(m, c).map(c -> _))
          .toMap
        val ndvCk = Snapshots.mergedNdvCheckpointed(spark, dir, v)
          .getOrElse(ndvPf)
        assert(ndvCk === ndvPf, s"trial=$trial $where ndv")
        // histogram: exact bin equality in exact mode
        val hPf = m.klls.keysIterator.map(_._2).toSet.iterator
          .flatMap((c: String) =>
            Snapshots.mergedHistogram(m, c, bins).map(c -> _)).toMap
        val hCk = Snapshots.mergedHistogramCheckpointed(spark, dir, v, bins)
          .getOrElse(hPf)
        assert(hCk.keySet === hPf.keySet, s"trial=$trial $where hist cols")
        hCk.foreach { case (c, ha) =>
          assert(ha.height === hPf(c).height &&
            ha.bins.toSeq === hPf(c).bins.toSeq,
            s"trial=$trial $where hist bins of $c")
        }
        // ranges: map-equal (min/max/nullCount)
        val rPf = Snapshots.mergedRanges(m, m.schema)
        assert(Snapshots.mergedRangesCheckpointed(spark, dir, v)
          .getOrElse(rPf) === rPf,
          s"trial=$trial $where ranges")
      }
      assertParity("post-checkpoint")
      // 2-3 random maintenance ops, parity re-checked after each
      (0 until 2 + rnd.nextInt(2)).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 => // tail append with full metadata
            Snapshots.commit(batch(8 + rnd.nextInt(10)), dir, "append",
              statsColumns = Seq(kCol, "v", "w"), ndvColumns = Seq(kCol),
              histColumns = Seq(kCol, "v"))
          case 1 => // delete + purge (re-stats, drops rewritten sketches)
            Snapshots.deleteWhere(spark, dir,
              col(kCol) % 5 === (rnd.nextInt(5).toLong: java.lang.Long))
            Snapshots.purgeDeletes(spark, dir,
              statsColumns = Seq(kCol, "v", "w"))
          case 2 => // repair whatever maintenance poisoned
            Snapshots.analyzeNdv(spark, dir, Seq(kCol))
            Snapshots.analyzeHistograms(spark, dir, Seq(kCol, "v"))
          case 3 if !renamed => // rename re-keys every feed O(1)
            Snapshots.renameColumn(spark, dir, "k", "key")
            renamed = true
          case _ => // a fresh checkpoint at the current head
            Snapshots.writeMetadataCheckpoint(spark, dir)
        }
        assertParity("post-op")
      }
    }
  }

  test("KLL histograms: merged bins see the skew; selectivity flips the " +
    "join build side that uniform interpolation gets wrong") {
    val s = spark
    import s.implicits._
    val factDir = TempDirs.create("stats-hist-fact")
    val dimDir = TempDirs.create("stats-hist-dim")
    // 40k rows, 99% pinned to value 5, 1% spread over [1e6, 1e6+40k):
    // min/max alone say [5, ~1.04e6], so a uniform estimate of
    // sk >= 1e6 keeps ~96% of rows; the histogram knows it's ~1%
    val fact = (0L until 40000L).map { i =>
      (if (i % 100 < 99) 5L else 1000000L + i, i % 500L, s"pay-$i")
    }.toDF("sk", "fk", "pay").repartition(4)
    Snapshots.commit(fact, factDir, "overwrite",
      statsColumns = Seq("sk"), ndvColumns = Seq("sk"),
      histColumns = Seq("sk"))
    // the dim must be ABOVE the broadcast threshold on its own, so the
    // only way a broadcast appears is the FACT side estimating small
    // (names vary per row — dictionary encoding can't crush them)
    Snapshots.commit(
      (0L until 5000L).map(k => (k % 500L,
        (0 until 8).map(j => ((k + 17) * 2654435761L + j * 40503L)
          .toHexString).mkString("-"))).toDF("k", "name"),
      dimDir, "overwrite")
    // the merged histogram reflects the skew: ≥97% of bins collapse
    // onto the heavy value, the tail bins carry the spread
    val rel = GraftRelation(spark.sqlContext, factDir, 0L)
    val hist = rel.columnHistograms("sk")
    val heavy = hist.bins.count(b => b.lo == 5.0 && b.hi == 5.0)
    assert(heavy >= (hist.bins.length * 97) / 100,
      s"heavy bins $heavy of ${hist.bins.length}")
    assert(hist.bins.last.hi >= 1000000.0)
    // poisoning: an append without histColumns drops the histogram;
    // analyzeHistograms repairs it incrementally (only the sketchless
    // file scans — covered files keep their sketches verbatim)
    val poisonDir = TempDirs.create("stats-hist-poison")
    Snapshots.commit(fact.limit(100), poisonDir, "overwrite",
      histColumns = Seq("sk"))
    Snapshots.commit(fact.limit(10), poisonDir, "append")
    assert(GraftRelation(spark.sqlContext, poisonDir, 1L)
      .columnHistograms.isEmpty)
    val mPre = Snapshots.readManifest(spark, poisonDir, 1L)
    val va = Snapshots.analyzeHistograms(spark, poisonDir, Seq("sk"))
    val mPost = Snapshots.readManifest(spark, poisonDir, va)
    assert(mPre.klls.forall { case (k, sk) =>
      mPost.klls.get(k).exists(_.sameElements(sk)) },
      "analyze must keep existing sketches verbatim")
    assert(GraftRelation(spark.sqlContext, poisonDir, va)
      .columnHistograms.contains("sk"))
    // complete coverage no-ops versionlessly; non-numeric cols refused
    assert(Snapshots.analyzeHistograms(spark, poisonDir, Seq("sk")) === va)
    intercept[IllegalArgumentException] {
      Snapshots.analyzeHistograms(spark, poisonDir, Seq("pay"))
    }
    // the planner flip, A/B'd on the histogram feed alone: with it,
    // the filtered fact is estimated tiny and BROADCASTS into the
    // too-big-to-broadcast dim; without it, uniform interpolation
    // estimates the filter keeping ~everything and the join shuffles
    val restore = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "graft.stats.histograms")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "32768")
      def plan(): (String, Option[BigInt]) = {
        val q = table(factDir).where(col("sk") >= 1000000L)
          .join(table(dimDir), col("fk") === col("k"))
          .groupBy("name").agg(count(lit(1)).as("n"))
        val filterRows = q.queryExecution.optimizedPlan.collect {
          case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            fl.stats.rowCount
        }.headOption.flatten
        (q.queryExecution.executedPlan.toString, filterRows)
      }
      s.conf.set("graft.stats.histograms", "true")
      val (withHist, estHist) = plan()
      s.conf.set("graft.stats.histograms", "false")
      val (without, estUniform) = plan()
      // estimates: actual is 400 rows; histogram lands within ~3x,
      // uniform interpolation misses by >20x
      assert(estHist.exists(r => r >= 100 && r <= 1600),
        s"histogram estimate $estHist")
      assert(estUniform.forall(_ > 8000), s"uniform estimate $estUniform")
      assert(withHist.contains("BroadcastHashJoin"),
        s"histogram stats must broadcast the filtered fact:\n$withHist")
      assert(!without.contains("BroadcastHashJoin"),
        s"uniform stats must NOT broadcast:\n$without")
    } finally restore.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  test("temporal histograms: timestamp skew estimates in internal units; " +
    "date/timestamp ranges round-trip the catalog-stat external form") {
    val s = spark
    import s.implicits._
    // 99% of events in ONE hour, 1% spread over the following year —
    // the time-skew shape (a backfill burst) min/max can't see
    val dir = TempDirs.create("stats-hist-ts")
    val base = java.sql.Timestamp.valueOf("2024-01-05 12:00:00").getTime
    val fact = (0L until 20000L).map { i =>
      val ms = if (i % 100 < 99) base + (i % 3600) * 1000L
               else base + 86400000L + i * 1500000L
      (new java.sql.Timestamp(ms), i, new java.sql.Date(ms))
    }.toDF("ts", "v", "d").repartition(4)
    // ndvColumns too: FilterEstimation requires a distinctCount to
    // produce an estimate at all — the histogram then drives WHICH
    // estimate (uniform min/max interpolation would say ~99.6% here;
    // only the bins can say ~1%)
    Snapshots.commit(fact, dir, "overwrite",
      statsColumns = Seq("ts", "d"), histColumns = Seq("ts"),
      ndvColumns = Seq("ts"))
    val rel = GraftRelation(spark.sqlContext, dir, 0L)
    // bins are epoch-MICROS doubles (Catalyst's internal timestamp
    // unit): ≥95% of bins inside the hot hour
    val hist = rel.columnHistograms("ts")
    val hotLo = base * 1000.0
    val hotHi = (base + 3600 * 1000L) * 1000.0
    val hot = hist.bins.count(b => b.lo >= hotLo && b.hi <= hotHi)
    assert(hot >= (hist.bins.length * 95) / 100, s"hot bins $hot")
    // external min/max round-trip through the catalog-stat parser to
    // the exact internal values the stats fold computed
    val (tsMn, tsMx, _) = rel.columnRanges("ts")
    val parsedMn = org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
      .fromExternalString(tsMn, "ts", org.apache.spark.sql.types.TimestampType,
        org.apache.spark.sql.catalyst.catalog.CatalogColumnStat.VERSION)
      .asInstanceOf[Long]
    assert(parsedMn === base * 1000L, s"ts min $tsMn -> $parsedMn")
    val (dMn, _, _) = rel.columnRanges("d")
    assert(dMn === "2024-01-05")
    // the estimate flip, A/B'd on the feed: the tail predicate keeps
    // ~1%; with the histogram CBO sees it, without it has no signal
    val restore = Seq("spark.sql.cbo.enabled", "graft.stats.histograms")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      val cut = java.sql.Timestamp.valueOf("2024-01-06 00:00:00")
      def est(): Option[BigInt] = {
        val q = table(dir).where(col("ts") >= cut)
          .agg(count(lit(1)).as("n"))
        q.queryExecution.optimizedPlan.collect {
          case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            fl.stats.rowCount
        }.headOption.flatten
      }
      s.conf.set("graft.stats.histograms", "true")
      val estOn = est()
      s.conf.set("graft.stats.histograms", "false")
      val estOff = est()
      // ≤1000 is only reachable through the BINS: min/max uniform
      // interpolation over this domain gives ~19,900 of 20,000
      assert(estOn.exists(e => e >= 40 && e <= 1000), s"hist estimate $estOn")
      assert(estOff.forall(_ > 4000), s"feed-off estimate $estOff")
    } finally restore.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  test("stats-feed hardening: mixed long/double stat kinds after a " +
    "widening fold as doubles; partial analyze keeps covered sketches " +
    "by identity") {
    val s = spark
    import s.implicits._
    // int column committed with stats, then widened to double by an
    // append: old files carry kind=long, new kind=double — planning
    // must fold the range as double, never crash on "5.25".toLong
    val dir = TempDirs.create("stats-mixed-kind")
    Snapshots.commit((0 until 100).map(i => (i, i)).toDF("k", "v"),
      dir, "overwrite", statsColumns = Seq("v"))
    Snapshots.commit((100 until 200).map(i => (i, i + 0.25)).toDF("k", "v"),
      dir, "append", statsColumns = Seq("v"))
    val v1 = Snapshots.latestVersion(spark, dir).get
    val rel = GraftRelation(spark.sqlContext, dir, v1)
    val (mn, mx, _) = rel.columnRanges("v")
    assert(mn.toDouble === 0.0 && mx.toDouble === 199.25)
    // the feed is live under CBO without crashing the plan
    val restore = s.conf.getOption("spark.sql.cbo.enabled")
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      assert(table(dir).where(col("v") > 1000.0).count() === 0L)
    } finally restore.fold(s.conf.unset("spark.sql.cbo.enabled"))(
      s.conf.set("spark.sql.cbo.enabled", _))
    // partial analyze: file2 covers only column a — repairing (a, b)
    // must keep EVERY pre-existing sketch object untouched (KLL
    // compaction is randomized; a recompute would churn segments)
    val dir2 = TempDirs.create("stats-partial-analyze")
    Snapshots.commit((0 until 500).map(i => (i.toLong, i * 2.0))
        .toDF("a", "b").coalesce(1),
      dir2, "overwrite", histColumns = Seq("a", "b"))
    Snapshots.commit((500 until 600).map(i => (i.toLong, i * 2.0))
        .toDF("a", "b").coalesce(1),
      dir2, "append", histColumns = Seq("a"))
    val mBefore = Snapshots.readManifest(spark, dir2,
      Snapshots.latestVersion(spark, dir2).get)
    val va2 = Snapshots.analyzeHistograms(spark, dir2, Seq("a", "b"))
    val mAfter = Snapshots.readManifest(spark, dir2, va2)
    assert(mBefore.klls.forall { case (k, sk) =>
      mAfter.klls.get(k).exists(_.sameElements(sk)) },
      "covered sketches must survive byte-identical")
    assert(mAfter.klls.size === mBefore.klls.size + 1) // only (f2, b) added
    assert(GraftRelation(spark.sqlContext, dir2, va2)
      .columnHistograms.keySet === Set("a", "b"))
    // an all-null column (files predate it — reads all-null) records
    // EXPLICIT EMPTY sketches (ADVICE r13): the repair converges in
    // exactly ONE commit (the second call no-ops versionlessly), the
    // column's histogram is still absent (no values to bin), and the
    // other columns' histograms are untouched
    Snapshots.addColumns(spark, dir2, Seq(
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType)))
    val vAdd = Snapshots.latestVersion(spark, dir2).get
    val vC = Snapshots.analyzeHistograms(spark, dir2, Seq("c"))
    assert(vC === vAdd + 1, "the all-null repair must publish once")
    assert(Snapshots.analyzeHistograms(spark, dir2, Seq("c")) === vC)
    assert(Snapshots.latestVersion(spark, dir2).get === vC)
    val mC = Snapshots.readManifest(spark, dir2, vC)
    assert(mC.files.forall(fl => mC.klls.contains((fl, "c"))),
      "every live file must carry the explicit empty sketch")
    assert(GraftRelation(spark.sqlContext, dir2, vC)
      .columnHistograms.keySet === Set("a", "b"),
      "empty sketches bin nothing; a and b keep serving")
  }

  test("NDV and bloom builds survive partitioned layouts (basenames " +
    "repeat across k=v dirs)") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("stats-ndv-part")
    // coalesce(1): ONE task writes every partition dir, so the same
    // part-file basename lands in each k=v dir — the collision shape
    Snapshots.commit((0L until 900L).map(i => (i, s"p${i % 3}"))
        .toDF("k", "part").coalesce(1),
      dir, "overwrite", partitionBy = Seq("part"),
      ndvColumns = Seq("k"), bloomColumns = Seq("k"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.files.size >= 3)
    assert(m.files.map(f => new org.apache.hadoop.fs.Path(f).getName)
      .distinct.size < m.files.size, "fixture must actually collide")
    // every file carries ITS OWN sketch and bloom
    assert(m.files.forall(fl => m.ndvs.contains((fl, "k"))))
    assert(m.files.forall(fl => m.blooms.contains((fl, "k"))))
    assert(Snapshots.mergedNdv(m, "k").exists(n => math.abs(n - 900L) <= 20L))
    // per-file sketches are DISTINCT (no mis-assignment): each file
    // holds ~300 distinct keys, so no two sketches should be equal
    val perFile = m.files.map(fl => m.ndvs((fl, "k")).toSeq)
    assert(perFile.distinct.size === perFile.size,
      "per-file sketches must differ across partition dirs")
    // the repair path runs on partitioned tables too (the exact shape
    // maintenance leaves behind)
    Snapshots.deleteWhere(spark, dir, col("k") === 0L)
    Snapshots.purgeDeletes(spark, dir)
    Snapshots.analyzeNdv(spark, dir, Seq("k"))
    val mf = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(Snapshots.mergedNdv(mf, "k").exists(n => math.abs(n - 899L) <= 20L))
    // bloom point lookups still prune to the right files
    val hit = Snapshots.readVersionKeys(spark, dir, "k", Seq(5L), Some(0L))
    assert(hit.where(col("k") === 5L).count() === 1L)
  }

  test("index builds work against a RELATIVE table dir (path keying " +
    "must qualify to match _metadata.file_path)") {
    val s = spark
    import s.implicits._
    val rel = s"target/stats-rel-${java.util.UUID.randomUUID().toString.take(8)}"
    Snapshots.commit((0L until 50L).map(i => (i, i % 5)).toDF("k", "g")
        .coalesce(1),
      rel, "overwrite", ndvColumns = Seq("k"), bloomColumns = Seq("k"))
    val m = Snapshots.readManifest(spark, rel, 0L)
    assert(m.files.nonEmpty)
    assert(m.files.forall(fl =>
      m.ndvs.contains((fl, "k")) && m.blooms.contains((fl, "k"))))
    assert(Snapshots.mergedNdv(m, "k").contains(50L))
  }

  test("NDV feeds CBO: join reorder picks the selective dim first") {
    val s = spark
    import s.implicits._
    val factDir = TempDirs.create("cbo-fact")
    val midDir = TempDirs.create("cbo-mid")
    val tinyDir = TempDirs.create("cbo-tiny")
    // fact 60k rows: key k spread over 5k, t over 100
    Snapshots.commit((0L until 60000L).map(i => (i % 5000L, i % 100L, i))
        .toDF("k", "t", "payload").repartition(4),
      factDir, "overwrite", ndvColumns = Seq("k", "t"))
    // mid 5k rows, unique k (joins 1:many, no reduction)
    Snapshots.commit((0L until 5000L).map(i => (i, s"m$i")).toDF("k", "mname"),
      midDir, "overwrite", ndvColumns = Seq("k"))
    // tiny 10 rows, unique t (selective: keeps 10% of the fact)
    Snapshots.commit((0L until 10L).map(i => (i, s"t$i")).toDF("t", "tname"),
      tinyDir, "overwrite", ndvColumns = Seq("t"))
    val q = () => table(factDir).as("f")
      .join(table(midDir).as("m"), col("f.k") === col("m.k"))
      .join(table(tinyDir).as("ty"), col("f.t") === col("ty.t"))
      .groupBy("tname").agg(count(lit(1)).as("n"))
    def innermostLeaves(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      val inner = joins.last // bottom-most in collect order
      inner.collectLeaves().map(_.toString)
    }
    val dirOf = Map("fact" -> factDir, "mid" -> midDir, "tiny" -> tinyDir)
    def names(leaves: Seq[String]): Set[String] =
      dirOf.collect { case (n, d) if leaves.exists(_.contains(
        new org.apache.hadoop.fs.Path(d).getName)) => n }.toSet
    // user order without CBO: innermost join is fact ⋈ mid
    assert(names(innermostLeaves(q())) === Set("fact", "mid"))
    val restore = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val df = q()
      // with ledger row counts + sketch NDVs, the reorder joins the
      // SELECTIVE tiny dim against the fact first
      val inner = names(innermostLeaves(df))
      assert(inner === Set("fact", "tiny"),
        s"CBO should join the selective dim first, got $inner")
      // plan stats actually carry the distinct counts
      val attrStats = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.stats.attributeStats
      }
      assert(attrStats.exists(_.exists(_._2.distinctCount.isDefined)),
        "NDV must surface in plan attributeStats")
      assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        === (0 until 10).map(i => s"t$i" -> 600L).toMap)
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
