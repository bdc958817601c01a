package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Sharded per-file metadata: commits write O(batch) segments, the
  * manifest file itself stays small however many files the table
  * accumulates, metadata-changed files migrate to fresh segments,
  * restores reuse segments verbatim, the manifest and segment parses
  * accept exactly the grammar the writers emit, and vacuum sweeps
  * unreferenced segments.
  */
class ManifestShardingSpec extends SparkSpec {

  private def freshDir(): String = graft.TempDirs.create("graft-shard-spec")

  private def frame(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestBytes(dir: String, v: Long): Long =
    fsOf(dir).getFileStatus(
      new Path(dir, f"_manifests/v$v%06d.manifest")).getLen

  private def segFiles(dir: String): Seq[String] = {
    val f = fsOf(dir)
    val d = new Path(dir, "_manifests/segments")
    if (!f.exists(d)) Nil
    else f.listStatus(d).map(_.getPath.getName).toSeq.sorted
  }

  test("appends accumulate one segment per commit; the view stays complete") {
    val dir = freshDir()
    val v0 = Snapshots.commit(frame(0 until 20, "a").repartition(4), dir,
      "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("id"))
    Snapshots.commit(frame(20 until 40, "b").repartition(4), dir,
      "append", statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val v2 = Snapshots.commit(frame(40 until 60, "c").repartition(4), dir,
      "append", statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val m = Snapshots.readManifest(spark, dir, v2)
    assert(m.segments.size === 3)
    assert(segFiles(dir).size === 3)
    assert(m.files.size === 12)
    // the assembled view carries every per-file datum
    assert(m.files.forall(f => m.stats.contains((f, "id"))))
    assert(m.files.forall(f => m.blooms.contains((f, "id"))))
    assert(m.files.forall(m.fileRows.contains))
    assert(m.files.forall(m.fileBytes.contains))
    assert(Snapshots.readVersion(spark, dir).count() === 60L)
    // v0's manifest references exactly its own segment
    assert(Snapshots.readManifest(spark, dir, v0).segments.size === 1)
  }

  test("the manifest file stays O(commit) as the table grows") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 40, "seed").repartition(8), dir,
      "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val sizes = (1 to 10).map { k =>
      val v = Snapshots.commit(
        frame(1000 * k until 1000 * k + 20, "inc").repartition(4), dir,
        "append", statsColumns = Seq("id"), bloomColumns = Seq("id"))
      manifestBytes(dir, v)
    }
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m.files.size === 48)
    // bloom payloads alone would be ~1KB/file inline; sharded, the
    // manifest is a fixed scalar block + one segment ref per commit
    assert(sizes.last < 3000,
      s"manifest should stay small, got ${sizes.last} bytes")
    // growth across 9 further appends is the ref lines only (~60B each)
    assert(sizes.last - sizes.head < 1500,
      s"manifest growth should be ref-lines only: $sizes")
  }

  test("overwrite drops old segment refs; restore reuses segments verbatim") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 20, "a").repartition(4), dir,
      "overwrite", statsColumns = Seq("id"))
    Snapshots.commit(frame(20 until 40, "b").repartition(4), dir, "append",
      statsColumns = Seq("id"))
    val vOw = Snapshots.commit(frame(0 until 10, "ow").repartition(2), dir,
      "overwrite", statsColumns = Seq("id"))
    assert(Snapshots.readManifest(spark, dir, vOw).segments.size === 1)
    // restore back: all files covered by existing segments — no new
    // segment file is written
    val before = segFiles(dir)
    val vR = Snapshots.restore(spark, dir, 1L)
    assert(segFiles(dir) === before)
    val mR = Snapshots.readManifest(spark, dir, vR)
    assert(mR.files.size === 8)
    assert(Snapshots.readVersion(spark, dir).count() === 40L)
  }

  test("metadata-changed files migrate to a fresh segment (bloom drop on widen)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    Snapshots.commit((0 until 20).map(i => (i.toLong, i, s"t$i"))
      .toDF("id", "n", "tag").repartition(4), dir, "overwrite",
      statsColumns = Seq("id"), bloomColumns = Seq("n"))
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    assert(m0.blooms.keys.exists(_._2 == "n"))
    Snapshots.widenColumn(spark, dir, "n", org.apache.spark.sql.types.LongType)
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    // blooms on the widened column are gone; files and stats survive
    assert(!m1.blooms.keys.exists(_._2 == "n"))
    assert(m1.files.toSet === m0.files.toSet)
    assert(m1.files.forall(f => m1.stats.contains((f, "id"))))
    // the old segment (whose entries still carry the blooms) was
    // dropped, not tombstoned per-file: every file changed
    assert(m1.segments.size === 1)
    assert(m1.segments !== m0.segments)
    // v0 still reads its blooms through ITS segment (time travel)
    assert(Snapshots.readManifest(spark, dir, 0L)
      .blooms.keys.exists(_._2 == "n"))
  }

  /** The lines of a metadata file, and a rewrite of it in place (the
    * checksum sidecar goes with it, so the local filesystem serves the
    * edited bytes).
    */
  private def linesOf(p: Path): Seq[String] = {
    val in = scala.io.Source.fromInputStream(fsOf(p.toString).open(p), "UTF-8")
    try in.getLines().toList finally in.close()
  }

  private def rewrite(p: Path, lines: Seq[String]): Unit = {
    val f = fsOf(p.toString)
    f.delete(p, false)
    f.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
    val out = f.create(p, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def manifestOf(dir: String, v: Long) =
    new Path(dir, f"_manifests/v$v%06d.manifest")

  /** Every regular file under `dir` with its bytes. */
  private def filesOf(dir: String): Map[String, Seq[Byte]] = {
    val f = fsOf(dir)
    val it = f.listFiles(new Path(dir), true)
    val out = Map.newBuilder[String, Seq[Byte]]
    while (it.hasNext) {
      val p = it.next().getPath
      val in = f.open(p)
      try out += p.toString -> in.readAllBytes().toSeq finally in.close()
    }
    out.result()
  }

  test("a manifest with inline per-file lines is refused on read") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 20, "a").coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"))
    val mp = manifestOf(dir, 0L)
    rewrite(mp, linesOf(mp) ++ Seq(
      "file=data/v000000-x/part-0.parquet",
      "stat=data/v000000-x/part-0.parquet\tid\tlong\t0\t9"))
    val before = filesOf(dir)
    Seq[() => Any](
      () => Snapshots.readManifest(spark, dir, 0L),
      () => Snapshots.readVersion(spark, dir).count(),
      () => spark.read.format("graft").load(dir).count()).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains(mp.toUri.getPath) &&
        e.getMessage.contains("'file'"), e.getMessage)
    }
    assert(filesOf(dir) === before)
  }

  test("the manifest and segment grammars round-trip every line kind " +
    "the writers emit") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    def batch(lo: Int) = (lo until lo + 40)
      .map(i => (i.toLong, (i * 7 % 40).toLong, s"p${i % 2}", s"t$i"))
      .toDF("k", "v", "p", "tag")
    Snapshots.commit(batch(0), dir, "overwrite", statsColumns = Seq("k", "v"),
      txn = Some(("app", 1L)), bucketBy = Some(("k", 2)),
      bloomColumns = Seq("v"), partitionBy = Seq("p"), ndvColumns = Seq("v"),
      histColumns = Seq("v"), sortBuckets = true)
    Snapshots.commitTxn(Seq((batch(40), dir, "append")), freshDir())
    Snapshots.addCheckConstraint(spark, dir, "pos", "k >= 0")
    Snapshots.deleteWhere(spark, dir, col("k") === 3L)
    Snapshots.purgeDeletes(spark, dir)
    Snapshots.renameColumn(spark, dir, "v", "w")
    Snapshots.dropColumn(spark, dir, "tag")
    val latest = Snapshots.latestVersion(spark, dir).get
    // every version parses strictly, and the head reads back its rows
    (0L to latest).foreach(v => Snapshots.readManifest(spark, dir, v))
    val want = (0 until 80).filterNot(_ == 3)
      .map(i => (i.toLong, (i * 7 % 40).toLong, s"p${i % 2}")).toSet
    assert(Snapshots.readVersion(spark, dir).select("k", "w", "p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet === want)
    assert(spark.read.format("graft").load(dir).count() === 79L)
    def kinds(ps: Seq[Path]): Set[String] =
      ps.flatMap(p => linesOf(p).drop(1)).map(_.takeWhile(_ != '=')).toSet
    val manifestKinds = kinds((0L to latest).map(manifestOf(dir, _)))
    assert(Set("version", "schema", "segment", "removed", "dv", "txn", "check",
      "rows", "dvrows", "bucketspec", "pending", "partcols", "colmap",
      "retired").subsetOf(manifestKinds), manifestKinds)
    val segKinds = kinds(segFiles(dir).map(n =>
      new Path(dir, s"_manifests/segments/$n")))
    assert(Set("file", "stat", "bucket", "sorted", "frow", "nulls", "ndv",
      "kll", "bloom") === segKinds, segKinds)
  }

  test("a removed= line without its tab is refused, not skipped") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 40, "a").repartitionByRange(4, col("id")),
      dir, "overwrite", statsColumns = Seq("id"))
    Snapshots.deleteWhere(spark, dir, col("id") === 1L)
    val v = Snapshots.purgeDeletes(spark, dir)
    val mp = manifestOf(dir, v)
    val lines = linesOf(mp)
    assert(lines.exists(_.startsWith("removed=")),
      "the purge must tombstone its rewritten file in a kept segment")
    rewrite(mp, lines.map(l =>
      if (l.startsWith("removed=")) l.replace("\t", "") else l))
    val e = intercept[IllegalArgumentException](
      Snapshots.readVersion(spark, dir).count())
    assert(e.getMessage.contains(mp.toUri.getPath) &&
      e.getMessage.contains("'removed'"), e.getMessage)
  }

  test("a negative rows= or dvrows= ledger is refused, naming the file " +
    "and the field") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a"), dir, "overwrite")
    val mp = manifestOf(dir, 0L)
    val lines = linesOf(mp)
    Seq("rows", "dvrows").foreach { field =>
      rewrite(mp, lines.map(l =>
        if (l.startsWith(s"$field=")) s"$field=-1" else l))
      val e = intercept[IllegalArgumentException](
        Snapshots.readVersion(spark, dir).count())
      assert(e.getMessage.contains(mp.toUri.getPath) &&
        e.getMessage.contains(s"'$field'"), e.getMessage)
    }
    rewrite(mp, lines)
    assert(Snapshots.readVersion(spark, dir).count() === 10L)
  }

  test("a graft-manifest-v1 header is refused, naming the version") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a"), dir, "overwrite")
    val mp = manifestOf(dir, 0L)
    rewrite(mp, "graft-manifest-v1" +: linesOf(mp).drop(1))
    val e = intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir))
    assert(e.getMessage.contains(mp.toUri.getPath) &&
      e.getMessage.contains("graft-manifest-v1"), e.getMessage)
  }

  test("string stats and partition values holding a carriage return " +
    "record no stat; the table stays strictly readable") {
    val s = spark
    import s.implicits._
    val written = freshDir()
    // one clean file and one whose stats-column range and identity
    // partition value each hold a '\r' (a line end to readLine)
    Snapshots.commit(Seq((1L, "a", "p")).toDF("id", "tag", "part"), written,
      "overwrite", statsColumns = Seq("id", "tag"), partitionBy = Seq("part"))
    Snapshots.commit(Seq((2L, "b\rc", "q\rr"), (3L, "d\re", "q\rr"))
        .toDF("id", "tag", "part").coalesce(1),
      written, "append", statsColumns = Seq("id", "tag"),
      partitionBy = Seq("part"))
    // a copy at a fresh path: every read below parses the files it
    // finds, none is served from what the writer cached
    val dir = freshDir()
    org.apache.hadoop.fs.FileUtil.copy(fsOf(written), new Path(written),
      fsOf(dir), new Path(dir, "t"), false,
      spark.sparkContext.hadoopConfiguration)
    val t = s"$dir/t"
    val m = Snapshots.readManifest(spark, t, 1L)
    val (clean, crlf) = m.files.partition(_.contains("/part=p/"))
    assert(clean.size === 1 && crlf.size === 1, m.files)
    assert(m.stats.contains((clean.head, "tag")) &&
      m.stats.contains((clean.head, "part")))
    assert(!m.stats.contains((crlf.head, "tag")) &&
      !m.stats.contains((crlf.head, "part")), m.stats)
    assert(m.stats.contains((crlf.head, "id")))
    val want = Set((1L, "a", "p"), (2L, "b\rc", "q\rr"), (3L, "d\re", "q\rr"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "tag", "part").as[(Long, String, String)].collect().toSet
    assert(rows(Snapshots.readVersion(spark, t)) === want)
    assert(rows(spark.read.format("graft").load(t)) === want)
    // the unprunable file is kept, so filters on either column stay exact
    assert(rows(spark.read.format("graft").load(t)
      .filter(col("tag") === "b\rc")) === Set((2L, "b\rc", "q\rr")))
    assert(rows(spark.read.format("graft").load(t)
      .filter(col("part") === "q\rr")) === want - ((1L, "a", "p")))
    Snapshots.writeMetadataCheckpoint(spark, t)
    Snapshots.deleteWhere(spark, t, col("id") === 2L)
    assert(rows(Snapshots.readVersion(spark, t)) ===
      want - ((2L, "b\rc", "q\rr")))
  }

  test("null counts ride segments and prune IS NULL / IS NOT NULL") {
    val dir = freshDir()
    val d0 = spark.range(40).select(col("id"),
      when(col("id") < 20, lit(null).cast("string")).otherwise(lit("x"))
        .as("note"),
      (col("id") < 20).cast("string").as("p"))
    Snapshots.commit(d0, dir, "overwrite", partitionBy = Seq("p"),
      statsColumns = Seq("id", "note"))
    val m = Snapshots.readManifest(spark, dir, 0L)
    // every file has a recorded count: all-null files included (they
    // have NO min/max stat, exactly why the count is independent)
    assert(m.files.forall(f => m.nullCounts.contains((f, "note"))))
    val isNull = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.IsNull("note")))
    val notNull = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.IsNotNull("note")))
    assert(isNull.inputFiles.forall(_.contains("p=true")))
    assert(notNull.inputFiles.forall(_.contains("p=false")))
    assert(isNull.filter(col("note").isNull).count() === 20L)
    assert(notNull.filter(col("note").isNotNull).count() === 20L)
    // counts survive a metadata-only commit's publish round-trip
    Snapshots.addCheckConstraint(spark, dir, "ok", "id >= 0",
      validateExisting = false)
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.nullCounts === m.nullCounts)
    assert(m1.segments === m.segments, "metadata commit must not reshard")
  }

  test("segment list stays bounded over a long append history") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 4, "seed").coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"))
    (1 to 40).foreach { k =>
      Snapshots.commit(frame(100 * k until 100 * k + 2, "inc").coalesce(1), dir,
        "append", statsColumns = Seq("id"))
    }
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    // 41 commits, but the ref list folded at the cap: bounded refs,
    // complete view
    assert(m.segments.size <= 33,
      s"segment refs must stay bounded, got ${m.segments.size}")
    assert(m.files.size === 41)
    assert(m.files.forall(f => m.stats.contains((f, "id"))))
    assert(Snapshots.readVersion(spark, dir).count() === 84L)
    // history still time-travels through the fold
    assert(Snapshots.readVersion(spark, dir, Some(5L)).count() === 14L)
  }

  test("vacuum sweeps segments no live manifest references") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a").repartition(2), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.commit(frame(10 until 20, "b").repartition(2), dir, "append",
      statsColumns = Seq("id"))
    // checkpoint v1 BEFORE it expires — vacuum must take the dead
    // version's checkpoint with its manifest
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(1L))
    // overwrite orphans both earlier segments version-wise
    Snapshots.commit(frame(0 until 5, "c").repartition(1), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(2L))
    // a crashed checkpoint builder's unclaimed tmp dir
    val ckptRoot = new java.io.File(dir, "_manifests/checkpoints")
    val orphanTmp = new java.io.File(ckptRoot, ".tmp-deadbeef")
    assert(orphanTmp.mkdirs())
    assert(segFiles(dir).size === 3)
    // negative retain => the cutoff is in the future: everything
    // unreferenced goes now (test-only; production keeps the default)
    Snapshots.vacuum(spark, dir, keepFromVersion = 2L, orphanRetainMs = -5000L)
    assert(segFiles(dir).size === 1)
    assert(Snapshots.readVersion(spark, dir).count() === 5L)
    // the expired version's checkpoint and the tmp orphan are gone;
    // the live version's checkpoint still serves
    assert(!new java.io.File(ckptRoot, "ckpt-v000001").exists())
    assert(!orphanTmp.exists())
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(2L),
      Nil, Seq(("id", 0L, 100L))).nonEmpty)
  }

  test("metadata checkpoint: distributed prune decisions == manifest prune decisions") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    // several commits -> several segments; long + string + timestamp
    // stat kinds; a mask + partial purge to exercise tombstones
    (0 until 4).foreach { i =>
      val df = (i * 100 until i * 100 + 100).map { k =>
        (k.toLong, s"t${k / 100}",
          java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"))
      }.toDF("id", "tag", "ts").repartition(3)
      Snapshots.commit(df, dir, if (i == 0) "overwrite" else "append",
        statsColumns = Seq("id", "tag", "ts"))
    }
    Snapshots.deleteWhere(spark, dir, col("id") < 30L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("id", "tag", "ts"))
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    val ckpt = Snapshots.writeMetadataCheckpoint(spark, dir, Some(v))
    // idempotent: the second call reuses the first's
    assert(Snapshots.writeMetadataCheckpoint(spark, dir, Some(v)) === ckpt)
    // the checkpoint transcribes segments VERBATIM (tombstoned and
    // duplicate refs included — the reader applies the serving
    // version's rules); the no-predicate prune must serve exactly the
    // manifest's visible file set
    val ckptFiles = spark.read.parquet(ckpt)
      .select("file").as[String].collect().toSet
    assert(m.files.toSet.subsetOf(ckptFiles))
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil, Nil)
      === m.files.sorted)
    // identical pruning decisions across kinds and shapes
    val predSets: Seq[Seq[(String, Any, Any)]] = Seq(
      Seq(("id", 150L, 250L)),
      Seq(("id", Long.MinValue, 50L)),
      Seq(("tag", "t3", "t3")),
      Seq(("ts", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-03 23:59:59"))),
      Seq(("id", 150L, 399L),
        ("ts", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))))
    predSets.foreach { preds =>
      val viaManifest = Snapshots.pruneFiles(m, preds).sorted
      val viaCkpt =
        Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil, preds)
      assert(viaCkpt === viaManifest, s"prune divergence for $preds")
      assert(viaCkpt.size < m.files.size, s"nothing pruned for $preds")
    }
    // the checkpoint-PLANNED read serves the same rows as the full
    // read under the same row filter (pruning reduces the scan, never
    // the semantics), and its inputFiles really are the pruned set
    val servePreds: Seq[(String, Any, Any)] = Seq(("id", 150L, 250L))
    val served = Snapshots
      .readVersionCheckpointedProbes(spark, dir, Nil, Some(v), servePreds)
      .where(col("id").between(150L, 250L))
    val full = Snapshots.readVersion(spark, dir, Some(v))
      .where(col("id").between(150L, 250L))
    assert(served.collect().toSet === full.collect().toSet)
    assert(served.inputFiles.length ===
      Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil,
        servePreds).size)
    // latest-version resolution (None) rides the thin parse too
    val servedLatest = Snapshots
      .readVersionCheckpointedProbes(spark, dir, Nil, None, servePreds)
      .where(col("id").between(150L, 250L))
    assert(servedLatest.collect().toSet === full.collect().toSet)
    // a rename AFTER the checkpoint: the new version checkpoints under
    // the new logical name and still matches the manifest path
    Snapshots.renameColumn(spark, dir, "id", "key")
    val v2 = Snapshots.latestVersion(spark, dir).get
    val m2 = Snapshots.readManifest(spark, dir, v2)
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v2))
    val preds2: Seq[(String, Any, Any)] = Seq(("key", 150L, 250L))
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v2), Nil, preds2)
      === Snapshots.pruneFiles(m2, preds2).sorted)
    // no checkpoint for an uncheckpointed version: loud refusal
    intercept[IllegalArgumentException] {
      Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(0L), Nil, preds2)
    }
  }

  test("a checkpoint dir without its _covered_segs.txt is refused by the " +
    "writer and left as it is; planning serves from the older checkpoint") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a").repartition(2), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(0L))
    Snapshots.commit(frame(10 until 20, "b").repartition(2), dir, "append",
      statsColumns = Seq("id"))
    // a torn install at the live head: a data file, no sidecar
    val torn = new java.io.File(dir, "_manifests/checkpoints/ckpt-v000001")
    assert(torn.mkdirs())
    java.nio.file.Files.write(new java.io.File(torn, "part-00000.parquet")
      .toPath, "torn".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def listing() = torn.listFiles().toSeq
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    val before = listing()
    val e = intercept[IllegalArgumentException] {
      Snapshots.writeMetadataCheckpoint(spark, dir, Some(1L))
    }
    assert(e.getMessage.contains(torn.getName) &&
      e.getMessage.contains("_covered_segs.txt"), e.getMessage)
    assert(listing() === before, "the refused dir must stay untouched")
    // the planner skips the sidecar-less dir: v0's checkpoint plus the
    // tail gives the manifest path's file set
    val m = Snapshots.readManifest(spark, dir, 1L)
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(1L), Nil, Nil)
      === m.files.sorted)
    val preds: Seq[(String, Any, Any)] = Seq(("id", 12L, 14L))
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(1L), Nil, preds)
      === Snapshots.pruneFiles(m, preds).sorted)
    // vacuum reaps the sidecar-less dir at the live head; the writer
    // then builds v1's checkpoint, and the planner serves from it (with
    // v0's checkpoint gone there is no other to serve from)
    Snapshots.vacuum(spark, dir, keepFromVersion = 0L, orphanRetainMs = 0L)
    assert(!torn.exists(), "vacuum must reap the sidecar-less dir")
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(1L))
    assert(new java.io.File(torn, "_covered_segs.txt").exists())
    assert(fsOf(dir).delete(
      new Path(dir, "_manifests/checkpoints/ckpt-v000000"), true))
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(1L), Nil, preds)
      === Snapshots.pruneFiles(m, preds).sorted)
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(1L), Nil, Nil)
      === m.files.sorted)
  }

  test("checkpoint planning as a Spark job over rows the driver has not " +
    "cached decides as the driver-cached walk and the manifest path") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    def batch(lo: Int) = (lo until lo + 200).map { k =>
      (k.toLong, s"u${k % 50}", k * 10.0)
    }.toDF("id", "tag", "v")
    (0 until 3).foreach { i =>
      Snapshots.commit(batch(i * 200), dir, if (i == 0) "overwrite" else "append",
        statsColumns = Seq("id", "tag"), bucketBy = Some(("id", 8)),
        bloomColumns = Seq("tag"))
    }
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    val ck = new java.io.File(Snapshots.writeMetadataCheckpoint(spark, dir, Some(v)))
    val shapes: Seq[(Seq[(String, Seq[Any])], Seq[(String, Any, Any)])] = Seq(
      (Nil, Nil),
      (Nil, Seq(("id", 150L, 250L))),
      (Seq("id" -> Seq(42L, 511L)), Nil),
      (Seq("tag" -> Seq("u7")), Nil),
      (Seq("id" -> Seq(242L), "tag" -> Seq("u42")), Seq(("id", 200L, 399L))))
    def plan() = shapes.map { case (ps, rs) =>
      Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), ps, rs) }
    /** `body`'s result and the Spark jobs it started. */
    def withJobs[T](body: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = body
        Thread.sleep(500) // let the job-start events drain
        (r, jobs.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    plan() // warms the segment cache
    val (cached, cachedJobs) = withJobs(plan())
    // a new dir mtime is a checkpoint this process did not install: the
    // rows are read back with one Spark job per plan
    assert(ck.setLastModified(ck.lastModified() + 60000L))
    val (read, readJobs) = withJobs(plan())
    assert(read === cached)
    assert(readJobs === cachedJobs + shapes.size,
      s"jobs: $readJobs read back, $cachedJobs driver-cached")
    // DML candidate planning over the same rows: its key checks read
    // blooms inside that one walk job, with no discovery job before it
    val base = Snapshots.parseManifest(spark, dir, v)
    val (dml, dmlJobs) = withJobs(Seq(col("tag") === "u7",
      col("id").isin(42L, 511L)).map(Snapshots.dmlCandidates(spark, dir, base, _).sorted))
    assert(dml === Seq(cached(3), cached(2)))
    assert(dmlJobs === 2, s"jobs: $dmlJobs for two DML plans")
    shapes.zip(cached).foreach { case ((ps, rs), got) =>
      assert(got === Snapshots.pruneForProbes(spark, m,
        Snapshots.pruneFiles(m, rs), ps).sorted, s"divergence for $ps $rs")
    }
  }

  test("checkpoint + tail replay: a head without its own checkpoint plans " +
    "from the newest checkpoint plus the metadata written since") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    def batch(lo: Int, day: Int) = (lo until lo + 100).map { k =>
      (k.toLong, s"t${k / 100}",
        java.sql.Timestamp.valueOf(f"2024-02-$day%02d 12:00:00"))
    }.toDF("id", "tag", "ts").repartition(3)
    Snapshots.commit(batch(0, 1), dir, "overwrite",
      statsColumns = Seq("id", "tag", "ts"))
    Snapshots.commit(batch(100, 2), dir, "append",
      statsColumns = Seq("id", "tag", "ts"))
    val vCk = Snapshots.latestVersion(spark, dir).get
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(vCk))
    // the tail: two appends, a delete + purge (tombstones + a fold),
    // and a RENAME — none of them checkpointed
    Snapshots.commit(batch(200, 3), dir, "append",
      statsColumns = Seq("id", "tag", "ts"))
    Snapshots.commit(batch(300, 4), dir, "append",
      statsColumns = Seq("id", "tag", "ts"))
    Snapshots.deleteWhere(spark, dir, col("id") < 30L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("id", "tag", "ts"))
    Snapshots.renameColumn(spark, dir, "id", "key")
    val v = Snapshots.latestVersion(spark, dir).get
    assert(v > vCk)
    val m = Snapshots.readManifest(spark, dir, v)
    val predSets: Seq[Seq[(String, Any, Any)]] = Seq(
      Seq(("key", 150L, 250L)),            // spans checkpoint AND tail files
      Seq(("key", 320L, 380L)),            // tail-only files
      Seq(("tag", "t0", "t0")),            // purged-range files (tombstones)
      Seq(("ts", java.sql.Timestamp.valueOf("2024-02-03 00:00:00"),
        java.sql.Timestamp.valueOf("2024-02-04 23:59:59"))))
    predSets.foreach { preds =>
      assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil, preds)
        === Snapshots.pruneFiles(m, preds).sorted,
        s"replay divergence for $preds")
    }
    // and the replayed read serves the same rows as the full read
    val served = Snapshots.readVersionCheckpointedProbes(spark, dir, Nil, None,
      Seq(("key", 150L, 250L))).where(col("key").between(150L, 250L))
    val full = Snapshots.readVersion(spark, dir, Some(v))
      .where(col("key").between(150L, 250L))
    assert(served.collect().toSet === full.collect().toSet)
  }

  test("checkpoint point lookups: bucket ∧ stats ∧ bloom decisions == " +
    "manifest path, through tail replay") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    // bucketed on id (hash layout: stats can't prune id probes), bloom
    // on tag (values striped across every file: stats can't prune tag
    // probes either) — each primitive is the only one that can do its
    // job, so a decision match exercises all three
    def batch(lo: Int) = (lo until lo + 200).map { k =>
      (k.toLong, s"u${k % 50}", k * 10.0)
    }.toDF("id", "tag", "v")
    (0 until 3).foreach { i =>
      Snapshots.commit(batch(i * 200), dir, if (i == 0) "overwrite" else "append",
        statsColumns = Seq("id", "tag"), bucketBy = Some(("id", 8)),
        bloomColumns = Seq("tag"))
    }
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v))
    val probes: Seq[(String, Seq[Any])] = Seq(
      ("id", Seq(42L)),                      // bucket ∧ stats
      ("id", Seq(42L, 511L)),                // multi-key IN probe
      ("id", Seq(BigDecimal(42))),           // decimal literal on a long column
      ("tag", Seq("u7")),                    // bloom (stats span, no bucket)
      ("tag", Seq("u7", "u33")),
      ("tag", Seq("zz-missing")))            // bloom prunes everything
    probes.foreach { case (key, keys) =>
      val viaManifest = Snapshots.pruneForProbes(spark, m, m.files, Seq(key -> keys)).sorted
      val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
        spark, dir, Some(v), Seq(key -> keys))
      assert(viaCkpt === viaManifest, s"keys-prune divergence for $key=$keys")
    }
    // the primitives really prune: an id probe keeps < half the files
    // (bucket), a tag probe keeps < all files (bloom), a missing tag
    // keeps none
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v),
      Seq("id" -> Seq(42L))).size < m.files.size / 2)
    val tagKept = Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v),
      Seq("tag" -> Seq("u7")))
    assert(tagKept.nonEmpty && tagKept.size < m.files.size)
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v),
      Seq("tag" -> Seq("zz-missing"))).isEmpty)
    // the checkpoint-planned point READ serves the same rows as the
    // full read, its scan really is the pruned set, and the all-pruned
    // probe serves the schema'd empty frame
    val served = Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("id" -> Seq(42L, 511L)), Some(v))
    val full = Snapshots.readVersion(spark, dir, Some(v))
      .where(col("id").isin(42L, 511L))
    assert(served.collect().toSet === full.collect().toSet)
    assert(served.inputFiles.length === Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v), Seq("id" -> Seq(42L, 511L))).size)
    val none = Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("tag" -> Seq("zz-missing")), Some(v))
    assert(none.schema.fieldNames.toSeq === Seq("id", "tag", "v"))
    assert(none.count() === 0L)
    // tail replay: appends + delete/purge + rename AFTER the checkpoint
    Snapshots.commit(batch(600), dir, "append",
      statsColumns = Seq("id", "tag"), bucketBy = Some(("id", 8)),
      bloomColumns = Seq("tag"))
    Snapshots.deleteWhere(spark, dir, col("id") < 20L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("id", "tag"))
    Snapshots.renameColumn(spark, dir, "tag", "label")
    val v2 = Snapshots.latestVersion(spark, dir).get
    val m2 = Snapshots.readManifest(spark, dir, v2)
    Seq(("id", Seq[Any](642L)), ("label", Seq[Any]("u7", "u33")))
      .foreach { case (key, keys) =>
        assert(Snapshots.pruneFilesCheckpointedProbes(
          spark, dir, Some(v2), Seq(key -> keys))
          === Snapshots.pruneForProbes(spark, m2, m2.files, Seq(key -> keys)).sorted,
          s"tail keys-prune divergence for $key=$keys")
      }
    val servedTail = Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("label" -> Seq("u7")), Some(v2))
    val fullNow = Snapshots.readVersion(spark, dir, Some(v2))
      .where(col("label") === "u7")
    assert(servedTail.collect().toSet === fullNow.collect().toSet)
  }

  test("composite checkpoint probes: conjunctive bucket ∧ stats ∧ bloom " +
    "across columns == the manifest path folded per column, pruning " +
    "strictly more than any single column") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    // date-sliced commits (stats prune the d column) × id hash buckets
    // (the only primitive that prunes id — no stats recorded on it) ×
    // tag blooms (values striped across every file) — the canonical
    // serving layout, each probed column prunable by exactly one
    // primitive, so the conjunction is a genuine composition
    def batch(lo: Int, day: Int) = (lo until lo + 200).map { k =>
      (k.toLong, s"u${k % 50}",
        java.sql.Date.valueOf(f"2024-03-$day%02d"), k * 1.5)
    }.toDF("id", "tag", "d", "v")
    (0 until 3).foreach { i =>
      Snapshots.commit(batch(i * 200, i + 1), dir,
        if (i == 0) "overwrite" else "append",
        statsColumns = Seq("d"), bucketBy = Some(("id", 8)),
        bloomColumns = Seq("tag"))
    }
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v))
    val probes: Seq[(String, Seq[Any])] = Seq(
      ("d", Seq(java.sql.Date.valueOf("2024-03-02"))), // stats
      ("id", Seq(242L)),                               // bucket
      ("tag", Seq("u42")))                             // bloom
    // decisions identical for EVERY non-empty subset of the columns
    probes.toSet.subsets().filter(_.nonEmpty).map(_.toSeq).foreach { ps =>
      val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
        spark, dir, Some(v), ps)
      val viaManifest = Snapshots.pruneForProbes(spark, m, m.files, ps).sorted
      assert(viaCkpt === viaManifest,
        s"composite keys-prune divergence for ${ps.map(_._1)}")
    }
    // the conjunction prunes STRICTLY more than the best single column
    val single = probes.map(p => Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v), Seq(p)).size)
    val all = Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), probes)
    assert(all.nonEmpty && all.size < single.min,
      s"conjunction kept ${all.size}, singles kept $single")
    // the composite serving read: same rows as the full read, and the
    // scan really is the conjunction's pruned set
    val served = Snapshots.readVersionCheckpointedProbes(
      spark, dir, probes, Some(v))
    val full = probes.foldLeft(Snapshots.readVersion(spark, dir, Some(v))) {
      case (df, (c, ks)) => df.where(col(c).isin(ks: _*))
    }
    assert(served.collect().toSet === full.collect().toSet)
    assert(served.count() === 1L) // id 242 is day-2, tag u42 — one row
    assert(served.inputFiles.length === all.size)
    // an impossible conjunct serves the schema'd EMPTY frame
    val none = Snapshots.readVersionCheckpointedProbes(spark, dir,
      Seq(("d", Seq[Any](java.sql.Date.valueOf("2024-03-02"))),
        ("tag", Seq[Any]("zz-missing"))), Some(v))
    assert(none.schema.fieldNames.toSeq === Seq("id", "tag", "d", "v"))
    assert(none.count() === 0L)
    // duplicate probe columns are a caller bug — refused, not folded
    intercept[IllegalArgumentException] {
      Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v),
        Seq(("id", Seq[Any](1L)), ("id", Seq[Any](2L))))
    }
    // RANGE ∧ KEY mixed conjunction: the range prunes by stats exactly
    // as pruneFiles, AND-composed with the key verdicts —
    // decisions == the manifest path seeded with pruneFiles(ranges),
    // and strictly tighter than either conjunct alone
    val mixedRanges: Seq[(String, Any, Any)] = Seq(
      ("d", java.sql.Date.valueOf("2024-03-02"),
        java.sql.Date.valueOf("2024-03-02")))
    val mixedProbes: Seq[(String, Seq[Any])] = Seq(("id", Seq(242L)))
    val mixed = Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v), mixedProbes, mixedRanges)
    assert(mixed === Snapshots.pruneForProbes(
      spark, m, Snapshots.pruneFiles(m, mixedRanges), mixedProbes).sorted)
    val rangeOnly = Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v), Nil, mixedRanges)
    assert(rangeOnly === Snapshots.pruneFiles(m, mixedRanges).sorted)
    val keyOnly2 = Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v), mixedProbes)
    assert(mixed.nonEmpty &&
      mixed.size < math.min(rangeOnly.size, keyOnly2.size))
    // the mixed serving read: rows == the full read's, inclusive bounds
    val servedMixed = Snapshots.readVersionCheckpointedProbes(
      spark, dir, mixedProbes, Some(v), mixedRanges)
    val fullMixed = Snapshots.readVersion(spark, dir, Some(v))
      .where(col("id") === 242L &&
        col("d") === java.sql.Date.valueOf("2024-03-02"))
    assert(servedMixed.collect().toSet === fullMixed.collect().toSet)
    // a probe-less pure-range call is legal, and the empty
    // conjunction keeps every live file
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil, Nil)
      === m.files.sorted)
    // tail replay: append + rename after the checkpoint — the
    // composite decisions still match the manifest path
    Snapshots.commit(batch(600, 4), dir, "append",
      statsColumns = Seq("d"), bucketBy = Some(("id", 8)),
      bloomColumns = Seq("tag"))
    Snapshots.renameColumn(spark, dir, "tag", "label")
    val v2 = Snapshots.latestVersion(spark, dir).get
    val m2 = Snapshots.readManifest(spark, dir, v2)
    val ps2: Seq[(String, Seq[Any])] = Seq(
      ("d", Seq(java.sql.Date.valueOf("2024-03-04"))),
      ("id", Seq(642L)), ("label", Seq("u42")))
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v2), ps2)
      === Snapshots.pruneForProbes(spark, m2, m2.files, ps2).sorted)
  }

  test("decimal point lookups prune on stats: unscaled-long decode " +
    "matches the footer representation, and a scale-growing widening " +
    "drops stale stats instead of losing rows") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    def batch(lo: Int, scale: String) = (lo until lo + 100)
      .map(k => (k.toLong, BigDecimal(k).toString))
      .toDF("id", "amt0")
      .select(col("id"), col("amt0").cast(s"decimal$scale").as("amt"))
    (0 until 3).foreach { i =>
      Snapshots.commit(batch(i * 100, "(9,2)").repartition(2), dir,
        if (i == 0) "overwrite" else "append", statsColumns = Seq("amt"))
    }
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v))
    // the probe prunes: only the middle commit's files can hold 150.00
    // (the r13 anyDecimal bypass kept every file on the stats leg)
    val probe: Seq[Any] = Seq(BigDecimal("150.00"))
    val viaManifest = Snapshots.pruneForProbes(spark, m, m.files, Seq("amt" -> probe))
    val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v), Seq("amt" -> probe))
    assert(viaCkpt === viaManifest.sorted, "decimal decisions must match")
    assert(viaCkpt.nonEmpty && viaCkpt.size < m.files.size,
      s"decimal stats must prune: kept ${viaCkpt.size} of ${m.files.size}")
    val served = Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("amt" -> probe), Some(v))
    assert(served.count() === 1L)
    // a literal that cannot rescale exactly keeps files conservatively
    // (identical on both paths; the row filter owns the exact verdict)
    val odd: Seq[Any] = Seq(BigDecimal("150.005"))
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v),
        Seq("amt" -> odd))
      === Snapshots.pruneForProbes(spark, m, m.files, Seq("amt" -> odd)).sorted)
    assert(Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("amt" -> odd), Some(v)).count() === 0L)
    // SCALE-growing widening: old files' unscaled stats are re-based —
    // they must DROP (conservative keep), or this probe would wrongly
    // prune the old file holding 150.00 and lose its row
    Snapshots.commit(batch(300, "(12,3)").coalesce(2), dir, "append",
      statsColumns = Seq("amt"))
    val v2 = Snapshots.latestVersion(spark, dir).get
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(m2.files.exists(fl => !m2.stats.contains((fl, "amt"))),
      "widened-away stats must actually be dropped")
    val probe2: Seq[Any] = Seq(BigDecimal("150.000"))
    assert(Snapshots.pruneFilesCheckpointedProbes(
        spark, dir, Some(v2), Seq("amt" -> probe2))
      === Snapshots.pruneForProbes(spark, m2, m2.files, Seq("amt" -> probe2)).sorted)
    val afterWiden = Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("amt" -> probe2), Some(v2))
    assert(afterWiden.count() === 1L,
      "the pre-widening row must survive the probe (no stale-scale prune)")
    // and the NEW files' scale-3 stats still prune among themselves
    val tail: Seq[Any] = Seq(BigDecimal("350.000"))
    val keptTail = Snapshots.pruneFilesCheckpointedProbes(
      spark, dir, Some(v2), Seq("amt" -> tail))
    assert(keptTail.size < m2.files.size,
      "post-widening files must still stats-prune at the new scale")
    // a NARROWER-scale batch into the widened table (the allowed
    // not-yet-migrated-producer shape): its files land at the BATCH's
    // physical scale, so footer stats for the column are NOT recorded
    // — a recorded scale-2 stat decoded at table scale 3 would wrongly
    // prune the batch's own rows
    Snapshots.commit(batch(400, "(9,2)").coalesce(1), dir, "append",
      statsColumns = Seq("id", "amt"))
    val v3 = Snapshots.latestVersion(spark, dir).get
    val m3 = Snapshots.readManifest(spark, dir, v3)
    val narrowFiles = m3.files.filterNot(m2.files.toSet)
    assert(narrowFiles.nonEmpty)
    assert(narrowFiles.forall(fl => !m3.stats.contains((fl, "amt"))),
      "scale-mismatched batch columns must record no footer stats")
    assert(narrowFiles.forall(fl => m3.stats.contains((fl, "id"))),
      "the batch's other stats columns still record")
    val narrowProbe: Seq[Any] = Seq(BigDecimal("450.000"))
    assert(Snapshots.pruneFilesCheckpointedProbes(
        spark, dir, Some(v3), Seq("amt" -> narrowProbe))
      === Snapshots.pruneForProbes(spark, m3, m3.files, Seq("amt" -> narrowProbe))
        .sorted)
    assert(Snapshots.readVersionCheckpointedProbes(
      spark, dir, Seq("amt" -> narrowProbe), Some(v3)).count() === 1L,
      "the narrower batch's row must survive its own probe")
    // RANGE bounds on a decimal column never stat-prune (unscaled
    // footer ints vs value bounds): the conjunct keeps every file on
    // BOTH paths and the row filter serves the exact window
    val win: Seq[(String, Any, Any)] =
      Seq(("amt", BigDecimal("100.00"), BigDecimal("200.00")))
    assert(Snapshots.pruneFilesCheckpointedProbes(
        spark, dir, Some(v3), Nil, win)
      === Snapshots.pruneFiles(m3, win).sorted)
    assert(Snapshots.pruneFiles(m3, win) === m3.files,
      "a decimal range bound must keep every file")
    val winRows = Snapshots.readVersionCheckpointedProbes(
      spark, dir, Nil, Some(v3), win)
    assert(winRows.count() === 101L, // 100.00 .. 200.00 inclusive
      "the decimal window must serve every in-range row")
  }

  test("checkpoint-planned compactSmall candidates == the driver " +
    "ledger walk, through tail commits and tombstones, and the wired " +
    "compaction behaves identically (VERDICT r14 task #2)") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    def slab(lo: Int, n: Int) =
      (lo until lo + n).map(i => (i.toLong, s"row-$i")).toDF("id", "tag")
    // two commits (one big, one small file), checkpoint, then a tail:
    // another big + small pair, a masked delete, and a purge whose
    // rewrite TOMBSTONES a checkpointed file — the candidate walk must
    // see the tail files and must not resurrect the tombstoned one
    Snapshots.commit(slab(0, 4000).coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.commit(slab(4000, 20).coalesce(1), dir, "append")
    Snapshots.writeMetadataCheckpoint(spark, dir)
    Snapshots.commit(slab(5000, 4000).coalesce(1), dir, "append")
    Snapshots.commit(slab(9000, 30).coalesce(1), dir, "append")
    Snapshots.deleteWhere(spark, dir, col("id") < 100L) // masks file 0
    Snapshots.purgeDeletes(spark, dir) // rewrites it → tombstone
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.files.forall(m.fileBytes.contains), "accounting-complete")
    val sizes = m.files.map(m.fileBytes)
    val minBytes = (sizes.min + sizes.max) / 2
    val expected = m.files.filter(rel => m.fileBytes(rel) < minBytes).toSet
    assert(expected.nonEmpty && expected.size < m.files.size,
      "the fixture needs both small and large files")
    // compactSmall's candidate verdict over the planning walk, which
    // plans through the covering checkpoint here
    val got = Snapshots.liveEntriesCheckpointed(spark, dir,
        Snapshots.parseManifest(spark, dir, v), Snapshots.coverOf(spark, dir, v),
        (r: Snapshots.CkptFile) => r.bytes < minBytes)
      .map(e => e.file -> e.bytes).toMap
    assert(got.keySet === expected,
      "checkpoint-planned candidates must equal the driver ledger walk")
    assert(got.forall { case (rel, sz) => m.fileBytes(rel) == sz },
      "candidate sizes must be the ledger's")
    // end to end: the wired compactSmall (which plans through the
    // checkpoint here) folds exactly those candidates, result-invisibly
    val before = Snapshots.readVersion(spark, dir).count()
    val v2 = Snapshots.compactSmall(spark, dir, minBytes)
    assert(v2 === v + 1)
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(m2.files.count(expected) === 0, "smalls folded away")
    assert(m.files.filterNot(expected).forall(m2.files.contains),
      "larges carried by reference")
    assert(Snapshots.readVersion(spark, dir).count() === before)
  }

  test("IN-lists past the probe-key budget degrade to bucket-only " +
    "pruning on BOTH planners: decisions stay identical, results stay " +
    "exact, and no O(keys)-per-file verdict is built (VERDICT r14 " +
    "task #7)") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    // bucketed on k with per-APPEND-tight v ranges (the bucketed write
    // shuffles on the bucket id, so tight v stats need one commit per
    // range): every file carries a bucket id AND a prunable v stat +
    // bloom — the budget must shed the stats/bloom legs while bucket
    // pruning (bounded wanted-set) survives any key count
    def slab(i: Int) = (i * 100 until (i + 1) * 100)
      .map(j => (j.toLong, j.toLong * 10)).toDF("k", "v")
    (0 until 4).foreach { i =>
      Snapshots.commit(slab(i), dir,
        if (i == 0) "overwrite" else "append",
        bucketBy = Some(("k", 4)), statsColumns = Seq("v"),
        bloomColumns = Seq("v"))
    }
    val v0 = Snapshots.latestVersion(spark, dir).get
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(v0))
    val m = Snapshots.readManifest(spark, dir, v0)
    assert(m.files.size === 16)
    // five keys inside slab 1's v-range
    val probeV: Seq[Any] = Seq(100L, 110L, 120L, 130L, 140L).map(_ * 10)
    // under budget (default 1000): the v-stats really prune
    val under = Snapshots.pruneForProbes(spark, m, m.files, Seq("v" -> probeV))
    assert(under.size < m.files.size, "stats must prune under budget")
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v0),
      Seq("v" -> probeV)) === under.sorted)
    spark.conf.set("graft.probe.maxKeys", "4")
    try {
      // over budget: v is unbucketed, so its conjunct keeps EVERY file
      // (conservative) — on both planners, identically
      val over = Snapshots.pruneForProbes(spark, m, m.files, Seq("v" -> probeV))
      assert(over === m.files,
        "over-budget stats/bloom legs must keep every file")
      assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v0),
        Seq("v" -> probeV)) === over.toSeq.sorted)
      // the bucket leg survives the budget: an over-budget probe on
      // the bucket key prunes exactly what it prunes under budget
      // (k carries no stats/bloom here, so under-budget IS bucket-only)
      val probeK: Seq[Any] = Seq(0L, 25L, 150L, 275L, 399L)
      val kOver = Snapshots.pruneForProbes(spark, m, m.files, Seq("k" -> probeK))
      assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v0),
        Seq("k" -> probeK)) === kOver.sorted)
      spark.conf.unset("graft.probe.maxKeys")
      val kUnder = Snapshots.pruneForProbes(spark, m, m.files, Seq("k" -> probeK))
      spark.conf.set("graft.probe.maxKeys", "4")
      assert(kOver === kUnder,
        "bucket pruning must be budget-invariant")
      // results stay exact either way (the row filter owns exactness)
      assert(Snapshots.readVersionCheckpointedProbes(
        spark, dir, Seq("v" -> probeV), Some(v0)).count() === 5L)
      assert(Snapshots.readVersionCheckpointedProbes(
        spark, dir, Seq("k" -> probeK), Some(v0)).count() === 5L)
    } finally spark.conf.unset("graft.probe.maxKeys")
  }

  test("decimal point probes prune on a shallow clone and on a created " +
    "table as on a directly committed one; rows stay exact") {
    val s = spark
    import s.implicits._
    def batch(lo: Int, n: Int) = (lo until lo + n)
      .map(k => (k.toLong, BigDecimal(k).toString))
      .toDF("id", "amt0")
      .select(col("id"), col("amt0").cast("decimal(9,2)").as("amt"))
    // the source: three commits, so each commit's files hold one
    // hundred-wide amount range
    val src = freshDir()
    (0 until 3).foreach { i =>
      Snapshots.commit(batch(i * 100, 100).repartition(2), src,
        if (i == 0) "overwrite" else "append", statsColumns = Seq("amt"))
    }
    val clone = freshDir()
    Snapshots.cloneShallow(spark, src, clone)
    // a created table after one append, and its directly committed twin
    val slabs = batch(0, 300).repartitionByRange(3, col("id"))
    val created = freshDir()
    Snapshots.createEmpty(spark, created, slabs.schema)
    Snapshots.commit(slabs, created, "append", statsColumns = Seq("amt"))
    val direct = freshDir()
    Snapshots.commit(slabs, direct, "overwrite", statsColumns = Seq("amt"))
    val probe: Seq[Any] = Seq(BigDecimal("150.00"))
    /** The files the manifest pruner keeps (by file name), the live
      * file count, and the checkpoint-planned read's scanned files.
      */
    def pruned(dir: String): (Seq[String], Int) = {
      val m = Snapshots.readManifest(spark, dir,
        Snapshots.latestVersion(spark, dir).get)
      val kept = Snapshots.pruneForProbes(spark, m, m.files, Seq("amt" -> probe))
      Snapshots.writeMetadataCheckpoint(spark, dir)
      val served =
        Snapshots.readVersionCheckpointedProbes(spark, dir, Seq("amt" -> probe))
      assert(served.count() === 1L, s"$dir: the probed row must be served")
      assert(served.inputFiles.length === kept.size,
        s"$dir: the checkpoint-planned read must scan the manifest's kept files")
      (kept.map(new Path(_).getName).sorted, m.files.size)
    }
    val (srcKept, srcFiles) = pruned(src)
    assert(srcKept.nonEmpty && srcKept.size < srcFiles,
      s"the source must really prune: kept ${srcKept.size} of $srcFiles")
    assert(pruned(clone) === ((srcKept, srcFiles)),
      "a shallow clone must prune to its source's files")
    val (directKept, directFiles) = pruned(direct)
    assert(directKept.size === 1 && directFiles === 3)
    assert(pruned(created)._1.size === directKept.size,
      "a created table must prune like a directly committed one")
    Seq(src, clone, created, direct).foreach { d =>
      assert(Snapshots.readVersion(spark, d).where(
        col("amt") === lit(BigDecimal("150.00")).cast("decimal(9,2)"))
        .count() === 1L)
    }
  }

  test("randomized keys-prune parity: checkpoint decisions == manifest " +
    "decisions across layouts, probe shapes and maintenance") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260815L)
    (0 until 4).foreach { trial =>
      val dir = freshDir()
      val bucketed = rnd.nextBoolean()
      val bloomed = rnd.nextBoolean()
      val nCommits = 2 + rnd.nextInt(2)
      (0 until nCommits).foreach { i =>
        val lo = i * 300
        val df = (lo until lo + 300).map { k =>
          (k.toLong, s"v${k % (20 + trial * 7)}", k * 1.5)
        }.toDF("id", "tag", "x").repartition(1 + rnd.nextInt(3))
        Snapshots.commit(df, dir, if (i == 0) "overwrite" else "append",
          statsColumns = Seq("id", "tag"),
          bucketBy = if (bucketed) Some(("id", 4)) else None,
          bloomColumns = if (bloomed) Seq("tag") else Nil)
      }
      Snapshots.writeMetadataCheckpoint(spark, dir)
      // random post-checkpoint maintenance: tail append, delete+purge
      if (rnd.nextBoolean()) {
        Snapshots.commit(Seq((9000L + trial, "vX", 1.0)).toDF("id", "tag", "x"),
          dir, "append", statsColumns = Seq("id", "tag"),
          bucketBy = if (bucketed) Some(("id", 4)) else None,
          bloomColumns = if (bloomed) Seq("tag") else Nil)
      }
      if (rnd.nextBoolean()) {
        Snapshots.deleteWhere(spark, dir, col("id") % 7 === 0L)
        Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("id", "tag"))
      }
      val v = Snapshots.latestVersion(spark, dir).get
      val m = Snapshots.readManifest(spark, dir, v)
      // 6 random probes per trial: hit/miss singles and IN-lists on
      // both the (maybe-)bucket key and the (maybe-)bloom column
      (0 until 6).foreach { _ =>
        val (key, keys): (String, Seq[Any]) =
          if (rnd.nextBoolean())
            ("id", Seq.fill(1 + rnd.nextInt(3))(
              rnd.nextInt(1200).toLong: java.lang.Long))
          else
            ("tag", Seq.fill(1 + rnd.nextInt(3))(s"v${rnd.nextInt(60)}"))
        val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
          spark, dir, Some(v), Seq(key -> keys))
        val viaManifest =
          Snapshots.pruneForProbes(spark, m, m.files, Seq(key -> keys)).sorted
        assert(viaCkpt === viaManifest,
          s"trial=$trial bucketed=$bucketed bloomed=$bloomed $key=$keys")
      }
      // 4 random COMPOSITE probes per trial: conjunctions over 2-3
      // columns (id = maybe-bucket, tag = maybe-bloom, x = stat-less —
      // its conjunct keeps everything, a valid no-op leg), hit and
      // miss literals mixed — the multi-column planner must equal the
      // manifest pruner folded column by column on every shape
      (0 until 4).foreach { _ =>
        val pool = Seq[(String, Seq[Any])](
          ("id", Seq.fill(1 + rnd.nextInt(2))(
            rnd.nextInt(1200).toLong: java.lang.Long)),
          ("tag", Seq.fill(1 + rnd.nextInt(2))(s"v${rnd.nextInt(60)}")),
          ("x", Seq(rnd.nextInt(2000) * 1.5: java.lang.Double)))
        val probes = rnd.shuffle(pool).take(2 + rnd.nextInt(2))
        val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
          spark, dir, Some(v), probes)
        val viaManifest =
          Snapshots.pruneForProbes(spark, m, m.files, probes).sorted
        assert(viaCkpt === viaManifest,
          s"trial=$trial bucketed=$bucketed bloomed=$bloomed composite=$probes")
      }
    }
  }

  test("vacuum retains the newest checkpoint at-or-below the floor: " +
    "live versions without their own checkpoint keep tail-replaying") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10, "a"), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(0L))
    Snapshots.commit(frame(10 until 20, "b"), dir, "append",
      statsColumns = Seq("id"))
    Snapshots.commit(frame(20 until 30, "c"), dir, "append",
      statsColumns = Seq("id"))
    // v0 expires, but its checkpoint is the only one the live head has
    Snapshots.vacuum(spark, dir, keepFromVersion = 1L, orphanRetainMs = -5000L)
    assert(new java.io.File(dir, "_manifests/checkpoints/ckpt-v000000")
      .exists(), "the newest at-or-below-floor checkpoint must survive")
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil, Nil)
      === m.files.sorted)
    // an all-pruned range serves the schema'd EMPTY frame, not an error
    val none = Snapshots.readVersionCheckpointedProbes(spark, dir, Nil, Some(v),
      Seq(("id", 100000L, 200000L)))
    assert(none.count() === 0L)
    assert(none.columns.contains("id"))
  }

  test("restore after checkpoint: files the restore re-covers through an " +
    "already-checkpointed segment serve again (tombstones are the " +
    "reader's, never baked into the checkpoint)") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 100, "a").repartition(3), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.commit(frame(100 until 200, "b").repartition(3), dir, "append",
      statsColumns = Seq("id"))
    // purge tombstones the rewritten v0 files in their segment
    Snapshots.deleteWhere(spark, dir, col("id") < 30L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("id"))
    val vPurged = Snapshots.latestVersion(spark, dir).get
    Snapshots.writeMetadataCheckpoint(spark, dir, Some(vPurged))
    // RESTORE to v0: the head re-covers the original files through the
    // SAME segment, with no tombstones — the checkpoint must serve them
    Snapshots.restore(spark, dir, 0L)
    val v = Snapshots.latestVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(v), Nil, Nil)
      === m.files.sorted)
    val served = Snapshots.readVersionCheckpointedProbes(spark, dir, Nil, Some(v),
      Seq(("id", 0L, 29L))).where(col("id") < 30L)
    assert(served.count() === 30L) // the restored rows are back
  }

  test("auto-checkpoint: every Nth commit materializes a checkpoint; " +
    "replay serves the versions in between") {
    val dir = freshDir()
    spark.conf.set("graft.checkpoint.autoEvery", "2")
    try {
      (0 until 5).foreach { i =>
        Snapshots.commit(frame(i * 10 until i * 10 + 10, s"b$i"), dir,
          if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
      }
      val ckptRoot = new java.io.File(dir, "_manifests/checkpoints")
      val dirs = ckptRoot.list().toSeq.filter(_.startsWith("ckpt-")).sorted
      assert(dirs === Seq("ckpt-v000000", "ckpt-v000002", "ckpt-v000004"))
      // an in-between version plans from the newest checkpoint below it
      val m3 = Snapshots.readManifest(spark, dir, 3L)
      val preds: Seq[(String, Any, Any)] = Seq(("id", 15L, 25L))
      assert(Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(3L), Nil, preds)
        === Snapshots.pruneFiles(m3, preds).sorted)
    } finally spark.conf.unset("graft.checkpoint.autoEvery")
  }
}
